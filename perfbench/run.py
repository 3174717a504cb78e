"""Seeded benchmark of the migration and corpus engine.

    python3 perfbench/run.py --workload keyspace_copy --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The run generates its
inputs from ``--seed`` (staged under ``.perfbench_work/`` in the
checkout), builds one Spark session on ``local[<cores>]``, runs one
untimed warm-up iteration, then a closed loop of back-to-back iterations
for ``--seconds`` seconds, checks every iteration's outputs, and prints
as its last line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
records spans and a Spark event log and reports the per-layer metrics.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()

import gen  # noqa: E402  (the benchmark's own modules, beside this file)
import spans  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE = "cassandra_migrate_keyspace_from_cluster_spark"
DRIVER_MEM = "2g"
WORKLOAD_NAMES = ("keyspace_copy", "range_sync", "corpus_dedup_search")

# Spans whose duration is reported as ``<span>_s``; all but the session
# build also get the Spark task counters of spans.TASK_COUNTERS.
SPANS = (
    "session.build", "similarity.stage", "parquet_keyspace.load_table",
    "migrate.copy", "migrate.checksum", "cluster_source.scan",
    "migrate.plan_ranges", "migrate.resumable_copy", "migrate.diff",
    "dedup.exact", "dedup.neardup", "dedup.clusters", "text.tfidf",
    "similarity.topk",
)
LAYER_METRICS = {
    "parquet_keyspace.load_table_calls": "count",
    "cluster_source.tasks": "count",
    "cluster_source.range_skew": "ratio",
    "migrate.copy_tasks": "count",
    "migrate.copy_core_util": "ratio",
    "migrate.files_written": "count",
    "migrate.bytes_written": "bytes",
    "migrate.range_jobs": "count",
    "migrate.diff_shuffle_mb": "MB",
    "migrate.diff_yield": "ratio",
    "dedup.tier": "index",
    "dedup.cand_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.pair_yield": "ratio",
    "similarity.tier": "index",
    "tracing.rows_per_s": "rows/s",
}
END_TO_END = {
    "rows_per_s": "rows/s",
    "iter_s_p50": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
}


def per_layer_units() -> dict:
    """Every per-layer metric name -> unit, in report order."""
    units = {f"{s}_s": "s" for s in SPANS}
    for s in SPANS[1:]:
        units.update({f"{s}.{c}": u for c, (u, _) in spans.TASK_COUNTERS.items()})
    units.update(LAYER_METRICS)
    return units


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and let
    Spark's Python workers import the engine from the checkout root."""
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        sys.exit(f"perfbench: no {ENGINE}/ package at {ROOT}; run from a checkout")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no hsperfdata file in the system temp dir from spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def session_conf(trace_dir: str | None) -> dict:
    """The run's Spark settings: a 2 GiB driver heap (the engine's 16g
    default is more than a small host has), committed and touched up front (``-Xms`` = max, ``AlwaysPreTouch``)
    so peak resident memory does not depend on when the heap happens to
    grow, and every scratch path inside the checkout."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    conf = {
        "spark.driver.memory": mem,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + trace_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def stop_session(spark) -> None:
    """Stop Spark, end the JVM it launched and reap every process the
    run started."""
    from pyspark import SparkContext

    started = spans.descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while alive and time.time() < deadline:
            for pid in list(alive):
                try:
                    if os.waitpid(pid, os.WNOHANG)[0] == pid:
                        alive.remove(pid)
                except ChildProcessError:  # not our child: poll /proc
                    if not os.path.exists(f"/proc/{pid}"):
                        alive.remove(pid)
            time.sleep(0.05)
        if not alive:
            return


def run(args) -> dict:
    prepare_environment()
    try:
        from cassandra_migrate_keyspace_from_cluster_spark.session import build_session
        from cassandra_migrate_keyspace_from_cluster_spark.util import drain_persisted

        from workloads import WORKLOADS, Checks
    except ImportError as exc:
        sys.exit(f"perfbench: cannot import the engine: {exc}")
    import_s = time.perf_counter() - T_START

    t = time.perf_counter()
    inputs, manifest = gen.stage(WORK, args.workload, args.seed)
    gen_s = time.perf_counter() - t

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    trace_dir = os.path.join(WORK, "trace", run_id) if args.trace else None
    if trace_dir:
        os.makedirs(os.path.join(trace_dir, "eventlog"))
        gen.evict(os.path.dirname(trace_dir), "", keep=trace_dir, max_keep=4)
    conf = session_conf(trace_dir and os.path.join(trace_dir, "eventlog"))
    tracer = spans.Tracer(bool(args.trace))
    out_root = os.path.join(WORK, "out", run_id)
    load_before = os.getloadavg()

    with spans.RssSampler() as rss:
        t = time.perf_counter()
        with tracer.span("session.build"):
            spark = build_session(app_name=f"perfbench-{args.workload}", cpus=cores,
                                  extra_conf=conf)
        build_s = time.perf_counter() - t
        try:
            wl = WORKLOADS[args.workload](spark, inputs, manifest, tracer, cores)
            checks = Checks()
            t = time.perf_counter()
            wl.setup()
            stage_s = time.perf_counter() - t

            def iteration(i):
                """One timed iteration plus its checks; None if a layer
                call raised."""
                drain_persisted()
                spark.catalog.clearCache()
                out = os.path.join(out_root, str(i))
                tracer.iteration = i
                written = spans.tree_write_bytes()
                t0 = time.perf_counter()
                checks.attempted += wl.layer_calls
                try:
                    res = wl.iterate(out)
                except Exception as exc:  # a failed layer call is counted, not fatal
                    checks.expect(False, f"iteration {i}: {type(exc).__name__}: {exc}"[:500])
                    shutil.rmtree(out, ignore_errors=True)
                    return None
                finally:
                    dt = time.perf_counter() - t0
                    tracer.iteration = None
                written = spans.tree_write_bytes() - written
                try:
                    wl.check(res, checks)
                    extra = wl.layer_metrics(res, out)
                except Exception as exc:
                    checks.expect(False, f"check {i}: {type(exc).__name__}: {exc}"[:500])
                    extra = {}
                finally:
                    shutil.rmtree(out, ignore_errors=True)
                return {"s": dt, "written": written, "layer": extra}

            warm = iteration(-1)
            setup_s = import_s + build_s + stage_s + (warm["s"] if warm else 0.0)
            ready_at = time.perf_counter() - T_START
            # closed loop: back-to-back iterations for as long as the next
            # one (expected to last as long as the last) still fits in
            # --seconds; always at least one
            iters = []
            loop_start = time.perf_counter()
            while checks.failed <= 50:
                iters.append(iteration(len(iters)))
                elapsed = time.perf_counter() - loop_start
                last = iters[-1]["s"] if iters[-1] else elapsed / len(iters)
                if elapsed + last > args.seconds:
                    break
        finally:
            stop_session(spark)
            shutil.rmtree(out_root, ignore_errors=True)
    stopped_at = time.perf_counter() - T_START
    ok = [it for it in iters if it is not None]
    load_after = os.getloadavg()

    rows = manifest["source_rows"]
    p50 = statistics.median(it["s"] for it in ok) if ok else 0.0
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "driver_memory": conf["spark.driver.memory"],
        "load_avg_before": load_before, "load_avg_after": load_after,
        "inputs": {"rows": manifest["rows"], "source_bytes": manifest["source_bytes"],
                   "gen_s": round(gen_s, 3)},
        "setup": {"import_s": import_s, "build_s": build_s, "stage_s": stage_s,
                  "warmup_s": warm["s"] if warm else None},
        "iterations": [round(it["s"], 4) if it else None for it in iters],
        "wall": {"ready_at": ready_at, "stopped_at": stopped_at},
        "error_rate": checks.failed / checks.attempted,
        "check_failures": checks.messages,
    }
    if args.trace:
        tracer.dump(os.path.join(trace_dir, "spans.jsonl"))
        metrics = layer_report(tracer, os.path.join(trace_dir, "eventlog"), ok, cores)
        metrics["tracing.rows_per_s"] = rows / p50 if p50 else 0.0
        units = per_layer_units()
        metrics = {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()}
        info["trace_dir"] = os.path.relpath(trace_dir, ROOT)
    else:
        values = {
            "rows_per_s": rows / p50 if p50 else 0.0,
            "iter_s_p50": p50,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak / 1e6,
            "write_amp": statistics.median(it["written"] for it in ok)
            / manifest["source_bytes"] if ok else 0.0,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        info["iterations_measured"] = len(ok)
    print(json.dumps({"info": info}))
    return {"correct": checks.failed == 0 and bool(ok), "attempted": checks.attempted,
            "failed": checks.failed, "metrics": metrics}


def layer_report(tracer, event_log_dir: str, iters: list, cores: int) -> dict:
    """Per-layer metrics: per-iteration values of every span (duration
    summed over its calls, task counters over the union of its
    intervals), then the median over the measured iterations."""
    tasks = spans.task_events(event_log_dir)
    groups: dict[tuple, list] = {}
    for s in tracer.spans:
        if s["end"] is not None and (s["iteration"] is None or s["iteration"] >= 0):
            groups.setdefault((s["name"], s["iteration"]), []).append(s)
    per_name: dict[str, list[dict]] = {}
    for (name, _), group in groups.items():
        vals = {"s": sum(s["end"] - s["start"] for s in group), "calls": len(group)}
        vals.update(spans.interval_task_counters([(s["start"], s["end"]) for s in group], tasks))
        vals["n"] = sum(s["attrs"].get("n", 0) for s in group)
        per_name.setdefault(name, []).append(vals)

    def med(name, key):
        vals = [v[key] for v in per_name.get(name, [])]
        return statistics.median(vals) if vals else 0.0

    out = {}
    for name in SPANS:
        out[f"{name}_s"] = med(name, "s")
        for c in spans.TASK_COUNTERS:
            out[f"{name}.{c}"] = med(name, c)
    copy_s = out["migrate.copy_s"]
    out.update({
        "parquet_keyspace.load_table_calls": med("parquet_keyspace.load_table", "calls"),
        "migrate.copy_tasks": out["migrate.copy.tasks"],
        "migrate.copy_core_util": out["migrate.copy.executor_run_s"] / (copy_s * cores)
        if copy_s else 0.0,
        "migrate.range_jobs": med("migrate.plan_ranges", "n"),
        "migrate.diff_shuffle_mb": out["migrate.diff.shuffle_write_mb"],
    })
    for key in {k for it in iters for k in it["layer"]}:
        out[key] = statistics.median(it["layer"][key] for it in iters if key in it["layer"])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
