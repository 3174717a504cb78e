"""Streaming-twin smoke tests: a bounded file-source replay through the
memory sink must reproduce the batch answers (SURVEY.md §5.3.5)."""

from __future__ import annotations

import os
import shutil

import pytest

from cassandra_migrate_keyspace_from_cluster_spark.registry import specs
from cassandra_migrate_keyspace_from_cluster_spark.streaming import twins

from .conftest import SF_SMOKE, jobs_submitted
from .parity import compare_frames


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), d / "events.parquet")
    return str(d)


def test_opening_the_events_stream_submits_no_job(spark, events_dir):
    """The stream takes its schema from the parquet footer, as the batch
    loader does, so opening it submits no Spark job."""
    assert jobs_submitted(spark, lambda: twins.read_events_stream(spark, events_dir)) == 0


def test_tumbling_twin_matches_batch(spark, events_dir):
    stream = twins.tumbling_stream(twins.read_events_stream(spark, events_dir))
    got = twins.run_to_completion(stream, "tumbling_out").toPandas()
    want = specs()["e1_tumbling"].fn(spark, SF_SMOKE).toPandas()
    compare_frames(got, want, "tumbling twin vs batch")


def test_sliding_twin_matches_batch(spark, events_dir):
    stream = twins.sliding_stream(twins.read_events_stream(spark, events_dir))
    got = twins.run_to_completion(stream, "sliding_out").toPandas()
    want = specs()["e2_sliding"].fn(spark, SF_SMOKE).toPandas()
    compare_frames(got, want, "sliding twin vs batch")


def test_session_twin_matches_batch(spark, events_dir):
    stream = twins.session_stream(twins.read_events_stream(spark, events_dir))
    got = twins.run_to_completion(stream, "session_out").toPandas()
    want = specs()["e3_session"].fn(spark, SF_SMOKE).toPandas()
    compare_frames(got, want, "session twin vs batch")


def test_stateful_runagg_twin_matches_batch(spark, events_dir):
    """applyInPandasWithState custom-state twin must reproduce the batch
    running-sum values exactly (single micro-batch replay)."""
    stream = twins.running_spend_stream(twins.read_events_stream(spark, events_dir))
    got = twins.run_to_completion(stream, "runagg_out").toPandas()
    want = specs()["e6_stateful_runagg"].fn(spark, SF_SMOKE).toPandas()
    compare_frames(got, want, "stateful runagg twin vs batch")


def test_foreach_batch_sink_roundtrip(spark, events_dir, tmp_path):
    """foreachBatch — the production sink pattern (transactional /
    arbitrary-target writes per micro-batch): stream the tumbling agg
    into parquet via foreachBatch and verify the materialized result
    equals the batch answer."""
    import os

    out = str(tmp_path / "fb_out")

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    stream = twins.tumbling_stream(twins.read_events_stream(spark, events_dir))
    q = (
        stream.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    assert os.path.isdir(out)
    got = spark.read.parquet(out).toPandas()
    want = specs()["e1_tumbling"].fn(spark, SF_SMOKE).toPandas()
    compare_frames(got, want, "foreachBatch sink vs batch")


def test_dedup_twin_count_matches_batch(spark, events_dir):
    stream = twins.dedup_stream(twins.read_events_stream(spark, events_dir))
    got = twins.run_to_completion(stream, "dedup_out")
    want = specs()["e5_stream_dedup"].fn(spark, SF_SMOKE)
    # dropDuplicates keeps an arrival-order survivor (not the explicit
    # (ts, event_id) survivor of the batch form) → compare the key sets.
    assert got.select("user_id", "event_type", "value").distinct().count() == (
        want.select("user_id", "event_type", "value").distinct().count()
    )
    assert got.count() == want.count()


def test_stream_stream_join_twin_matches_batch(spark, events_dir):
    """A real watermarked stream-stream interval join must reproduce
    the batch e10 result on a bounded replay."""
    stream = twins.stream_stream_join(
        twins.read_events_stream(spark, events_dir),
        twins.read_events_stream(spark, events_dir),
    )
    got = twins.run_to_completion(stream, "ss_join_out").toPandas()
    want = specs()["e10_stream_stream_join"].fn(spark, SF_SMOKE).toPandas()
    compare_frames(got, want, "stream-stream join twin vs batch")


def test_transform_with_state_twin_matches_batch(spark, events_dir):
    """Spark 4 transformWithStateInPandas (StatefulProcessor + RocksDB
    ValueState) must reproduce the same batch running-sum values as the
    applyInPandasWithState twin. The API requires ``google.protobuf``
    in the test process AND the pyspark workers; no wheel ships in this
    container and there is no PyPI route, but the google-cloud-sdk tree
    bundles a pure-Python 6.32.0-dev runtime that parses Spark's
    StateMessage set fine — one gencode minor behind Spark 4.1.2's
    6.33.0-generated ``StateMessage_pb2``, whose import-time version
    gate alone rejects it. ``tests/_protoshim/sitecustomize.py``
    (wired up by conftest BEFORE the JVM launches, so workers inherit
    it via PYTHONPATH) bridges the path and forgives exactly that
    one-minor gap. Still skipped if neither a real wheel nor the SDK
    bundle exists."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = twins.running_spend_stream_tws(
            twins.read_events_stream(spark, events_dir)
        )
        got = twins.run_to_completion(stream, "runagg_tws_out").toPandas()
        want = specs()["e6_stateful_runagg"].fn(spark, SF_SMOKE).toPandas()
        compare_frames(got, want, "transformWithState twin vs batch")
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_protoshim_chains_shadowed_sitecustomize(tmp_path):
    """Python auto-imports only the FIRST sitecustomize on sys.path, so
    conftest's PYTHONPATH prepend would otherwise silently disable any
    pre-existing environment sitecustomize in every spawned worker. The
    shim must locate and execute the one it shadows (additive, not a
    replacement)."""
    import os
    import subprocess
    import sys

    shim_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_protoshim")
    marker = tmp_path / "shadowed_ran.txt"
    # record __name__ too: a downstream hook that gates on
    # __name__ == "sitecustomize" (exactly as the shim itself does)
    # must still see the real name, not a synthetic one.
    (tmp_path / "sitecustomize.py").write_text(
        f"open({str(marker)!r}, 'w').write(__name__)\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = shim_dir + os.pathsep + str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-c", "pass"], env=env, capture_output=True, text=True
    )
    assert proc.returncode == 0, proc.stderr
    assert marker.exists(), "shadowed sitecustomize was not chained"
    assert marker.read_text() == "sitecustomize"


def test_protoshim_reports_broken_shadowed_hook(tmp_path):
    """A broken downstream sitecustomize must not kill the process, but
    its failure must reach stderr (mirroring CPython's site.py
    behavior) instead of being swallowed with zero diagnostics."""
    import os
    import subprocess
    import sys

    shim_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_protoshim")
    (tmp_path / "sitecustomize.py").write_text(
        "raise RuntimeError('hook exploded')\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = shim_dir + os.pathsep + str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-c", "print('alive')"],
        env=env, capture_output=True, text=True,
    )
    assert proc.returncode == 0
    assert proc.stdout.strip() == "alive"
    assert "Error in shadowed sitecustomize" in proc.stderr
    assert "RuntimeError: hook exploded" in proc.stderr


def test_windowed_topn_twin_via_foreach_batch(spark, events_dir, tmp_path):
    """e13's streaming form: windowed counts stream in complete mode,
    and the top-N rank is applied INSIDE foreachBatch — streaming
    queries cannot run window functions after an aggregation, so
    per-batch post-ranking in the sink is the production top-N
    pattern. Final materialized result must equal batch e13."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out = str(tmp_path / "topn_out")

    def rank_and_write(batch_df, batch_id):
        wr = Window.partitionBy("window_start").orderBy(
            F.desc("n"), F.asc("event_type")
        )
        (
            batch_df.withColumn("rnk", F.row_number().over(wr).cast("int"))
            .filter(F.col("rnk") <= 3)
            .write.mode("overwrite")
            .parquet(out)
        )

    ev = twins.read_events_stream(spark, events_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "total_value",
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(rank_and_write)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    assert os.path.isdir(out)
    got = spark.read.parquet(out).toPandas()
    want = specs()["e13_windowed_topn"].fn(spark, SF_SMOKE).toPandas()
    compare_frames(got, want, "windowed topN twin vs batch")


def test_commitlog_stream_paced_replay(spark, tmp_path):
    """e21's source in PACED mode (batch_rows — the maxOffsetsPerTrigger
    analog): the log must arrive across MULTIPLE micro-batches, with
    every row delivered exactly once (ids match the batch read 1:1)."""
    import time
    import uuid

    from cassandra_migrate_keyspace_from_cluster_spark.sources.commitlog_stream import (
        read_commitlog_stream,
    )

    path = f"{SF_SMOKE}/events.parquet"
    total = spark.read.parquet(path).count()
    stream = read_commitlog_stream(spark, path, n_slices=4, batch_rows=300)
    name = "clog_paced_" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(name).count() >= total:
                break
            time.sleep(0.5)
        got = spark.table(name)
        assert got.count() == total
        batches = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
        assert len(batches) >= 3, f"expected paced multi-batch delivery: {batches}"
        assert max(batches) <= 300 + 4, f"admission cap exceeded: {batches}"
        got_ids = {r.event_id for r in got.select("event_id").collect()}
        want_ids = {
            r.event_id
            for r in spark.read.parquet(path).select("event_id").collect()
        }
        assert got_ids == want_ids
    finally:
        q.stop()


def test_stream_enrich_twin_matches_batch(spark, events_dir):
    """e22: the stream-static enrichment twin (static side broadcast
    per micro-batch, zero state store) must reproduce the batch join."""
    from cassandra_migrate_keyspace_from_cluster_spark.sources import load_table

    cust = load_table(spark, SF_SMOKE, "customer")
    stream = twins.enrich_stream(twins.read_events_stream(spark, events_dir), cust)
    got = twins.run_to_completion(stream, "enrich_out").toPandas()
    want = specs()["e22_stream_enrich"].fn(spark, SF_SMOKE).toPandas()
    compare_frames(got, want, "stream-static enrich twin vs batch")


def test_foreachbatch_epoch_overwrite_is_idempotent(spark, tmp_path):
    """e23's sink law: re-writing the same epoch (the at-least-once
    replay case) must leave exactly one copy of the data."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).select(
        "event_id", "user_id"
    )
    out = str(tmp_path / "sink")
    for _ in range(2):  # same epoch written twice = replayed micro-batch
        df.write.mode("overwrite").parquet(f"{out}/epoch=7")
    got = spark.read.parquet(out)
    assert got.count() == df.count()
    assert got.select("event_id").distinct().count() == df.count()


def test_commitlog_restart_resumes_from_checkpoint(spark, tmp_path):
    """The commitlog source's restart contract, end-to-end: stop after
    ONE paced micro-batch, build a FRESH reader (its admission cap
    restarts at 0 — the re-sync path in partitions()/commit() must
    recover the committed position from the checkpoint), drain the
    rest, and the union is every row exactly once. This is the
    exactly-once replay property the module docstring claims; the
    paced test covers delivery, this pins RECOVERY."""
    from cassandra_migrate_keyspace_from_cluster_spark.sources.commitlog_stream import (
        read_commitlog_stream,
    )

    path = f"{SF_SMOKE}/events.parquet"
    want = spark.read.parquet(path)
    total = want.count()
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    # leg 1: exactly one micro-batch (trigger once), paced to a strict
    # prefix of the log
    q1 = (
        read_commitlog_stream(spark, path, n_slices=2, batch_rows=700)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(once=True)
        .start()
    )
    q1.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert 0 < n1 <= 700 + 2, n1
    assert n1 < total, "leg 1 must stop mid-log for the test to bite"

    # leg 2: a brand-new reader + the same checkpoint drains the rest
    q2 = (
        read_commitlog_stream(spark, path, n_slices=2, batch_rows=700)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    got = spark.read.parquet(out)
    assert got.count() == total
    # exactly once: multiset equality with the batch read
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
