"""Keyspace-migration operators (SURVEY.md §2 Part A).

The reference's surface is a Cassandra keyspace copier (reconstructed in
SURVEY.md §1.1/§3.1 — reference tree empty, so the shape is `[R?]`):
discover schema, replicate DDL, bulk-copy each table split by token
range, then validate counts/content. Here each op is expressed
source-agnostically over the parquet-keyspace simulation (a `sf*/`
directory = keyspace, each parquet file = table); on a real cluster the
same dataflow runs through the Spark Cassandra Connector (see
``sources/cassandra.py`` for the connector-config design notes covering
A1/A3/A6/A9/A10, which are not exercisable in this sandbox).

Every copy goes through one write/read-back core (``_write`` /
``_read_back``) behind two entry points: ``copy_table`` for a whole-table
copy with an optional layout reshape, and ``copy_table_resumable`` for the
range-by-range loop (done-markers, pacing).

Scale notes (100-TB design point):
  - Bulk copy is pure ``read → write``: no shuffle at all. Parallelism
    comes from source splits (parquet file splits / connector token
    ranges), so it scales linearly with executors.
  - Range splitting is the connector's: the resumable copy (A9/A10)
    plans the A1 scan's token ranges (``ring_ranges``: no data read, no
    Spark job). A5's ntile over a distributed rank is an exact per-range
    row-count report, not a copy plan.
  - Copy jobs are small and independent (one per table, one per token
    range), so both copy paths submit them from one pool (``_pooled``)
    and the scheduler interleaves them across the executors; a paced
    resumable copy is the exception and runs one range at a time. Every
    copy unit is coalesced to ~1M-row files (``_coalesced``), so the target never inherits the source's
    fragmentation and a range does not write one file per input split.
  - Row counts (A7, and the copy report) are parquet footer metadata:
    no Spark job. The content checksum (A8) is one pass per table and
    an order-insensitive reduction, so it needs no sort; its exact
    distinct count does need one hash shuffle of every distinct row
    hash (16 bytes plus its count).
"""

from __future__ import annotations

import os
import re
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources import TABLES, load_table
# the resumable copy's plan is the A1 scan's token ranges, pure ring math
from ..sources.cluster_source import ring_ranges as plan_key_ranges, token_in_range
from ..sources.parquet_keyspace import footer_rows, table_path
from ..util import local_frame, quoted

# Canonical cross-engine type vocabulary: Spark simpleString → canonical.
# The DuckDB oracle maps information_schema data_type strings into the
# same vocabulary (INTEGER→int, BIGINT→bigint, VARCHAR→text,
# TIMESTAMP*→timestamp, FLOAT[]→array<float>).
_SPARK_TO_CANONICAL = {
    "int": "int",
    "bigint": "bigint",
    "float": "float",
    "double": "double",
    "string": "text",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "blob",
    "array<float>": "array<float>",
    "array<double>": "array<double>",
    "array<string>": "array<text>",
}

_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), False),
        T.StructField("ordinal", T.LongType(), False),
        T.StructField("data_type", T.StringType(), False),
    ]
)


def schema_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery (A2): enumerate (table, column, ordinal, type)
    over every keyspace table (``TABLES``).

    The Cassandra analogue reads ``system_schema.{tables,columns}``; here
    the parquet footers are the schema registry. This is a driver-side
    catalog operation (footer reads only, no data scan, no Spark job) —
    exactly how a migrator plans its copy before moving a single row.
    """
    rows = []
    for name in TABLES:
        for i, field in enumerate(load_table(spark, sf_dir, name).schema.fields):
            canonical = _SPARK_TO_CANONICAL.get(
                field.dataType.simpleString(), field.dataType.simpleString()
            )
            rows.append((name, field.name, i + 1, canonical))
    return local_frame(spark, rows, _MANIFEST_SCHEMA)


def _options(fmt: str) -> dict:
    # CSV is the one sink that needs a header line to carry column names
    return {"header": True} if fmt == "csv" else {}


# copy jobs submitted at once, by migrate_keyspace (one per table) and by
# an unpaced copy_table_resumable (one per token range)
_POOL_WIDTH = 8

# A range's done-marker holds exactly ``f"{lo}..{hi}\n"``.
_MARKER = re.compile(r"-?\d+\.\.-?\d+\n")


def _pooled(fn, items: list) -> list:
    """``[fn(x) for x in items]`` on ``min(_POOL_WIDTH, len(items))``
    threads. On an error, running calls finish and queued ones are not
    started."""
    if not items:
        return []
    with ThreadPoolExecutor(max_workers=min(_POOL_WIDTH, len(items))) as ex:
        return list(ex.map(fn, items))


def _coalesced(df: DataFrame, n_rows: int) -> DataFrame:
    """``df`` merged, without a shuffle, into one partition (one written
    file) per ~1M of its estimated ``n_rows`` rows."""
    return df.coalesce(max(1, -(-n_rows // 1_000_000)))


def _write(df: DataFrame, path: str, fmt: str = "parquet", partition_by=()) -> None:
    """The copy core's write: overwrite ``path`` with ``df`` in ``fmt``,
    one directory per value of each ``partition_by`` column."""
    writer = df.write.mode("overwrite").format(fmt).options(**_options(fmt))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def _read_back(
    spark: SparkSession, path: str, schema: T.StructType, fmt: str = "parquet"
) -> DataFrame:
    """The copy core's read-back, with the written frame's schema enforced.

    This is a migrator's contract (replay the DDL, then load against
    it): text formats carry no types of their own, an explicit schema
    costs no footer-inference job, and an EMPTY copy stays readable — a
    0-row write may leave no data file to infer a schema from (the
    quiet-day incremental run). Partition columns read back last."""
    return spark.read.format(fmt).options(**_options(fmt)).schema(schema).load(path)


def copy_table(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    name: str,
    *,
    fmt: str = "parquet",
    layout=None,
    partition_by=(),
) -> DataFrame:
    """Bulk table copy (A4): full scan → value-preserving write of
    ``<dst_dir>/<name>.<fmt>``, returned as its read-back so callers can
    validate the round trip (A7/A8 run on the result).

    ``layout`` is an optional DataFrame→DataFrame reshape applied before
    the write: derived columns (a partition key, A6 writetime metadata),
    a file-count repartition (compaction), a range clustering and sort.
    Without one the copy is shuffle-free — source splits map 1:1 to
    output files. ``partition_by`` writes a directory per value of those
    columns, the layout that turns filters on them into partition
    pruning. Derived columns are part of the read-back; callers project
    them away to compare against the source. On Cassandra the same
    dataflow is ``connector read → connector write`` (sources/cassandra.py).
    """
    src = load_table(spark, src_dir, name)
    out = layout(src) if layout else src
    dst = os.path.join(dst_dir, f"{name}.{fmt}")
    _write(out, dst, fmt, partition_by)
    return _read_back(spark, dst, out.schema, fmt)


def range_split_counts(df: DataFrame, key: str, n_splits: int = 16) -> DataFrame:
    """Token-range split math (A5): rows per contiguous key range.

    Rows are ordered by key into n contiguous, near-equal ranges; each
    range reports its exact row count and key bounds (the a5 report; the
    copy plans token ranges instead). The bucket assignment is SQL
    ``ntile`` semantics, computed WITHOUT a global single-reducer
    window: the two-phase distributed rank (``repartitionByRange`` →
    partition-local numbering → broadcast prefix offsets,
    ``operators/rank.py``) yields the exact global row number, and
    ntile is closed-form over (row_number, N). Deterministic whenever
    ``key`` is totally ordered (duplicate keys make any engine's ntile
    bucket-boundary assignment arbitrary).
    """
    from .rank import ntile_from_rn, with_global_row_number

    # local_checkpoint: single-JVM sandbox, where executor loss is job
    # loss anyway — a real cluster deployment passes "persist"
    k = F.col(quoted(key))
    ranked = with_global_row_number(
        df.select(k),
        [k.asc()],
        "__rn",
        total_col="__n",
        materialize="local_checkpoint",
    )
    return (
        ranked.select(
            k,
            ntile_from_rn(F.col("__rn"), F.col("__n"), n_splits).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(k).alias("min_key"),
            F.max(k).alias("max_key"),
        )
        .select(F.col("bucket").cast("bigint").alias("bucket"), "n_rows", "min_key", "max_key")
    )


class WallClock:
    """Real clock for production throttling; tests inject a fake."""

    def now(self) -> float:
        return time.monotonic()

    def sleep(self, seconds: float) -> None:
        time.sleep(seconds)


def copy_table_resumable(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    name: str,
    key: str,
    n_splits: int = 16,
    *,
    rows_per_second: float | None = None,
    clock=None,
) -> DataFrame:
    """Resumable, optionally throttled bulk copy (A9/A10): the table is
    copied by token range; each completed range writes its data then a
    done-marker, and a restarted run skips every marked range.

    This is the reference's core control loop (per-token-range copy with
    persisted progress — SURVEY.md §3.1) expressed over Spark jobs: each
    range copy is one Spark job, a filtered write of ``range=i``
    coalesced to ~1M-row files (the token is uniform, so a range holds
    about ``rows / n_splits`` rows). An unpaced copy submits its pending
    ranges concurrently from ``_pooled``; a paced copy runs them one at a
    time, in plan order. ``key`` is a column name, not a path: a dot in
    it is part of the name.

    Range i copies the rows whose key token lies in ``[lo_i, hi_i)`` of
    ``plan_key_ranges(n_splits)``. The plan depends on ``n_splits`` alone
    and tiles the ring, so a resume re-plans what the crashed run planned
    and every row (repeated keys, keys outside the old min and max) is
    copied by exactly one range; rows that changed under a range copied
    earlier are left to a ``snapshot_diff`` repair. A marker records its
    range's ``lo..hi``, and one from another plan raises ``ValueError``.
    A marker is written to a hidden temporary name, synced and renamed
    into place; a marker file that is not one ``lo..hi`` line (empty, or
    cut off mid-line by a crash) counts as absent, so its range is
    recopied.
    The plan and every marker are checked before anything is created, so
    a refused call leaves the target as it found it.

    Restart safety needs no coordination beyond the markers, serial or
    concurrent: each range overwrites its own ``range=i`` directory and
    writes its marker only after that write's job has committed. A crash
    with ranges in flight leaves some set of ranges marked, each with
    complete data; the resume skips those and overwrites the rest. If
    one range's write raises, the ranges already in flight still finish
    and are marked before the error propagates, so a failed range is
    reported, and the resume copies exactly the unmarked ones. Tests
    inject faults at the write (``_write``); the copy has no fault hook.

    ``rows_per_second`` paces the loop to a rows/second budget so the
    migration never overruns the source cluster's serving capacity:
    before submitting a range it waits until ``start + rows_copied /
    rows_per_second``, where ``rows_copied`` counts the rows this run
    has written (footer metadata) — so a resumed run re-paces only the
    ranges it still copies. ``clock`` (``now``/``sleep``) is
    injectable so tests assert the sleep schedule exactly; the default
    is the real monotonic clock. This driver-side pacing bounds SOURCE
    read pressure, which is why a paced copy never runs two ranges at
    once; executor-side write throttling maps to the connector's
    throughput option (see sources/cassandra.py).

    Returns the re-read of the completed target.
    """
    src = load_table(spark, src_dir, name)
    table_dir = os.path.join(dst_dir, f"{name}.parquet")

    def marker(i: int) -> str:
        return os.path.join(dst_dir, f"_{name}_range_{i}.done")

    pending = []
    for i, (lo, hi) in enumerate(plan_key_ranges(n_splits)):
        try:
            with open(marker(i)) as fh:
                done = fh.read()
        except FileNotFoundError:
            done = ""
        if not _MARKER.fullmatch(done):  # absent, or torn by a crash
            pending.append((i, lo, hi))
        elif done != f"{lo}..{hi}\n":
            raise ValueError(f"{marker(i)} is not {lo}..{hi}, range {i} of {n_splits}")
    os.makedirs(table_dir, exist_ok=True)
    range_rows = -(-footer_rows(table_path(src_dir, name)) // n_splits)

    def copy_range(rng: tuple[int, int, int]) -> str:
        i, lo, hi = rng
        part = os.path.join(table_dir, f"range={i}")
        _write(_coalesced(src.filter(token_in_range(key, lo, hi)), range_rows), part)
        tmp = f"{marker(i)}.tmp"
        with open(tmp, "w") as fh:
            fh.write(f"{lo}..{hi}\n")
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, marker(i))
        return part

    if rows_per_second:
        clock = clock or WallClock()
        start, copied = clock.now(), 0
        for rng in pending:
            if copied:
                delay = start + copied / rows_per_second - clock.now()
                if delay > 0:
                    clock.sleep(delay)
            copied += footer_rows(copy_range(rng))
    else:
        _pooled(copy_range, pending)
    # the range=i directories read back as a partition column: dropped
    return _read_back(spark, table_dir, src.schema).select(*map(quoted, src.columns))


_COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
    ]
)


def table_counts(spark: SparkSession, sf_dir: str, tables=TABLES) -> DataFrame:
    """Row-count validation (A7): one row per table with its count.

    Post-copy ``count(source) == count(target)`` is the migrator's
    cheapest invariant. The counts are parquet footer row counts
    (``footer_rows``) and the result is a local frame, so this submits no
    Spark job. Scale note: ``footer_rows`` reads one footer per part file
    on the driver — metadata only, but proportional to the file count.
    """
    rows = [(name, footer_rows(table_path(sf_dir, name))) for name in tables]
    return local_frame(spark, rows, _COUNTS_SCHEMA)


def content_checksum(df: DataFrame, table_name: str) -> DataFrame:
    """Content checksum validation (A8): order-insensitive content hash.

    Per-row ``md5(concat_ws('|', cols))`` (md5 is standardized → identical
    across engines) reduced with order-insensitive aggregates. Matching
    (n_rows, n_distinct_hashes, min_hash, max_hash) on source and target
    proves the copy preserved values without sorting either side.
    Restricted to exact-typed columns (int/string) by callers — float
    formatting is not cross-engine stable (SURVEY.md §5.4). Blind spot:
    ``concat_ws`` skips NULLs, so ``(1, NULL, 'x')`` and ``(1, 'x', NULL)``
    hash identical.

    Plan shape: rows are grouped by their 16-byte binary hash with a
    per-hash count, then one global aggregate over those groups gives
    the row count, the exact distinct count and the extrema (unsigned
    byte order is the order of the lowercase hex). The exact distinct
    count costs one hash shuffle of every distinct row hash (16 bytes
    plus its count); nothing is sorted.
    """
    args = ", ".join(["'|'"] + [f"cast({quoted(c)} as string)" for c in df.columns])
    per_hash = (
        df.select(F.expr(f"unhex(md5(concat_ws({args})))").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_hash.agg(
        F.lit(table_name).alias("table_name"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct_hashes"),
        F.lower(F.hex(F.min("h"))).alias("min_hash"),
        F.lower(F.hex(F.max("h"))).alias("max_hash"),
    )


def snapshot_diff(
    source: DataFrame,
    target: DataFrame,
    key: str,
    cols: tuple[str, ...],
) -> DataFrame:
    r"""Incremental-migration diff: compare source and target snapshots
    by per-row content hash over ``cols`` and emit a repair plan —
    (key, status, action) for every key that is missing, changed, or
    extra; in-sync keys are filtered out and never materialize.

    status -> action: missing_in_target -> copy, changed -> recopy,
    extra_in_target -> delete.

    Scale shape: one md5 projection per side at scan speed, a full
    outer join that shuffles each side once on the key (co-located if
    both sides are bucketed on it) carrying a 16-byte hash per row per
    side (the binary md5, half the bytes of its hex form), and the
    output is proportional to the DRIFT, not the table — the property
    that makes incremental re-migration cheap. ``cols`` must be
    exact-typed (no floats): float formatting is not cross-engine
    stable (SURVEY.md §5.4).

    The per-row hash is NULL- and delimiter-unambiguous: every column
    is escaped (``\`` doubled, ``|`` → ``\|``) and NULL encodes as the
    bare ``\N`` sentinel, which no escaped value can produce (escape
    output only emits backslashes in pairs or before ``|``) — the
    PostgreSQL COPY convention. A naive ``concat_ws`` hash silently
    skips NULLs, so rows differing only in WHICH column is NULL (or via
    an injected delimiter) would hash identical and a drifted row would
    be reported in-sync — a missed repair.

    ``key`` and ``cols`` are column names, not paths: a dot or backtick
    in one is part of the name."""
    k = quoted(key)

    def hashed(df: DataFrame, out: str) -> DataFrame:
        def enc(c: str):
            s = F.col(quoted(c)).cast("string")
            esc = F.replace(
                F.replace(s, F.lit("\\"), F.lit("\\\\")),
                F.lit("|"),
                F.lit("\\|"),
            )
            return F.when(s.isNull(), F.lit("\\N")).otherwise(esc)

        return df.select(
            F.col(k),
            F.unhex(F.md5(F.concat_ws("|", *[enc(c) for c in cols]))).alias(out),
        )

    s = hashed(source, "h_src")
    tg = hashed(target, "h_tgt").withColumnRenamed(key, "_tgt_key")
    j = s.join(tg, s[k] == tg["_tgt_key"], "full_outer")
    status = (
        F.when(F.col("_tgt_key").isNull(), "missing_in_target")
        .when(F.col(k).isNull(), "extra_in_target")
        .when(F.col("h_src") != F.col("h_tgt"), "changed")
    )
    action = (
        F.when(F.col("_tgt_key").isNull(), "copy")
        .when(F.col(k).isNull(), "delete")
        .otherwise("recopy")
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            F.coalesce(F.col(k), F.col("_tgt_key")).alias(key),
            "status",
            action.alias("action"),
        )
    )


_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("n_rows_src", T.LongType()),
        T.StructField("n_rows_dst", T.LongType()),
        T.StructField("counts_match", T.BooleanType()),
    ]
)


def migrate_keyspace(
    spark: SparkSession, src_dir: str, dst_dir: str, tables=TABLES
) -> DataFrame:
    """The reference's WHOLE JOB as one operator: copy every table of
    the keyspace to the target, then emit the per-table validation
    report (source count, target count, match flag) — A4 + A7 composed
    over the full keyspace.

    Each table's copy is the shuffle-free scan→write pass of
    ``copy_table``, coalesced to ~1M-row output files (``_coalesced``,
    the rule the resumable copy's ranges share) so the target never
    inherits the source's fragmentation (coalesce is narrow — it merges
    read splits without a shuffle; a4f's repartition form is the
    rebalancing alternative). Tables are independent, so their copy
    jobs are SUBMITTED CONCURRENTLY from ``_pooled``'s thread pool (at
    most ``_POOL_WIDTH`` threads) — the standard
    Spark pattern for fleets of small independent jobs (the scheduler
    interleaves them across executors; per-job fixed overhead stops
    serializing). The report is emitted as one local frame in
    ``tables`` order; no tables is an empty report.

    The write is the ONLY Spark job per table. Opening the source reads
    its footer schema (``load_table``), and both counts are parquet
    footer row counts (``footer_rows``): the source count sizes the
    coalesce, and the target count is taken from the written files'
    footers — what a fresh reader of the target sees, independent of
    the writer. Scale note: ``footer_rows`` reads one footer per part
    file on the driver, for the source and again for the target."""
    def copy_one(name: str):
        src = load_table(spark, src_dir, name)
        dst = os.path.join(dst_dir, f"{name}.parquet")
        n_src = footer_rows(table_path(src_dir, name))
        _write(_coalesced(src, n_src), dst)
        n_dst = footer_rows(dst)
        return (name, n_src, n_dst, n_src == n_dst)

    return local_frame(spark, _pooled(copy_one, list(tables)), _REPORT_SCHEMA)


def expectations_report(
    df: DataFrame, rules: list[tuple[str, F.Column]]
) -> DataFrame:
    """Declarative data-quality expectations (the deequ/dbt-test shape):
    each rule is (name, boolean Column that is True when the ROW
    VIOLATES the rule); the report is one row per rule, in rule order,
    with violation count, row count, and pass flag.

    Scale shape: k rules are ONE global partial+final aggregate of k+1
    counters (the row count and a conditional sum per rule) over a
    SINGLE scan, so the plan has one scan and one exchange of one row
    per input partition; ``inline`` turns the result row into the k
    report rows. Adding rules is free at 100 TB: the cost is the scan
    you were already paying. Uniqueness-style rules that need a groupBy
    are the exception — express those as a separate key-partitioned check (cf.
    a18's orphan scans) rather than forcing them through this one-pass
    report."""
    # coalesce: sum over an EMPTY table is NULL, but zero rows means
    # zero violations (and the rule passes)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.coalesce(F.sum(violated.cast("bigint")), F.lit(0)).alias(f"v{i}")
            for i, (_, violated) in enumerate(rules)
        ],
    )
    per_rule = [
        F.struct(
            F.lit(name).alias("rule_name"),
            F.col(f"v{i}").alias("n_violations"),
            F.col("n").alias("n_rows"),
            (F.col(f"v{i}") == 0).cast("bigint").alias("passed"),
        )
        for i, (name, _) in enumerate(rules)
    ]
    return row.select(F.inline(F.array(*per_rule)))
