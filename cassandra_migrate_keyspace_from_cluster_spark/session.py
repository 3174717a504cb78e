"""SparkSession builder with the engine's required configuration.

Every query in the registry assumes the runtime invariants of
``_INVARIANTS`` and AQE enabled (runtime join-strategy + partition
coalescing; this is the main 100-TB-scale lever we rely on instead of
hand-tuning).

Scale note: ``shuffle_partitions`` defaults to the local core count; on
a real 1000-executor cluster you would set it to ~2-3x total cores (or
leave AQE's coalescing to shrink an intentionally high initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs every query relies on. ``build_session`` starts
# from them and ``configure_existing`` forces them on a session the
# driver harness built.
_INVARIANTS = {
    # testdata timestamps are naive; the DuckDB oracle treats them as
    # UTC (SURVEY.md §5.4)
    "spark.sql.session.timeZone": "UTC",
    # Part G pandas UDFs
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # r1/r2 fixtures store TIMESTAMP(NANOS), which Spark cannot read
    # natively: read as long and convert in the loader
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # r3 fixtures store naive TIMESTAMP(MICROS); without this, Spark 4
    # infers TIMESTAMP_NTZ, which LTZ-only expressions reject. Reading
    # them as TimestampType matches DuckDB's naive read wall-clock under
    # the UTC session zone (load_table also normalizes defensively for
    # sessions that bypass this config).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # The A1 scan (sources/cluster_source.py) is a union of one
    # coalesce(1) scan per token range. With this on (Spark 4.1's
    # default), a union whose children all have one partition is zipped
    # into one partition; off (Spark 4.0's behaviour) it keeps one
    # partition per range.
    "spark.sql.unionOutputPartitioning": "false",
}


def build_session(
    app_name: str = "cassandra-migrate-keyspace-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` controls ``local[N]``; default from ``$SPARK_GRAFT_CPUS``
    (falls back to ``local[*]``).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env) if env else 0
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Driver heap: 16g default leaves headroom inside the 128 GiB
        # sandbox for the 32 local executor threads that share this JVM;
        # raise via $SPARK_GRAFT_DRIVER_MEM only for driver-heavy runs
        # (broadcast corpus builds), never past ~half the box.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # r13 measured I/O knobs (optimization guide §6/§4.2):
        # - parquet zstd: smaller than snappy at similar read speed; on
        #   the copy-roundtrip family it is also strictly faster to
        #   WRITE than Spark's snappy path (a4 roundtrip A/B at sf0.1:
        #   zstd 1.17 s vs snappy 1.50 s min-of-3) — same direction at
        #   100 TB where the written bytes dominate.
        # - arrow batch 65536 rows: fewer per-batch pandas/Arrow
        #   crossings for mapInPandas/pandas-UDF paths (g5 A/B: 0.59 s
        #   @10k → 0.50 s @65k); per-batch MEMORY stays bounded by
        #   spark.sql.execution.arrow.maxBytesPerBatch (64 MB default,
        #   Spark 4), so wide/binary rows cannot blow up a batch.
        #   Results are batch-size-invariant (conf-invariance gate's
        #   arrow_batch_7 axis).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Every shuffle byte reaches the disk once. For a shuffle of at
        # most bypassMergeThreshold (default 200) reduce partitions and
        # no map-side combine (every SQL exchange of a session with
        # <= 200 shuffle partitions) Spark picks the bypass-merge
        # writer, which writes one file per reduce partition and then
        # copies them all into the map output: every byte twice. At 0
        # every SQL exchange takes the serialized writer, which renames
        # an unspilled map output into place, as a cluster with more
        # than 200 shuffle partitions already does. A core conf, so a
        # running session cannot take it: not in ``_INVARIANTS``.
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    )
    for k, v in {**_INVARIANTS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply ``_INVARIANTS`` to a session we didn't build.

    The driver harness passes us its own SparkSession; every invariant is
    runtime-settable and required for oracle parity, so force them all.
    The harness-built session keeps its own shuffle writer: the writer is
    chosen by a core conf, which a running session cannot change.
    """
    for k, v in _INVARIANTS.items():
        spark.conf.set(k, v)
    return spark
