"""Part A — the reference's own surface: keyspace migration as dataflow
(SURVEY.md §2 Part A, testable forms a2/a4/a5/a7/a8).

The parquet-keyspace simulation stands in for Cassandra (SURVEY.md §1.2);
the real-cluster path (A1/A3/A6/A9/A10) is designed, not exercised, in
``sources/cassandra.py``.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from ..operators import migrate as mig
from ..registry import register
from ..sources.parquet_keyspace import footer_rows, table_path
from ..util import scratch_dir, scratch_dir_unique
from .util import r2, t

# DuckDB information_schema data_type → the canonical vocabulary used by
# operators/migrate.py::_SPARK_TO_CANONICAL.
_DUCK_TYPE_CASE = """
    CASE
      WHEN data_type = 'INTEGER' THEN 'int'
      WHEN data_type = 'BIGINT' THEN 'bigint'
      WHEN data_type = 'FLOAT' THEN 'float'
      WHEN data_type = 'DOUBLE' THEN 'double'
      WHEN data_type = 'VARCHAR' THEN 'text'
      WHEN data_type = 'BOOLEAN' THEN 'boolean'
      WHEN data_type = 'DATE' THEN 'date'
      WHEN data_type LIKE 'TIMESTAMP%' THEN 'timestamp'
      WHEN data_type = 'BLOB' THEN 'blob'
      WHEN data_type = 'FLOAT[]' THEN 'array<float>'
      WHEN data_type = 'DOUBLE[]' THEN 'array<double>'
      WHEN data_type = 'VARCHAR[]' THEN 'array<text>'
      ELSE lower(data_type)
    END
"""


@register(
    "a2_schema_manifest",
    oracle=f"""
    SELECT table_name, column_name,
           CAST(ordinal_position AS BIGINT) AS ordinal,
           {_DUCK_TYPE_CASE} AS data_type
    FROM information_schema.columns
    WHERE table_name IN ('region','nation','customer','supplier','part',
                         'orders','lineitem','events','documents','embeddings')
    """,
)
def a2_schema_manifest(spark, sf_dir):
    """Schema discovery: the keyspace's (table, column, ordinal, type)
    manifest from parquet footers — the migrator's planning input
    (Cassandra analogue: system_schema.columns)."""
    return mig.schema_manifest(spark, sf_dir)


@register(
    "a3_ddl_manifest",
    oracle=f"""
    SELECT table_name,
           'CREATE TABLE ' || table_name || ' (' ||
           string_agg(column_name || ' ' || {_DUCK_TYPE_CASE}, ', '
                      ORDER BY ordinal_position) || ')' AS ddl
    FROM information_schema.columns
    WHERE table_name IN ('region','nation','customer','supplier','part',
                         'orders','lineitem','events','documents','embeddings')
    GROUP BY table_name
    """,
)
def a3_ddl_manifest(spark, sf_dir):
    """DDL replication: emit one CREATE TABLE statement per keyspace
    table from the discovered schema (the step a migrator replays on the
    target before copying; the CQL-flavored emitter with primary keys is
    sources/cassandra.py::ddl_for)."""
    from pyspark.sql import functions as F

    manifest = mig.schema_manifest(spark, sf_dir)
    col_def = F.concat_ws(" ", "column_name", "data_type")
    return (
        manifest.groupBy("table_name")
        .agg(
            F.concat(
                F.lit("CREATE TABLE "),
                F.col("table_name"),
                F.lit(" ("),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("ordinal", col_def.alias("cd")))
                        ),
                        lambda s: s.getField("cd"),
                    ),
                    ", ",
                ),
                F.lit(")"),
            ).alias("ddl")
        )
    )


@register("a4_copy_roundtrip", oracle="SELECT * FROM lineitem")
def a4_copy_roundtrip(spark, sf_dir):
    """Bulk table copy: lineitem → temp parquet → read back. The
    hash-match against the untouched source proves the copy is schema-
    and value-preserving (the migrator's core invariant)."""
    dst = scratch_dir_unique("a4")
    return mig.copy_table(spark, sf_dir, dst, "lineitem")


@register("a4b_copy_roundtrip_csv", oracle="SELECT * FROM nation")
def a4b_copy_roundtrip_csv(spark, sf_dir):
    """Bulk copy through a CSV sink: schema enforced on read-back (text
    formats are schema-less — the migrator replays DDL first)."""
    dst = scratch_dir_unique("a4b")
    return mig.copy_table(spark, sf_dir, dst, "nation", fmt="csv")


@register("a4c_copy_roundtrip_json", oracle="SELECT * FROM customer")
def a4c_copy_roundtrip_json(spark, sf_dir):
    """Bulk copy through a JSON-lines sink: doubles serialize at full
    precision, so the round trip is value-preserving."""
    dst = scratch_dir_unique("a4c")
    return mig.copy_table(spark, sf_dir, dst, "customer", fmt="json")


@register("a4d_copy_partitioned", oracle="SELECT * FROM orders")
def a4d_copy_partitioned(spark, sf_dir):
    """Bulk copy with a partitioned target layout (directory per order
    year) — the 100-TB A4 shape: date filters become partition pruning
    (asserted in tests/test_plans.py) and per-task output stays bounded.
    The derived partition column is projected away on read-back."""
    dst = scratch_dir_unique("a4d")
    return mig.copy_table(
        spark, sf_dir, dst, "orders",
        layout=lambda df: df.withColumn("o_year", F.year("o_orderdate")),
        partition_by=("o_year",),
    ).drop("o_year")


@register("a4e_copy_roundtrip_orc", oracle="SELECT * FROM supplier")
def a4e_copy_roundtrip_orc(spark, sf_dir):
    """Bulk copy through an ORC sink (Spark's other native columnar
    format), read back with the written schema like every copy."""
    dst = scratch_dir_unique("a4e")
    return mig.copy_table(spark, sf_dir, dst, "supplier", fmt="orc")


@register(
    "a6_writetime_copy",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority,
           epoch_us(o_orderdate) AS o_totalprice_writetime,
           epoch_us(o_orderdate) AS o_orderstatus_writetime
    FROM orders
    """,
)
def a6_writetime_copy(spark, sf_dir):
    """Writetime-preserving copy (simulated A6): per-cell WRITETIME
    metadata columns attach at read and survive the copy exactly (on
    Cassandra the connector's writetime read/write options do this with
    real cell timestamps; see sources/cassandra.py::reader_options).

    The parquet keyspace has no cell metadata, so the simulated
    writetime is epoch micros OF THE NAIVE WALL-CLOCK of o_orderdate
    (DuckDB's epoch_us of the same naive timestamps). unix_micros alone
    reads the raw internal epoch, which follows the session timezone;
    from_utc_timestamp(col, session_tz) shifts it so the result is the
    naive micros under ANY session zone (identity under the engine's
    pinned UTC)."""
    dst = scratch_dir_unique("a6")
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC"
    wt = F.unix_micros(F.from_utc_timestamp(F.col("o_orderdate").cast("timestamp"), tz))
    return mig.copy_table(
        spark, sf_dir, dst, "orders",
        layout=lambda df: df.select(
            "*", *[wt.alias(f"{c}_writetime") for c in ("o_totalprice", "o_orderstatus")]
        ),
    )


@register("a9_resumable_copy", oracle="SELECT * FROM orders")
def a9_resumable_copy(spark, sf_dir):
    """Resumable token-range copy: 8 token ranges of o_orderkey, each a
    filtered write (one file per ~1M rows) + done-marker, submitted
    concurrently from a thread pool; restart skips marked ranges
    (interruption, failed-range and concurrency laws in
    tests/test_migrate.py). The hash-match proves the range union
    reassembles the table exactly."""
    dst = scratch_dir_unique("a9")
    return mig.copy_table_resumable(
        spark, sf_dir, dst, "orders", "o_orderkey", n_splits=8
    )


@register("a1_cluster_scan", oracle="SELECT * FROM orders")
def a1_cluster_scan(spark, sf_dir):
    """Cluster connect + token-range scan (A1), EXECUTED: the ring is
    split into 8 token ranges (ring math only, no data scan) and each
    range is one filtered parquet scan coalesced to one partition, so
    each Spark task reads exactly its range's rows, with no shuffle and
    no Python worker — the connector dataflow the reference is built
    on, running for real against the simulated cluster. Hash-match
    proves the ranges tile the table: no row lost, none duplicated.
    Range membership, balance and task count are pytest-asserted
    (tests/test_migrate.py), the plan's shape in tests/test_plans.py."""
    from ..sources.cluster_source import read_keyspace_table

    return read_keyspace_table(
        spark, f"{sf_dir}/orders.parquet", "o_orderkey", n_ranges=8
    )


class _FakeClock:
    """Deterministic clock for the a10 query: sleeping advances virtual
    time instantly, so the pacing CONTROL FLOW runs for real (the exact
    schedule is asserted in tests/test_migrate.py) without wall-clock
    cost in the correctness harness."""

    def __init__(self):
        self.t = 0.0
        self.slept = []

    def now(self):
        return self.t

    def sleep(self, seconds):
        self.slept.append(seconds)
        self.t += seconds


@register("a10_throttled_copy", oracle="SELECT * FROM orders")
def a10_throttled_copy(spark, sf_dir):
    """Rate-limited range-by-range copy (A10): a paced copy runs its
    ranges one at a time and paces itself to a rows/second budget before
    submitting each range — source-cluster protection made executable.
    Runs against the injectable clock (deterministic; the sleep schedule
    and the one-write-in-flight law are asserted in
    tests/test_migrate.py); hash-match proves throttling changes WHEN
    ranges copy, never WHAT arrives."""
    dst = scratch_dir_unique("a10")
    return mig.copy_table_resumable(
        spark, sf_dir, dst, "orders", "o_orderkey", n_splits=8,
        rows_per_second=1000.0, clock=_FakeClock(),
    )


@register(
    "a5_range_partition_counts",
    oracle="""
    SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_rows,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
    FROM (SELECT o_orderkey, ntile(16) OVER (ORDER BY o_orderkey) AS bucket
          FROM orders)
    GROUP BY bucket
    """,
)
def a5_range_partition_counts(spark, sf_dir):
    """Token-range split math: 16 contiguous o_orderkey ranges with
    per-range row counts and key bounds — the scan plan a resumable
    migrator persists."""
    return mig.range_split_counts(t(spark, sf_dir, "orders"), "o_orderkey", 16)


@register(
    "a7_table_counts",
    oracle="""
    SELECT 'region' AS table_name, count(*) AS n_rows FROM region
    UNION ALL SELECT 'nation', count(*) FROM nation
    UNION ALL SELECT 'customer', count(*) FROM customer
    UNION ALL SELECT 'supplier', count(*) FROM supplier
    UNION ALL SELECT 'part', count(*) FROM part
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'events', count(*) FROM events
    UNION ALL SELECT 'documents', count(*) FROM documents
    UNION ALL SELECT 'embeddings', count(*) FROM embeddings
    """,
)
def a7_table_counts(spark, sf_dir):
    """Row-count validation: one row per keyspace table with its count
    (post-copy count(source)==count(target) is the cheapest check)."""
    return mig.table_counts(spark, sf_dir)


@register(
    "a8_content_checksum",
    oracle="""
    WITH r AS (SELECT md5(concat_ws('|', CAST(r_regionkey AS VARCHAR),
                                         r_name)) AS h FROM region),
         n AS (SELECT md5(concat_ws('|', CAST(n_nationkey AS VARCHAR), n_name,
                                         CAST(n_regionkey AS VARCHAR))) AS h
               FROM nation)
    SELECT 'region' AS table_name, count(*) AS n_rows,
           count(DISTINCT h) AS n_distinct_hashes,
           min(h) AS min_hash, max(h) AS max_hash FROM r
    UNION ALL
    SELECT 'nation', count(*), count(DISTINCT h), min(h), max(h) FROM n
    """,
)
def a8_content_checksum(spark, sf_dir):
    """Content checksum validation: order-insensitive md5-based content
    fingerprint per table (exact-typed tables region + nation — float
    formatting is not cross-engine stable, SURVEY.md §5.4)."""
    region = mig.content_checksum(t(spark, sf_dir, "region"), "region")
    nation = mig.content_checksum(t(spark, sf_dir, "nation"), "nation")
    return region.unionByName(nation)


@register("a4f_copy_compacted", oracle="SELECT * FROM lineitem")
def a4f_copy_compacted(spark, sf_dir):
    """Compaction copy (A4 with explicit target sizing): the migrated
    table lands in ceil(rows / 20k) balanced files instead of
    inheriting the source's fragmentation — the small-files remedy a
    100-TB target layout needs (file count asserted in
    tests/test_migrate.py). The file count comes from the footer row
    count (``footer_rows``, no Spark job), and the round-robin
    repartition is the one balanced shuffle a compaction copy
    fundamentally requires."""
    dst = scratch_dir_unique("a4f")
    n_rows = footer_rows(table_path(sf_dir, "lineitem"))
    return mig.copy_table(
        spark, sf_dir, dst, "lineitem",
        layout=lambda df: df.repartition(max(1, -(-n_rows // 20000))),
    )


@register(
    "a11_snapshot_diff",
    oracle=r"""
    WITH base AS (SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders),
    kept AS (SELECT o_orderkey,
                    CASE WHEN o_orderkey % 103 = 0 THEN 'X'
                         ELSE o_orderstatus END AS o_orderstatus,
                    o_orderpriority
             FROM base WHERE o_orderkey % 101 <> 0),
    extra AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus,
                     o_orderpriority
              FROM base WHERE o_orderkey % 107 = 0),
    tgt AS (SELECT * FROM kept UNION ALL SELECT * FROM extra),
    s AS (SELECT o_orderkey AS k,
                 md5(concat_ws('|',
                   CASE WHEN o_orderkey IS NULL THEN '\N' ELSE replace(replace(CAST(o_orderkey AS VARCHAR), '\', '\\'), '|', '\|') END,
                   CASE WHEN o_orderstatus IS NULL THEN '\N' ELSE replace(replace(o_orderstatus, '\', '\\'), '|', '\|') END,
                   CASE WHEN o_orderpriority IS NULL THEN '\N' ELSE replace(replace(o_orderpriority, '\', '\\'), '|', '\|') END)) AS h FROM base),
    t2 AS (SELECT o_orderkey AS k,
                  md5(concat_ws('|',
                    CASE WHEN o_orderkey IS NULL THEN '\N' ELSE replace(replace(CAST(o_orderkey AS VARCHAR), '\', '\\'), '|', '\|') END,
                    CASE WHEN o_orderstatus IS NULL THEN '\N' ELSE replace(replace(o_orderstatus, '\', '\\'), '|', '\|') END,
                    CASE WHEN o_orderpriority IS NULL THEN '\N' ELSE replace(replace(o_orderpriority, '\', '\\'), '|', '\|') END)) AS h FROM tgt)
    SELECT coalesce(s.k, t2.k) AS o_orderkey,
           CASE WHEN t2.k IS NULL THEN 'missing_in_target'
                WHEN s.k IS NULL THEN 'extra_in_target'
                ELSE 'changed' END AS status,
           CASE WHEN t2.k IS NULL THEN 'copy'
                WHEN s.k IS NULL THEN 'delete'
                ELSE 'recopy' END AS action
    FROM s FULL JOIN t2 ON t2.k = s.k
    WHERE t2.k IS NULL OR s.k IS NULL OR s.h <> t2.h
    """,
)
def a11_snapshot_diff(spark, sf_dir):
    """Incremental-migration diff (the op that turns one-shot bulk copy
    into repeatable sync): per-row content hashes of source vs a
    deterministically-drifted target snapshot (keys %101 dropped, %103
    status-mutated, %107 duplicated under new keys) are full-outer
    joined on the key; output is the repair plan — copy / recopy /
    delete per drifted key, NOTHING for in-sync rows. Drift-
    proportional output is what makes re-running a 100-TB migration
    cheap: the diff costs two scans + one key-partitioned join, and
    the repair work is bounded by the drift, not the keyspace."""
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    kept = base.filter(k % 101 != 0).withColumn(
        "o_orderstatus",
        F.when(k % 103 == 0, "X").otherwise(F.col("o_orderstatus")),
    )
    extra = base.filter(k % 107 == 0).withColumn("o_orderkey", k + 10000000)
    target = kept.unionByName(extra)
    return mig.snapshot_diff(
        base, target, "o_orderkey", ("o_orderkey", "o_orderstatus", "o_orderpriority")
    )


@register(
    "a12_schema_evolution_copy",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(NULL AS BIGINT) AS n_name_len
    FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(length(n_name) AS BIGINT) AS n_name_len
    FROM nation WHERE n_nationkey % 2 = 1
    """,
)
def a12_schema_evolution_copy(spark, sf_dir):
    """Schema-evolution copy (the mid-migration ALTER TABLE case): an
    early batch lands with the original schema, a later batch carries
    an added column; reading the target with mergeSchema=true unifies
    them — old rows take NULL for the new column, exactly Cassandra's
    semantics for rows written before an ALTER. Proves the target
    layout tolerates additive evolution without rewriting history (at
    100 TB, rewriting old files for a new column is not an option)."""
    dst = scratch_dir_unique("a12")
    nation = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    old = nation.filter(F.col("n_nationkey") % 2 == 0)
    new = nation.filter(F.col("n_nationkey") % 2 == 1).withColumn(
        "n_name_len", F.length("n_name").cast("bigint")
    )
    old.write.parquet(f"{dst}/nation.parquet/batch=0")
    new.write.parquet(f"{dst}/nation.parquet/batch=1")
    return (
        spark.read.option("mergeSchema", True)
        .parquet(f"{dst}/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey", "n_name_len")
    )


@register(
    "a13_full_keyspace_copy",
    oracle="""
    SELECT 'region' AS table_name, count(*) AS n_rows_src,
           count(*) AS n_rows_dst, TRUE AS counts_match FROM region
    UNION ALL SELECT 'nation', count(*), count(*), TRUE FROM nation
    UNION ALL SELECT 'customer', count(*), count(*), TRUE FROM customer
    UNION ALL SELECT 'supplier', count(*), count(*), TRUE FROM supplier
    UNION ALL SELECT 'part', count(*), count(*), TRUE FROM part
    UNION ALL SELECT 'orders', count(*), count(*), TRUE FROM orders
    UNION ALL SELECT 'lineitem', count(*), count(*), TRUE FROM lineitem
    UNION ALL SELECT 'events', count(*), count(*), TRUE FROM events
    UNION ALL SELECT 'documents', count(*), count(*), TRUE FROM documents
    UNION ALL SELECT 'embeddings', count(*), count(*), TRUE FROM embeddings
    """,
)
def a13_full_keyspace_copy(spark, sf_dir):
    """The reference's end-to-end job as ONE declared query: migrate
    the entire keyspace (all 10 tables) to a fresh target and return
    the per-table validation report. The oracle pins every table's
    row count and asserts every copy arrived complete."""
    dst = scratch_dir_unique("a13")
    return mig.migrate_keyspace(spark, sf_dir, dst)


@register(
    "a14_range_checksums",
    oracle="""
    SELECT CAST(floor(o_orderkey / 2000) AS BIGINT) AS key_range,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           min(md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus)))
             AS min_hash,
           max(md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus)))
             AS max_hash
    FROM orders GROUP BY 1
    """,
)
def a14_range_checksums(spark, sf_dir):
    """Range-grained content checksums (A8 at A5's granularity): per
    key range, row count + exact integer-cents value sum + order-
    insensitive hash extrema — the unit of incremental re-validation a
    resumable migration (A9) checks after each range lands, and what
    a11's diff narrows to when only some ranges drifted. One
    partial-aggregated groupBy; at scale the ranges align with the
    copy's token splits so validation reads stay range-local."""
    o = t(spark, sf_dir, "orders")
    h = F.md5(
        F.concat_ws(
            "|", F.col("o_orderkey").cast("string"), F.col("o_orderstatus")
        )
    )
    return o.groupBy(
        F.floor(F.col("o_orderkey") / 2000).cast("long").alias("key_range")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("value_cents"),
        F.min(h).alias("min_hash"),
        F.max(h).alias("max_hash"),
    )


@register(
    "a15_repair_apply",
    oracle="""
    WITH base AS (SELECT DISTINCT o_orderkey FROM orders),
    stats AS (
      SELECT
        count(*) FILTER (WHERE o_orderkey % 101 = 0) AS n_copy,
        count(*) FILTER (WHERE o_orderkey % 101 <> 0
                           AND o_orderkey % 103 = 0) AS n_recopy,
        count(*) FILTER (WHERE o_orderkey % 107 = 0) AS n_delete,
        count(*) AS n_rows
      FROM base)
    SELECT 'applied_copy' AS metric, CAST(n_copy AS BIGINT) AS n FROM stats
    UNION ALL
    SELECT 'applied_recopy', CAST(n_recopy AS BIGINT) FROM stats
    UNION ALL
    SELECT 'applied_delete', CAST(n_delete AS BIGINT) FROM stats
    UNION ALL
    SELECT 'post_repair_diffs', 0
    UNION ALL
    SELECT 'rows_after_repair', CAST(n_rows AS BIGINT) FROM stats
    """,
)
def a15_repair_apply(spark, sf_dir):
    """The repair half of incremental migration (a11 emits the plan;
    this APPLIES it): against the same deterministically-drifted target
    (keys %101 dropped, %103 mutated, %107 duplicated under new keys),
    execute copy / recopy / delete per plan row and prove convergence —
    a second snapshot_diff of source vs the repaired target must be
    EMPTY. Output is the repair report: per-action applied counts, the
    post-repair diff count (0), and the final row count.

    Scale shape: the plan is drift-proportional; applying it is two
    key-semi-joins (anti-join the delete+recopy keys out of the target,
    semi-join the copy+recopy rows from the source) — each shuffles on
    the key only, and the verification diff is the same key-partitioned
    join a11 already costs. Nothing is collected; the report is a union
    of 1-row aggregates.

    Replay law (SURVEY.md §5.4): a migration source is keyed by its
    PRIMARY KEY — replicated source rows (a replayed extract) collapse
    at ingress, so plan counts and the post-repair diff stay keyed, not
    row-multiplied (no-op on unique-key fixtures)."""
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    ).distinct()
    k = F.col("o_orderkey")
    kept = base.filter(k % 101 != 0).withColumn(
        "o_orderstatus",
        F.when(k % 103 == 0, "X").otherwise(F.col("o_orderstatus")),
    )
    extra = base.filter(k % 107 == 0).withColumn("o_orderkey", k + 10000000)
    target = kept.unionByName(extra)
    cols = ("o_orderkey", "o_orderstatus", "o_orderpriority")

    plan = mig.snapshot_diff(base, target, "o_orderkey", cols)
    remove_keys = plan.filter(
        F.col("action").isin("delete", "recopy")
    ).select("o_orderkey")
    fetch_keys = plan.filter(
        F.col("action").isin("copy", "recopy")
    ).select("o_orderkey")
    repaired = target.join(remove_keys, "o_orderkey", "left_anti").unionByName(
        base.join(fetch_keys, "o_orderkey", "left_semi")
    )
    post = mig.snapshot_diff(base, repaired, "o_orderkey", cols)

    # fixed-shape report: an action class with nothing to do is a 0
    # row, not an absent row (the oracle — and any consumer of a repair
    # report — keys on the metric name; head3/quiet-day inputs have
    # empty classes)
    action_spine = spark.createDataFrame(
        [("copy",), ("recopy",), ("delete",)], "action string"
    )
    applied = (
        action_spine.join(
            plan.groupBy("action").agg(F.count(F.lit(1)).alias("n")),
            "action",
            "left",
        )
        .select(
            F.concat(F.lit("applied_"), F.col("action")).alias("metric"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        )
    )
    post_n = post.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("post_repair_diffs").alias("metric"), "n"
    )
    rows_n = repaired.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("rows_after_repair").alias("metric"), "n"
    )
    return applied.unionByName(post_n).unionByName(rows_n)


# --------------------------------------------------------------------------
@register(
    "a16_clustered_copy_scan",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY 1
    """,
)
def a16_clustered_copy_scan(spark, sf_dir):
    """Range-clustered copy + pruned scan: orders is copied via
    ``repartitionByRange(o_orderdate) + sortWithinPartitions`` (the
    Spark analog of Cassandra's partition ordering + clustering
    columns, passed to ``copy_table`` as its layout), then a 6-month
    date-range aggregate runs against the CLUSTERED copy. The
    hash-match against the oracle (which reads the original table)
    proves the layout transform is value-preserving; the plan test
    asserts the range predicate is pushed into the clustered scan,
    where parquet row-group min/max stats skip the files/row-groups
    outside the range — the read-side payoff of the layout.

    The clustered copy is content-addressed by ``sf_dir`` plus the
    session timezone and reused across invocations in the same process
    (repeated bench/parity runs re-scan instead of re-writing the
    layout each call). The timezone is part of the tag because the
    copy stores o_orderdate as parquet epoch micros FIXED under the
    writer's session zone: a copy written under UTC and re-read under
    another zone would render shifted wall-clocks (the engine pins
    UTC, where the tag reduces to the old one; the fold only matters
    when that pin is bypassed, e.g. tools/conf_invariance.py)."""
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC") or "UTC"
    dst = scratch_dir(
        "a16_" + hashlib.md5(f"{sf_dir}|tz={tz}".encode()).hexdigest()[:10]
    )
    path = os.path.join(dst, "orders.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        clustered = spark.read.parquet(path)
    else:
        clustered = mig.copy_table(
            spark, sf_dir, dst, "orders",
            layout=lambda df: df.repartitionByRange(8, F.col("o_orderdate"))
            .sortWithinPartitions("o_orderdate", "o_orderkey"),
        )
    six_months = clustered.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    return six_months.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        r2(F.sum("o_totalprice")).alias("sum_total"),
    )


# --------------------------------------------------------------------------
@register(
    "a17_scd2_history",
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders),
    v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 103 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_orderpriority
      FROM orders WHERE o_orderkey % 101 != 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_orderstatus, o_orderpriority
      FROM orders WHERE o_orderkey % 107 = 0),
    j AS (
      SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             a.o_orderstatus AS s0, a.o_orderpriority AS p0,
             b.o_orderstatus AS s1, b.o_orderpriority AS p1,
             a.o_orderkey IS NOT NULL AS in0,
             b.o_orderkey IS NOT NULL AS in1
      FROM v0 a FULL JOIN v1 b ON a.o_orderkey = b.o_orderkey),
    closed AS (
      SELECT o_orderkey, s0 AS o_orderstatus, p0 AS o_orderpriority,
             CAST(0 AS BIGINT) AS valid_from, CAST(1 AS BIGINT) AS valid_to,
             CAST(0 AS BIGINT) AS is_current
      FROM j WHERE in0 AND (NOT in1 OR s0 != s1 OR p0 != p1)),
    cur AS (
      SELECT o_orderkey, s1 AS o_orderstatus, p1 AS o_orderpriority,
             CAST(CASE WHEN in0 AND s0 = s1 AND p0 = p1 THEN 0 ELSE 1 END
                  AS BIGINT) AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to,
             CAST(1 AS BIGINT) AS is_current
      FROM j WHERE in1)
    SELECT * FROM closed UNION ALL SELECT * FROM cur
    """,
)
def a17_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension (type 2) history built from two table
    snapshots — the op that turns repeated migration snapshots into an
    auditable change log: unchanged keys carry one open row, changed
    keys a closed v0 row plus an open v1 row, deletes a closed row,
    inserts an open row. Uses a11's deterministic drift device as
    snapshot v1 so both engines construct identical versions.

    Scale shape: ONE full-outer join partitioned on the key plus a
    union of two projections — linear in the keyspace, and history
    growth is drift-proportional (in-sync keys contribute exactly one
    open row). Extending to N snapshots keeps the same dataflow: a
    window over version ordered per key replaces the CASE arithmetic;
    the two-snapshot form is the incremental step a15's repair loop
    would log each round."""
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    kept = base.filter(k % 101 != 0).withColumn(
        "o_orderstatus",
        F.when(k % 103 == 0, "X").otherwise(F.col("o_orderstatus")),
    )
    extra = base.filter(k % 107 == 0).withColumn("o_orderkey", k + 10000000)
    v1 = kept.unionByName(extra)

    a = base.select(
        F.col("o_orderkey").alias("k0"),
        F.col("o_orderstatus").alias("s0"),
        F.col("o_orderpriority").alias("p0"),
    )
    b = v1.select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_orderstatus").alias("s1"),
        F.col("o_orderpriority").alias("p1"),
    )
    j = a.join(b, a.k0 == b.k1, "full").select(
        F.coalesce("k0", "k1").alias("o_orderkey"),
        "s0", "p0", "s1", "p1",
        F.col("k0").isNotNull().alias("in0"),
        F.col("k1").isNotNull().alias("in1"),
    )
    same = F.col("in0") & (F.col("s0") == F.col("s1")) & (
        F.col("p0") == F.col("p1")
    )
    closed = j.filter(
        F.col("in0") & (~F.col("in1") | (F.col("s0") != F.col("s1"))
                        | (F.col("p0") != F.col("p1")))
    ).select(
        "o_orderkey",
        F.col("s0").alias("o_orderstatus"),
        F.col("p0").alias("o_orderpriority"),
        F.lit(0).cast("bigint").alias("valid_from"),
        F.lit(1).cast("bigint").alias("valid_to"),
        F.lit(0).cast("bigint").alias("is_current"),
    )
    cur = j.filter(F.col("in1")).select(
        "o_orderkey",
        F.col("s1").alias("o_orderstatus"),
        F.col("p1").alias("o_orderpriority"),
        F.when(same, 0).otherwise(1).cast("bigint").alias("valid_from"),
        F.lit(None).cast("bigint").alias("valid_to"),
        F.lit(1).cast("bigint").alias("is_current"),
    )
    return closed.unionByName(cur)


# --------------------------------------------------------------------------
@register(
    "a18_referential_check",
    oracle="""
    WITH drifted_orders AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 101 != 0),
    li_orphans AS (
      SELECT count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_keys
      FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM drifted_orders)),
    cust_orphans AS (
      SELECT count(*) AS n_rows, count(DISTINCT c_nationkey) AS n_keys
      FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)),
    supp_orphans AS (
      SELECT count(*) AS n_rows, count(DISTINCT s_nationkey) AS n_keys
      FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
    SELECT 'lineitem->orders' AS check_name,
           CAST(n_rows AS BIGINT) AS n_orphan_rows,
           CAST(n_keys AS BIGINT) AS n_missing_parents
    FROM li_orphans
    UNION ALL
    SELECT 'customer->nation', CAST(n_rows AS BIGINT), CAST(n_keys AS BIGINT)
    FROM cust_orphans
    UNION ALL
    SELECT 'supplier->nation', CAST(n_rows AS BIGINT), CAST(n_keys AS BIGINT)
    FROM supp_orphans
    """,
)
def a18_referential_check(spark, sf_dir):
    """Post-migration referential-integrity validation: orphan scans
    for three FK relationships, with a11's drift device applied to the
    orders side so the lineitem check runs against a REALISTICALLY
    broken target (dropped keys → real orphans) while the two nation
    checks prove the clean case reports zero. Each check is one anti
    join (big-big shuffles once on the key; nation broadcasts) reduced
    to (orphan rows, distinct missing parents) — the validation a8's
    whole-table checksum can't give (it says 'different', this says
    WHICH relationship broke and how badly). At 100 TB each anti join
    rides b34's runtime-filter reduction for free when thresholds
    allow."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 101 != 0)
        .select("o_orderkey")
    )
    cust = t(spark, sf_dir, "customer").select("c_nationkey")
    supp = t(spark, sf_dir, "supplier").select("s_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey")

    def check(child, key, parent, pkey, name):
        orphans = child.join(
            parent, child[key] == parent[pkey], "left_anti"
        )
        return orphans.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_orphan_rows"),
            F.countDistinct(key).alias("n_missing_parents"),
        )

    return (
        check(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders")
        .unionByName(
            check(cust, "c_nationkey", F.broadcast(nation), "n_nationkey",
                  "customer->nation")
        )
        .unionByName(
            check(supp, "s_nationkey", F.broadcast(nation), "n_nationkey",
                  "supplier->nation")
        )
    )


# --------------------------------------------------------------------------
@register(
    "a19_migration_plan_estimate",
    oracle="""
    WITH sizes AS (
      SELECT 'orders' AS table_name, count(*) AS n_rows FROM orders
      UNION ALL SELECT 'lineitem', count(*) FROM lineitem
      UNION ALL SELECT 'customer', count(*) FROM customer
      UNION ALL SELECT 'supplier', count(*) FROM supplier
      UNION ALL SELECT 'events', count(*) FROM events)
    SELECT table_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(8 AS BIGINT) AS n_ranges,
           CAST(ceil(n_rows / 8.0) AS BIGINT) AS rows_per_range,
           round(n_rows / 50000.0, 6) AS est_seconds_at_50k_rps
    FROM sizes
    """,
)
def a19_migration_plan_estimate(spark, sf_dir):
    """Migration dry-run cost estimate — the planning step before a13's
    full-keyspace copy: per table, row count (parquet metadata-only
    count, no data scan), token-range count, rows per range, and the
    wall-clock estimate at a11/a10's throttle budget (50k rows/sec).
    This is the number a migration runbook quotes BEFORE touching the
    cluster; at 100 TB the same plan comes from connector ring metadata
    + size estimates, still without a data scan. Completes the
    migration lifecycle: estimate (a19) → copy (a4/a13) → throttle
    (a10) → validate (a7/a8/a14/a18) → diff/repair (a11/a15) →
    history (a17)."""
    sizes = mig.table_counts(
        spark, sf_dir, ["orders", "lineitem", "customer", "supplier", "events"]
    )
    return sizes.select(
        "table_name",
        "n_rows",
        F.lit(8).cast("bigint").alias("n_ranges"),
        F.ceil(F.col("n_rows") / 8.0).cast("bigint").alias("rows_per_range"),
        F.round(F.col("n_rows") / 50000.0, 6).alias("est_seconds_at_50k_rps"),
    )


# --------------------------------------------------------------------------
@register(
    "a20_schema_drift_report",
    oracle="""
    SELECT * FROM (VALUES
      ('n_comment',   'added',        NULL,     'string'),
      ('n_name',      'type_changed', 'string', 'bigint'),
      ('n_regionkey', 'removed',      'int',    NULL))
      AS t(column_name, change, type_v0, type_v1)
    """,
)
def a20_schema_drift_report(spark, sf_dir):
    """Schema drift detector — the pre-flight check before a12's
    evolution copy or a11's diff: compares two table versions'
    schemas (read from their parquet footers, no data scan) and
    reports added / removed / type-changed columns. The v1 snapshot is
    built with a deterministic drift (drop n_regionkey, retype n_name,
    add n_comment), so the report itself is oracle-checkable while the
    Spark side genuinely derives it from footer metadata. In-sync
    columns produce no output — like a11, the report is proportional
    to the DRIFT. At 100 TB this is O(columns) driver work: schemas
    come from footers (or the connector's system_schema), never from
    data."""
    dst = scratch_dir_unique("a20")
    nation = t(spark, sf_dir, "nation")
    v0 = nation.select("n_nationkey", "n_name", "n_regionkey")
    v1 = nation.select(
        "n_nationkey",
        F.length("n_name").cast("bigint").alias("n_name"),  # type change
        F.lit("x").alias("n_comment"),  # added
    )
    p0, p1 = f"{dst}/v0.parquet", f"{dst}/v1.parquet"
    v0.write.mode("overwrite").parquet(p0)
    v1.write.mode("overwrite").parquet(p1)
    s0 = dict(spark.read.parquet(p0).dtypes)
    s1 = dict(spark.read.parquet(p1).dtypes)
    rows = []
    for c in sorted(set(s0) | set(s1)):
        if c not in s1:
            rows.append((c, "removed", s0[c], None))
        elif c not in s0:
            rows.append((c, "added", None, s1[c]))
        elif s0[c] != s1[c]:
            rows.append((c, "type_changed", s0[c], s1[c]))
    return spark.createDataFrame(
        rows, "column_name string, change string, type_v0 string, type_v1 string"
    )


# --------------------------------------------------------------------------
@register(
    "a21_data_expectations",
    oracle="""
    WITH base AS (
      SELECT count(*) AS n_rows,
             sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END)
               AS v_chars,
             sum(CASE WHEN lang NOT IN ('en','de','fr','es','pt')
                      THEN 1 ELSE 0 END) AS v_lang,
             sum(CASE WHEN doc_id < 0 THEN 1 ELSE 0 END) AS v_id,
             sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
               AS v_text
      FROM documents)
    SELECT 'n_chars_matches_text' AS rule_name,
           CAST(v_chars AS BIGINT) AS n_violations,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(CASE WHEN v_chars = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
    FROM base
    UNION ALL SELECT 'lang_in_allowed_set', CAST(v_lang AS BIGINT),
                     CAST(n_rows AS BIGINT),
                     CAST(CASE WHEN v_lang = 0 THEN 1 ELSE 0 END AS BIGINT)
    FROM base
    UNION ALL SELECT 'doc_id_non_negative', CAST(v_id AS BIGINT),
                     CAST(n_rows AS BIGINT),
                     CAST(CASE WHEN v_id = 0 THEN 1 ELSE 0 END AS BIGINT)
    FROM base
    UNION ALL SELECT 'text_non_empty', CAST(v_text AS BIGINT),
                     CAST(n_rows AS BIGINT),
                     CAST(CASE WHEN v_text = 0 THEN 1 ELSE 0 END AS BIGINT)
    FROM base
    """,
)
def a21_data_expectations(spark, sf_dir):
    """Declarative data-quality expectations over the migrated corpus
    (operators/migrate.py::expectations_report — the deequ/dbt-test
    shape): the whole rule suite is one global partial+final aggregate
    of k+1 counters (the row count and a conditional sum per rule) over
    a SINGLE table scan, so it costs exactly one pass and one exchange
    however many rules it holds (pinned in tests/test_plans.py). Rules
    here: n_chars consistency with text, language allow-list,
    non-negative ids, non-empty text. Output is
    per-rule (violations, rows, pass) — the validation gate a
    migration (a13) or a curation pipeline (f27) signs off on."""
    docs = t(spark, sf_dir, "documents")
    return mig.expectations_report(
        docs,
        [
            ("n_chars_matches_text",
             F.col("n_chars") != F.length("text")),
            ("lang_in_allowed_set",
             ~F.col("lang").isin("en", "de", "fr", "es", "pt")),
            ("doc_id_non_negative", F.col("doc_id") < 0),
            ("text_non_empty",
             F.col("text").isNull() | (F.col("text") == "")),
        ],
    )
