"""Two-phase global ranking without a single-reducer window.

``Window.orderBy(...)`` with no partition spec pulls the whole table
through ONE task ("WindowExec: No Partition Defined") — correct but a
scale-killer: at 100 TB that reducer is the job. The classic distributed
rewrite computes the same global ``row_number`` in three shuffle-light
steps, all of them parallel:

  1. range-partition the rows on the sort key(s)
     (``repartitionByRange`` — sampled boundaries, no global sort),
  2. number rows LOCALLY inside each range partition
     (window partitioned by the physical partition id → P parallel
     sorts of ~n/P rows each),
  3. offset each partition's local numbers by the total row count of
     all partitions before it (prefix sums over P tiny count rows,
     joined back via broadcast).

The partition id must be consistent between the counting pass and the
numbering pass, so the range-partitioned frame is materialized once.
HOW it is materialized is a call-site choice (``materialize=``):
``"persist"`` (default — MEMORY_AND_DISK with recomputable lineage,
the cluster-safe form; the caller owns ``unpersist`` once consumed) or
``"local_checkpoint"`` (cheapest in single-JVM local mode, but blocks
are lost with a failed executor, so a retry hazard on a real cluster —
opt in only where the runtime is known to be local). One
materialization versus one single-task sort is the whole trade, and it
wins as soon as the table outgrows one executor.

Prefix sums are computed with a triangular self-join over the P count
rows rather than an ORDER BY window so that NO unpartitioned window
appears anywhere in the plan (P² is at most a few thousand cells).

Derived distribution functions (percent_rank / cume_dist / ntile) are
closed-form over (rn, N) when the ordering is total (unique tie-break,
which every registry query guarantees — SURVEY.md §5.4):

  percent_rank = (rn - 1) / (N - 1)
  cume_dist    = rn / N
  ntile(k)     = first r buckets get q+1 rows, rest q, where
                 q = N div k, r = N mod k   (SQL-standard fill order)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__gr_pid"
_LRN = "__gr_lrn"
_OFS = "__gr_ofs"
_TOT = "__gr_total"


def with_global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    rn_col: str = "rn",
    total_col: str | None = None,
    materialize: str = "persist",
) -> DataFrame:
    """Add ``rn_col`` = global 1-based row number under ``order_cols``.

    ``order_cols`` are sort expressions (``F.col(...).desc()`` etc.) and
    must form a total order for the numbering to be deterministic.
    With ``total_col`` set, also attaches the constant total row count N
    (needed by percent_rank/cume_dist/ntile rewrites) — derived from the
    same per-partition counts, no extra pass. The frame is range-
    partitioned into ``spark.sql.shuffle.partitions`` (default 32) parts.

    ``materialize`` picks how the range-partitioned frame is pinned so
    both passes see the same partition ids: ``"persist"`` (default;
    MEMORY_AND_DISK — recomputable lineage, the cluster-safe choice;
    determinism survives recompute because range boundary sampling is
    seeded per-partition and the local window sorts on a total order)
    or ``"local_checkpoint"`` (executor-local blocks, lost on executor
    failure — safe only in single-JVM local mode, where it skips the
    block-manager replication bookkeeping). With ``"persist"`` the
    caller owns ``unpersist`` once the result is consumed.
    """
    num_partitions = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ranged = df.repartitionByRange(num_partitions, *order_cols).withColumn(
        _PID, F.spark_partition_id()
    )
    if materialize == "local_checkpoint":
        # eager=False (r14): the counts aggregate below is the first
        # consumer and materializes the checkpoint as part of its own
        # job — the partition ids are frozen at that compute exactly as
        # with an eager checkpoint, minus one dedicated job per call
        # (guide §2: job-count overhead; same fold as the CC loops').
        ranged = ranged.localCheckpoint(eager=False)
    elif materialize == "persist":
        from pyspark import StorageLevel

        ranged = ranged.persist(StorageLevel.MEMORY_AND_DISK)
    else:
        raise ValueError(f"materialize must be local_checkpoint|persist: {materialize!r}")
    counts = ranged.groupBy(_PID).agg(F.count(F.lit(1)).alias("__gr_cnt"))
    a, b = counts.alias("a"), counts.alias("b")
    offsets = (
        a.join(b, F.col(f"b.{_PID}") < F.col(f"a.{_PID}"), "left")
        .groupBy(F.col(f"a.{_PID}").alias(_PID))
        .agg(
            F.coalesce(F.sum("b.__gr_cnt"), F.lit(0)).cast("bigint").alias(_OFS),
            (F.first(f"a.__gr_cnt") + F.coalesce(F.sum("b.__gr_cnt"), F.lit(0)))
            .cast("bigint")
            .alias("__gr_cum"),
        )
    )
    if total_col is not None:
        total = offsets.agg(F.max("__gr_cum").cast("bigint").alias(_TOT))
        offsets = offsets.crossJoin(F.broadcast(total))
    local = ranged.withColumn(
        _LRN, F.row_number().over(Window.partitionBy(_PID).orderBy(*order_cols))
    )
    keep = [_PID, _OFS] + ([_TOT] if total_col is not None else [])
    out = local.join(F.broadcast(offsets.select(*keep)), _PID).withColumn(
        rn_col, (F.col(_OFS) + F.col(_LRN)).cast("bigint")
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col(_TOT))
    return out.drop(_PID, _LRN, _OFS, _TOT)


def ntile_from_rn(rn: Column, total: Column, k: int) -> Column:
    """SQL-standard ntile(k) from a total-order row number: the first
    ``N mod k`` buckets take ``N div k + 1`` rows, the rest ``N div k``.
    Pure arithmetic — no window, identical to Spark's and DuckDB's
    ``ntile`` whenever the underlying ordering is total."""
    q = F.floor(total / k)
    r = total % k
    big = q + 1  # rows per bucket in the first r buckets
    head = (rn - 1 < big * r)
    return (
        F.when(head, F.floor((rn - 1) / big))
        .otherwise(r + F.floor((rn - 1 - big * r) / q))
        .cast("int")
        + 1
    )


def percent_rank_from_rn(rn: Column, total: Column) -> Column:
    """percent_rank over a total order: (rn-1)/(N-1); 0.0 when N=1."""
    return F.when(total == 1, F.lit(0.0)).otherwise(
        (rn - 1).cast("double") / (total - 1).cast("double")
    )


def cume_dist_from_rn(rn: Column, total: Column) -> Column:
    """cume_dist over a total order: rn/N (every prefix is unique)."""
    return rn.cast("double") / total.cast("double")


def keyset_page(df, keys, last_seen=None, page_size: int = 10):
    """Keyset (seek) pagination — the executable form of b31's scale
    note. LIMIT k OFFSET n is O(n+k) EVERY page: TakeOrdered still
    heap-selects the first n+k rows in every partition, so page 10^6
    of a 100-TB table reads and ranks a million rows per partition to
    throw them away. The keyset form carries the last row of the
    previous page and turns the offset into a lexicographic seek
    PREDICATE, which (a) reaches the parquet scan as a pushed filter —
    row groups wholly before the page are skipped via min/max stats —
    and (b) leaves TakeOrdered a heap of only page_size per partition.
    Every page costs the same shallow scan; no page is deeper than any
    other.

    ``keys``: [(column_name, ascending: bool), ...] — must be a TOTAL
    order over non-null columns (include a unique tie-break key, the
    same §5.4 rule every registry query follows) or page boundaries
    are nondeterministic and the seek predicate can skip or repeat
    rows. ``last_seen``: tuple of the previous page's final row values
    in ``keys`` order (None → first page).

    The seek predicate for mixed-direction keys is the standard
    lexicographic disjunction, e.g. for (price DESC, key ASC) after
    (lp, lk):  price < lp  OR  (price = lp AND key > lk).
    """
    cols = [(F.col(name), asc) for name, asc in keys]
    if last_seen is not None:
        if len(last_seen) != len(keys):
            raise ValueError(
                f"last_seen has {len(last_seen)} values for {len(keys)} keys"
            )
        clauses = []
        for i, (c, asc) in enumerate(cols):
            strict = (c > F.lit(last_seen[i])) if asc else (c < F.lit(last_seen[i]))
            for j in range(i - 1, -1, -1):
                strict = (cols[j][0] == F.lit(last_seen[j])) & strict
            clauses.append(strict)
        pred = clauses[0]
        for cl in clauses[1:]:
            pred = pred | cl
        df = df.filter(pred)
    order = [c.asc() if asc else c.desc() for c, asc in cols]
    return df.orderBy(*order).limit(page_size)
