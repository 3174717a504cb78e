"""Plan assertions (SURVEY.md §5.3.2): the scale-critical physical-plan
properties §4 promises must not regress silently.

These run at sf0.001 — plan shape is data-size independent for the
properties asserted here (pushdown, pruning, broadcast, top-k, absence
of shuffle), except join-strategy choices AQE makes at runtime, which
are asserted only where the static planner already commits (dimension
broadcasts under the configured threshold).
"""

from __future__ import annotations

from cassandra_migrate_keyspace_from_cluster_spark.plans.explain import (
    assert_broadcast,
    assert_contains,
    assert_pushed_filter,
    physical_plan,
)
from cassandra_migrate_keyspace_from_cluster_spark.registry import specs

from .conftest import SF_BENCH, SF_SMOKE, jobs_submitted

ALL_SPECS = specs()


def q(spark, name):
    return ALL_SPECS[name].fn(spark, SF_SMOKE)


def test_filter_pushdown_reaches_parquet(spark):
    assert_pushed_filter(q(spark, "b2_filter_pred"), "GreaterThanOrEqual(l_quantity")
    assert_pushed_filter(q(spark, "b5_agg_groupby"), "l_shipdate")


def test_column_pruning_reads_minimal_schema(spark):
    plan = physical_plan(q(spark, "b5_agg_groupby"))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, f"no ReadSchema in plan:\n{plan}"
    # Q1 touches 7 of lineitem's 11 columns; the scan must not read the rest.
    assert "l_orderkey" not in read[0]
    assert "l_partkey" not in read[0]


def test_star_join_broadcasts_dimensions(spark):
    df = q(spark, "b9_join_multiway_star")
    assert_broadcast(df)
    plan = physical_plan(df)
    # no sort-merge path for the dim joins at smoke scale
    assert "BroadcastHashJoin" in plan


def test_topk_plans_take_ordered(spark):
    assert_contains(q(spark, "b21_limit_topk"), "TakeOrderedAndProject")


def test_cosine_topk_is_shuffle_free(spark):
    # broadcast-corpus matmul: one narrow stage, no Exchange anywhere
    plan = physical_plan(q(spark, "f4_cosine_topk"))
    assert "Exchange" not in plan, f"unexpected shuffle in f4 plan:\n{plan}"


def test_auto_tier_plan_is_f4_plan(spark):
    """f4d must produce f4's physical shape at broadcast-fit scale —
    the selector adds routing, not a plan change: still shuffle-free."""
    plan = physical_plan(q(spark, "f4d_auto_tier"))
    assert "Exchange" not in plan, f"unexpected shuffle in f4d plan:\n{plan}"


def test_partitioned_copy_prunes_partitions(spark):
    """A filter on the partition column of a4d's layout must prune at
    planning time (PartitionFilters), not scan-and-discard."""
    import tempfile

    from pyspark.sql import functions as F

    from cassandra_migrate_keyspace_from_cluster_spark.operators import migrate as mig

    dst = tempfile.mkdtemp(prefix="plans_a4d_")
    mig.copy_table(
        spark, SF_SMOKE, dst, "orders",
        layout=lambda df: df.withColumn("o_year", F.year("o_orderdate")),
        partition_by=("o_year",),
    )
    df = spark.read.parquet(f"{dst}/orders.parquet").filter(F.col("o_year") == 1996)
    plan = physical_plan(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "o_year" in pf[0], f"no partition pruning:\n{plan}"


def test_semi_anti_join_plans(spark):
    assert_contains(q(spark, "b11_join_semi"), "LeftSemi")
    assert_contains(q(spark, "b12_join_anti"), "LeftAnti")


def test_exists_subquery_decorrelates(spark):
    """b23's correlated EXISTS/NOT EXISTS must plan as semi/anti joins,
    never as a per-row subquery."""
    plan = physical_plan(q(spark, "b23_exists_subquery"))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_jaccard_postings_no_cartesian(spark):
    """f2's inverted-index join must be an equi-join on the token key —
    a Cartesian/BNL product here would be the O(block^2) regression."""
    plan = physical_plan(q(spark, "f2_token_jaccard_neardup"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_auto_neardup_prefix_route_reads_persisted_sets(spark):
    """Forced onto the prefix tier, auto_neardup must build its
    candidates and verify join from the token-set frame its stats pass
    persisted (an InMemoryTableScan), not re-tokenize the corpus — and
    neither the df join, the prefix self-join nor the verify join may
    degrade to a product join."""
    from cassandra_migrate_keyspace_from_cluster_spark.operators import dedup as dd
    from cassandra_migrate_keyspace_from_cluster_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    chosen: dict = {}
    plan = physical_plan(
        dd.auto_neardup(
            docs, ["lang", "source"], 0.6, postings_pair_budget=10.0,
            chosen=chosen,
        )
    )
    assert chosen["tier"] == "prefix", chosen
    assert "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_agg_two_phase(spark):
    """b24 must aggregate in two keyed phases (salted partial, final) —
    visible as two HashAggregate pairs in the plan."""
    plan = physical_plan(q(spark, "b24_salted_agg"))
    assert plan.count("HashAggregate") >= 4, plan


def test_ivf_disk_layout_prunes_to_probed_cells(spark):
    """SCALE.md's IVF-at-scale claim: write the corpus bucketed by
    KMeans cell id; a probe-cell filter must prune at planning time
    (only the probed cells' directories are read) and return exactly
    those cells' rows."""
    import tempfile

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from cassandra_migrate_keyspace_from_cluster_spark.operators.similarity import (
        with_double_embedding,
    )
    from cassandra_migrate_keyspace_from_cluster_spark.sources import load_table

    emb = with_double_embedding(load_table(spark, SF_SMOKE, "embeddings"))
    d = emb.select("vec_id", "embedding", array_to_vector("emb").alias("features"))
    model = KMeans(k=8, seed=42, maxIter=5, featuresCol="features").fit(d)
    assigned = model.transform(d).select(
        "vec_id", "embedding", F.col("prediction").alias("cell")
    )
    out = tempfile.mkdtemp(prefix="ivf_layout_") + "/corpus"
    assigned.write.partitionBy("cell").parquet(out)

    per_cell = {r.cell: r.n for r in assigned.groupBy("cell").count()
                .withColumnRenamed("count", "n").collect()}
    probed = sorted(per_cell)[:3]
    df = spark.read.parquet(out).filter(F.col("cell").isin(probed))
    plan = physical_plan(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0], f"no partition pruning:\n{plan}"
    assert df.count() == sum(per_cell[c] for c in probed)


def test_global_ranks_use_partitioned_windows(spark):
    """b20/c16/a5/f7 compute global positions via the two-phase rank
    (operators/rank.py): every window in their plans must be partitioned
    (by the range-partition id) — an unpartitioned windowspecdefinition
    is the single-reducer global sort the rewrite exists to avoid."""
    import re

    for name in (
        "b20_sort_multikey",
        "c16_ntile_pctrank",
        "a5_range_partition_counts",
        "f7_tokenize_wordcount",
        "f34_hybrid_rrf_search",
    ):
        plan = physical_plan(q(spark, name))
        specs_ = re.findall(r"windowspecdefinition\([^)]*\)", plan)
        assert specs_, f"{name}: no window found (rank rewrite missing?)"
        if name == "f7_tokenize_wordcount":
            # r13: f7's rank is one unpartitioned row_number BY DESIGN —
            # it runs after limit(50), so the single-task window sorts
            # ≤50 rows at any scale (the f34 final-cut idiom). The
            # bound must be visible in the plan as the top-k cut.
            assert "TakeOrderedAndProject" in plan, (
                f"{name}: rank window lost its LIMIT bound:\n{plan}"
            )
            assert len(specs_) == 1, f"{name}: extra windows: {specs_}"
            continue
        if name == "f34_hybrid_rrf_search":
            # the two full rankings must stay partitioned; the final
            # rank-labelling window is unpartitioned BY DESIGN — it runs
            # after limit(20), so its single-task sort is over k rows
            # (test_hybrid_rrf_final_cut_is_take_ordered asserts the
            # top-k cut that bounds it)
            assert any("__gr_pid" in s for s in specs_), (
                f"{name}: full rankings lost the two-phase rewrite"
            )
            unpart = [s for s in specs_ if "__gr_pid" not in s]
            assert len(unpart) <= 1, f"{name}: extra unpartitioned windows: {unpart}"
            continue
        for s in specs_:
            # two acceptable shapes: the two-phase rank's local window
            # (partitioned by the range-partition id), or c16's
            # tie-group min/max window — partitioned by the FULL sort
            # key with no ORDER BY (key groups, fully parallel). An
            # unpartitioned window either orders (ASC/DESC present) or
            # frames the whole input (spec starts with the frame).
            tie_group = (
                "ASC" not in s
                and "DESC" not in s
                and not s.startswith("windowspecdefinition(specifiedwindowframe")
            )
            assert "__gr_pid" in s or tie_group, (
                f"{name}: unpartitioned window: {s}"
            )


def test_f7_topk_plans_take_ordered(spark):
    """f7's vocabulary top-50 must be per-partition top-k + merge, not a
    global vocabulary sort."""
    assert_contains(q(spark, "f7_tokenize_wordcount"), "TakeOrderedAndProject")


def test_python_paths_use_arrow_nodes(spark):
    """Part G queries must plan their respective Python-exec operators
    (and g2's Arrow path must not degrade to row-at-a-time eval)."""
    assert_contains(q(spark, "g2_pandas_udf_scalar"), "ArrowEvalPython")
    assert_contains(q(spark, "g4_grouped_map"), "FlatMapGroupsInPandas")
    assert_contains(q(spark, "g5_map_in_pandas"), "MapInPandas")
    assert_contains(q(spark, "g11_apply_in_arrow"), "FlatMapGroupsInArrow")


def test_cosine_neardup_no_cartesian(spark):
    """f4b must generate candidates via band-key equi-joins — a
    CartesianProduct/BNLJ is the O(n^2) regression it replaced."""
    plan = physical_plan(q(spark, "f4b_cosine_neardup"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bucketed_layout_joins_without_shuffle(spark, tmp_path):
    """The 100-TB co-located-join lever: two tables bucketed (8, key)
    must sort-merge join with NO shuffle exchange on either side —
    bucketing pre-partitions the data on disk, so the join reads
    bucket-aligned splits instead of re-hashing terabytes."""
    from pyspark.sql import functions as F

    from cassandra_migrate_keyspace_from_cluster_spark.sources import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    for name, df in [("bkt_orders", orders), ("bkt_cust", cust)]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .option("path", str(tmp_path / name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_orders").join(spark.table("bkt_cust"), "o_custkey")
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, (
            f"bucketed join still shuffles:\n{plan}"
        )
        # and the result is the plain join's result
        plain = orders.join(cust, "o_custkey")
        assert joined.count() == plain.count()
        assert joined.exceptAll(plain).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for name in ("bkt_orders", "bkt_cust"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_scalar_subquery_decorrelates(spark):
    """b27's correlated scalar subquery must rewrite to aggregate+join
    (visible as a join in the plan, no in-flight ScalarSubquery per
    row); a per-row subquery would be n executions at scale."""
    plan = physical_plan(q(spark, "b27_scalar_subquery"))
    assert "Join" in plan, plan
    assert "ScalarSubquery" not in plan, plan


def test_banded_range_join_no_nested_loop(spark):
    """b14b's banded rewrite must plan as an equi join (shuffle/broadcast
    HASH join on the band key) — no CartesianProduct, no BNLJ."""
    plan = physical_plan(q(spark, "b14b_range_join_banded"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_disjunctive_join_no_nested_loop(spark):
    """b28's OR-predicate join is decomposed into per-disjunct equi
    joins + union + bool_or merge — the plan must contain only hash
    joins (a literal OR join would be CartesianProduct/BNLJ)."""
    plan = physical_plan(q(spark, "b28_join_disjunctive"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_contamination_eval_index_broadcasts(spark):
    """f25's eval-set n-gram index must ride a broadcast join (the
    map-side check is the whole scale story: no shuffle of the
    exploded training corpus)."""
    plan = physical_plan(q(spark, "f25_contamination"))
    assert "BroadcastHashJoin" in plan, plan


def test_unigram_lm_broadcasts(spark):
    """f31's unigram LM table must ride a broadcast join over the
    token stream (vocabulary-sized table → map-side join)."""
    plan = physical_plan(q(spark, "f31_unigram_logprob"))
    assert "BroadcastHashJoin" in plan, plan


def test_lateral_join_decorrelates(spark):
    """b29's LATERAL subquery must decorrelate: no per-outer-row
    subquery execution (plan shows joins + partitioned rank/limit, not
    CartesianProduct over the subquery)."""
    plan = physical_plan(q(spark, "b29_lateral_join"))
    assert "Join" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pinned_lsh_candidates_hash_join_only(spark):
    """f24's band-bucket candidate generation and rescore must be pure
    hash joins — no CartesianProduct/BNLJ anywhere in the LSH chain
    (the whole point of banding is avoiding pairwise comparison)."""
    plan = physical_plan(q(spark, "f24_minhash_pinned_lsh"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_incremental_dedup_hash_join_only(spark):
    """f40's batch-vs-corpus-index candidate join and rescore must also
    be pure hash joins — an incremental admission pass that cartesians
    the batch with the corpus defeats the persisted-index design."""
    plan = physical_plan(q(spark, "f40_incremental_dedup"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_r3_windows_are_partitioned(spark):
    """f41's ntile and f44's cumsum ride windows PARTITIONED by
    lang/source — an unpartitioned windowspecdefinition would be the
    single-reducer global sort that doesn't survive 100x."""
    import re

    for name, part_col in (
        ("f41_perplexity_buckets", "lang"),
        ("f44_token_packing", "source"),
        ("f29_train_split", "source"),
    ):
        plan = physical_plan(q(spark, name))
        specs_ = re.findall(r"windowspecdefinition\([^)]*\)", plan)
        assert specs_, f"{name}: expected a window in the plan"
        for s in specs_:
            assert part_col in s, f"{name}: unpartitioned window: {s}"


def test_semantic_dedup_pairs_are_cluster_equijoin(spark):
    """f42's pair stage must be an equi-join on cluster_id (pair work
    Σ cluster² — the SemDeDup point). The only nested-loop joins
    allowed are the deliberate 8-row seed-centroid broadcasts
    (conditionless Cross BuildRight; one per reference to the assigned
    subtree). A CartesianProduct, or a BNLJ carrying the cosine
    condition, would mean the pair search regressed to all-pairs."""
    import re

    plan = physical_plan(q(spark, "f42_semantic_dedup"))
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), f"expected a hash/merge equi-join for the pair stage:\n{plan}"
    # every BNLJ detail block must be the conditionless seed cross
    for m in re.finditer(r"\(\d+\) BroadcastNestedLoopJoin\n((?:.+\n)+?)\n", plan):
        block = m.group(1)
        assert "Join type: Cross" in block, plan
        assert "Join condition: None" in block, plan


def test_session_shape_and_concurrency_have_no_window_exec(spark):
    """e14/e16 aggregate via session_window + explode — no ranking
    window should appear (an unpartitioned Window here would be the
    single-reducer hazard the explode shape exists to avoid)."""
    for name in ("e14_session_shape", "e16_peak_concurrency"):
        plan = physical_plan(q(spark, name))
        assert "windowspecdefinition" not in plan, f"{name}:\n{plan}"


def test_bloom_semi_reduction_injects_runtime_filter(spark):
    """b34 relies on Catalyst's InjectRuntimeFilter: with the size
    thresholds met (tuned here to smoke scale; met naturally at the
    100-TB design point) the fact scan must be pre-filtered by a
    might_contain(bloom_filter_agg(...)) subquery BEFORE the shuffle,
    and the exact semi join must remain for false-positive cleanup."""
    confs = {
        # allow a smoke-scale build side / fact scan to qualify
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # force the shuffle-join path (a broadcast semi join at smoke
        # scale would already filter map-side, so no bloom is injected)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = physical_plan(q(spark, "b34_bloom_semi_reduction"))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan, plan
    assert "LeftSemi" in plan, plan


def test_clustered_copy_scan_pushes_range_predicate(spark):
    """a16: the 6-month range predicate must reach the clustered
    copy's parquet scan (PushedFilters), where the range-clustered
    layout turns it into row-group min/max skipping."""
    assert_pushed_filter(q(spark, "a16_clustered_copy_scan"), "o_orderdate")


def test_cluster_quality_materializes_pair_join_once(spark):
    """f47's pair join feeds both the CC pass and the edge-stats
    aggregate; the r4 fix materializes it once (localCheckpoint), so
    the final plan must read the pair table as a materialized RDD scan
    and contain NO token-explode (a Generate node here would mean the
    postings join is being replayed inside the consuming plan)."""
    plan = physical_plan(q(spark, "f47_cluster_quality"))
    assert "Generate" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_domain_pagerank_iterates_over_cached_edges(spark):
    """f45's three power iterations must read the co-citation edge
    table from cache (InMemoryTableScan), not re-derive it from the
    document scan per iteration — at most one URL-explode may remain
    anywhere in the final plan (cache materialization), not one per
    iteration branch."""
    plan = physical_plan(q(spark, "f45_domain_pagerank"))
    assert "InMemoryTableScan" in plan, plan
    assert plan.count("Generate explode") <= 1, plan


def test_minhash_bands_single_aggregate_exchange(spark):
    """The wide-signature rewrite promises ONE doc-keyed aggregation
    shuffle for the whole band index: min-hashes aggregate keyed by
    doc alone and band md5s are per-row expressions over the wide
    columns — a second doc/band HashAggregate exchange would mean the
    (doc, j) long-form or the collect_list banding crept back in.

    r14 split the law in two: the vocab-dedup fast path (distinct
    shingles hashed once, broadcast-joined back) legitimately adds the
    vocab-distinct's OWN exchange, so the inline path (budget=0) pins
    the original single-exchange shape and the fast path pins
    exactly one extra exchange + a broadcast join + no collect_list."""
    import re

    import cassandra_migrate_keyspace_from_cluster_spark.operators.dedup as dd
    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        load_table,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    inline = physical_plan(
        dd.minhash_bands(
            docs, n_hashes=16, band_rows=4, vocab_broadcast_budget=0
        )
    )
    assert len(re.findall(r"\(\d+\) Exchange", inline)) == 1, inline
    assert "collect_list" not in inline, inline

    # Fast path: the vocab build adds its own exchanges, so the pinned
    # law is keyed, not counted — exactly ONE doc-keyed aggregation
    # shuffle, NO band-keyed shuffle (the collect_list banding's
    # signature), and the vocab re-attaches by broadcast join.
    fast = physical_plan(dd.minhash_bands(docs, n_hashes=16, band_rows=4))
    doc_keyed = re.findall(r"hashpartitioning\(doc_id", fast)
    assert len(doc_keyed) == 1, fast
    assert not re.search(r"hashpartitioning\(band", fast), fast
    assert "BroadcastHashJoin" in fast, fast
    assert "collect_list" not in fast, fast


def test_hybrid_rrf_final_cut_is_take_ordered(spark):
    """f34's final top-20 must plan as TakeOrderedAndProject (distributed
    per-partition top-k + merge), not a third two-phase global rank:
    the RRF fusion needs full rankings for both source lists, but the
    final cut only needs k rows."""
    assert_contains(q(spark, "f34_hybrid_rrf_search"), "TakeOrderedAndProject")


def test_keyset_pagination_seeks_and_pushes_down(spark):
    """b31's scale note, executable (operators/rank.py::keyset_page):
    the seek predicate must reach the parquet scan as a pushed filter
    (row groups wholly before the page skip via min/max stats) and the
    page itself must plan as TakeOrderedAndProject — every page a
    shallow top-k, no offset-deep heap."""
    import os

    from cassandra_migrate_keyspace_from_cluster_spark.operators.rank import (
        keyset_page,
    )

    o = spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet")).select(
        "o_orderkey", "o_totalprice"
    )
    page = keyset_page(
        o, [("o_totalprice", False), ("o_orderkey", True)],
        last_seen=(50000.0, 3), page_size=10,
    )
    plan = physical_plan(page)
    assert "TakeOrderedAndProject" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "o_totalprice" in pushed[0], (
        f"seek predicate not pushed to the scan:\n{plan}"
    )


def test_cluster_scan_is_jvm_only_and_shuffle_free(spark):
    """The A1 token-range scan is one filtered parquet scan per range:
    building it submits no Spark job, its executed plan has no Python
    node and no Exchange, and a per-range row count prunes every range's
    scan to the key column."""
    from pyspark.sql import functions as F

    from cassandra_migrate_keyspace_from_cluster_spark.sources.cluster_source import (
        read_keyspace_table,
    )

    built = []
    path = f"{SF_SMOKE}/orders.parquet"
    assert jobs_submitted(
        spark, lambda: built.append(read_keyspace_table(spark, path, "o_orderkey", 8))
    ) == 0
    scan = built[0]
    scan.collect()
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan, plan
    counts = physical_plan(scan.groupBy(F.spark_partition_id()).count())
    read = [ln.split("ReadSchema: ")[1] for ln in counts.splitlines() if "ReadSchema" in ln]
    assert read == ["struct<o_orderkey:bigint>"] * 8, counts


def test_configure_existing_keeps_one_partition_per_range(spark):
    """A session the engine did not build (the driver harness's, through
    ``configure_existing``) gets every runtime invariant back, whatever it
    was set to: among them ``spark.sql.unionOutputPartitioning`` off, so
    the A1 scan still has one partition per token range there; with it
    on, Spark 4.1 zips the union of one-partition range scans."""
    from cassandra_migrate_keyspace_from_cluster_spark.session import (
        _INVARIANTS,
        configure_existing,
    )
    from cassandra_migrate_keyspace_from_cluster_spark.sources.cluster_source import (
        read_keyspace_table,
    )

    perturbed = {
        "spark.sql.session.timeZone": "Etc/GMT-8",
        "spark.sql.execution.arrow.pyspark.enabled": "false",
        "spark.sql.legacy.parquet.nanosAsLong": "false",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
        "spark.sql.unionOutputPartitioning": "true",
    }
    assert perturbed.keys() == _INVARIANTS.keys()
    for k, v in perturbed.items():
        spark.conf.set(k, v)
    try:
        configure_existing(spark)
        assert {k: spark.conf.get(k) for k in perturbed} == {
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
            "spark.sql.unionOutputPartitioning": "false",
        }
        scan = read_keyspace_table(spark, f"{SF_SMOKE}/orders.parquet", "o_orderkey", 8)
        assert scan.rdd.getNumPartitions() == 8
    finally:
        for k, v in _INVARIANTS.items():
            spark.conf.set(k, v)


def test_expectations_report_reads_its_table_once(spark):
    """a21's rule suite is one aggregate over one scan: its executed
    (final adaptive) plan has exactly one parquet scan and one exchange
    for its four rules, and building the frame submits no Spark job."""
    import re

    built = []
    assert jobs_submitted(spark, lambda: built.append(q(spark, "a21_data_expectations"))) == 0
    report = built[0]
    report.collect()
    plan = physical_plan(report)
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    nodes = re.findall(r"^\W*(Scan parquet|Exchange)\s+\(", final, re.M)
    assert sorted(nodes) == ["Exchange", "Scan parquet"], plan


def _size_estimate(df) -> int:
    """Catalyst's size estimate of ``df``, the figure ``_one_task``
    compares with ``_ONE_TASK_BYTES``."""
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def test_content_checksum_hash_aggregates_binary_row_hashes(spark):
    """Above ``_ONE_TASK_BYTES`` (sf0.1 orders, ~2.7 MB), A8's checksum
    groups rows by their 16-byte binary hash (one hash exchange, keyed
    on ``unhex(md5(...))``) and reduces the groups with one global
    aggregate: no Sort anywhere in the executed plan, so no side sorts
    its row hashes. Building the frame submits no Spark job."""
    import re

    from cassandra_migrate_keyspace_from_cluster_spark.operators import migrate as mig
    from cassandra_migrate_keyspace_from_cluster_spark.sources import load_table

    orders = load_table(spark, SF_BENCH, "orders")
    assert _size_estimate(orders) > mig._ONE_TASK_BYTES
    built = []
    assert jobs_submitted(
        spark, lambda: built.append(mig.content_checksum(orders, "orders"))
    ) == 0
    checksum = built[0]
    checksum.collect()
    plan = physical_plan(checksum)
    nodes = set(re.findall(r"^\(\d+\) (\w+)", plan, re.M))
    assert "Sort" not in nodes, plan
    keys = set(re.findall(r"hashpartitioning\(([^,)]+),", plan))
    assert len(keys) == 1, plan
    (key,) = keys
    assert re.search(rf"\[unhex\(md5\(.*\) AS {re.escape(key)}\]", plan), plan


def test_snapshot_diff_joins_binary_row_hashes(spark):
    """Above ``_ONE_TASK_BYTES`` (sf0.1 orders), the diff's join
    shuffles 16-byte binary row hashes: each side projects its hash as
    ``unhex(md5(...))``, and each of the join's exchanges carries one of
    those two columns. Building the frame submits no Spark job."""
    import re

    from cassandra_migrate_keyspace_from_cluster_spark.operators import migrate as mig
    from cassandra_migrate_keyspace_from_cluster_spark.sources import load_table

    orders = load_table(spark, SF_BENCH, "orders")
    assert _size_estimate(orders) > mig._ONE_TASK_BYTES
    cols = ("o_custkey", "o_orderstatus", "o_orderdate")
    built = []
    assert jobs_submitted(
        spark, lambda: built.append(mig.snapshot_diff(orders, orders, "o_orderkey", cols))
    ) == 0
    diff = built[0]
    diff.collect()
    plan = physical_plan(diff)
    hashes = set(re.findall(r"^Output .*, unhex\(md5\(.*\) AS (h_\w+#\d+)\]$", plan, re.M))
    assert sorted(h.split("#")[0] for h in hashes) == ["h_src", "h_tgt"], plan
    inputs = re.findall(r"^\(\d+\) Exchange\nInput \[\d+\]: \[(.*)\]$", plan, re.M)
    assert inputs, plan
    for cols_in in inputs:
        assert len(hashes & set(cols_in.split(", "))) == 1, plan


def test_small_checksum_and_diff_run_as_one_task(spark):
    """At most ``_ONE_TASK_BYTES`` (sf0.001 orders, ~36 kB) the checksum
    and the diff read their input as one partition: building either
    frame submits no Spark job, every stage that collecting it runs has
    one task, and no input row crosses an exchange. The diff's plan has
    no Exchange; the checksum's one Exchange carries its output row."""
    import re

    from cassandra_migrate_keyspace_from_cluster_spark.operators import migrate as mig
    from cassandra_migrate_keyspace_from_cluster_spark.sources import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    assert _size_estimate(orders) <= mig._ONE_TASK_BYTES
    cols = ("o_custkey", "o_orderstatus", "o_orderdate")
    tracker = spark.sparkContext.statusTracker()
    for build, exchanged in (
        (lambda: mig.content_checksum(orders, "orders"),
         {("table_name", "n_rows", "n_distinct_hashes", "min_hash", "max_hash")}),
        (lambda: mig.snapshot_diff(orders, orders, "o_orderkey", cols), set()),
    ):
        built = []
        assert jobs_submitted(spark, lambda: built.append(build())) == 0
        before = max(tracker.getJobIdsForGroup(), default=-1)
        assert jobs_submitted(spark, built[0].collect) >= 1
        stages = [
            tracker.getStageInfo(s)
            for j in tracker.getJobIdsForGroup() if j > before
            for s in tracker.getJobInfo(j).stageIds
        ]
        assert {s.numTasks for s in stages if s is not None} == {1}
        plan = physical_plan(built[0])
        inputs = re.findall(r"^\(\d+\) Exchange\nInput \[\d+\]: \[(.*)\]$", plan, re.M)
        # the formatted plan lists each exchange under the final and the initial plan
        assert {tuple(c.split("#")[0] for c in i.split(", ")) for i in inputs} == exchanged, plan


def test_shuffle_writes_each_byte_once(spark):
    """An exchange in a ``build_session`` session writes its map output
    to disk once: over a groupBy whose shuffle carries incompressible
    16-byte hashes, the JVM's disk writes stay below 1.3x the size of
    that shuffle's ``shuffle_*.data`` files. Spark's bypass-merge writer
    (its pick for at most 200 reduce partitions) writes each byte twice,
    a ratio of about 2."""
    import glob
    import os

    from pyspark.sql import functions as F

    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    local_dirs = [
        d.getPath()
        for d in jvm.org.apache.spark.SparkEnv.get().blockManager().diskBlockManager().localDirs()
    ]

    def written() -> int:
        with open(f"/proc/{pid}/io") as fh:
            return next(int(ln.split()[1]) for ln in fh if ln.startswith("write_bytes:"))

    def data_files() -> dict[str, int]:
        return {
            p: os.path.getsize(p)
            for d in local_dirs
            for p in glob.glob(os.path.join(d, "*", "shuffle_*.data"))
        }

    old = data_files()
    grouped = (
        spark.range(100_000)
        .select(F.unhex(F.md5(F.col("id").cast("string"))).alias("h"))
        .groupBy("h")
        .count()
    )
    before = written()
    grouped.write.format("noop").mode("overwrite").save()
    delta = written() - before
    shuffled = sum(size for p, size in data_files().items() if p not in old)
    assert shuffled >= 1 << 20, shuffled
    assert delta < 1.3 * shuffled, (delta, shuffled)
