"""Deduplication operators for a training-data pipeline (SURVEY.md
§2 Part F).

  - exact_dedup: one deterministic survivor per normalized-text hash;
    one shuffle on the 128-bit hash.
  - Near-dup pairs ``(doc_a, doc_b, jaccard)`` — token-set Jaccard >=
    threshold within blocking keys — on an exact-to-approximate ladder
    that ``auto_neardup`` routes from one corpus-stats aggregate
    (``choose_neardup_tier``):
      postings  jaccard_pairs_postings: inverted-index self-join, pair
                work Σ df² within blocks;
      prefix    jaccard_pairs_prefix: SSJoin prefix filtering, exact,
                for candidate spaces past the postings budget;
      lsh       lsh_verified_pairs: pinned-MinHash band candidates,
                recall < 1, when no exact dataflow fits the budget.
    Every tier reads one persisted token-set frame
    (``_token_set_frame``), and prefix and lsh certify their candidates
    through one verify join (``_verified``). ``jaccard_pairs``, the
    blocked O(block²) cross join, is the independent reference the
    tests hold every tier to.
  - neardup_clusters: connected components over the pair graph, routed
    by graph size from the job that fetches the edges: union-find on
    the driver up to ``_DRIVER_CC_EDGES`` edges, past it
    neardup_clusters_star, the distributed small-star–large-star loop.
  - Pinned-hash MinHash (minhash_signatures_wide, minhash_bands,
    minhash_band_candidates) and simhash60_pinned: md5-derived token
    hashes any engine reproduces, so results are hash-checked against
    DuckDB. minhash_lsh_pairs is the MLlib form (engine-specific seeds,
    rows-only, recall-tested against jaccard_pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import bounded_persist, local_frame


def normalized_text_hash(text_col: str = "text") -> F.Column:
    """Canonical content hash: md5 of the exact-fold of the text (md5
    is standardized → stable across engines and runs).

    Exact-fold, not bare lower(trim(..)) — the r11 case-fold law
    (functions/casefold.py): lower() diverges across engines on 71
    probed codepoints (İ full-maps to i+combining-dot on the JVM,
    simple-maps to i under utf8proc, plus Unicode-version skew), so a
    single İ in 1e12 rows silently splits a dedup group differently
    per engine; texts containing a divergent codepoint therefore key
    by trim(text) UNFOLDED — conservative (never merges two texts the
    simple fold would keep apart), total, identical on both engines.
    The SQL twin is casefold.sql_exact_fold (which also pins trim to
    ASCII-space — DuckDB's bare trim strips unicode whitespace)."""
    from ..functions.casefold import exact_fold

    return F.md5(exact_fold(text_col))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one deterministic survivor per normalized-text hash (lowest
    id). Adds ``text_hash`` and ``n_copies``. Scale: single shuffle on
    the 128-bit hash — no skew (hashes are uniform)."""
    w = Window.partitionBy("text_hash").orderBy(id_col)
    wc = Window.partitionBy("text_hash")
    return (
        docs.withColumn("text_hash", normalized_text_hash(text_col))
        .withColumn("n_copies", F.count(F.lit(1)).over(wc))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def tokens(text_col: str = "text") -> F.Column:
    return F.split(F.col(text_col), " ")


def jaccard_pairs(
    docs: DataFrame,
    blocking: list[str],
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-set Jaccard over pairs sharing the blocking key.

    Scale: the self-join is equi on ``blocking`` → pairs are generated
    per block only. At 100 TB blocking would be an LSH band (see
    minhash_lsh_pairs); here (lang, source) keeps blocks ~50 docs.

    Replay law (SURVEY.md §5.4): exact-duplicate doc rows (at-least-once
    delivery, replayed batches) collapse at ingress — a pair means two
    distinct document IDENTITIES, and replicated rows must not multiply
    pair multiplicity (or corrupt intersection counts in the postings
    form). One row-distinct on the tokenized docs; a no-op shuffle-wise
    when ids are unique upstream (the gate fixtures).
    """
    d = docs.select(
        F.col(id_col).alias("id"),
        *[F.col(b) for b in blocking],
        F.array_distinct(tokens(text_col)).alias("toks"),
    ).distinct()  # replay law: exact-duplicate rows collapse at ingress
    a = d.alias("a")
    b = d.alias("b")
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in blocking]
    cond.append(F.col("a.id") < F.col("b.id"))
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _token_set_frame(
    docs: DataFrame, blocking: list[str], id_col: str, text_col: str
) -> DataFrame:
    """The persisted ``(id, *blocking, toks, n)`` frame every near-dup
    tier reads: the one place the tiers tokenize.

    Replay law (see jaccard_pairs): duplicate rows collapse at ingress.
    For the count-based postings form this is a correctness rule, not
    just a multiplicity one: replicated (id, tok) postings would
    multiply the per-pair intersection count while ``n`` stays per row,
    so ``|A∪B| = n_a + n_b - inter`` could reach 0.

    Persisted because every reader references it at least twice (both
    sides of a self-join, or the candidates plus the verify join). The
    persist point is the compact one-row-per-doc frame, not the
    exploded postings: each join side fuses its own explode on top of
    the small cache scan (r13 A/B at sf0.1: no persist 1.32 s,
    post-explode persist 1.15 s, this shape 0.88 s)."""
    return bounded_persist(
        docs.select(
            F.col(id_col).alias("id"),
            *[F.col(b) for b in blocking],
            F.array_distinct(tokens(text_col)).alias("toks"),
        )
        .distinct()
        .withColumn("n", F.size("toks"))
    )


def _verified(
    cand: DataFrame, sets: DataFrame, blocking: list[str], threshold: float
) -> DataFrame:
    """Certify ``(doc_a, doc_b)`` candidates exactly: join both sides to
    the token-set frame, require equal blocking keys, and keep
    ``round(|A∩B| / (n_a + n_b - |A∩B|), 6) >= threshold``. The one
    verify join behind the prefix and lsh tiers."""

    def side(s: str) -> DataFrame:
        return sets.select(
            F.col("id").alias(f"doc_{s}"),
            *[F.col(b).alias(f"__{s}_{b}") for b in blocking],
            F.col("toks").alias(f"toks_{s}"),
            F.col("n").alias(f"n_{s}"),
        )

    out = cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
    for b in blocking:
        out = out.filter(F.col(f"__a_{b}") == F.col(f"__b_{b}"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter.cast("double") / (
        F.col("n_a") + F.col("n_b") - inter
    ).cast("double")
    return (
        out.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_postings(
    docs: DataFrame,
    blocking: list[str],
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-set Jaccard via an inverted index — same result as
    ``jaccard_pairs``, different (scalable) dataflow.

    Shape: explode docs into (token, id) postings; self-join postings on
    token (+ blocking keys) so a candidate pair appears once per SHARED
    token; count rows per pair = |A∩B|; then
    ``|A∪B| = |A| + |B| - |A∩B|`` needs no second pass over tokens and
    no verify join. Pairs sharing zero tokens never materialize, so the
    pair space is sum-over-tokens df(t)² within blocks instead of
    block² — the standard exact-similarity-join shape. Hazard at
    100 TB: Zipfian df(t)² blowup on stopword tokens; AQE skew split is
    the always-on defense, and ``auto_neardup`` routes a candidate space
    past its budget to the prefix tier."""
    return _postings(
        _token_set_frame(docs, blocking, id_col, text_col), blocking, threshold
    )


def _postings(sets: DataFrame, blocking: list[str], threshold: float) -> DataFrame:
    post = sets.select("id", "n", *blocking, F.explode("toks").alias("tok"))
    a, b = post.alias("a"), post.alias("b")
    cond = [F.col("a.tok") == F.col("b.tok")]
    cond += [F.col(f"a.{k}") == F.col(f"b.{k}") for k in blocking]
    cond.append(F.col("a.id") < F.col("b.id"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    return (
        inter.select(
            "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
        ).filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_prefix(
    docs: DataFrame,
    blocking: list[str],
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-set Jaccard via PREFIX FILTERING (SSJoin/PPJoin
    family) — identical results to ``jaccard_pairs_postings``, built
    for the opposite corpus regime.

    Theorem: under any consistent total token order, two sets with
    Jaccard ≥ t share a token among each one's first
    ``n - ⌈t·n⌉ + 1`` tokens (their *prefixes*) — because
    Jaccard ≥ t forces overlap ≥ ⌈t·max(|A|,|B|)⌉, and sets whose
    prefixes are disjoint can overlap in at most ``min(n_a, n_b) -
    prefix`` positions. So: order tokens by ascending document
    frequency (rarest first — the order is a pruning heuristic, the
    theorem only needs consistency), join only PREFIX postings,
    length-filter (``t·n_a ≤ n_b ≤ n_a/t``), then verify the distinct
    candidate pairs exactly (``_verified``).

    When to choose which (both are pytest-equality-checked):
      - postings join: candidate work Σ_t df(t)² over ALL tokens; best
        when dup density is high (most candidate pairs are true pairs,
        so pruning buys little and the verify join is pure overhead —
        the synthetic fixture corpus is this regime: 91k true pairs
        from 5k docs, where this form measured ~2× slower).
      - prefix join: candidate work Σ over PREFIX tokens only, and
        rare-first ordering collapses df² on stopwords; wins at
        realistic web-corpus dup rates (<1% pairs true), where the
        postings form materializes millions of pair-rows that the
        group-filter then discards. At 100 TB this is the standard
        exact-similarity-join shape.

    ε-guard: the pruning bounds derive from the EFFECTIVE acceptance
    threshold ``t − 5e-7`` (the final filter passes
    ``round(J, 6) >= t``, reachable by true J down to that value), and
    ``⌈t_eff·n⌉`` is computed as ``ceil(t_eff·n − 1e-9)`` — both
    conventions can only UNDER-prune (more candidates, never missed
    pairs)."""
    sets = _token_set_frame(docs, blocking, id_col, text_col)
    return _verified(
        _prefix_candidates(sets, blocking, threshold), sets, blocking, threshold
    )


def _prefix_candidates(
    sets: DataFrame, blocking: list[str], threshold: float
) -> DataFrame:
    eff = threshold - 5e-7
    post = sets.select("id", "n", *blocking, F.explode("toks").alias("tok"))
    dft = post.groupBy(*blocking, "tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "tok")
    pref = (
        post.join(dft, [*blocking, "tok"])
        .withColumn("pos", F.row_number().over(w))
        .withColumn(
            "alpha", F.greatest(F.lit(1), F.ceil(F.col("n") * eff - 1e-9))
        )
        .filter(F.col("pos") <= F.col("n") - F.col("alpha") + 1)
    )
    a, b = pref.alias("a"), pref.alias("b")
    cond = [F.col("a.tok") == F.col("b.tok")]
    cond += [F.col(f"a.{k}") == F.col(f"b.{k}") for k in blocking]
    cond += [
        F.col("a.id") < F.col("b.id"),
        F.col("b.n") >= F.col("a.n") * eff - 1e-9,
        F.col("a.n") >= F.col("b.n") * eff - 1e-9,
    ]
    return (
        a.join(b, cond)
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs via MLlib MinHashLSH (8 hash tables, seed 42) over
    hashed SHINGLE vectors.

    approxSimilarityJoin generates candidates from band-bucket joins
    and filters on exact Jaccard distance of the vectors — the
    scalable shape of jaccard_pairs. Features are 3-token shingles,
    not unigrams: MLlib's tables are 1-row bands (P(candidate) =
    1-(1-s)^tables), so candidate pruning exists ONLY if random-pair
    similarity is near zero — true for shingles (~0.003 here), false
    for unigram tokens over a shared vocabulary (~0.5 → every pair a
    candidate → quadratic exact-distance work; measured 676 s at sf0.1
    before this change, ~30x faster after). Proper multi-row banding
    is the pinned-hash tier (minhash_band_candidates)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    k_shingle = 3
    d = docs.filter(
        F.size(F.split(F.col(text_col), " ")) >= k_shingle
    ).select(
        F.col(id_col).alias("id"), shingles(text_col, k_shingle).alias("toks")
    )
    # Spread the transform: a small corpus arrives as ONE parquet
    # row-group = one partition, and every downstream stage (shingle
    # explode, HashingTF, the minhash UDF that dominates this
    # pipeline's wall) inherits it — measured 2x the warm query at
    # sf0.1 on one core of 32. Widen only when under-parallel: a
    # 100-TB corpus already carries >= defaultParallelism partitions
    # and must not pay a gratuitous full shuffle here.
    target = docs.sparkSession.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < target:
        d = d.repartition(target, "id")
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 18)
    # persisted: approxSimilarityJoin(feat, feat) references the frame
    # on BOTH join sides, and the fit() pass reads it a third time —
    # without persist the shingle+HashingTF pipeline runs 3x (~35%
    # of query wall at sf0.1). Same index-persistence contract as the
    # pinned-hash tier (minhash_band_candidates).
    feat = bounded_persist(tf.transform(d))
    lsh = MinHashLSH(inputCol="features", outputCol="bands", numHashTables=8, seed=42)
    model = lsh.fit(feat)
    # pre-compute the minhash signatures ONCE and hand the join a frame
    # that already carries the outputCol: approxSimilarityJoin only
    # calls transform() on inputs missing it, and its internal plan
    # otherwise re-evaluates the hash UDF in the per-side filters and
    # explode (no CSE across them — measured ~15-20% of query wall at
    # sf0.1). Same model, same signatures, identical output.
    tfeat = bounded_persist(model.transform(feat))
    pairs = model.approxSimilarityJoin(tfeat, tfeat, 1.0 - threshold, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("doc_a"),
            F.col("datasetB.id").alias("doc_b"),
            F.round(1.0 - F.col("jaccard_dist"), 6).alias("jaccard_est"),
        )
    )


def _loop_ckpt(df: DataFrame) -> DataFrame:
    """Lineage-truncation point for the star loop: ``localCheckpoint(
    eager=False)`` marks the frame's RDD for local checkpointing but
    lets the round's EXISTING convergence-checksum job materialize it,
    instead of paying a separate eager-checkpoint job per frame per
    round. Same truncation, same data; a round is one driver-coordinated
    job instead of three."""
    return df.localCheckpoint(eager=False)


# Largest pair graph whose components are labelled on the driver. Past
# it, ``neardup_clusters`` runs the distributed star loop.
_DRIVER_CC_EDGES = 200_000


def neardup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc gets
    ``cluster_id`` = the smallest doc id reachable through near-dup
    edges (docs with no pair are singleton clusters, and a replayed id
    is one node).

    This is the real production dedup output — pairs (from the exact or
    LSH tier) only say "these two match"; keeping one doc per TRANSITIVE
    group needs components. Two routes, decided by the job that fetches
    the edges (``limit(_DRIVER_CC_EDGES + 1).collect()``):

      - at most ``_DRIVER_CC_EDGES`` edges: union-find on the driver,
        the root always the smaller id, so a root is its component's
        minimum. The ``(doc, lbl)`` labels ship back as a local frame
        (no job) and one broadcast left join reads off a row per
        distinct doc.
      - past the budget: ``neardup_clusters_star``, O(log n) rounds.

    Both routes give identical labels (property-tested). Scale note: the
    driver route holds at most 200k edges and 400k labels on the driver
    (tens of MB of Python objects) and ships the labels inside the plan;
    a 100-TB corpus's pair graph takes the star route.

    Deterministic: min() labels, no tie choices anywhere.
    """
    edges = pairs.select("doc_a", "doc_b").limit(_DRIVER_CC_EDGES + 1).collect()
    if len(edges) > _DRIVER_CC_EDGES:
        return neardup_clusters_star(docs, pairs, id_col)
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a is None or b is None:
            continue  # a NULL id joins nothing, as in the star loop
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    id_type = docs.schema[id_col].dataType
    labels = local_frame(
        docs.sparkSession,
        [(d, find(d)) for d in parent],
        T.StructType([T.StructField("doc", id_type), T.StructField("lbl", id_type)]),
    )
    return (
        docs.select(F.col(id_col).alias("doc"))
        .distinct()
        .join(F.broadcast(labels), "doc", "left")
        .select(F.col("doc").alias(id_col), F.coalesce("lbl", "doc").alias("cluster_id"))
    )


def neardup_clusters_star(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating small-star / large-star —
    the O(log n)-round CC algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond"), same input/output contract as
    ``neardup_clusters``, which routes pair graphs past its driver
    budget here.

    Edges are kept directed big→small. Each round:
      - LARGE-STAR: per node u over its UNDIRECTED neighborhood Γ(u),
        m = min(Γ(u) ∪ {u}); rewire every neighbor v > u to m.
      - SMALL-STAR: per node u over its smaller neighbors S(u) (the
        directed edge list), m = min(S(u)); rewire every x ∈
        S(u) ∪ {u}, x ≠ m, to m.
    Both are one groupBy + one equi-join over the edge list — fully
    parallel; each round roughly halves the height of every component,
    so convergence is O(log n) rounds versus min-label propagation's
    O(diameter) (tests assert the bound on a worst-case path graph).
    The fixpoint test is (edge count, order-insensitive edge checksum)
    — one tiny aggregate per round, no edge-set anti-join; the loop
    stops after at most 30 rounds.

    At convergence components are stars centered at their minimum id:
    the label read-off is a single left join (docs without any pair stay
    singleton clusters). Deterministic: min() everywhere, no tie choice.
    """
    e = _loop_ckpt(
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        ).distinct()
    )

    def checksum(edges: DataFrame):
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a bigint sum of ±2^63 hashes can
            # overflow, which ANSI mode turns into a runtime error
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row.n, row.h

    rounds = 0
    sig = checksum(e)
    for _ in range(30):
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        gmin = sym.groupBy("u").agg(F.min("v").alias("mn"))
        gmin = gmin.select("u", F.least("u", "mn").alias("m"))
        large = _loop_ckpt(
            sym.join(gmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        joined = large.join(smin, "u")
        small = _loop_ckpt(
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(joined.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        rounds += 1
        new_sig = checksum(small)
        e = small
        if new_sig == sig:
            break
        sig = new_sig
    if stats is not None:
        stats["rounds"] = rounds
    labels = (
        docs.select(F.col(id_col).alias("doc"))
        .join(e.select(F.col("u").alias("doc"), F.col("v").alias("lbl")), "doc", "left")
        .groupBy("doc")
        .agg(F.min(F.coalesce("lbl", F.col("doc"))).alias("cluster_id"))
    )
    return labels.select(F.col("doc").alias(id_col), "cluster_id")


def simhash60_pinned(text_col: str = "text") -> F.Column:
    """60-bit SimHash as a single pure column expression (no UDF),
    built on the PINNED md5-derived token hash (``_pinned_hash60``, the
    f24 idiom) so ANY engine reproduces the exact integer — this is
    what makes f3b hash-checkable against DuckDB instead of rows-only.

    Per token: pinned 60-bit hash (seed 0); per bit position 0..59:
    majority vote of token bits (+1/-1 fold via getbit); the sign
    vector is assembled as a binary string (bit 0 first = most
    significant, weight 2^(59-i)) and converted with conv(,2,10) —
    60 bits keeps the BIGINT far from the sign bit. Locality property
    (near-identical docs ⇒ small Hamming distance) in
    tests/test_operators.py.
    """
    from ..functions.hof import let

    hashes_expr = F.transform(
        F.array_distinct(F.split(F.col(text_col), " ")),
        lambda x: _pinned_hash60(x, 0),
    )

    # let-bind the token-hash array: the 60 per-bit votes then fold
    # over a BOUND variable (O(1) per reference) instead of re-running
    # split+distinct+hash per bit (O(60·tokens²) per row — measured
    # 9x slower on the sf0.1 corpus).
    def body(hashes):
        def vote(i):
            return F.aggregate(
                hashes,
                F.lit(0).cast("bigint"),
                lambda acc, h: acc + (F.getbit(h, i) * 2 - 1).cast("bigint"),
            )

        bits = F.transform(
            F.sequence(F.lit(0), F.lit(59)),
            lambda i: F.when(vote(i) > 0, F.lit("1")).otherwise(F.lit("0")),
        )
        return F.conv(F.array_join(bits, ""), 2, 10).cast("bigint")

    return let(hashes_expr, body)


def hamming64(a: F.Column, b: F.Column) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b))


# -- pinned-hash MinHash (cross-engine checkable) ---------------------------

def _pinned_hash60(col: F.Column, seed: int) -> F.Column:
    """Pinned 60-bit token hash: first 15 hex chars of md5(seed ':' tok)
    as a bigint. md5 is standardized, so ANY engine reproduces the
    exact same integer — unlike xxhash64/MLlib seeds. 60 bits keeps the
    value far under 2^63 (no ANSI-mode overflow)."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), col)), 1, 15), 16, 10
    ).cast("bigint")


def shingles(text_col: str = "text", k: int = 3) -> F.Column:
    """Distinct k-token shingles (w-shingling): the MinHash input that
    makes near-dup detection discriminative — random docs over a small
    vocabulary share most TOKENS but few token SEQUENCES. Callers must
    pre-filter docs with < k tokens (empty shingle sets have no
    minhash; this expression returns an empty array for them).

    Construction is k-1 ``zip_with`` passes over k shifted ``slice``
    views of the token array, NOT ``transform(sequence(...),
    i -> element_at(toks, i+j))``: higher-order-function lambdas are
    evaluated interpreted with NO common-subexpression elimination, so
    an array reference inside the lambda re-evaluates its whole
    subtree (here: the text split) once per element × per reference —
    O(tokens²·k) per document. The slice/zip_with form evaluates the
    split O(k) times per ROW and the lambdas touch only their two
    string arguments: measured 8× faster on the sf0.1 corpus
    (5.4 s → 0.66 s per shingle pass), identical output."""
    toks = F.split(F.col(text_col), " ")
    n = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    parts = [F.slice(toks, j + 1, n) for j in range(k)]
    out = parts[0]
    for p in parts[1:]:
        out = F.zip_with(out, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(out)


#: Max DISTINCT shingles for the vocab-broadcast fast path of
#: minhash_signatures_wide (~34 MB framed at 200k rows × (shingle
#: string + 16 bigints) — sized to the session's 32 MB broadcast
#: budget). Above it the operator falls back to inline per-row
#: hashing, the shape that needs no broadcast at any corpus size.
MINHASH_VOCAB_BROADCAST_BUDGET = 200_000


def minhash_signatures_wide(
    docs: DataFrame,
    n_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    vocab_broadcast_budget: int = MINHASH_VOCAB_BROADCAST_BUDGET,
) -> DataFrame:
    """Wide MinHash signatures: one row per doc with columns
    ``mh0..mh{n-1}``, mh_j = min over the doc's distinct k-shingles of
    the pinned seeded hash. Docs with < k_shingle tokens are dropped
    (no shingles → no signature).

    Shape: shingles explode once, each shingle ROW carries its
    n_hashes seeded hashes as COLUMNS, then ONE partial-aggregated
    min-groupBy keyed by doc alone. Versus the long (doc, j) form this
    is n_hashes× fewer aggregation-map entries and n_hashes× fewer
    shuffled rows for the same bytes — and the band keys downstream
    become per-row expressions instead of a second groupBy.
    100-TB-safe: work ∝ shingles × n_hashes, memory O(n_hashes).

    Vocab-dedup fast path (r14, measured): the pinned md5 hash costs
    ~1 µs per call (a MessageDigest round per expression eval), and a
    near-dup corpus repeats shingles ACROSS docs by construction —
    the sf0.1 fixture has 260,388 shingle rows over 27,213 distinct
    shingles (9.6×), so the inline form pays 16 md5s per ROW where
    one per distinct shingle suffices. When the runtime distinct-
    shingle count fits ``vocab_broadcast_budget``, hash the DISTINCT
    vocabulary once and broadcast-join it back onto the postings
    (values bit-identical — same md5 per (seed, shingle); equality
    probed over the full sf0.1 signature set). The budget check counts
    the (persisted) distinct frame up to ``budget + 1`` rows, so the
    decision is runtime-adaptive, not a local[32] constant, and a
    100-TB vocabulary that blows the budget stops counting at the
    bound before taking the inline path unchanged.
    Interleaved A/B at sf0.1: inline 4.09 s vs vocab-broadcast
    1.87 s for the signature build."""
    toks = (
        docs.filter(F.size(F.split(F.col(text_col), " ")) >= k_shingle)
        .select(id_col, F.explode(shingles(text_col, k_shingle)).alias("tk"))
    )
    hash_cols = lambda: [  # noqa: E731 - tiny local factory
        _pinned_hash60(F.col("tk"), j).alias(f"h{j}") for j in range(n_hashes)
    ]
    hashed = None
    if vocab_broadcast_budget > 0:
        # bounded_persist: the cached distinct backs the budget count
        # and the broadcast build; the FIFO evicts it once the query's
        # working set moves on (a plain persist would leak across a
        # long session's many minhash calls)
        vocab = bounded_persist(toks.select("tk").distinct())
        n_vocab = vocab.limit(vocab_broadcast_budget + 1).count()
        if n_vocab <= vocab_broadcast_budget:
            hashed = toks.join(
                F.broadcast(vocab.select("tk", *hash_cols())), "tk"
            ).select(id_col, *[f"h{j}" for j in range(n_hashes)])
        else:
            vocab.unpersist(blocking=False)
    if hashed is None:
        hashed = toks.select(id_col, *hash_cols())
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h{j}").alias(f"mh{j}") for j in range(n_hashes)]
    )


def minhash_bands(
    docs: DataFrame,
    n_hashes: int = 16,
    band_rows: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    vocab_broadcast_budget: int = MINHASH_VOCAB_BROADCAST_BUDGET,
) -> DataFrame:
    """(id, band, band_hash) LSH band keys over pinned MinHash
    signatures — band_hash = md5 of the band's j-ordered minhash run.
    This is the PERSISTABLE dedup index: because the hashes are pinned
    (md5-derived, no fitted state), bands computed for a NEW batch in a
    later job collide with bands computed for the corpus years earlier
    — the property incremental dedup (f40) relies on.

    Band keys are per-row md5s over the wide signature columns (same
    comma-joined j-ordered string, hence hash-identical to the old
    collect_list form) — no second shuffle after the signature
    aggregation."""
    wide = minhash_signatures_wide(
        docs, n_hashes=n_hashes, id_col=id_col, text_col=text_col,
        k_shingle=k_shingle, vocab_broadcast_budget=vocab_broadcast_budget,
    )
    n_bands = -(-n_hashes // band_rows)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{j}").cast("string")
                        for j in range(
                            b * band_rows, min((b + 1) * band_rows, n_hashes)
                        )
                    ],
                )
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ]
    return wide.select(
        id_col, F.explode(F.array(*bands)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


def minhash_band_candidates(
    docs: DataFrame,
    n_hashes: int = 16,
    band_rows: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
) -> DataFrame:
    """LSH banding over pinned MinHash signatures → candidate pairs
    (doc_a < doc_b, n_shared_bands). Docs agreeing on ALL band_rows
    minhashes of at least one band become candidates — the standard
    S-curve: P(candidate) = 1 - (1 - s^band_rows)^(n_hashes/band_rows).

    Scale shape: band key = md5 of the band's minhash run; candidates
    come from an equi-join on (band, band_hash) buckets — pair work is
    ∝ Σ bucket², never corpus². Two shuffles (sig min-agg, bucket
    self-join) regardless of corpus size. The band frame is persisted
    before the self-join — without it each join side re-runs the
    shingle × n_hashes md5 pipeline (measured 2× wall at sf0.1); in
    production the band index is a persisted table by design (f40's
    incremental-dedup contract), and persist() is its single-job
    stand-in."""
    bands = bounded_persist(
        minhash_bands(
            docs,
            n_hashes=n_hashes,
            band_rows=band_rows,
            id_col=id_col,
            text_col=text_col,
            k_shingle=k_shingle,
        )
    )
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "band_hash")
    b = bands.select(F.col(id_col).alias("doc_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def lsh_band_rows_for_threshold(threshold: float, n_hashes: int = 16) -> int:
    """Pick the MinHash band height r from the operating threshold.

    The banding S-curve's midpoint is t*(r) = (1/b)^(1/r) with
    b = n_hashes/r bands; recall at similarity s is
    1 − (1 − s^r)^b, which is high only when t* sits safely BELOW the
    acceptance threshold. So: the largest power-of-two divisor r of
    n_hashes with t*(r) <= 0.8·threshold — taller bands (better
    pruning) whenever the operating point affords them, falling back
    to r=1 (pure min-hash equality buckets) for very low thresholds.
    A mismatched fixed r is the classic silent-recall-loss mistake
    (r=4 at t=0.6 has its midpoint at 0.707 — ABOVE the threshold —
    and measured recall ~5% on the routing fixture)."""
    best = 1
    r = 1
    while r <= n_hashes:
        if n_hashes % r == 0:
            t_star = (r / n_hashes) ** (1.0 / r)
            if t_star <= 0.8 * threshold:
                best = r
        r *= 2
    return best


def lsh_verified_pairs(
    docs: DataFrame,
    blocking: list[str],
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pinned-hash LSH candidates rescored to the SAME verified-pairs
    contract as ``jaccard_pairs_postings`` / ``jaccard_pairs_prefix``:
    ``(doc_a, doc_b, jaccard)`` with token-set Jaccard >= threshold and
    both docs agreeing on the blocking keys. This is the sub-quadratic
    tier of the near-dup ladder (``auto_neardup``): candidate work is
    ∝ Σ band-bucket² (never corpus², never Σ df² — the exact tiers'
    floor), at the cost of recall < 1 per the banding S-curve
    (pytest floor vs the exact tier)."""
    return _verified(
        _lsh_candidates(docs, threshold, id_col, text_col),
        _token_set_frame(docs, blocking, id_col, text_col),
        blocking,
        threshold,
    )


def _lsh_candidates(
    docs: DataFrame, threshold: float, id_col: str, text_col: str
) -> DataFrame:
    """Band candidates over 16 pinned min-hashes of UNIGRAM shingles —
    banding measures the same token sets the verify certifies (3-shingle
    banding, right for f24's sequence-sensitive dedup, is near-blind to
    same-tokens-different-positions pairs the unigram contract accepts)
    — with the band height derived from the threshold, because a band
    whose S-curve midpoint sits above it silently collapses recall
    (``lsh_band_rows_for_threshold``)."""
    return minhash_band_candidates(
        docs, n_hashes=16, band_rows=lsh_band_rows_for_threshold(threshold, 16),
        id_col=id_col, text_col=text_col, k_shingle=1,
    ).select("doc_a", "doc_b")


# -- application-layer near-dup tier selection (the f4d idiom) --------------

#: Documented candidate-pair budget: ~50M pair rows is tens of seconds
#: of join work on local[32] and a comfortable per-stage shuffle on a
#: real cluster; past it the exact candidate space itself is the
#: bottleneck, not the verify.
NEARDUP_PAIR_BUDGET = 50_000_000

#: Tokens with a block-scoped document frequency above this are heavy
#: (stopword-like): their collisions are what rare-first prefix
#: ordering prunes.
_HEAVY_DF = 64


def _neardup_stats(sets: DataFrame, blocking: list[str]) -> dict:
    """Routing stats for ``choose_neardup_tier``, one aggregate over the
    token-set frame:

      cand_pairs    Σ over (block, token) of df·(df−1)/2 — the EXACT
                    candidate-pair space the postings join generates;
      light_pairs   the same sum over tokens with df <= ``_HEAVY_DF`` —
                    the floor prefix ordering cannot prune, because
                    those collisions come from rare-token structure,
                    not stopwords.

    Sums are computed in DOUBLE: they are routing estimates, and at
    1e9+ docs Σ df² exceeds int64 by construction."""
    pairs = F.col("df").cast("double") * (F.col("df") - 1).cast("double") / 2.0
    row = (
        sets.select(*blocking, F.explode("toks").alias("tok"))
        .groupBy(*blocking, "tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            F.coalesce(F.sum(pairs), F.lit(0.0)).alias("cand"),
            F.coalesce(
                F.sum(F.when(F.col("df") <= _HEAVY_DF, pairs).otherwise(0.0)),
                F.lit(0.0),
            ).alias("light"),
        )
        .collect()[0]
    )
    return {"cand_pairs": float(row.cand), "light_pairs": float(row.light)}


#: Below this many candidate pair rows the single-pass postings join
#: beats prefix filtering REGARDLESS of the df profile: prefix pays 3
#: extra passes (df join, window, verify join) to prune candidates,
#: and pruning only pays when the pruned volume is large in absolute
#: terms. Calibrated to the measured A/B on the sf0.1 fixture corpus
#: (2.86M candidates, 64 % of them from heavy tokens — the profile
#: heuristic said prefix, the measurement says postings is ~2x FASTER
#: there); 20M pair rows ≈ 640 MB of shuffle, still comfortably
#: one-pass.
POSTINGS_PAIR_BUDGET = 20_000_000


def choose_neardup_tier(
    cand_pairs: float,
    light_pairs: float,
    exact_required: bool = False,
    pair_budget: float = NEARDUP_PAIR_BUDGET,
    postings_pair_budget: float = POSTINGS_PAIR_BUDGET,
) -> str:
    """Pick the near-dup tier from corpus stats — the SURVEY §4 f2→f3
    auto-switch, as a documented application-layer helper (NOT a
    Catalyst rule, for the same reason as ``choose_similarity_tier``:
    the inputs are corpus statistics the planner does not model, and
    the lsh tier trades recall, which no relational optimizer may
    silently spend).

    Decision table (returns "postings", "prefix" or "lsh"):

      1. cand_pairs <= postings_pair_budget
           -> "postings": the whole candidate space is small enough
              that one shuffle pass over it beats prefix's 3 extra
              passes (df join, window, verify join) REGARDLESS of the
              df profile. This boundary is MEASURED, not assumed: the
              sf0.1 fixture corpus (2.86M candidates, 64 % from heavy
              tokens) runs ~2x faster through postings even though its
              profile is stopword-heavy — absolute pruned volume, not
              profile shape, is what pays for prefix's fixed cost.
      2. light_pairs <= pair_budget (but 1 failed)
           -> "prefix": the candidate space is large, and the
              over-floor share is Zipfian df² that rare-first prefix
              ordering provably prunes (SSJoin theorem) — exact
              results at sub-budget cost.
      3. beyond that
           -> "lsh": even the rare-token collision floor exceeds the
              budget, so EVERY exact dataflow is quadratic-infeasible;
              banded candidates + exact rescore is the 100-TB path
              (recall < 1 per the S-curve, floor-tested). If
              ``exact_required``, RAISE instead — recall is a semantic
              contract the selector must never silently spend
              (misroute-raises, the f4d law).

    FULLY monotone ladder (pytest grid law, like the similarity
    ladder's): growing ``cand_pairs`` moves postings → prefix at the
    postings budget; growing ``light_pairs`` moves prefix → lsh at the
    pair budget; no growth direction ever routes back up. (An earlier
    draft routed the postings↔prefix split on the heavy-token share —
    the real sf0.1 corpus proved that a misroute, see rule 1.)
    """
    if cand_pairs < 0 or light_pairs < 0:
        raise ValueError("stats must be non-negative")
    if light_pairs > cand_pairs:
        raise ValueError("light_pairs cannot exceed cand_pairs")
    if cand_pairs <= postings_pair_budget:
        return "postings"
    if light_pairs <= pair_budget:
        return "prefix"
    if exact_required:
        raise ValueError(
            f"exact near-dup requested but the rare-token collision floor "
            f"({light_pairs:,.0f} candidate pairs) exceeds the budget "
            f"({pair_budget:,.0f}): no df-based pruning can make the exact "
            "candidate space feasible on this corpus — raise pair_budget "
            "deliberately or accept the lsh tier's measured recall"
        )
    return "lsh"


def auto_neardup(
    docs: DataFrame,
    blocking: list[str],
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    exact_required: bool = False,
    pair_budget: float = NEARDUP_PAIR_BUDGET,
    postings_pair_budget: float = POSTINGS_PAIR_BUDGET,
    chosen: dict | None = None,
) -> DataFrame:
    """Dispatch verified near-dup pair generation through
    ``choose_neardup_tier`` (the f4d idiom for dedup: corpus stats →
    tier route, misroute raises). All three tiers emit the same
    contract — ``(doc_a, doc_b, jaccard)`` with token-set Jaccard >=
    threshold within the blocking keys — so the route changes the
    DATAFLOW (and, for lsh only, the recall), never the meaning of a
    pair. The token-set frame is built and persisted once and feeds the
    stats aggregate, the routed tier and its verify join, so a routed
    run tokenizes the corpus once for the exact tiers (the lsh tier's
    band signatures shingle the text separately). ``chosen`` (opt-in)
    records the decision and the stats that drove it."""
    sets = _token_set_frame(docs, blocking, id_col, text_col)
    stats = _neardup_stats(sets, blocking)
    tier = choose_neardup_tier(
        stats["cand_pairs"], stats["light_pairs"],
        exact_required=exact_required, pair_budget=pair_budget,
        postings_pair_budget=postings_pair_budget,
    )
    if chosen is not None:
        chosen.update({"tier": tier, **stats})
    if tier == "postings":
        return _postings(sets, blocking, threshold)
    if tier == "prefix":
        cand = _prefix_candidates(sets, blocking, threshold)
    else:
        cand = _lsh_candidates(docs, threshold, id_col, text_col)
    return _verified(cand, sets, blocking, threshold)
