"""Part F — LLM-training-data pipeline operators (dedup, similarity
search, text analysis, multimodal columns). SURVEY.md §2 Part F
(f1-f12) plus the extended text/multimodal/curation set (f13-f33).

Heavy lifting lives in operators/{dedup,similarity,text,multimodal}.py;
this module binds each operator to a declared query + DuckDB oracle.
Approximate operators (f3 MinHash-LSH, f5 BRP-LSH) are rows-only by
design — their semantic guarantees (recall vs the exact twins) are
asserted in tests/test_operators.py instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.vector import l2_norm, to_double_array
from ..functions.casefold import sql_exact_fold
from ..functions.rounding import exact_mean6, sql_exact_mean6, sql_pmod
from ..operators import dedup as dd
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators import text as tx
from ..registry import register
from ..util import bounded_persist
from .util import r6, t


# --------------------------------------------------------------------------
@register(
    "f1_exact_dedup",
    # md5(sql_exact_fold(..)) not md5(lower(trim(..))): the r11
    # case-fold law — lower() diverges across engines on 71 probed
    # codepoints and DuckDB's bare trim strips unicode whitespace
    # (functions/casefold.py; battery in tests/test_properties.py)
    oracle=f"""
    SELECT doc_id, md5({sql_exact_fold('text')}) AS text_hash,
           count(*) OVER (PARTITION BY md5({sql_exact_fold('text')}))
             AS n_copies
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5({sql_exact_fold('text')})
                               ORDER BY doc_id) = 1
    """,
)
def f1_exact_dedup(spark, sf_dir):
    """Exact dedup on normalized-text hash, deterministic survivor
    (exact-fold law: casefold.py / dedup.normalized_text_hash)."""
    docs = t(spark, sf_dir, "documents")
    return dd.exact_dedup(docs).select("doc_id", "text_hash", "n_copies")


@register(
    "f2_token_jaccard_neardup",
    oracle="""
    -- DISTINCT = the replay law (SURVEY.md §5.4): pairs are keyed by
    -- document identity; replicated rows collapse at ingress
    WITH d AS (SELECT DISTINCT doc_id, lang, source,
                      list_distinct(string_split(text, ' ')) AS toks
               FROM documents)
    SELECT * FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
    WHERE jaccard >= 0.6
    """,
)
def f2_token_jaccard_neardup(spark, sf_dir):
    """Exact token-set Jaccard near-dup pairs, blocked by (lang,
    source) — the verifiable ground truth for f3's LSH tier. Runs the
    inverted-index (token-postings) dataflow; equality with the blocked
    cross-join form is pytest-asserted."""
    docs = t(spark, sf_dir, "documents")
    return dd.jaccard_pairs_postings(docs, blocking=["lang", "source"], threshold=0.6)


@register(
    "f2b_auto_neardup",
    # Same contract as f2: the auto-selector changes the DATAFLOW, never
    # the meaning of a pair, so the exact blocked-Jaccard oracle is the
    # oracle for every exact tier the route can pick.
    oracle="""
    WITH d AS (SELECT DISTINCT doc_id, lang, source,
                      list_distinct(string_split(text, ' ')) AS toks
               FROM documents)
    SELECT * FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
    WHERE jaccard >= 0.6
    """,
)
def f2b_auto_neardup(spark, sf_dir):
    """f2 through the r12 auto tier selector (operators/dedup.py::
    auto_neardup — corpus stats → postings/prefix/lsh route, the f4d
    idiom for near-dup; VERDICT r12 item 6 put it under the driver's
    hard signal). ``exact_required=True`` makes the route part of the
    query's contract: on any corpus where even the rare-token collision
    floor would force the recall-trading lsh tier, this RAISES instead
    of silently returning a subset — so a hash-green row certifies both
    the selector's routing and the routed tier's exact dataflow. At the
    fixture corpora (all SFs) the stats route to the postings tier."""
    docs = t(spark, sf_dir, "documents")
    return dd.auto_neardup(
        docs, blocking=["lang", "source"], threshold=0.6,
        exact_required=True,
    )


@register("f5b_ivf_topk", oracle=None)  # KMeans cells engine-specific
def f5b_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) approximate top-5 cosine neighbors: KMeans
    coarse cells + n_probe-cell search. Rows-only; recall vs f4 truth
    in pytest."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.ivf_cosine_topk(emb, k=5, n_cells=16, n_probe=4)


@register(
    "f18_pipeline_report",
    oracle=f"""
    WITH kept AS (
      SELECT doc_id, text, lang, n_chars
      FROM documents
      QUALIFY row_number() OVER (PARTITION BY md5({sql_exact_fold('text')})
                                 ORDER BY doc_id) = 1),
    b AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS u,
             CAST(list_reduce(list_transform(string_split(text, ' '),
                  x -> length(x)), (a, bb) -> a + bb) AS BIGINT) AS L,
             CAST(least(n_chars, 500) AS BIGINT) AS nc5
      FROM kept),
    q AS (
      SELECT doc_id, lang,
             CAST((2*(2*n*nc5 + 750*u + 75*least(L, 10*n))*1000000 + 2500*n)
                  // (5000*n) AS DOUBLE)/1000000 AS quality
      FROM b),
    j AS (
      SELECT q.lang, q.quality,
             sqrt(list_reduce(list_transform(CAST(e.embedding AS DOUBLE[]),
                  x -> x * x), (a, b) -> a + b)) AS vec_norm
      FROM q JOIN embeddings e ON e.vec_id = q.doc_id
      WHERE q.quality >= 0.5)
    SELECT lang, count(*) AS n_docs,
           round(avg(quality), 6) AS avg_quality,
           round(avg(vec_norm), 6) AS avg_vec_norm
    FROM j GROUP BY lang
    """,
)
def f18_pipeline_report(spark, sf_dir):
    """End-to-end training-data pipeline composite: exact dedup →
    quality score → threshold filter → join the embedding modality →
    per-language corpus report. Every stage is a tested operator; this
    query proves they compose (the shape of a real 100-TB curation run:
    one shuffle for dedup, one for the id-equi-join, one for the final
    tiny agg). Dedup survivor-filter and quality score are FUSED into
    one scan of documents: quality is per-row, so scoring the
    post-dedup frame (via quality_scores(keep=...)) is exactly
    filtering joined scores — same values, two fewer doc_id joins and
    two fewer table scans than the compose-by-join form."""
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    kept = dd.exact_dedup(docs).select("doc_id", "lang", "text", "n_chars")
    norms = emb.select(
        F.col("vec_id").alias("doc_id"),
        l2_norm(to_double_array("embedding")).alias("vec_norm"),
    )
    j = (
        tx.quality_scores(kept, keep=("lang",))
        .select("doc_id", "lang", "quality")
        .filter(F.col("quality") >= 0.5)
        .join(norms, "doc_id")
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r6(F.avg("quality")).alias("avg_quality"),
        r6(F.avg("vec_norm")).alias("avg_vec_norm"),
    )


@register(
    "f19_quantize_int8",
    oracle="""
    -- no DISTINCT: quantization is a per-row MAP (replay law —
    -- duplicate rows in, duplicate rows out)
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings
               -- vector-validity law (operators/similarity.py::
               -- sql_valid_vector): non-null, null-element-free, all-finite, not all-zero
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0
                 AND len(list_filter(embedding, x -> x != 0)) > 0),
    s AS (SELECT vec_id, emb,
                 list_reduce(list_transform(emb, x -> abs(x)),
                             (a, b) -> greatest(a, b)) / 127.0 AS raw_scale
          FROM e)
    -- magnitude-gated display round: round(,6) is mathematically the
    -- identity for raw_scale >= 1e10 (double spacing > 1e-6 there),
    -- but DuckDB computes it by fp scaling, perturbing huge values by
    -- an ulp where Spark's BigDecimal path is exact (sf0.1 storm
    -- probe) — skip the vacuous round above the gate, identically on
    -- both sides
    SELECT vec_id,
           CASE WHEN raw_scale >= 1e10 THEN raw_scale
                ELSE round(raw_scale, 6) END AS scale,
           array_to_string(list_transform(emb,
             x -> CAST(round(x / raw_scale, 0) AS INT)), ',') AS q_csv
    FROM s
    """,
)
def f19_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization (scale = max|x|/127) —
    the 4x memory lever for the f4/f5b broadcast budget; dequantization
    error bound is property-tested. The query emits the codes as CSV
    (nested-array cells are not portably hashable across comparison
    harnesses); the operator keeps the typed array."""
    q = sim.quantize_int8(t(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform("q", lambda x: x.cast("string")), ","
        ).alias("q_csv"),
    )


@register("f3_minhash_lsh", oracle=None)  # hash seeds engine-specific
def f3_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup via MLlib (band-bucket join instead of a
    blocked cross join), over 3-shingle sets — shingles make MLlib's
    1-row bands discriminative (see operators/dedup.py). Rows-only;
    recall vs exact shingle-Jaccard truth in pytest."""
    docs = t(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(docs, threshold=0.6)


@register(
    "f3b_simhash",
    oracle="""
    -- Pinned 60-bit SimHash (operators/dedup.py::simhash60_pinned):
    -- per distinct token, the md5-derived 60-bit hash (f24 idiom,
    -- seed 0 baked into the hashed string); per bit i in 0..59 a
    -- majority vote over token hashes; bit i carries weight 2^(59-i)
    -- (bit 0 = most significant, matching the Spark conv(,2,10)
    -- binary-string assembly order).
    WITH d AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(toks, t ->
               CAST(('0x' || substr(md5(concat('0:', t)), 1, 15)) AS BIGINT)
             ) AS hs
      FROM d),
    s AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(60), i ->
               CASE WHEN list_sum(list_transform(hs,
                            x -> ((x >> i) & 1) * 2 - 1)) > 0
                    THEN CAST(1 AS BIGINT) << (59 - i)
                    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
      FROM h)
    SELECT s.doc_id, s.simhash,
           CAST(bit_count(xor(s.simhash, r.ref_hash)) AS INT) AS hamming_to_doc0
    FROM s
    CROSS JOIN (SELECT simhash AS ref_hash FROM s
                ORDER BY doc_id LIMIT 1) r
    """,
)
def f3b_simhash(spark, sf_dir):
    """60-bit SimHash per document (pure column expressions, PINNED
    md5-derived token hashes — the f24 idiom) + Hamming distance to a
    fixed reference doc. Cross-engine reproducible → hash-checked
    against the DuckDB oracle (was rows-only under xxhash64 until r10);
    locality property additionally tested in pytest."""
    docs = t(spark, sf_dir, "documents")
    with_sim = docs.select("doc_id", dd.simhash60_pinned("text").alias("simhash"))
    ref = with_sim.orderBy("doc_id").limit(1).select(
        F.col("simhash").alias("ref_hash")
    )
    return with_sim.crossJoin(F.broadcast(ref)).select(
        "doc_id",
        "simhash",
        dd.hamming64(F.col("simhash"), F.col("ref_hash")).alias("hamming_to_doc0"),
    )


# --------------------------------------------------------------------------
# Shared by f4 (single broadcast), f4c (chunked), and f4d (auto tier):
# all three are EXACT top-5 and must agree with the same ground truth.
_EXACT_TOPK_ORACLE = """
    -- DISTINCT = the replay law (SURVEY.md §5.4): retrieval is keyed
    -- by vector identity; replicated rows collapse at ingress
    WITH e AS (SELECT DISTINCT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings
               -- vector-validity law (operators/similarity.py::
               -- sql_valid_vector): non-null, null-element-free, all-finite, not all-zero
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0
                 AND len(list_filter(embedding, x -> x != 0)) > 0)
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim,
             CAST(row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(a.emb, b.emb), 6) DESC,
                        b.vec_id) AS BIGINT) AS rank
      FROM e a JOIN e b ON a.vec_id != b.vec_id)
    WHERE rank <= 5
    """


@register("f4_cosine_topk", oracle=_EXACT_TOPK_ORACLE)
def f4_cosine_topk(spark, sf_dir):
    """Exact top-5 cosine neighbors per vector — brute force baseline.
    Ranking on ROUNDED cosine + vec_id tie-break on both engines."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.cosine_topk(emb, k=5, corpus_key=sf_dir).select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("bigint").alias("rank")
    )


@register("f4c_cosine_topk_chunked", oracle=_EXACT_TOPK_ORACLE)
def f4c_cosine_topk_chunked(spark, sf_dir):
    """f4's exact top-k with the corpus blocked into broadcastable
    chunks, searched pass-at-a-time off a chunk-partitioned layout
    (per-chunk pruned read + broadcast matmul top-k → per-query merge)
    — the exact tier that survives a corpus too big for one broadcast.
    chunk_size targets ~4 chunks (floor 200) so the merge path is
    always what the oracle checks, while the pass count — each pass is
    a full query scan + candidate materialization — stays O(1) as the
    corpus grows (at real scale you size chunk = broadcast budget, and
    pass count is n/chunk by necessity)."""
    emb = t(spark, sf_dir, "embeddings")
    chunk = max(200, -(-emb.count() // 4))
    return sim.cosine_topk_chunked(
        emb, k=5, chunk_size=chunk, corpus_key=sf_dir
    ).select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("bigint").alias("rank")
    )


@register("f4d_auto_tier", oracle=_EXACT_TOPK_ORACLE)
def f4d_auto_tier(spark, sf_dir):
    """Top-5 cosine neighbors through the TIER SELECTOR
    (operators/similarity.py::auto_cosine_topk) instead of a
    hand-picked operator — the end-to-end demonstration of the
    SURVEY §4 deferred auto-rewrite, shipped as an application-layer
    dispatch (r8 VERDICT item 6).

    At every sandbox SF the corpus footprint (n*d*8 bytes, ~3 MB at
    sf0.1) is far inside the broadcast budget, so the selector MUST
    route to the exact broadcast tier and the result is checkable
    against the same exact-top-k oracle as f4 — the routing is what
    this query adds, at zero recall risk. A misroute to an approximate
    tier would fail loudly (the guard below), never silently pass a
    weaker result to the hash gate. The tier-choice law itself
    (monotone cliffs over a stats grid) is pytest-asserted in
    tests/test_operators.py."""
    emb = t(spark, sf_dir, "embeddings")
    chosen: dict = {}
    out = sim.auto_cosine_topk(emb, k=5, chosen=chosen, corpus_key=sf_dir)
    if chosen["tier"] != "exact_broadcast":
        raise AssertionError(
            f"tier selector routed a broadcast-fit corpus "
            f"(n={chosen['n_rows']}, d={chosen['dim']}) to {chosen['tier']!r}"
        )
    return out.select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("bigint").alias("rank")
    )


@register(
    "f4b_cosine_neardup",
    oracle="""
    -- DISTINCT = the replay law (SURVEY.md §5.4): retrieval is keyed
    -- by vector identity; replicated rows collapse at ingress
    WITH e AS (SELECT DISTINCT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings
               -- vector-validity law (operators/similarity.py::
               -- sql_valid_vector): non-null, null-element-free, all-finite, not all-zero
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0
                 AND len(list_filter(embedding, x -> x != 0)) > 0)
    SELECT * FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
    WHERE cos_sim >= 0.8
    """,
)
def f4b_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (dedup by semantic
    similarity): unordered pairs with cosine >= 0.8.

    Scalable shape: SRP-LSH band-key candidates + exact rescore
    (``operators/similarity.py::cosine_neardup_pairs``) — pure
    equi-joins, no n² pair materialization; exact-equality vs the
    brute-force all-pairs form and recall on planted near-dups are
    pytest-asserted (tests/test_operators.py), no-CartesianProduct is
    plan-asserted (tests/test_plans.py)."""
    return sim.cosine_neardup_pairs(t(spark, sf_dir, "embeddings"), threshold=0.8)


@register("f5_ann_lsh", oracle=None)  # random projections engine-specific
def f5_ann_lsh(spark, sf_dir):
    """Approximate NN pairs via BucketedRandomProjectionLSH: euclidean
    threshold 1.12 ≈ the p0.1 tail of the pairwise-distance
    distribution (median = sqrt(2) for unit vectors) — a genuinely
    selective neighbor set, so the bucket join prunes (see
    operators/similarity.py). Rows-only; recall vs exact pairs in
    pytest."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.brp_lsh_neighbors(emb, distance_threshold=1.12)


@register(
    "f6_centroid_knn",
    oracle="""
    WITH dims AS (
        SELECT label, i, avg(embedding[i]::DOUBLE) AS v
        FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
        -- centroid TRAINING set rides the same vector-validity law as
        -- the scoring set (a poisoned vector must not poison the mean)
        WHERE embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x IS NULL)) = 0
          AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x != 0)) > 0
        GROUP BY 1, 2),
    cents AS (SELECT label AS centroid_label, list(v ORDER BY i) AS centroid
              FROM dims GROUP BY 1),
    e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings
               -- vector-validity law (operators/similarity.py::
               -- sql_valid_vector): non-null, null-element-free, all-finite, not all-zero
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0
                 AND len(list_filter(embedding, x -> x != 0)) > 0),
    scored AS (
        SELECT e.vec_id, e.label, c.centroid_label,
               round(list_cosine_similarity(e.emb, c.centroid), 6) AS cos_sim
        FROM e CROSS JOIN cents c),
    assigned AS (
        SELECT vec_id, label, centroid_label,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos_sim DESC, centroid_label) AS rn
        FROM scored)
    SELECT label, centroid_label AS pred_label, count(*) AS n
    FROM assigned WHERE rn = 1 GROUP BY 1, 2
    """,
)
def f6_centroid_knn(spark, sf_dir):
    """Nearest-centroid classification → confusion matrix. The centroid
    build (posexplode → per-dim avg → reassemble) is the IVF coarse-
    quantizer shape."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.centroid_classify(emb)


# --------------------------------------------------------------------------
@register(
    "f7_tokenize_wordcount",
    oracle="""
    SELECT token, n, rank FROM (
      SELECT token, n,
             -- encode(): see c5b (DuckDB non-ASCII sort-key hazard)
             CAST(row_number() OVER (ORDER BY n DESC, encode(token)) AS BIGINT)
               AS rank
      FROM (SELECT t AS token, count(*) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
            GROUP BY 1))
    WHERE rank <= 50
    """,
)
def f7_tokenize_wordcount(spark, sf_dir):
    """Top-50 corpus tokens (count desc, alphabetical tie-break).

    The top-k is ``orderBy().limit(50)`` — Spark plans
    TakeOrderedAndProject (per-partition top-k, then merge; no global
    sort of the vocabulary). Ranks are then assigned over the surviving
    ≤50 rows with an unpartitioned ``row_number`` window — bounded by
    the preceding LIMIT at any scale, so the single-reducer window is
    a constant-size (k=50) step, not a scale hazard. (r13: this
    replaces r2's windowless triangular self-join, whose two
    references to ``top`` made Spark compute the WHOLE scan→explode→
    aggregate subtree twice — 2 parquet scans, 2 exchanges; measured
    0.34 s → 0.19 s at sf0.1. The order is a strict total order —
    ``token`` is the group key, so (n desc, token asc) has no ties —
    making row_number ≡ the old 1 + |rows strictly before| rank.)"""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    order = [F.col("n").desc(), F.col("token").asc()]
    top = tx.word_counts(docs).orderBy(*order).limit(50)
    w = Window.orderBy(*order)
    return top.select(
        "token", "n", F.row_number().over(w).cast("bigint").alias("rank")
    )


@register(
    "f8_tfidf",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    tc AS (SELECT doc_id, token, count(*) AS cnt FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1),
    dfc AS (SELECT token, count(*) AS df FROM tc GROUP BY 1),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT tc.doc_id, tc.token,
           round(CAST(cnt AS DOUBLE) / doc_len, 6) AS tf,
           round(ln((n_docs + 1.0) / (df + 1.0)), 6) AS idf,
           round((CAST(cnt AS DOUBLE) / doc_len)
                 * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
    FROM tc JOIN dl USING (doc_id) JOIN dfc USING (token) CROSS JOIN nd
    """,
)
def f8_tfidf(spark, sf_dir):
    """TF-IDF with a PINNED formula (tf=cnt/len, idf=ln((N+1)/(df+1)))
    so both engines compute identical doubles."""
    return tx.tf_idf(t(spark, sf_dir, "documents"))


@register(
    "f9_ngrams",
    oracle="""
    WITH d AS (SELECT lang, string_split(text, ' ') AS toks FROM documents)
    SELECT lang, toks[i] || ' ' || toks[i + 1] AS bigram, count(*) AS n
    FROM d, unnest(generate_series(1, len(toks) - 1)) AS g(i)
    GROUP BY 1, 2
    """,
)
def f9_ngrams(spark, sf_dir):
    """Bigram counts per language via indexed token-array slicing."""
    return tx.bigrams(t(spark, sf_dir, "documents"))


@register(
    "f10_lang_stats",
    oracle=f"""
    SELECT lang, count(*) AS n_docs,
           {sql_exact_mean6('sum(n_chars)', 'count(*)')} AS avg_chars,
           {sql_exact_mean6("sum(len(string_split(text, ' ')))",
                            'count(*)')} AS avg_tokens,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def f10_lang_stats(spark, sf_dir):
    """Per-language corpus stats. The char/token means are means of
    INTEGERS, computed via the exact integer form (functions/rounding):
    round(avg(int),6) diverges between engines when s/n lands on a
    shortest-repr half — structural for dyadic group sizes."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("__sc"),
            F.sum(F.size(F.split("text", " ")).cast("bigint")).alias("__st"),
            F.countDistinct("source").alias("n_sources"),
        )
        .withColumn("avg_chars", exact_mean6("__sc", "n_docs"))
        .withColumn("avg_tokens", exact_mean6("__st", "n_docs"))
        .select("lang", "n_docs", "avg_chars", "avg_tokens", "n_sources")
    )


@register(
    "f11_multimodal_join",
    oracle="""
    SELECT d.doc_id, d.lang, e.label,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
           round(sqrt(list_reduce(
             list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x),
             (a, b) -> a + b)), 6) AS l2_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def f11_multimodal_join(spark, sf_dir):
    """Cross-modality join: text stats + vector norm per id."""
    from ..functions.vector import l2_norm, to_double_array

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    return docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id",
        "lang",
        "label",
        F.size(F.split("text", " ")).cast("bigint").alias("n_toks"),
        r6(l2_norm(to_double_array("embedding"))).alias("l2_norm"),
    )


@register(
    "f12_doc_length_dedup_rate",
    oracle=f"""
    SELECT 'n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM documents
    UNION ALL SELECT 'n_langs', CAST(count(DISTINCT lang) AS DOUBLE) FROM documents
    UNION ALL SELECT 'n_sources', CAST(count(DISTINCT source) AS DOUBLE) FROM documents
    UNION ALL SELECT 'avg_chars',
        {sql_exact_mean6('sum(n_chars)', 'count(*)')} FROM documents
    UNION ALL SELECT 'exact_dup_rate',
        {sql_exact_mean6(
            f"count(*) - count(DISTINCT md5({sql_exact_fold('text')}))",
            'count(*)')} FROM documents
    UNION ALL SELECT 'total_tokens',
        CAST(sum(len(string_split(text, ' '))) AS DOUBLE) FROM documents
    """,
)
def f12_doc_length_dedup_rate(spark, sf_dir):
    """Corpus quality report as (metric, value) rows — one scan, one
    aggregate, unpivoted with stack(). avg_chars and exact_dup_rate are
    ratios of exact integers → computed via the exact integer mean
    (functions/rounding), immune to the engines' round-at-half split."""
    docs = t(spark, sf_dir, "documents")
    agg = docs.agg(
        F.count(F.lit(1)).alias("__n"),
        F.countDistinct("lang").cast("double").alias("n_langs"),
        F.countDistinct("source").cast("double").alias("n_sources"),
        F.sum("n_chars").alias("__sc"),
        F.countDistinct(dd.normalized_text_hash("text")).alias("__nd"),
        F.sum(F.size(F.split("text", " "))).cast("double").alias("total_tokens"),
    ).select(
        F.col("__n").cast("double").alias("n_docs"),
        "n_langs",
        "n_sources",
        exact_mean6("__sc", "__n").alias("avg_chars"),
        exact_mean6("(__n - __nd)", "__n").alias("exact_dup_rate"),
        "total_tokens",
    )
    return agg.selectExpr(
        "stack(6, 'n_docs', n_docs, 'n_langs', n_langs, 'n_sources', n_sources, "
        "'avg_chars', avg_chars, 'exact_dup_rate', exact_dup_rate, "
        "'total_tokens', total_tokens) AS (metric, value)"
    )


# --------------------------------------------------------------------------
@register(
    "f13_langid",
    oracle="""
    WITH toks AS (SELECT d.doc_id, d.lang, unnest(string_split(d.text, ' ')) AS token
                  FROM documents d),
    -- NULL lang trains no profile (see operators/text.lang_profiles)
    counts AS (SELECT lang, token, count(*) AS n FROM toks
               WHERE lang IS NOT NULL GROUP BY 1, 2),
    prof AS (SELECT lang AS cand_lang, list(token) AS profile FROM (
               SELECT lang, token,
                      -- encode(): see c5b (non-ASCII sort-key hazard)
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY n DESC, encode(token)) AS rn
               FROM counts) WHERE rn <= 10 GROUP BY lang),
    d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
          FROM documents),
    scored AS (SELECT d.doc_id, d.lang, p.cand_lang,
                      CAST(len(list_intersect(d.toks, p.profile)) AS BIGINT)
                        AS overlap
               FROM d CROSS JOIN prof p)
    SELECT doc_id, lang, cand_lang AS pred_lang, overlap,
           -- BIGINT: nullable-boolean pandas carrier differs per engine
           CAST(cand_lang = lang AS BIGINT) AS is_correct
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY overlap DESC, cand_lang) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def f13_langid(spark, sf_dir):
    """Language ID by corpus-derived token profiles (top-10 tokens per
    language; score = profile overlap, argmax with alphabetical
    tie-break). Deterministic, fully relational."""
    return tx.classify_language(t(spark, sf_dir, "documents"), top_n=10)


@register(
    "f14_quality",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS u,
             CAST(list_reduce(list_transform(string_split(text, ' '),
                  x -> length(x)), (a, bb) -> a + bb) AS BIGINT) AS L,
             CAST(least(n_chars, 500) AS BIGINT) AS nc5
      FROM documents),
    q AS (
      SELECT doc_id, lang, n, u, nc5, least(L, 10*n) AS L10 FROM b)
    SELECT doc_id,
           CAST((2*nc5*1000000 + 500) // 1000 AS DOUBLE)/1000000 AS length_score,
           CAST((2*u*1000000 + n) // (2*n) AS DOUBLE)/1000000 AS type_token_ratio,
           CAST((2*L10*1000000 + 10*n) // (20*n) AS DOUBLE)/1000000 AS avg_tok_score,
           CAST((2*(2*n*nc5 + 750*u + 75*L10)*1000000 + 2500*n) // (5000*n)
                AS DOUBLE)/1000000 AS quality
    FROM q
    """,
)
def f14_quality(spark, sf_dir):
    """Pinned-formula document quality scoring (length / type-token
    ratio / avg token length)."""
    return tx.quality_scores(t(spark, sf_dir, "documents"))


@register(
    "f15_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT)
             AS bpe_ish_tokens,
           CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_llm_tokens
    FROM documents
    """,
)
def f15_token_count(spark, sf_dir):
    """Token counting: whitespace, BPE-ish regex, chars/4 estimate."""
    return tx.token_counts(t(spark, sf_dir, "documents"))


@register(
    "f16_fingerprint",
    oracle="""
    SELECT doc_id,
           -- CASE guard: DuckDB's [0] || NULL list-concat yields [0]
           -- (fingerprint 0) on NULL text; the declared semantics are
           -- null-propagating like Spark's aggregate over split(NULL)
           CASE WHEN text IS NULL THEN NULL ELSE
             list_reduce(
               [0::BIGINT] || list_transform(string_split(text, ' '),
                      x -> 7 * length(x)::BIGINT + ascii(x)::BIGINT),
               (acc, x) -> (acc * 31 + x) % 1000000007) END AS fingerprint
    FROM documents
    """,
)
def f16_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (pinned integer recurrence)."""
    return tx.fingerprints(t(spark, sf_dir, "documents"))


@register(
    "f17_multimodal_features",
    oracle="""
    -- strlen/encode, not length/substring: the payload is the UTF-8
    -- BYTES of the text, and byte semantics differ from codepoint
    -- semantics the moment a document is non-ASCII (textedge probe)
    SELECT doc_id, 'text/plain' AS mime,
           CAST(strlen(text) AS BIGINT) AS byte_len,
           lower(substring(hex(encode(text)), 1, 16)) AS head_hex,
           CAST(strlen(text) % 7 AS DOUBLE)  AS f0,
           CAST(strlen(text) % 11 AS DOUBLE) AS f1,
           CAST(strlen(text) % 13 AS DOUBLE) AS f2,
           CAST(strlen(text) % 17 AS DOUBLE) AS f3
    FROM documents
    """,
)
def f17_multimodal_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: binary payload column →
    mapInPandas (Arrow-batched) deterministic feature extraction. The
    oracle recomputes the pinned fake features from the source text
    (payload bytes == utf-8 of the ascii text)."""
    docs = t(spark, sf_dir, "documents")
    return mm.extract_features(mm.attach_binary_payload(docs))


@register(
    "f17b_wav_decode_features",
    oracle=f"""
    -- params DISTINCT + final join-back: decode is a per-row MAP
    -- (replay law — duplicate payload rows in, duplicate feature rows
    -- out), so features compute once per distinct doc and re-expand to
    -- input multiplicity; 1:1 no-op on unique-id fixtures
    WITH params AS (SELECT DISTINCT doc_id, 64 + {sql_pmod('doc_id', 64)} AS n
                    FROM documents),
    samples AS (
      SELECT p.doc_id, {sql_pmod('p.doc_id*31 + g.i*17', 2003)} - 1001 AS s
      FROM params p,
           LATERAL (SELECT unnest(generate_series(0, p.n - 1)) AS i) g
    ),
    feats AS (
      SELECT doc_id,
             CAST(8000 + ({sql_pmod('doc_id', 4)}) * 4000 AS BIGINT) AS sample_rate,
             count(*) AS n_samples,
             {sql_exact_mean6('sum(s)', 'count(*)')} AS mean_amp,
             round(sqrt(avg(s*s)), 6) AS rms,
             max(abs(s)) AS peak
      FROM samples GROUP BY doc_id)
    SELECT f.* FROM documents d JOIN feats f ON f.doc_id = d.doc_id
    """,
)
def f17b_wav_decode_features(spark, sf_dir):
    """REAL multimodal decode end-to-end: per-doc PCM16 WAV payloads
    (deterministic integer waveform, encoded with the pure-python RIFF
    codec) ride a binary column; mapInPandas PARSES the container —
    chunk walk, fmt validation, sample extraction — and emits waveform
    features. The oracle recomputes the features from the generative
    formula, so any bit error in encode or decode breaks the hash.
    Sample rate comes from the parsed header, not the formula."""
    docs = t(spark, sf_dir, "documents")
    return mm.extract_wav_features(mm.attach_wav_payload(docs))


@register(
    "f17c_bmp_decode_features",
    oracle=f"""
    -- params DISTINCT + final join-back: per-row MAP replay law (see
    -- f17b)
    WITH params AS (
      SELECT DISTINCT doc_id, 8 + {sql_pmod('doc_id', 9)} AS w, 6 + {sql_pmod('doc_id', 7)} AS h
      FROM documents),
    px AS (
      SELECT p.doc_id, p.w, p.h, gx.x, gy.y
      FROM params p,
           LATERAL (SELECT unnest(generate_series(0, p.w - 1)) AS x) gx,
           LATERAL (SELECT unnest(generate_series(0, p.h - 1)) AS y) gy),
    feats AS (
      SELECT doc_id,
             CAST(max(w) AS BIGINT) AS width,
             CAST(max(h) AS BIGINT) AS height,
             {sql_exact_mean6("sum(" + sql_pmod("doc_id + 3*x + 5*y", 256) + ")", "count(*)")} AS mean_r,
             {sql_exact_mean6("sum(" + sql_pmod("2*doc_id + 7*x + y", 256) + ")", "count(*)")} AS mean_g,
             {sql_exact_mean6("sum(" + sql_pmod("5*doc_id + x + 11*y", 256) + ")", "count(*)")} AS mean_b
      FROM px GROUP BY doc_id)
    SELECT f.* FROM documents d JOIN feats f ON f.doc_id = d.doc_id
    """,
)
def f17c_bmp_decode_features(spark, sf_dir):
    """REAL image decode end-to-end: per-doc uncompressed 24-bit BMP
    payloads (deterministic integer pixel pattern, encoded with the
    pure-python codec) ride a binary column; mapInPandas PARSES the
    container — header validation, bottom-up padded rows, BGR order —
    and emits dimensions + per-channel means. The oracle recomputes the
    features from the generative formula, so any bit error in encode or
    decode breaks the hash. Dimensions come from the parsed header."""
    docs = t(spark, sf_dir, "documents")
    return mm.extract_bmp_features(mm.attach_bmp_payload(docs))


@register(
    "f17d_jpeg_decode_features",
    oracle=f"""
    -- Baseline JPEG at quality 90 (IJG scale 20): DC quant steps are
    -- floor((16*20+50)/100) = 3 (luma) and floor((17*20+50)/100) = 3
    -- (chroma). Images are grids of CONSTANT 8x8 tiles, so each tile
    -- reconstructs from its lone DC coefficient: the exact half-up
    -- quantize/dequantize chain below (matching the codec's contract).
    -- params DISTINCT + final join-back: per-row MAP replay law (see
    -- f17b)
    WITH params AS (
      SELECT DISTINCT doc_id, 2 + {sql_pmod('doc_id', 3)} AS wt, 1 + {sql_pmod('doc_id', 2)} AS ht
      FROM documents),
    tiles AS (
      SELECT p.doc_id, p.wt, p.ht, gx.tx, gy.ty,
             CAST({sql_pmod('p.doc_id + 37*gx.tx + 53*gy.ty', 256)} AS DOUBLE) AS r,
             CAST({sql_pmod('2*p.doc_id + 11*gx.tx + 29*gy.ty', 256)} AS DOUBLE) AS g,
             CAST({sql_pmod('3*p.doc_id + 17*gx.tx + 7*gy.ty', 256)} AS DOUBLE) AS b
      FROM params p,
           LATERAL (SELECT unnest(generate_series(0, p.wt - 1)) AS tx) gx,
           LATERAL (SELECT unnest(generate_series(0, p.ht - 1)) AS ty) gy),
    ycc AS (
      SELECT doc_id, wt, ht,
             0.299*r + 0.587*g + 0.114*b AS y,
             128.0 - 0.168736*r - 0.331264*g + 0.5*b AS cb,
             128.0 + 0.5*r - 0.418688*g - 0.081312*b AS cr
      FROM tiles),
    rec AS (
      SELECT doc_id, wt, ht,
             floor(8.0*(y  - 128.0)/3.0 + 0.5)*3.0/8.0 + 128.0 AS y2,
             floor(8.0*(cb - 128.0)/3.0 + 0.5)*3.0/8.0 + 128.0 AS cb2,
             floor(8.0*(cr - 128.0)/3.0 + 0.5)*3.0/8.0 + 128.0 AS cr2
      FROM ycc),
    px AS (
      SELECT doc_id, wt, ht,
             least(255.0, greatest(0.0,
               floor(y2 + 1.402*(cr2 - 128.0) + 0.5))) AS rr,
             least(255.0, greatest(0.0,
               floor(y2 - 0.344136*(cb2 - 128.0) - 0.714136*(cr2 - 128.0) + 0.5))) AS gg,
             least(255.0, greatest(0.0,
               floor(y2 + 1.772*(cb2 - 128.0) + 0.5))) AS bb
      FROM rec),
    feats AS (
      SELECT doc_id,
             CAST(8 * max(wt) AS BIGINT) AS width,
             CAST(8 * max(ht) AS BIGINT) AS height,
             {sql_exact_mean6('CAST(sum(rr) AS BIGINT)', 'count(*)')} AS mean_r,
             {sql_exact_mean6('CAST(sum(gg) AS BIGINT)', 'count(*)')} AS mean_g,
             {sql_exact_mean6('CAST(sum(bb) AS BIGINT)', 'count(*)')} AS mean_b
      FROM px GROUP BY doc_id)
    SELECT f.* FROM documents d JOIN feats f ON f.doc_id = d.doc_id
    """,
)
def f17d_jpeg_decode_features(spark, sf_dir):
    """REAL compressed-image decode end-to-end: per-doc baseline JPEGs
    (constant-8x8-tile images, encoded with the pure-numpy T.81 codec —
    Annex K tables, canonical Huffman, zigzag, byte stuffing) ride a
    binary column; mapInPandas DECODES the full bitstream — marker
    walk, Huffman, dequant, IDCT, color convert — and emits dimensions
    + per-channel means. Constant tiles make the lossy chain exact
    arithmetic, so the oracle recomputes the DECODED (not source!)
    pixels and any bit error anywhere in encode or decode breaks the
    hash. Dimensions come from the parsed SOF0 header."""
    docs = t(spark, sf_dir, "documents")
    return mm.extract_jpeg_features(mm.attach_jpeg_payload(docs))


@register(
    "f17e_png_decode_features",
    oracle=f"""
    -- params DISTINCT + final join-back: per-row MAP replay law (see
    -- f17b)
    WITH params AS (
      SELECT DISTINCT doc_id, 5 + {sql_pmod('doc_id', 11)} AS w, 4 + {sql_pmod('doc_id', 6)} AS h
      FROM documents),
    px AS (
      SELECT p.doc_id, p.w, p.h, gx.x, gy.y
      FROM params p,
           LATERAL (SELECT unnest(generate_series(0, p.w - 1)) AS x) gx,
           LATERAL (SELECT unnest(generate_series(0, p.h - 1)) AS y) gy),
    feats AS (
      SELECT doc_id,
             CAST(max(w) AS BIGINT) AS width,
             CAST(max(h) AS BIGINT) AS height,
             {sql_exact_mean6("sum(" + sql_pmod("7*doc_id + 2*x + 13*y", 256) + ")", "count(*)")} AS mean_r,
             {sql_exact_mean6("sum(" + sql_pmod("doc_id + 9*x + 4*y", 256) + ")", "count(*)")} AS mean_g,
             {sql_exact_mean6("sum(" + sql_pmod("4*doc_id + 5*x + 3*y", 256) + ")", "count(*)")} AS mean_b
      FROM px GROUP BY doc_id)
    SELECT f.* FROM documents d JOIN feats f ON f.doc_id = d.doc_id
    """,
)
def f17e_png_decode_features(spark, sf_dir):
    """REAL lossless compressed-image decode end-to-end: per-doc RGB8
    PNGs (smooth integer gradients, encoded with the stdlib-zlib codec
    using the adaptive per-row filter heuristic) ride a binary column;
    mapInPandas walks the chunk list (CRC-validated), inflates, and
    undoes whichever of the five scanline filters the encoder chose,
    then emits dimensions + per-channel means. Lossless → the oracle
    recomputes features straight from the generative pixel formula;
    any bit error in DEFLATE framing, filtering, or unfiltering breaks
    the hash."""
    docs = t(spark, sf_dir, "documents")
    return mm.extract_png_features(mm.attach_png_payload(docs))


@register(
    "f17f_video_frame_sample",
    oracle=f"""
    -- Frames sampled every 2nd (fi = 0, 2, ...); each frame is two
    -- constant 8x8 tiles, so decoded pixels follow the same exact DC
    -- chain as f17d (q=3 at quality 90, half-up rounding).
    -- params DISTINCT + final join-back: per-row MAP replay law (see
    -- f17b)
    WITH params AS (
      SELECT DISTINCT doc_id, 2 + {sql_pmod('doc_id', 3)} AS n_frames FROM documents),
    sampled AS (
      SELECT p.doc_id, p.n_frames, g.fi
      FROM params p,
           LATERAL (SELECT unnest(generate_series(0, p.n_frames - 1)) AS fi) g
      WHERE g.fi % 2 = 0),
    tiles AS (
      SELECT s.doc_id, s.n_frames, s.fi, tx.tx,
             CAST({sql_pmod('s.doc_id + 37*tx.tx + 19*s.fi', 256)} AS DOUBLE) AS r,
             CAST({sql_pmod('2*s.doc_id + 11*tx.tx + 23*s.fi', 256)} AS DOUBLE) AS g,
             CAST({sql_pmod('3*s.doc_id + 17*tx.tx + 29*s.fi', 256)} AS DOUBLE) AS b
      FROM sampled s, LATERAL (SELECT unnest([0, 1]) AS tx) tx),
    ycc AS (
      SELECT doc_id, n_frames, fi,
             0.299*r + 0.587*g + 0.114*b AS y,
             128.0 - 0.168736*r - 0.331264*g + 0.5*b AS cb,
             128.0 + 0.5*r - 0.418688*g - 0.081312*b AS cr
      FROM tiles),
    rec AS (
      SELECT doc_id, n_frames, fi,
             floor(8.0*(y  - 128.0)/3.0 + 0.5)*3.0/8.0 + 128.0 AS y2,
             floor(8.0*(cb - 128.0)/3.0 + 0.5)*3.0/8.0 + 128.0 AS cb2,
             floor(8.0*(cr - 128.0)/3.0 + 0.5)*3.0/8.0 + 128.0 AS cr2
      FROM ycc),
    px AS (
      SELECT doc_id, n_frames,
             least(255.0, greatest(0.0,
               floor(y2 + 1.402*(cr2 - 128.0) + 0.5))) AS rr,
             least(255.0, greatest(0.0,
               floor(y2 - 0.344136*(cb2 - 128.0) - 0.714136*(cr2 - 128.0) + 0.5))) AS gg,
             least(255.0, greatest(0.0,
               floor(y2 + 1.772*(cb2 - 128.0) + 0.5))) AS bb
      FROM rec),
    feats AS (
      SELECT doc_id,
             CAST(max(n_frames) AS BIGINT) AS n_frames,
             CAST(count(*) / 2 AS BIGINT) AS n_sampled,
             CAST(16 AS BIGINT) AS width,
             CAST(8 AS BIGINT) AS height,
             {sql_exact_mean6('CAST(sum(rr) AS BIGINT)', 'count(*)')} AS mean_r,
             {sql_exact_mean6('CAST(sum(gg) AS BIGINT)', 'count(*)')} AS mean_g,
             {sql_exact_mean6('CAST(sum(bb) AS BIGINT)', 'count(*)')} AS mean_b
      FROM px GROUP BY doc_id)
    SELECT f.* FROM documents d JOIN feats f ON f.doc_id = d.doc_id
    """,
)
def f17f_video_frame_sample(spark, sf_dir):
    """REAL video decode end-to-end: per-doc MJPEG-AVI payloads (2-4
    constant-tile frames muxed with the pure-python RIFF muxer) ride a
    binary column; mapInPandas DEMUXES the container (recursive RIFF
    walk, avih cross-check), samples every 2nd frame, decodes each
    sampled frame with the pure-numpy JPEG decoder, and emits container
    metadata + channel means over the sampled frames. The oracle
    recomputes the DECODED pixels via the exact DC chain, so a bit
    error anywhere — muxing, demuxing, frame indexing, or the JPEG
    bitstream — breaks the hash. The canonical training-data video op
    (sample → featurize) with zero media libraries."""
    docs = t(spark, sf_dir, "documents")
    return mm.extract_video_features(mm.attach_video_payload(docs), every_n=2)


@register(
    "f20_stratified_sample",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents)
    SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
    FROM h WHERE bucket < 20
    """,
)
def f20_stratified_sample(spark, sf_dir):
    """Deterministic hash-based 20% sample (md5(doc_id) bucket < 20) —
    the reproducible distributed sampling pattern for training-data
    splits: no RNG state, stable under re-runs/retries/repartition,
    stratum boundaries identical on every engine. (Spark's native
    df.sample is seed-dependent per-partition → not cross-engine
    checkable.)"""
    docs = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    return docs.select("doc_id", "lang", bucket.alias("bucket")).filter(
        F.col("bucket") < 20
    )


@register(
    "f21_neardup_clusters",
    oracle="""
    -- DISTINCT = the replay law (SURVEY.md §5.4): near-dup pairs are
    -- keyed by document identity; replicated rows collapse at ingress
    WITH RECURSIVE d AS (
      SELECT DISTINCT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(a.toks || b.toks)) >= 0.6),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(doc, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.doc)
    SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc
    """,
)
def f21_neardup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING: connected components over the exact-Jaccard
    pair graph (f2's pairs) — every doc labeled with its transitive
    group's smallest doc id. ``neardup_clusters`` routes by graph size
    (driver union-find under its edge budget, the star loop past it);
    the labels hash-match DuckDB's recursive-CTE reachability."""
    docs = t(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs_postings(
        docs, blocking=["lang", "source"], threshold=0.6
    )
    return dd.neardup_clusters(docs, pairs)


@register(
    "f21b_neardup_clusters_star",
    oracle="""
    -- DISTINCT = the replay law (SURVEY.md §5.4): near-dup pairs are
    -- keyed by document identity; replicated rows collapse at ingress
    WITH RECURSIVE d AS (
      SELECT DISTINCT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(a.toks || b.toks)) >= 0.6),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(doc, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.doc)
    SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc
    """,
)
def f21b_neardup_clusters_star(spark, sf_dir):
    """f21's connected components via alternating small-star/large-star
    (O(log n) rounds — the true 100-TB CC shape), called directly rather
    than through f21's size routing. Identical labels, same oracle;
    round-count bound and equality with the driver route are
    pytest-asserted (tests/test_operators.py, tests/test_properties.py)."""
    docs = t(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs_postings(
        docs, blocking=["lang", "source"], threshold=0.6
    )
    return dd.neardup_clusters_star(docs, pairs)


@register(
    "f22_redact_pii",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@mail-' || (doc_id % 7)
                  || '.example.com or call '
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                  || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-'
                  || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
               AS full_text
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(full_text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(full_text, '\d{3}-\d{3}-\d{4}'))
             AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(full_text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g')) AS redacted_hash
    FROM aug
    """,
)
def f22_redact_pii(spark, sf_dir):
    """PII scrubbing — a training-data pipeline staple: count and
    redact emails/phone numbers with anchored regexes, all in codegen
    (regexp_count / regexp_replace — no UDF). Deterministic synthetic
    PII is appended per doc (both engines build the identical string)
    so the redaction path is exercised on every row; the md5 of the
    redacted text proves byte-identical scrubbing, not just counts."""
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\d{3}-\d{3}-\d{4}"
    docs = t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail-"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com or call "),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"), F.lit("-"),
            F.lpad(((F.col("doc_id") * 7) % 1000).cast("string"), 3, "0"), F.lit("-"),
            F.lpad(((F.col("doc_id") * 13) % 10000).cast("string"), 4, "0"),
        ).alias("full_text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace("full_text", email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    return aug.select(
        "doc_id",
        F.regexp_count("full_text", F.lit(email_re)).cast("bigint").alias("n_emails"),
        F.regexp_count("full_text", F.lit(phone_re)).cast("bigint").alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


@register(
    "f23_dedup_suppression",
    oracle="""
    -- DISTINCT = the replay law (SURVEY.md §5.4): near-dup pairs are
    -- keyed by document identity; replicated rows collapse at ingress
    WITH RECURSIVE d AS (
      SELECT DISTINCT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(a.toks || b.toks)) >= 0.6),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(doc, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.doc),
    clusters AS (
      SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc)
    SELECT c.cluster_id,
           count(*) AS n_members,
           count(*) - 1 AS n_suppressed,
           CAST(sum(CASE WHEN c.doc_id != c.cluster_id THEN length(doc.text)
                         ELSE 0 END) AS BIGINT) AS bytes_suppressed
    FROM clusters c
    JOIN (SELECT DISTINCT doc_id, text FROM documents) doc
      ON doc.doc_id = c.doc_id
    GROUP BY c.cluster_id
    HAVING count(*) > 1
    """,
)
def f23_dedup_suppression(spark, sf_dir):
    """The dedup DECISION output: per near-dup cluster (f21's connected
    components), keep the smallest doc id and report what suppression
    buys — member count and bytes removed. This is the artifact a
    100-TB curation run actually ships (keep-list + savings report);
    singleton clusters are excluded (nothing to suppress)."""
    docs = t(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs_postings(
        docs, blocking=["lang", "source"], threshold=0.6
    )
    clusters = dd.neardup_clusters_star(docs, pairs)
    # replay-law distinct on the byte-size side: clusters are keyed
    # (one row per doc identity), so a per-row join would multiply
    # n_members/bytes under replicated input rows
    sizes = docs.select(
        "doc_id", F.length("text").alias("n_bytes")
    ).distinct()
    return (
        clusters.join(sizes, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (F.count(F.lit(1)) - 1).alias("n_suppressed"),
            F.sum(
                F.when(F.col("doc_id") != F.col("cluster_id"), F.col("n_bytes"))
                .otherwise(F.lit(0))
            ).alias("bytes_suppressed"),
        )
        .filter(F.col("n_members") > 1)
    )


# --------------------------------------------------------------------------
@register(
    "f24_minhash_pinned_lsh",
    oracle="""
    WITH raw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                 WHERE len(string_split(text, ' ')) >= 3),
    d AS (SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(w) - 2),
                   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS toks
          FROM raw),
    tok AS (SELECT doc_id, unnest(toks) AS tk FROM d),
    seeds AS (SELECT unnest(range(16)) AS j),
    sig AS (
      SELECT doc_id, j,
             min(CAST(('0x' || substr(md5(concat(CAST(j AS VARCHAR), ':', tk)),
                                      1, 15)) AS BIGINT)) AS mh
      FROM tok, seeds GROUP BY doc_id, j),
    bands AS (
      SELECT doc_id, j // 4 AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS band_hash
      FROM sig GROUP BY doc_id, j // 4),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared_bands
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT c.doc_a, c.doc_b, c.n_shared_bands,
           round(CAST(len(list_intersect(da.toks, db.toks)) AS DOUBLE)
                 / len(list_distinct(da.toks || db.toks)), 6) AS jaccard
    FROM cand c
    JOIN d da ON da.doc_id = c.doc_a
    JOIN d db ON db.doc_id = c.doc_b
    """,
)
def f24_minhash_pinned_lsh(spark, sf_dir):
    """MinHash-LSH with PINNED hashes (md5-derived, seed j baked into
    the hashed string) — the same band-bucket candidate generation as
    f3's MLlib tier, but cross-engine reproducible, so the whole
    LSH dataflow is hash-checked against DuckDB rather than rows-only:
    3-token shingling, signatures (16 min-hashes), 4-row banding,
    bucket self-join candidates, exact shingle-Jaccard rescore of
    candidates only. Shingles (not unigrams) make banding
    discriminative — random docs over a shared vocabulary overlap in
    tokens but not token sequences. Candidate work is ∝ Σ bucket²
    (docs agreeing on a full band), never corpus² — the verifiable
    form of the 100-TB near-dup path."""
    docs = t(spark, sf_dir, "documents")
    cand = dd.minhash_band_candidates(docs, n_hashes=16, band_rows=4, k_shingle=3)
    d = docs.filter(F.size(F.split("text", " ")) >= 3).select(
        "doc_id", dd.shingles("text", 3).alias("toks")
    )
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            r6(
                F.size(F.array_intersect("toks_a", "toks_b"))
                / F.size(F.array_union("toks_a", "toks_b"))
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "f25_contamination",
    oracle="""
    WITH raw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                 WHERE len(string_split(text, ' ')) >= 3),
    d AS (SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(w) - 2),
                   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh
          FROM raw),
    eval_sh AS (SELECT DISTINCT unnest(sh) AS tk FROM d WHERE doc_id % 97 = 0),
    train AS (SELECT doc_id, sh FROM d WHERE doc_id % 97 <> 0),
    train_sh AS (SELECT doc_id, unnest(sh) AS tk FROM train),
    hits AS (SELECT t.doc_id, count(*) AS n_contaminated
             FROM train_sh t JOIN eval_sh e ON e.tk = t.tk
             GROUP BY t.doc_id)
    SELECT tr.doc_id, CAST(len(tr.sh) AS BIGINT) AS n_shingles,
           CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / len(tr.sh), 6)
             AS contamination_rate
    FROM train tr LEFT JOIN hits h ON h.doc_id = tr.doc_id
    """,
)
def f25_contamination(spark, sf_dir):
    """Benchmark-contamination check: fraction of each training doc's
    distinct 3-gram shingles that collide with the held-out eval set
    (doc_id % 97 == 0 — a deterministic split). The canonical
    train/eval decontamination op for an LLM corpus.
    Scale shape: the eval n-gram index is orders of magnitude smaller
    than the corpus → broadcast it and the whole check is a narrow
    map-side join over the exploded training shingles (no shuffle of
    the big side); per-doc counts partial-aggregate before the one
    small shuffle on doc_id."""
    docs = t(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 3
    )
    d = docs.select(
        "doc_id", dd.shingles("text", 3).alias("sh"), (F.col("doc_id") % 97 == 0).alias("is_eval")
    )
    eval_sh = (
        d.filter("is_eval").select(F.explode("sh").alias("tk")).distinct()
    )
    train = d.filter(~F.col("is_eval"))
    train_sh = train.select("doc_id", F.explode("sh").alias("tk"))
    hits = (
        train_sh.join(F.broadcast(eval_sh), "tk")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        train.select("doc_id", F.size("sh").cast("long").alias("n_shingles"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            r6(
                F.coalesce("n_contaminated", F.lit(0)) / F.col("n_shingles")
            ).alias("contamination_rate"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "f26_repetition",
    oracle="""
    WITH raw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                 WHERE len(string_split(text, ' ')) >= 3),
    tok AS (SELECT doc_id, unnest(w) AS tk FROM raw),
    tc AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY doc_id, tk),
    top AS (SELECT doc_id, max(c) AS top_c FROM tc GROUP BY doc_id),
    tri AS (SELECT doc_id, len(w) AS n_tokens,
                   len(w) - 2 AS n_trigrams,
                   len(list_distinct(list_transform(
                     generate_series(1, len(w) - 2),
                     i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS n_distinct_tri
            FROM raw)
    SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
           round(CAST(p.top_c AS DOUBLE) / t.n_tokens, 6) AS top_token_frac,
           round(1.0 - CAST(t.n_distinct_tri AS DOUBLE) / t.n_trigrams, 6)
             AS dup_trigram_frac,
           (CAST(p.top_c AS DOUBLE) / t.n_tokens > 0.2
            OR 1.0 - CAST(t.n_distinct_tri AS DOUBLE) / t.n_trigrams > 0.5)
             AS flag_repetitive
    FROM tri t JOIN top p ON p.doc_id = t.doc_id
    """,
)
def f26_repetition(spark, sf_dir):
    """Within-doc repetition stats (Gopher-style repetition filters):
    top-token mass fraction + duplicate-trigram fraction per doc, with
    a pinned-threshold repetitive flag. Catches the "same line/phrase
    looped" degenerate docs that exact- and near-dedup both miss.
    Scale shape: one explode + two partial-aggregated groupBys keyed by
    doc (token counts combine map-side); trigram stats are pure column
    exprs — no shuffle at all for that branch."""
    docs = t(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 3
    )
    toks = F.split("text", " ")
    top = (
        docs.select("doc_id", F.explode(toks).alias("tk"))
        .groupBy("doc_id", "tk")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    tri = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks) - 2).alias("n_trigrams"),
        F.size(dd.shingles("text", 3)).alias("n_distinct_tri"),
    )
    top_frac = F.col("top_c") / F.col("n_tokens")
    dup_frac = F.lit(1.0) - F.col("n_distinct_tri") / F.col("n_trigrams")
    return tri.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        r6(top_frac).alias("top_token_frac"),
        r6(dup_frac).alias("dup_trigram_frac"),
        ((top_frac > 0.2) | (dup_frac > 0.5)).alias("flag_repetitive"),
    )


# --------------------------------------------------------------------------
@register(
    "f27_rule_filters",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           round(CAST(list_reduce(list_transform(w, x -> length(x)),
                                  (a, b) -> a + b) AS DOUBLE) / len(w), 6)
             AS mean_tok_len,
           round(CAST(len(list_filter(w, x -> regexp_full_match(x, '[a-z]+')))
                      AS DOUBLE) / len(w), 6) AS alpha_frac,
           -- BIGINT: nullable-boolean pandas carrier differs per engine
           CAST(len(list_intersect(w, ['the', 'a', 'of', 'to', 'and'])) > 0
                AS BIGINT) AS has_stopword,
           (len(w) BETWEEN 10 AND 1000
            AND CAST(list_reduce(list_transform(w, x -> length(x)),
                                 (a, b) -> a + b) AS DOUBLE) / len(w)
                BETWEEN 2 AND 12
            AND CAST(len(list_filter(w, x -> regexp_full_match(x, '[a-z]+')))
                     AS DOUBLE) / len(w) >= 0.8
            AND len(list_intersect(w, ['the', 'a', 'of', 'to', 'and'])) > 0)
             ::BIGINT AS keep
    FROM d
    """,
)
def f27_rule_filters(spark, sf_dir):
    """Rule-based quality gate (C4/Gopher-style document filters):
    token-count bounds, mean token length bounds, alphabetic-token
    fraction, stopword presence — each flag emitted plus the composite
    keep decision, all with pinned thresholds. Pure column expressions
    (higher-order array fns) → whole-stage codegen, scan-speed at any
    scale: zero shuffles, zero Python. The alpha filter anchors with
    \\A..\\z (r13 regex-law sweep: Java's $ matches before a trailing
    newline, so a token 'abc\\n' would count alphabetic on Spark but
    not under the oracle's RE2 regexp_full_match)."""
    docs = t(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n = F.size(w)
    tok_chars = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, b: a + b
    )
    mean_len = tok_chars / n
    alpha_frac = F.size(F.filter(w, lambda x: x.rlike(r"\A[a-z]+\z"))) / n
    stop = F.size(F.array_intersect(w, F.array(*[F.lit(s) for s in
                                                 ["the", "a", "of", "to", "and"]]))) > 0
    keep = (
        (n >= 10) & (n <= 1000)
        & (mean_len >= 2) & (mean_len <= 12)
        & (alpha_frac >= 0.8)
        & stop
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        r6(mean_len).alias("mean_tok_len"),
        r6(alpha_frac).alias("alpha_frac"),
        # BIGINT: nullable-boolean pandas carrier differs per engine
        stop.cast("bigint").alias("has_stopword"),
        keep.cast("bigint").alias("keep"),
    )


# --------------------------------------------------------------------------
@register(
    "f28_source_mix_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CAST(substr(source, 4) AS INT) AS src_k,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents),
    w AS (
      SELECT doc_id, source, bucket,
             CASE WHEN src_k < 5 THEN 100
                  WHEN src_k < 10 THEN 50
                  WHEN src_k < 15 THEN 25
                  ELSE 10 END AS weight
      FROM d)
    SELECT doc_id, source, CAST(weight AS INT) AS weight,
           CAST(bucket AS BIGINT) AS bucket
    FROM w WHERE bucket < weight
    """,
)
def f28_source_mix_sample(spark, sf_dir):
    """Source-mixture weighted sampling: each source gets a pinned
    retention rate (100/50/25/10% by source tier — the domain-weighting
    step of a training-data mix), applied via the same deterministic
    md5 bucket as f20, so the sample is reproducible under re-runs,
    retries and repartitioning, and composable with f20's split (same
    hash → consistent nesting). Scan-speed: pure exprs, the filter
    reaches the parquet scan; in production the per-source weights are
    a broadcast dim table."""
    docs = t(spark, sf_dir, "documents")
    src_k = F.substring("source", 4, 10).cast("int")
    weight = (
        F.when(src_k < 5, 100)
        .when(src_k < 10, 50)
        .when(src_k < 15, 25)
        .otherwise(10)
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    return (
        docs.select(
            "doc_id",
            "source",
            weight.cast("int").alias("weight"),
            bucket.alias("bucket"),
        )
        .filter(F.col("bucket") < F.col("weight"))
    )


# --------------------------------------------------------------------------
@register(
    "f30_pipeline_yield",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
    scored AS (
      SELECT source, len(w) AS n_tokens,
             (len(w) BETWEEN 10 AND 1000
              AND CAST(list_reduce(list_transform(w, x -> length(x)),
                                   (a, b) -> a + b) AS DOUBLE) / len(w)
                  BETWEEN 2 AND 12
              AND CAST(len(list_filter(w, x -> regexp_full_match(x, '[a-z]+')))
                       AS DOUBLE) / len(w) >= 0.8
              AND len(list_intersect(w, ['the', 'a', 'of', 'to', 'and'])) > 0)
               AS keep
      FROM d)
    SELECT source,
           count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
           CAST(coalesce(sum(n_tokens) FILTER (WHERE keep), 0) AS BIGINT)
             AS tokens_kept,
           round(CAST(coalesce(sum(n_tokens) FILTER (WHERE keep), 0) AS DOUBLE)
                 / sum(n_tokens), 6) AS token_yield
    FROM scored GROUP BY source
    """,
)
def f30_pipeline_yield(spark, sf_dir):
    """Pipeline yield report: per source, how many documents and tokens
    survive the f27 rule gate — THE planning number for a training-data
    mix (token budgets are set on post-filter counts, not raw crawl
    size). One scan with codegen'd rule flags, one partial-aggregated
    groupBy on source; FILTER-style conditional sums avoid a second
    pass."""
    docs = t(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n = F.size(w)
    tok_chars = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, b: a + b
    )
    keep = (
        (n >= 10) & (n <= 1000)
        & (tok_chars / n >= 2) & (tok_chars / n <= 12)
        & (F.size(F.filter(w, lambda x: x.rlike(r"\A[a-z]+\z"))) / n >= 0.8)
        & (F.size(F.array_intersect(w, F.array(*[F.lit(x) for x in
                                                 ["the", "a", "of", "to", "and"]]))) > 0)
    )
    scored = docs.select("source", n.alias("n_tokens"), keep.alias("keep"))
    kept_tokens = F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        kept_tokens.cast("long").alias("tokens_kept"),
        r6(kept_tokens / F.sum("n_tokens")).alias("token_yield"),
    )


# --------------------------------------------------------------------------
@register(
    "f31_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
    freq AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
    total AS (SELECT sum(c) AS n FROM freq)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(CAST(f.c AS DOUBLE) / total.n)), 6) AS avg_logprob
    FROM tok t JOIN freq f ON f.tk = t.tk, total
    GROUP BY t.doc_id
    """,
)
def f31_unigram_logprob(spark, sf_dir):
    """Corpus-LM fluency scoring (the KenLM-shaped quality signal,
    unigram tier): train a unigram model ON the corpus itself (token →
    relative frequency), then score each doc by its mean token
    log-probability. Low scorers are gibberish/outlier docs.
    Scale shape: the LM table is vocabulary-sized → broadcast to the
    token stream (map-side join, no shuffle of the exploded corpus);
    per-doc averaging partial-aggregates. The 100-TB version swaps the
    unigram table for a KenLM shard per worker — same dataflow."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tk"))
    freq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    lm = freq.crossJoin(F.broadcast(total)).select(
        "tk", (F.col("c").cast("double") / F.col("n")).alias("p")
    )
    return (
        tok.join(F.broadcast(lm), "tk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            r6(F.avg(F.log("p"))).alias("avg_logprob"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "f32_quality_aware_dedup",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, md5({sql_exact_fold('text')}) AS text_hash,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS u,
             CAST(list_reduce(list_transform(string_split(text, ' '),
                  x -> length(x)), (a, bb) -> a + bb) AS BIGINT) AS L,
             CAST(least(n_chars, 500) AS BIGINT) AS nc5
      FROM documents),
    q AS (
      SELECT doc_id, text_hash,
             CAST((2*(2*n*nc5 + 750*u + 75*least(L, 10*n))*1000000 + 2500*n)
                  // (5000*n) AS DOUBLE)/1000000 AS quality
      FROM b)
    SELECT doc_id, text_hash, quality,
           count(*) OVER (PARTITION BY text_hash) AS n_copies
    FROM q
    QUALIFY row_number() OVER (PARTITION BY text_hash
                               ORDER BY quality DESC, doc_id) = 1
    """,
)
def f32_quality_aware_dedup(spark, sf_dir):
    """Quality-aware dedup survivor selection: within each exact-dup
    group, keep the HIGHEST-quality copy (f14's pinned score, tie-break
    doc_id) instead of f1's lowest-id — what a production pipeline does
    when duplicates differ in extraction quality. Same single-shuffle
    window shape as f1; only the survivor ordering changes. Quality and
    hash are both per-row expressions, so they are computed in ONE scan
    (quality_scores(keep=("text",))) — a doc_id equi-join between the
    two would not only cost a shuffle, it would MULTIPLY rows when
    doc_id is replicated (at-least-once replay), inflating n_copies
    quadratically; fused per-row scoring keeps n_copies = the physical
    copy count, which is exactly what a dedup report must count."""
    docs = t(spark, sf_dir, "documents")
    d = tx.quality_scores(docs, keep=("text",)).select(
        "doc_id", dd.normalized_text_hash("text").alias("text_hash"), "quality"
    )
    from pyspark.sql import Window

    wq = Window.partitionBy("text_hash").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    wc = Window.partitionBy("text_hash")
    return (
        d.withColumn("n_copies", F.count(F.lit(1)).over(wc))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text_hash", "quality", "n_copies")
    )


# --------------------------------------------------------------------------
@register("f33_pq_topk", oracle=None)  # codebooks are data/seed-derived
def f33_pq_topk(spark, sf_dir):
    """Product-quantization ADC approximate top-5 neighbors — the
    32x-compressed-index tier of the vector-search ladder (see
    operators/similarity.py::pq_topk). Rows-only; recall vs the exact
    f4 truth asserted in pytest."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.pq_topk(emb, k=5, m=8, n_codes=32, corpus_key=sf_dir)


# --------------------------------------------------------------------------
@register(
    "f35_token_spectrum",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS tk FROM documents),
    freq AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk)
    SELECT c AS token_freq,
           CAST(count(*) AS BIGINT) AS n_tokens_with_freq
    FROM freq GROUP BY c
    """,
)
def f35_token_spectrum(spark, sf_dir):
    """Token frequency-of-frequencies spectrum (the Zipf/Good-Turing
    count-of-counts): how many vocabulary items occur exactly c times.
    The corpus-health fingerprint — a truncated head or inflated
    singleton tail is the first sign of crawl/tokenizer drift.
    Scale shape: two partial-aggregated groupBys (token, then count);
    the second input is vocabulary-sized, the output is O(distinct
    frequencies) — tiny at any corpus size."""
    docs = t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("tk"))
        .groupBy("tk")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return freq.groupBy(F.col("c").alias("token_freq")).agg(
        F.count(F.lit(1)).alias("n_tokens_with_freq")
    )


# --------------------------------------------------------------------------
@register(
    "f36_cross_source_dups",
    oracle="""
    WITH raw AS (SELECT doc_id, source, string_split(text, ' ') AS w
                 FROM documents
                 WHERE len(string_split(text, ' ')) >= 3),
    d AS (SELECT doc_id, source,
                 list_distinct(list_transform(
                   generate_series(1, len(w) - 2),
                   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS toks
          FROM raw),
    tok AS (SELECT doc_id, unnest(toks) AS tk FROM d),
    seeds AS (SELECT unnest(range(16)) AS j),
    sig AS (
      SELECT doc_id, j,
             min(CAST(('0x' || substr(md5(concat(CAST(j AS VARCHAR), ':', tk)),
                                      1, 15)) AS BIGINT)) AS mh
      FROM tok, seeds GROUP BY doc_id, j),
    bands AS (
      SELECT doc_id, j // 4 AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS band_hash
      FROM sig GROUP BY doc_id, j // 4),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id),
    neardup AS (
      SELECT c.doc_a, c.doc_b, da.source AS sa, db.source AS sb
      FROM cand c
      JOIN d da ON da.doc_id = c.doc_a
      JOIN d db ON db.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(da.toks, db.toks)) AS DOUBLE)
            / len(list_distinct(da.toks || db.toks)) >= 0.9)
    SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_docs
    FROM neardup GROUP BY 1, 2
    """,
)
def f36_cross_source_dups(spark, sf_dir):
    """Cross-source duplication overlap: for every source pair, how
    many NEAR-duplicate documents (3-shingle Jaccard >= 0.9, candidates
    from f24's pinned-hash LSH so both engines see the identical
    candidate set) they share — the provenance-overlap matrix that
    decides which crawls are redundant before mixing (f28) even
    starts. Scale shape: inherits f24's bucket-join candidate
    generation; the source matrix output is O(sources²) — tiny."""
    docs = t(spark, sf_dir, "documents")
    cand = dd.minhash_band_candidates(docs, n_hashes=16, band_rows=4, k_shingle=3)
    d = docs.filter(F.size(F.split("text", " ")) >= 3).select(
        "doc_id", "source", dd.shingles("text", 3).alias("toks")
    )
    da = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("source").alias("sa"),
        F.col("toks").alias("toks_a"),
    )
    db = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("sb"),
        F.col("toks").alias("toks_b"),
    )
    jac = F.size(F.array_intersect("toks_a", "toks_b")) / F.size(
        F.array_union("toks_a", "toks_b")
    )
    return (
        cand.select("doc_a", "doc_b")
        .join(da, "doc_a")
        .join(db, "doc_b")
        .filter(jac >= 0.9)
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_docs"))
    )


# --------------------------------------------------------------------------
@register(
    "f37_url_domain_stats",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id, source,
             text || ' see https://site-' || (doc_id % 13)
                  || '.example.org/page/' || doc_id
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' and http://cdn-' || (doc_id % 5)
                               || '.example.net/a' || (doc_id % 100)
                          ELSE '' END AS full_text
      FROM documents),
    u AS (
      SELECT doc_id, source,
             unnest(regexp_extract_all(full_text, 'https?://[^ ]+')) AS url
      FROM aug),
    d AS (
      SELECT doc_id, source,
             regexp_extract(url, 'https?://([^/]+)', 1) AS domain
      FROM u)
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM d GROUP BY domain
    """,
)
def f37_url_domain_stats(spark, sf_dir):
    """URL / domain extraction and per-domain stats — the crawl-side
    curation op (domain allow/deny lists, per-domain caps all start
    here). Deterministic synthetic URLs are appended per doc (both
    engines build the identical string — same device as f22's PII) so
    the extraction path is exercised on every row. Extraction is
    codegen regex; the per-domain rollup partial-aggregates to
    O(domains) rows."""
    docs = t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(" see https://site-"), (k % 13).cast("string"),
            F.lit(".example.org/page/"), k.cast("string"),
            F.when(
                k % 3 == 0,
                F.concat(
                    F.lit(" and http://cdn-"), (k % 5).cast("string"),
                    F.lit(".example.net/a"), (k % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("full_text"),
    )
    urls = aug.select(
        "doc_id",
        "source",
        F.explode(
            F.regexp_extract_all("full_text", F.lit(r"https?://[^ ]+"), 0)
        ).alias("url"),
    )
    dom = urls.select(
        "doc_id",
        "source",
        F.regexp_extract("url", r"https?://([^/]+)", 1).alias("domain"),
    )
    return dom.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )


# --------------------------------------------------------------------------
@register(
    "f38_chunk_dedup",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    chunks AS (
      SELECT doc_id,
             array_to_string(list_slice(tk, CAST(g.i*8+1 AS INT),
                                        CAST(g.i*8+8 AS INT)), ' ') AS chunk
      FROM d, LATERAL (SELECT unnest(generate_series(0,
               CAST(ceil(len(tk) / 8.0) AS BIGINT) - 1)) AS i) g),
    freq AS (
      SELECT chunk, count(DISTINCT doc_id) AS n_docs_with
      FROM chunks GROUP BY chunk)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE f.n_docs_with > 1) AS BIGINT)
             AS n_shared_chunks,
           round(CAST(count(*) FILTER (WHERE f.n_docs_with > 1) AS DOUBLE)
                 / count(*), 6) AS shared_frac
    FROM chunks c JOIN freq f ON f.chunk = c.chunk
    GROUP BY c.doc_id
    """,
)
def f38_chunk_dedup(spark, sf_dir):
    """Chunk-level (paragraph-analog) dedup profile — the CCNet/Gopher
    line-dedup op at 8-token-chunk granularity: for each doc, what
    fraction of its chunks appear verbatim in OTHER docs too. High
    shared_frac = boilerplate or near-copy even when whole-doc hashes
    differ. Scale shape: chunking is g6's narrow slice op; one groupBy
    on chunk text (partial-agg), one chunk-keyed join back, one doc
    rollup — all hash-partitioned, nothing pairwise."""
    docs = t(spark, sf_dir, "documents")
    from ..functions.hof import let

    # let-bind the token array so the per-chunk slice reads a bound
    # variable instead of re-splitting the text per chunk (hof.py)
    chunk_arr = let(
        F.split("text", " "),
        lambda tk: F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(tk) / F.lit(8.0)).cast("long") - 1,
            ),
            lambda i: F.array_join(F.slice(tk, (i * 8 + 1).cast("int"), 8), " "),
        ),
    )
    chunks = docs.select("doc_id", F.explode(chunk_arr).alias("chunk"))
    freq = chunks.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("n_docs_with")
    )
    shared = F.sum((F.col("n_docs_with") > 1).cast("int"))
    return (
        chunks.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            shared.cast("long").alias("n_shared_chunks"),
            r6(shared / F.count(F.lit(1))).alias("shared_frac"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "f39_source_kl_divergence",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tk FROM documents),
    src AS (SELECT source, tk, count(*) AS c FROM tok GROUP BY source, tk),
    srctot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM src GROUP BY source),
    corpus AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
    corptot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM corpus)
    SELECT s.source,
           st.n AS n_tokens,
           round(sum((CAST(s.c AS DOUBLE) / st.n)
                     * ln((CAST(s.c AS DOUBLE) / st.n)
                          / (CAST(co.c AS DOUBLE) / ct.n))), 6) AS kl_vs_corpus
    FROM src s
    JOIN srctot st ON st.source = s.source
    JOIN corpus co ON co.tk = s.tk, corptot ct
    GROUP BY s.source, st.n
    """,
)
def f39_source_kl_divergence(spark, sf_dir):
    """Distribution-shift detection: KL(source token distribution ‖
    corpus token distribution) per source — the drift metric that flags
    a crawl whose language suddenly differs from the mix (no smoothing
    needed: every source token is in the corpus by construction).
    Scale shape: two partial-aggregated counts (per-source and
    corpus-wide), the corpus table is vocabulary-sized → broadcast to
    the per-source terms, one final tiny agg per source."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("tk"))
    src = tok.groupBy("source", "tk").agg(F.count(F.lit(1)).alias("c"))
    srctot = src.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("c_corp"))
    corptot = corpus.agg(F.sum("c_corp").alias("n_corp"))
    p = F.col("c").cast("double") / F.col("n")
    q = F.col("c_corp").cast("double") / F.col("n_corp")
    return (
        src.join(srctot, "source")
        .join(F.broadcast(corpus), "tk")
        .crossJoin(F.broadcast(corptot))
        .groupBy("source", F.col("n").cast("long").alias("n_tokens"))
        .agg(r6(F.sum(p * F.log(p / q))).alias("kl_vs_corpus"))
    )


# --------------------------------------------------------------------------
@register(
    "f40_incremental_dedup",
    oracle="""
    WITH raw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                 WHERE len(string_split(text, ' ')) >= 3),
    d AS (SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(w) - 2),
                   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh
          FROM raw),
    tok AS (SELECT doc_id, unnest(sh) AS tk FROM d),
    seeds AS (SELECT unnest(range(16)) AS j),
    sig AS (
      SELECT doc_id, j,
             min(CAST(('0x' || substr(md5(concat(CAST(j AS VARCHAR), ':', tk)),
                                      1, 15)) AS BIGINT)) AS mh
      FROM tok, seeds GROUP BY doc_id, j),
    bands AS (
      SELECT doc_id, j // 4 AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS band_hash
      FROM sig GROUP BY doc_id, j // 4),
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_doc, c.doc_id AS corpus_doc
      FROM bands b JOIN bands c
        ON b.band = c.band AND b.band_hash = c.band_hash
      WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0),
    verified AS (
      SELECT cd.batch_doc, cd.corpus_doc,
             round(CAST(len(list_intersect(db.sh, dc.sh)) AS DOUBLE)
                   / len(list_distinct(db.sh || dc.sh)), 6) AS j
      FROM cand cd
      JOIN d db ON db.doc_id = cd.batch_doc
      JOIN d dc ON dc.doc_id = cd.corpus_doc),
    dups AS (
      SELECT batch_doc, min(corpus_doc) AS dup_of, max(j) AS best_jaccard
      FROM verified WHERE j >= 0.9 GROUP BY batch_doc)
    SELECT b.doc_id,
           CASE WHEN dp.batch_doc IS NOT NULL THEN 'duplicate' ELSE 'new' END
             AS decision,
           dp.dup_of, dp.best_jaccard
    FROM d b LEFT JOIN dups dp ON dp.batch_doc = b.doc_id
    WHERE b.doc_id % 5 = 0
    """,
)
def f40_incremental_dedup(spark, sf_dir):
    """INCREMENTAL near-dedup: admit a new batch (doc_id % 5 == 0)
    against an existing corpus index (doc_id % 5 != 0) without ever
    re-pairing the corpus with itself — the shape of a production
    ingestion pipeline where the corpus index is persisted and each
    new crawl only joins its own band keys against it.

    The pinned (md5-derived) MinHash bands are what make the index
    durable: band hashes computed for the batch TODAY collide with
    corpus band hashes computed in any earlier job (no fitted LSH
    model to version). Candidates = batch bands ⋈ corpus bands
    (work ∝ batch ∝ Σ bucket overlap, NOT corpus²); each candidate is
    exactly rescored on shingle Jaccard; a batch doc with a ≥0.9 match
    is rejected as 'duplicate' (pointing at its lowest-id corpus
    match), else admitted 'new'. Cross-split planted near-dups exist
    in the fixtures (j ≈ 0.99), so both branches are exercised."""
    docs = t(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 3
    )
    # The band index and shingle table are each referenced twice below
    # (batch side + corpus side); without persist the 16-hash minhash
    # pipeline and the shingling both execute twice in one plan
    # (measured 2x wall at sf0.1). In production these ARE the
    # persisted artifacts (parquet band index, staged shingle table) —
    # persist() is the single-job stand-in for that contract.
    bands = bounded_persist(
        dd.minhash_bands(docs, n_hashes=16, band_rows=4, k_shingle=3)
    )
    is_batch = F.col("doc_id") % 5 == 0
    bb = bands.filter(is_batch).select(
        F.col("doc_id").alias("batch_doc"), "band", "band_hash"
    )
    cb = bands.filter(~is_batch).select(
        F.col("doc_id").alias("corpus_doc"), "band", "band_hash"
    )
    cand = (
        bb.join(cb, ["band", "band_hash"])
        .select("batch_doc", "corpus_doc")
        .distinct()
    )
    d = bounded_persist(docs.select("doc_id", dd.shingles("text", 3).alias("sh")))
    verified = (
        cand.join(
            d.select(F.col("doc_id").alias("batch_doc"), F.col("sh").alias("sh_b")),
            "batch_doc",
        )
        .join(
            d.select(F.col("doc_id").alias("corpus_doc"), F.col("sh").alias("sh_c")),
            "corpus_doc",
        )
        .select(
            "batch_doc",
            "corpus_doc",
            r6(
                F.size(F.array_intersect("sh_b", "sh_c"))
                / F.size(F.array_union("sh_b", "sh_c"))
            ).alias("j"),
        )
    )
    dups = (
        verified.filter(F.col("j") >= 0.9)
        .groupBy("batch_doc")
        .agg(
            F.min("corpus_doc").alias("dup_of"),
            F.max("j").alias("best_jaccard"),
        )
    )
    return (
        d.filter(is_batch)
        .select("doc_id")
        .join(dups, d["doc_id"] == dups["batch_doc"], "left")
        .select(
            "doc_id",
            F.when(F.col("batch_doc").isNotNull(), "duplicate")
            .otherwise("new")
            .alias("decision"),
            "dup_of",
            "best_jaccard",
        )
    )


# --------------------------------------------------------------------------
@register(
    "f41_perplexity_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
    freq AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
    total AS (SELECT sum(c) AS n FROM freq),
    scored AS (
      SELECT t.doc_id,
             round(avg(ln(CAST(f.c AS DOUBLE) / total.n)), 6) AS avg_logprob
      FROM tok t JOIN freq f ON f.tk = t.tk, total
      GROUP BY t.doc_id),
    bucketed AS (
      SELECT s.doc_id, d.lang, s.avg_logprob,
             ntile(4) OVER (PARTITION BY d.lang
                            ORDER BY s.avg_logprob DESC, s.doc_id) AS bucket
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id)
    SELECT lang, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(CASE WHEN sum(CAST(round(avg_logprob * 1e6, 0) AS BIGINT)) < 0
                     THEN -1 ELSE 1 END
                * ((2 * abs(sum(CAST(round(avg_logprob * 1e6, 0) AS BIGINT)))
                    + count(*)) // (2 * count(*))) AS DOUBLE) / 1e6
             AS bucket_avg_logprob,
           round(min(avg_logprob), 6) AS bucket_min_logprob
    FROM bucketed GROUP BY lang, bucket
    """,
)
def f41_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: score every doc with the
    corpus unigram LM (f31's dataflow — broadcast vocabulary-sized LM,
    map-side join, per-doc partial-aggregated averaging), then cut each
    language into fluency quartiles (bucket 1 = most fluent). The
    head/middle/tail split is the standard curation knob for choosing
    how much of a crawl to keep per language.
    Scale shape: the ntile window partitions by LANG — bounded-width
    partitions, never a global single-partition sort; ordering carries
    the rounded score + doc_id tie-break so bucket edges are
    cross-engine deterministic.

    bucket_avg_logprob averages 6dp-ROUNDED scores, so it shares f47's
    half-boundary hazard (a mean of k-rounded values can land exactly
    on a 7th-digit half, where engine float-sum order flips the final
    rounding). Same exact fix, extended to the negative domain:
    sum(round(v*1e6)) is an exact bigint s, and the half-AWAY-FROM-ZERO
    mean (both engines' round convention) is
    sign(s) * ((2|s| + n) div (2n)) — positive-operand integer
    division, on which Spark's div (truncate) and DuckDB's //
    (floor) agree."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tk"))
    freq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    lm = freq.crossJoin(F.broadcast(total)).select(
        "tk", (F.col("c").cast("double") / F.col("n")).alias("p")
    )
    scored = (
        tok.join(F.broadcast(lm), "tk")
        .groupBy("doc_id")
        .agg(r6(F.avg(F.log("p"))).alias("avg_logprob"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    bucketed = (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("bucket", F.ntile(4).over(w).cast("long"))
    )
    return (
        bucketed.withColumn(
            "__micro", F.round(F.col("avg_logprob") * 1e6, 0).cast("bigint")
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__micro").alias("__s"),
            r6(F.min("avg_logprob")).alias("bucket_min_logprob"),
        )
        .withColumn(
            "bucket_avg_logprob",
            F.expr(
                "CAST(CASE WHEN __s < 0 THEN -1 ELSE 1 END"
                " * ((2 * abs(__s) + n_docs) div (2 * n_docs)) AS DOUBLE)"
            )
            / F.lit(1e6),
        )
        .select(
            "lang", "bucket", "n_docs", "bucket_avg_logprob",
            "bucket_min_logprob",
        )
    )


# --------------------------------------------------------------------------
@register(
    "f44_token_packing",
    oracle="""
    WITH d AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    pos AS (
      SELECT source, doc_id, n_tok,
             coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM d),
    spans AS (
      SELECT source, doc_id, n_tok, start,
             CAST(start // 512 AS BIGINT) AS first_seq,
             CAST((start + n_tok - 1) // 512 AS BIGINT) AS last_seq
      FROM pos WHERE n_tok > 0),
    contrib AS (
      SELECT s.source, s.doc_id, g.seq,
             least(s.start + s.n_tok, 512 * (g.seq + 1))
               - greatest(s.start, 512 * g.seq) AS tok_in_seq
      FROM spans s,
           LATERAL (SELECT unnest(generate_series(s.first_seq, s.last_seq))
                    AS seq) g)
    SELECT source, seq AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok_in_seq) AS BIGINT) AS n_tokens
    FROM contrib GROUP BY source, seq
    """,
)
def f44_token_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing — the op that turns a curated
    corpus into fixed-length training sequences: per source, documents
    concatenate in doc_id order and split into 512-token sequences
    (docs may span a boundary, exactly like LLM pretraining packing).
    Output: per (source, seq_id), how many docs contribute and how
    many tokens land in the sequence (512 except each source's tail).
    Scale shape: one cumulative-sum window PARTITIONED BY SOURCE
    (bounded width, deterministic doc_id order), then each doc explodes
    to just the sequences it touches (≤ 1 + n_tok/512 rows) — work is
    linear in tokens, and the final agg partial-aggregates. This plan
    is what an A5-style range planner would emit for training shards."""
    docs = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    seq_len = 512
    d = docs.select(
        "source", "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pos = d.withColumn("start", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    spans = pos.filter(F.col("n_tok") > 0).select(
        "source", "doc_id", "n_tok", "start",
        F.floor(F.col("start") / seq_len).alias("first_seq"),
        F.floor((F.col("start") + F.col("n_tok") - 1) / seq_len).alias("last_seq"),
    )
    contrib = spans.select(
        "source", "doc_id", "n_tok", "start",
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq"),
    ).select(
        "source",
        "seq",
        (
            F.least(F.col("start") + F.col("n_tok"), (F.col("seq") + 1) * seq_len)
            - F.greatest(F.col("start"), F.col("seq") * seq_len)
        ).alias("tok_in_seq"),
    )
    return contrib.groupBy("source", F.col("seq").alias("seq_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_in_seq").cast("long").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
@register(
    "f29_train_split",
    oracle="""
    WITH h AS (
      SELECT source, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents),
    agg AS (
      SELECT source,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM h GROUP BY 1, 2)
    SELECT source, split, n_docs, sum_chars,
           round(CAST(n_docs AS DOUBLE)
                 / sum(n_docs) OVER (PARTITION BY source), 6) AS frac
    FROM agg
    """,
)
def f29_train_split(spark, sf_dir):
    """Deterministic train/val/test split manifest (80/10/10 by
    md5(doc_id) bucket), reported per source with the realized split
    fractions — the reproducible-split op every training pipeline needs
    before packing (f44). Same hash-bucket idiom as f20/f28: no RNG
    state, identical membership under retries, re-partitioning, and on
    every engine; adding data never moves an existing doc between
    splits (the property random splits lack). One partial-aggregated
    groupBy; the fraction window runs on the O(sources × 3) aggregate,
    not the corpus."""
    docs = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    agg = docs.groupBy("source", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    w = Window.partitionBy("source")
    return agg.select(
        "source",
        "split",
        "n_docs",
        "sum_chars",
        r6(F.col("n_docs") / F.sum("n_docs").over(w)).alias("frac"),
    )


# --------------------------------------------------------------------------
@register(
    "f42_semantic_dedup",
    oracle="""
    -- DISTINCT = the replay law (SURVEY.md §5.4): retrieval is keyed
    -- by vector identity; replicated rows collapse at ingress
    WITH e AS (SELECT DISTINCT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings
               -- vector-validity law (operators/similarity.py::
               -- sql_valid_vector): non-null, null-element-free, all-finite, not all-zero
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0
                 AND len(list_filter(embedding, x -> x != 0)) > 0),
    seeds AS (SELECT vec_id AS seed_id, emb AS semb
              FROM e ORDER BY vec_id LIMIT 32),
    assigned AS (
      SELECT vec_id, emb, seed_id AS cluster_id FROM (
        SELECT a.vec_id, a.emb, s.seed_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(a.emb, s.semb), 6) DESC,
                          s.seed_id) AS rn
        FROM e a CROSS JOIN seeds s) WHERE rn = 1)
    SELECT a.vec_id, a.cluster_id,
           CAST(count(b.vec_id) AS BIGINT) AS n_dup_partners,
           CAST(CASE WHEN count(b.vec_id) > 0 THEN 1 ELSE 0 END
                AS BIGINT) AS is_dup
    FROM assigned a
    LEFT JOIN assigned b
      ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
     AND round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.8
    GROUP BY a.vec_id, a.cluster_id
    """,
)
def f42_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: coarse-cluster (32 deterministic
    seed vectors stand in for KMeans centroids so the oracle can replay
    the clustering), then flag vectors whose cluster holds an earlier
    member with cosine >= 0.8. Pair work is confined per cluster
    (Σ cluster² vs f4b's global n² candidate space); assignment is one
    broadcast join. Seed count raised 8→32 in r4 BEFORE this query's
    first driver window (values change with the clustering, so the
    resize had to precede the first recorded row): at sf0.1 that cuts
    the pair space ~4× (50k vectors / 8 clusters ≈ 150M candidate
    cosines → ~39M). See operators/similarity.py::semantic_dedup for
    the 100-TB shape (seeds → KMeans cells, k ~ √n)."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.semantic_dedup(emb, n_seeds=32, threshold=0.8)


# --------------------------------------------------------------------------
@register(
    "f45_domain_pagerank",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || ' see https://site-' || CAST(doc_id % 13 AS VARCHAR)
                  || '.example.org/page/' || CAST(doc_id AS VARCHAR)
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' and http://cdn-' || CAST(doc_id % 5 AS VARCHAR)
                               || '.example.net/a' || CAST(doc_id % 100 AS VARCHAR)
                          ELSE '' END AS full_text
      FROM documents),
    doms AS (
      SELECT DISTINCT doc_id,
             regexp_extract(unnest(regexp_extract_all(full_text, 'https?://[^ ]+')),
                            'https?://([^/]+)', 1) AS domain
      FROM aug),
    pairs AS (
      SELECT DISTINCT a.domain AS src, b.domain AS dst
      FROM doms a JOIN doms b ON a.doc_id = b.doc_id AND a.domain < b.domain),
    edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
    nodes AS (SELECT DISTINCT src AS domain FROM edges),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM edges GROUP BY src),
    pr0 AS (SELECT domain, round(1.0 / (SELECT n FROM n), 12) AS pr FROM nodes),
    it1 AS (
      SELECT nd.domain,
             round(0.15 / (SELECT n FROM n) + 0.85 * coalesce(s.s, 0), 12) AS pr
      FROM nodes nd
      LEFT JOIN (SELECT e.dst AS domain, sum(p.pr / d.out_deg) AS s
                 FROM edges e JOIN pr0 p ON e.src = p.domain
                 JOIN deg d ON e.src = d.src GROUP BY e.dst) s
        ON nd.domain = s.domain),
    it2 AS (
      SELECT nd.domain,
             round(0.15 / (SELECT n FROM n) + 0.85 * coalesce(s.s, 0), 12) AS pr
      FROM nodes nd
      LEFT JOIN (SELECT e.dst AS domain, sum(p.pr / d.out_deg) AS s
                 FROM edges e JOIN it1 p ON e.src = p.domain
                 JOIN deg d ON e.src = d.src GROUP BY e.dst) s
        ON nd.domain = s.domain),
    it3 AS (
      SELECT nd.domain,
             round(0.15 / (SELECT n FROM n) + 0.85 * coalesce(s.s, 0), 12) AS pr
      FROM nodes nd
      LEFT JOIN (SELECT e.dst AS domain, sum(p.pr / d.out_deg) AS s
                 FROM edges e JOIN it2 p ON e.src = p.domain
                 JOIN deg d ON e.src = d.src GROUP BY e.dst) s
        ON nd.domain = s.domain)
    SELECT i.domain, round(i.pr, 6) AS pr, d.out_deg
    FROM it3 i JOIN deg d ON i.domain = d.src
    """,
)
def f45_domain_pagerank(spark, sf_dir):
    """Domain authority by PageRank over the co-citation graph (domains
    sharing a document link to each other; f37's deterministic URL
    device, duplicated here rather than refactored so f37's
    driver-green code stays byte-identical). Three power iterations,
    damping 0.85, PINNED by rounding each iteration to 12dp on both
    engines (resyncs the float state so cross-engine summation-order
    noise cannot accumulate) and 6dp on output.

    Scale shape — the edge table IS the adjacency representation: each
    iteration is one equi-join (edges x current ranks on src, rank
    state O(nodes), edges partitioned by src) + one partial-aggregated
    groupBy(dst); no adjacency lists are ever collected, so the same
    unrolled-loop dataflow runs at web-graph scale (the bounded
    driver-side value is just N, the node count). The undirected
    (symmetrized) graph has no dangling nodes, so no dangling-mass
    redistribution term is needed."""
    docs = t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://site-"), (k % 13).cast("string"),
            F.lit(".example.org/page/"), k.cast("string"),
            F.when(
                k % 3 == 0,
                F.concat(
                    F.lit(" and http://cdn-"), (k % 5).cast("string"),
                    F.lit(".example.net/a"), (k % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("full_text"),
    )
    doms = aug.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("full_text", F.lit(r"https?://[^ ]+"), 0)
        ).alias("url"),
    ).select(
        "doc_id", F.regexp_extract("url", r"https?://([^/]+)", 1).alias("domain")
    ).distinct()
    b = doms.select(F.col("doc_id").alias("doc_b"), F.col("domain").alias("dom_b"))
    pairs = (
        doms.join(b, (doms.doc_id == b.doc_b) & (doms.domain < b.dom_b))
        .select(F.col("domain").alias("src"), F.col("dom_b").alias("dst"))
        .distinct()
    )
    # edges/nodes/deg are re-read by every power iteration AND the
    # node-count job — persist them so the expensive co-citation pair
    # join runs once, not once per iteration (the pinned state is
    # O(domains + edges), tiny next to the document scan it replaces)
    edges = bounded_persist(
        pairs.unionByName(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )
    nodes = bounded_persist(edges.select(F.col("src").alias("domain")).distinct())
    n_nodes = float(nodes.count())  # O(domains), bounded; warms both caches
    # Empty corpus → empty graph: every frame below has 0 rows, so the
    # rank values never materialize — any finite denominator keeps the
    # plan (and schema) identical without an ANSI DIVIDE_BY_ZERO.
    safe_n = n_nodes or 1.0
    deg = bounded_persist(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    )
    pr = nodes.select("domain", F.round(F.lit(1.0) / safe_n, 12).alias("pr"))
    for _ in range(3):
        contrib = (
            edges.join(pr.withColumnRenamed("domain", "src"), "src")
            .join(deg, "src")
            .groupBy(F.col("dst").alias("domain"))
            .agg(F.sum(F.col("pr") / F.col("out_deg")).alias("s"))
        )
        pr = nodes.join(contrib, "domain", "left").select(
            "domain",
            F.round(
                F.lit(0.15) / safe_n + F.lit(0.85) * F.coalesce("s", F.lit(0.0)),
                12,
            ).alias("pr"),
        )
    return (
        pr.join(deg.withColumnRenamed("src", "domain"), "domain")
        .select("domain", F.round("pr", 6).alias("pr"), "out_deg")
    )


# --------------------------------------------------------------------------
@register(
    "f17g_image_resize_features",
    oracle=f"""
    -- params DISTINCT + final join-back: per-row MAP replay law (see
    -- f17b)
    WITH params AS (
      SELECT DISTINCT doc_id, 8 + {sql_pmod('doc_id', 9)} AS w, 6 + {sql_pmod('doc_id', 7)} AS h
      FROM documents),
    rp AS (
      SELECT doc_id,
             CAST(ceil(w / 2.0) AS BIGINT) AS rw,
             CAST(ceil(h / 2.0) AS BIGINT) AS rh
      FROM params),
    px AS (
      SELECT p.doc_id, p.rw, p.rh, 2 * gx.x AS sx, 2 * gy.y AS sy
      FROM rp p,
           LATERAL (SELECT unnest(generate_series(0, p.rw - 1)) AS x) gx,
           LATERAL (SELECT unnest(generate_series(0, p.rh - 1)) AS y) gy),
    feats AS (
      SELECT doc_id,
             CAST(max(rw) AS BIGINT) AS width,
             CAST(max(rh) AS BIGINT) AS height,
             {sql_exact_mean6("sum(" + sql_pmod("doc_id + 3*sx + 5*sy", 256) + ")", "count(*)")} AS mean_r,
             {sql_exact_mean6("sum(" + sql_pmod("2*doc_id + 7*sx + sy", 256) + ")", "count(*)")} AS mean_g,
             {sql_exact_mean6("sum(" + sql_pmod("5*doc_id + sx + 11*sy", 256) + ")", "count(*)")} AS mean_b
      FROM px GROUP BY doc_id)
    SELECT f.* FROM documents d JOIN feats f ON f.doc_id = d.doc_id
    """,
)
def f17g_image_resize_features(spark, sf_dir):
    """Multimodal decode → resize → feature chain, fused in one
    Arrow-batched mapInPandas pass (full-resolution pixels never leave
    the task): real BMP decode, nearest-neighbor 2x downscale, then
    dimensions + channel means of the RESIZED image. The oracle
    replays the subsampling on the generative pixel formula, so both
    the codec and the resize arithmetic are hash-checked. Completes
    the brief's decode / feature-extract / resize / frame-sample set
    (f17b-f17f cover the other three)."""
    docs = t(spark, sf_dir, "documents")
    return mm.resize_bmp_features(mm.attach_bmp_payload(docs), factor=2)


# --------------------------------------------------------------------------
@register(
    "f48_split_leakage",
    oracle="""
    WITH s AS (
      SELECT doc_id, text,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents),
    sp AS (
      SELECT doc_id, text,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM s),
    -- NULL text is no leak evidence (absent content matches nothing);
    -- without the guard Spark's hash window groups NULLs together
    -- while IN/JOIN semantics drop them — both wrong as an audit
    hx AS (SELECT split, doc_id, md5(text) AS h FROM sp
           WHERE text IS NOT NULL),
    train_h AS (SELECT DISTINCT h FROM hx WHERE split = 'train'),
    exact_leaks AS (
      SELECT x.split AS tgt, count(DISTINCT x.doc_id) AS n
      FROM hx x JOIN train_h t ON x.h = t.h
      WHERE x.split <> 'train' GROUP BY x.split),
    raw AS (SELECT doc_id, split, string_split(text, ' ') AS w
            FROM sp WHERE len(string_split(text, ' ')) >= 3),
    d AS (SELECT doc_id, split,
                 list_distinct(list_transform(
                   generate_series(1, len(w) - 2),
                   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh
          FROM raw),
    train_sh AS (SELECT DISTINCT unnest(sh) AS tk FROM d WHERE split = 'train'),
    o_sh AS (SELECT doc_id, split, unnest(sh) AS tk
             FROM d WHERE split <> 'train'),
    ng AS (SELECT o.split AS tgt, count(DISTINCT o.doc_id) AS n
           FROM o_sh o JOIN train_sh t ON o.tk = t.tk GROUP BY o.split)
    SELECT 'exact_text' AS check_name, 'train->' || tgt AS split_pair,
           CAST(n AS BIGINT) AS n_leaked_docs
    FROM exact_leaks
    UNION ALL
    SELECT 'shingle_3gram', 'train->' || tgt, CAST(n AS BIGINT) FROM ng
    """,
)
def f48_split_leakage(spark, sf_dir):
    """Train/val/test LEAKAGE audit over f29's deterministic splits —
    the check a split manifest ships with: (1) exact-text leakage
    (md5(text) present in train AND a held-out split — the dup f1
    would have removed, counted per held-out split) and (2) 3-gram
    shingle leakage (held-out docs sharing any shingle with train —
    f25's contamination machinery pointed at the split boundary).
    Scale shape: exact check is one hash semi-join on md5(text);
    shingle check broadcasts nothing here (train's shingle set is
    corpus-sized) — it is an equi-join on the shingle key with
    partial-aggregated distinct counts, the same postings shape as f2;
    per-split output is O(1) rows."""
    docs = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    from pyspark.sql import Window

    # NULL text is no leak evidence — see the oracle's hx guard
    sp = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", "text", split.alias("split")
    )

    def leaked(keyed, key, check_name):
        # one pass: a window over the key marks which key values occur
        # in train, so the held-out side never joins a second scan of
        # the same exploded data (the key shuffle happens exactly once)
        has_train = F.max((F.col("split") == "train").cast("int")).over(
            Window.partitionBy(key)
        )
        return (
            keyed.withColumn("has_train", has_train)
            .filter((F.col("split") != "train") & (F.col("has_train") == 1))
            .groupBy(F.col("split").alias("tgt"))
            .agg(F.countDistinct("doc_id").alias("n"))
            .select(
                F.lit(check_name).alias("check_name"),
                F.concat(F.lit("train->"), F.col("tgt")).alias("split_pair"),
                F.col("n").alias("n_leaked_docs"),
            )
        )

    hx = sp.select("split", "doc_id", F.md5("text").alias("h"))
    exact = leaked(hx, "h", "exact_text")
    sh_all = sp.filter(F.size(F.split("text", " ")) >= 3).select(
        "doc_id", "split",
        F.explode(dd.shingles("text", 3)).alias("tk"),
    )
    ngram = leaked(sh_all, "tk", "shingle_3gram")
    return exact.unionByName(ngram)


# --------------------------------------------------------------------------
@register(
    "f47_cluster_quality",
    oracle="""
    -- DISTINCT = the replay law (SURVEY.md §5.4): near-dup pairs are
    -- keyed by document identity; replicated rows collapse at ingress
    WITH RECURSIVE d AS (
      SELECT DISTINCT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
    pairs AS (
      SELECT * FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                     / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
      WHERE jaccard >= 0.6),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(doc, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.doc),
    lab AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc),
    es AS (
      SELECT l.cluster_id,
             CAST(count(*) AS BIGINT) AS n_edges,
             CAST((2 * sum(CAST(round(p.jaccard * 1e6, 0) AS BIGINT))
                   + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS avg_sim,
             round(min(p.jaccard), 6) AS min_sim,
             round(max(p.jaccard), 6) AS max_sim
      FROM pairs p JOIN lab l ON p.doc_a = l.doc
      GROUP BY l.cluster_id),
    sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
           FROM lab GROUP BY cluster_id)
    SELECT s.cluster_id, s.size, e.n_edges, e.avg_sim, e.min_sim, e.max_sim
    FROM sz s JOIN es e ON s.cluster_id = e.cluster_id
    """,
)
def f47_cluster_quality(spark, sf_dir):
    """Dedup-cluster QUALITY audit — the measurement that decides
    whether f21's threshold is right before f23 suppresses anything:
    per near-dup cluster, its size and the count/mean/min/max of its
    edge similarities. A cluster whose min edge sits at the 0.6
    threshold is a chained borderline merge (transitive drift — review
    before suppressing); a tight cluster has min ≈ max ≈ 1. Composes
    the postings pair join + CC label table with one edge-keyed join +
    partial agg — all shapes already proven at scale; output is
    O(clusters).

    avg_sim is computed in exact integer micro-units — jaccard is
    already 6dp-rounded, so sum(round(j*1e6)) is an exact bigint and
    the half-up mean is ``(2s + n) div (2n)`` with no float summation
    anywhere: means of 6dp-rounded values land EXACTLY on 7th-digit
    halves whenever 2s ≡ n (mod 2n), where engine float-sum order
    flips the 6dp rounding (caught by an sf0.001 parity probe as a
    1-ulp avg_sim divergence; the gate SFs never hit a boundary).
    Both engines then divide identical integers — identical doubles,
    any SF."""
    docs = t(spark, sf_dir, "documents")
    # pairs feeds BOTH the CC and the edge-stats aggregate — materialize
    # the postings join once (it is the dominant cost) instead of
    # replaying it per consumer; star CC gives the O(log n) round bound
    pairs = dd.jaccard_pairs_postings(
        docs, blocking=["lang", "source"], threshold=0.6
    ).localCheckpoint(eager=False)  # materialized by the CC loop's
    # first convergence-checksum job (r14, same fold as _loop_ckpt);
    # the edge-stats aggregate then reads the checkpointed blocks
    clusters = dd.neardup_clusters_star(docs, pairs)
    lab = clusters.select(
        F.col("doc_id").alias("doc_a"), "cluster_id"
    )
    es = (
        pairs.withColumn(
            "__micro", F.round(F.col("jaccard") * 1e6, 0).cast("bigint")
        )
        .join(lab, "doc_a")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum("__micro").alias("__s"),
            F.round(F.min("jaccard"), 6).alias("min_sim"),
            F.round(F.max("jaccard"), 6).alias("max_sim"),
        )
        .withColumn(
            "avg_sim",
            F.expr("(2 * __s + n_edges) div (2 * n_edges)").cast("double")
            / F.lit(1e6),
        )
        .drop("__s")
    )
    sz = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return sz.join(es, "cluster_id").select(
        "cluster_id", "size", "n_edges", "avg_sim", "min_sim", "max_sim"
    )


# --------------------------------------------------------------------------
@register(
    "f49_threshold_calibration",
    oracle="""
    -- DISTINCT = the replay law (SURVEY.md §5.4, see f2)
    WITH d AS (
      SELECT DISTINCT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
    pairs AS (
      SELECT * FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                     / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
      WHERE jaccard >= 0.4),
    thr AS (SELECT unnest([0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
    SELECT t.threshold,
           CAST(count(p.doc_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT p.doc_a) + 0 AS BIGINT) AS n_docs_as_a
    FROM thr t LEFT JOIN pairs p ON p.jaccard >= t.threshold
    GROUP BY t.threshold
    """,
)
def f49_threshold_calibration(spark, sf_dir):
    """Near-dup threshold CALIBRATION curve: pair counts (and docs
    implicated) at each candidate Jaccard threshold, from ONE pass of
    the postings pair join computed at the loosest threshold — the
    measurement that picks f2/f21's 0.6 before committing to a
    corpus-wide dedup. A cliff between two thresholds = a natural
    separation; a smooth slope = threshold sensitivity (review).
    Scale shape: the pair table is computed once (pair space bounded
    by the 0.4 floor), then the 6-row threshold spine joins against it
    — O(thresholds × pairs ≥ floor) with partial-aggregated counts,
    no recomputation per threshold."""
    docs = t(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs_postings(
        docs, blocking=["lang", "source"], threshold=0.4
    )
    thr = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(x) for x in (0.4, 0.5, 0.6, 0.7, 0.8, 0.9)])
        ).alias("threshold")
    )
    return (
        thr.join(pairs, pairs.jaccard >= thr.threshold, "left")
        .groupBy("threshold")
        .agg(
            F.count("doc_a").alias("n_pairs"),
            F.countDistinct("doc_a").alias("n_docs_as_a"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "f50_domain_quota_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             'site-' || CAST(doc_id % 13 AS VARCHAR) || '.example.org'
               AS domain,
             md5(CAST(doc_id AS VARCHAR)) AS rk
      FROM documents),
    ranked AS (
      SELECT doc_id, domain,
             CAST(row_number() OVER (PARTITION BY domain
                                     ORDER BY rk, doc_id) AS BIGINT) AS rank
      FROM d)
    SELECT doc_id, domain, rank FROM ranked WHERE rank <= 30
    """,
)
def f50_domain_quota_sample(spark, sf_dir):
    """Per-domain quota sampling (crawl-politeness / source-balancing
    cap): keep at most 30 docs per domain, chosen by DETERMINISTIC
    md5(doc_id) rank with doc_id tie-break — reproducible under
    retries/repartition and stable as the corpus grows (a doc already
    inside the quota is never displaced by later arrivals with higher
    hashes... a doc with a smaller hash can displace, which is the
    documented uniform-refresh tradeoff of hash-rank quotas vs
    arrival-order quotas). Window partitions on domain (bounded
    per-domain state); the same dataflow with domain→source implements
    per-source caps for mixture control (f28's weighted twin)."""
    docs = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    d = docs.select(
        "doc_id",
        F.concat(
            F.lit("site-"), (F.col("doc_id") % 13).cast("string"),
            F.lit(".example.org"),
        ).alias("domain"),
        F.md5(F.col("doc_id").cast("string")).alias("rk"),
    )
    w = Window.partitionBy("domain").orderBy("rk", "doc_id")
    return (
        d.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 30)
        .select("doc_id", "domain", "rank")
    )


@register("f42b_semantic_dedup_kmeans", oracle=None)  # KMeans cells engine-specific
def f42b_semantic_dedup_kmeans(spark, sf_dir):
    """f42's SCALE tier: coarse clusters from distributed MLlib KMeans
    (fit + transform assignment, no driver-side corpus) instead of the
    oracle-replayable seed vectors; same within-cluster earlier-member
    cosine rule. Rows-only (cell ids are engine-specific); planted
    near-dup recall is pytest-asserted."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.semantic_dedup_kmeans(emb, k=16, threshold=0.8)


# --------------------------------------------------------------------------
@register(
    "f51_ngram_novelty",
    oracle=f"""
    WITH raw AS (SELECT DISTINCT doc_id, string_split(text, ' ') AS w
                 FROM documents WHERE len(string_split(text, ' ')) >= 3),
    d AS (SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(w) - 2),
                   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh
          FROM raw),
    sh AS (SELECT doc_id, unnest(sh) AS tk FROM d),
    df AS (SELECT tk, count(DISTINCT doc_id) AS df FROM sh GROUP BY tk)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           {sql_exact_mean6('sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END)',
                            'count(*)')} AS novelty
    FROM sh s JOIN df f ON s.tk = f.tk
    GROUP BY s.doc_id
    """,
)
def f51_ngram_novelty(spark, sf_dir):
    """Leave-one-out n-gram NOVELTY score per document: the fraction
    of a doc's distinct 3-gram shingles appearing in NO other document
    (document frequency 1) — the positive-diversity twin of the f26
    repetition and f25 contamination signals: high novelty marks
    unique content worth keeping even when quality scores are
    middling; near-zero novelty marks boilerplate that near-dup
    thresholds missed. One shingle explode, one df aggregation on the
    shingle key, one window-free re-join — same Σ df-shaped work as
    f2's postings, partial-aggregated throughout."""
    from pyspark.sql import Window

    # replay law (SURVEY.md §5.4): novelty is keyed by document
    # identity — a replicated row must not double every df (which would
    # zero n_unique corpus-wide); exact-duplicate rows collapse at
    # ingress (no-op on unique-id fixtures)
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", "text")
        .distinct()
    )
    sh = docs.select(
        "doc_id", F.explode(dd.shingles("text", 3)).alias("tk")
    )
    # shingles are distinct per doc AND docs are distinct per id, so
    # count(*) over the shingle key IS the document frequency — one
    # pass, one shuffle (vs the groupBy + re-join form, which
    # recomputes the shingle explode; same single-pass window device
    # as f48, measured ~2x faster at sf0.1)
    dfw = F.count(F.lit(1)).over(Window.partitionBy("tk"))
    return (
        sh.withColumn("df", dfw)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("bigint")).alias("n_unique"),
        )
        .withColumn("novelty", exact_mean6("n_unique", "n_shingles"))
    )


# --------------------------------------------------------------------------
@register(
    "f52_dataset_card",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, text, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents),
    hx AS (SELECT md5(text) AS h, count(*) AS c
           FROM documents GROUP BY md5(text)),
    d AS (
      SELECT s.source, s.n_chars, s.bucket,
             len(string_split(s.text, ' ')) AS n_tok,
             h.c AS dup_c
      FROM s JOIN hx h ON md5(s.text) = h.h)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           {sql_exact_mean6('sum(n_chars)', 'count(*)')} AS avg_chars,
           CAST(sum(CASE WHEN dup_c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dup_docs,
           CAST(sum(CASE WHEN bucket < 80 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_train,
           CAST(sum(CASE WHEN bucket >= 80 AND bucket < 90 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_val,
           CAST(sum(CASE WHEN bucket >= 90 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_test
    FROM d GROUP BY source
    """,
)
def f52_dataset_card(spark, sf_dir):
    """Dataset-card generator — the per-source summary a released
    training set ships with, in ONE report: volume (docs, tokens, mean
    length), exact-dup incidence (docs whose md5(text) repeats
    anywhere in the corpus — f1's key joined back), and f29's split
    census. Scale shape: one corpus scan + one hash-keyed self-count
    join + one partial-aggregated rollup to O(sources) rows; the
    heavier card sections (near-dup rate, novelty, quality quartiles,
    leakage) are their own queries (f47-f49, f51, f48) composable onto
    this skeleton by source key."""
    docs = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    hx = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("dup_c")
    )
    d = docs.select(
        "source",
        "n_chars",
        bucket.alias("bucket"),
        F.size(F.split("text", " ")).alias("n_tok"),
        F.md5("text").alias("h"),
    ).join(hx, "h")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            # mean of integers → exact integer form (functions/rounding)
            F.sum("n_chars").alias("__sc"),
            F.sum((F.col("dup_c") > 1).cast("bigint")).alias("n_exact_dup_docs"),
            F.sum((F.col("bucket") < 80).cast("bigint")).alias("n_train"),
            F.sum(((F.col("bucket") >= 80) & (F.col("bucket") < 90)).cast("bigint")).alias("n_val"),
            F.sum((F.col("bucket") >= 90).cast("bigint")).alias("n_test"),
        )
        .withColumn("avg_chars", exact_mean6("__sc", "n_docs"))
        .select(
            "source", "n_docs", "n_tokens", "avg_chars",
            "n_exact_dup_docs", "n_train", "n_val", "n_test",
        )
    )


# --------------------------------------------------------------------------
@register(
    "f34_hybrid_rrf_search",
    oracle="""
    WITH q AS (SELECT text AS qtext FROM documents WHERE doc_id = 0),
    qtok AS (SELECT DISTINCT unnest(string_split(qtext, ' ')) AS tok FROM q),
    dtok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
             FROM documents),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    idf AS (SELECT tok, ln((SELECT n FROM n) / count(DISTINCT doc_id)) AS idf
            FROM dtok GROUP BY tok),
    lex AS (
      SELECT d.doc_id, round(sum(i.idf), 6) AS lex_score
      FROM dtok d JOIN qtok USING (tok) JOIN idf i USING (tok)
      WHERE d.doc_id != 0
      GROUP BY d.doc_id),
    lexr AS (SELECT doc_id, lex_score,
                    CAST(row_number() OVER (ORDER BY lex_score DESC, doc_id)
                         AS BIGINT) AS r_lex
             FROM lex),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings
               -- vector-validity law (operators/similarity.py::
               -- sql_valid_vector): non-null, null-element-free, all-finite, not all-zero
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0
                 AND len(list_filter(embedding, x -> x != 0)) > 0),
    vec AS (
      SELECT b.vec_id AS doc_id,
             round(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
      FROM e a JOIN e b ON a.vec_id = 0 AND b.vec_id != 0),
    vecr AS (SELECT doc_id, cos_sim,
                    CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id)
                         AS BIGINT) AS r_vec
             FROM vec),
    fused AS (
      SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
             round(coalesce(1.0 / (60 + l.r_lex), 0)
                   + coalesce(1.0 / (60 + v.r_vec), 0), 6) AS rrf
      FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id)
    SELECT doc_id, rrf,
           CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
             AS rank
    FROM fused QUALIFY rank <= 20
    """,
)
def f34_hybrid_rrf_search(spark, sf_dir):
    """HYBRID retrieval with reciprocal-rank fusion: a lexical ranking
    (sum of idf over tokens shared with the query doc — the pinned
    BM25-ish signal) and a dense ranking (rounded cosine on the
    embedding column) fuse via RRF (Σ 1/(60+rank)), top-20. The
    modern retrieval stack's default shape — each ranker is cheap and
    independently scalable (lexical = postings join like f2, dense =
    any f4/f5 tier), and fusion touches only the two rank lists (tiny)
    with a full-outer join. Ranks are integers, so the fused score is
    exact cross-engine; every ranking carries a doc_id tie-break, and
    all three global rankings ride the two-phase distributed rank
    (operators/rank.py) — no unpartitioned window even though the
    candidate lists are small."""
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    from pyspark.sql import Window

    qtok = (
        docs.filter(F.col("doc_id") == 0)
        .select(F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
        .distinct()
    )
    dtok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    # corpus size joins in as a broadcast 1-row frame instead of an
    # eager driver-side count() at query-build time — the whole ranking
    # stays one lazy plan
    n_docs_df = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = (
        dtok.groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("df_t"))
        .crossJoin(F.broadcast(n_docs_df))
        .select("tok", F.log(F.col("n_docs") / F.col("df_t")).alias("idf"))
    )
    lex = (
        dtok.join(F.broadcast(qtok), "tok")
        .join(idf, "tok")
        .filter(F.col("doc_id") != 0)
        .groupBy("doc_id")
        .agg(F.round(F.sum("idf"), 6).alias("lex_score"))
    )
    from ..operators.rank import with_global_row_number

    # local_checkpoint at all three rank sites: single-JVM sandbox,
    # where executor loss is job loss anyway — a real cluster passes
    # "persist" (recomputable lineage survives lost executors)
    lexr = with_global_row_number(
        lex,
        [F.col("lex_score").desc(), F.col("doc_id")],
        rn_col="r_lex",
        materialize="local_checkpoint",
    ).withColumn("r_lex", F.col("r_lex").cast("bigint"))
    e = sim.with_double_embedding(emb).select("vec_id", "emb")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qemb"))
    from ..functions.vector import cosine

    vec = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("emb"), F.col("qemb")), 6).alias("cos_sim"),
        )
    )
    vecr = with_global_row_number(
        vec,
        [F.col("cos_sim").desc(), F.col("doc_id")],
        rn_col="r_vec",
        materialize="local_checkpoint",
    ).withColumn("r_vec", F.col("r_vec").cast("bigint"))
    fused = (
        lexr.select("doc_id", "r_lex")
        .join(vecr.select("doc_id", "r_vec"), "doc_id", "full")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("r_vec")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    # final top-20: TakeOrderedAndProject (distributed per-partition
    # top-k + merge — no global sort, no materialization job like the
    # two full rankings above need), then number the SURVIVING 20 rows.
    # The unpartitioned window is bounded by the preceding limit, so
    # the single-task sort it implies is over k rows, never the corpus.
    from pyspark.sql import Window as _W

    top = fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(20)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(_W.orderBy(F.col("rrf").desc(), F.col("doc_id")))
        .cast("bigint"),
    )


# --------------------------------------------------------------------------
@register(
    "f43_chunk_dedup_rewrite",
    oracle="""
    WITH raw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    chunks AS (
      SELECT doc_id, i AS cidx,
             array_to_string(w[(i*8 + 1):(i*8 + 8)], ' ') AS chunk
      FROM raw, LATERAL (SELECT unnest(generate_series(0,
                           CAST(ceil(len(w) / 8.0) AS BIGINT) - 1)) AS i)),
    ranked AS (
      SELECT doc_id, cidx, chunk,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, cidx) AS occ
      FROM chunks)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           md5(coalesce(string_agg(CASE WHEN occ = 1 THEN chunk END, ' '
                               ORDER BY cidx), '')) AS clean_md5
    FROM ranked GROUP BY doc_id
    """,
)
def f43_chunk_dedup_rewrite(spark, sf_dir):
    """Chunk-level dedup with RECONSTRUCTION (the CCNet line-dedup
    shape executed, not just profiled like f38): docs split into
    non-overlapping 8-token chunks; only the globally FIRST occurrence
    of each chunk text (by doc_id, then position) survives; each doc
    is re-assembled from its surviving chunks in order. Output is
    per-doc (chunks, kept, md5 of the rewritten text) — the md5 makes
    byte-identical reconstruction cross-engine checkable without
    hashing megabytes of text through the harness. Scale shape: one
    explode to O(total chunks), one window partitioned BY CHUNK KEY
    (first-occurrence rule — same shuffle shape as f1's exact dedup),
    one per-doc ordered re-agg. The survivor rule is deterministic, so
    retries/speculation cannot change which copy survives."""
    docs = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    from ..functions.hof import let

    # let-bound token array — same per-chunk re-split fix as f38
    chunk_arr = let(
        F.split("text", " "),
        lambda tk: F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(tk) / F.lit(8.0)).cast("int") - 1,
            ),
            lambda i: F.concat_ws(" ", F.slice(tk, i * 8 + 1, 8)),
        ),
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(chunk_arr).alias("cidx", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "cidx")
    ranked = chunks.withColumn("occ", F.row_number().over(w))
    kept_text = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("occ") == 1, F.struct("cidx", "chunk")
                    )
                )
            ),
            lambda s: s.getField("chunk"),
        ),
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("occ") == 1).cast("bigint")).alias("n_kept"),
        F.md5(kept_text).alias("clean_md5"),
    )


# --------------------------------------------------------------------------
@register(
    "f46_embedding_outliers",
    oracle="""
    WITH dims AS (
        SELECT label, i, avg(embedding[i]::DOUBLE) AS v
        FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
        -- centroid TRAINING set rides the same vector-validity law as
        -- the scoring set (a poisoned vector must not poison the mean)
        WHERE embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x IS NULL)) = 0
          AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x != 0)) > 0
        GROUP BY 1, 2),
    cents AS (SELECT label, list(v ORDER BY i) AS centroid
              FROM dims GROUP BY 1),
    e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings
               -- vector-validity law (operators/similarity.py::
               -- sql_valid_vector): non-null, null-element-free, all-finite, not all-zero
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0
                 AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0
                 AND len(list_filter(embedding, x -> x != 0)) > 0),
    scored AS (
        SELECT e.vec_id, e.label,
               round(list_cosine_similarity(e.emb, c.centroid), 6) AS cos_to_centroid
        FROM e JOIN cents c ON e.label = c.label),
    deciled AS (
        SELECT vec_id, label, cos_to_centroid,
               CAST(ntile(10) OVER (PARTITION BY label
                                    ORDER BY cos_to_centroid, vec_id)
                    AS BIGINT) AS decile
        FROM scored)
    SELECT vec_id, label, cos_to_centroid, decile,
           CAST(CASE WHEN decile = 1 THEN 1 ELSE 0 END AS BIGINT)
             AS is_outlier
    FROM deciled
    """,
)
def f46_embedding_outliers(spark, sf_dir):
    """Embedding OUTLIER detection — the vector-side cleaning gate
    (mislabeled / off-distribution vectors): each vector scored by
    rounded cosine to its OWN label's centroid, bottom decile per
    label flagged (ntile with vec_id tie-break). Scale shape: the
    centroid build is f6's two narrow shuffles on (label, dim);
    scoring is a broadcast join against O(labels) centroids; the
    decile window partitions per label. At 100 TB labels become
    KMeans cells (f42b) and the same per-cell decile flags
    off-manifold vectors."""
    emb = t(spark, sf_dir, "embeddings")
    from pyspark.sql import Window

    from ..functions.vector import cosine

    cents = sim.label_centroids(emb).select(
        F.col("centroid_label").alias("label"), "centroid"
    )
    e = sim.with_double_embedding(emb).select("vec_id", "label", "emb")
    scored = e.join(F.broadcast(cents), "label").select(
        "vec_id",
        "label",
        F.round(cosine(F.col("emb"), F.col("centroid")), 6).alias(
            "cos_to_centroid"
        ),
    )
    w = Window.partitionBy("label").orderBy("cos_to_centroid", "vec_id")
    return scored.withColumn(
        "decile", F.ntile(10).over(w).cast("bigint")
    ).withColumn("is_outlier", (F.col("decile") == 1).cast("bigint"))
