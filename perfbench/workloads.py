"""The three benchmark workloads.

Each workload drives the engine's public layer functions from outside:
``setup`` does the operator-side staging a user pays once, ``iterate``
is one timed iteration of the user's job (every DataFrame it builds is
consumed by an action inside it), and ``check`` verifies that
iteration's outputs against the generator's ground truth outside the
timed region, counting each individual check in a ``Checks``. Written
outputs are verified by reading them back with pyarrow, not with Spark.
"""

from __future__ import annotations

import os
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cassandra_migrate_keyspace_from_cluster_spark.operators import dedup, migrate, similarity, text
from cassandra_migrate_keyspace_from_cluster_spark.sources import TABLES, cluster_source, load_table

import gen

NEARDUP_TIERS = ("postings", "prefix", "lsh")
SIMILARITY_TIERS = ("exact_broadcast", "exact_chunked", "ivf", "pq")


class Checks:
    """Counts checks and keeps the first failures' messages."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def expect(self, ok: bool, message: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(message)


def copy_mismatches(manifest: dict, keyspace_dir: str, tables) -> list[str]:
    """Tables under ``keyspace_dir`` whose exact-typed columns do not
    hold exactly the generated rows (row count and row-hash digest)."""
    bad = []
    for name in tables:
        cols = manifest["columns"][name]
        table = pq.read_table(os.path.join(keyspace_dir, f"{name}.parquet"), columns=cols)
        got = gen.checksums(table, cols)["digest"]
        want = manifest["checks"][name]["digest"]
        if got != want:
            bad.append(f"{name}: digest {got} != {want}")
    return bad


class Workload:
    """Default: no operator-side staging."""

    def setup(self) -> None:
        pass


class KeyspaceCopy(Workload):
    """migrate_keyspace over the ten-table keyspace, then content
    checksums of source and target."""

    name = "keyspace_copy"
    layer_calls = 2

    def __init__(self, spark, inputs: str, manifest: dict, tracer, cores: int):
        self.spark, self.src, self.manifest, self.tracer = spark, inputs, manifest, tracer
        tracer.wrap(migrate, "load_table", "parquet_keyspace.load_table")

    def checksums(self, keyspace_dir: str) -> dict:
        """table -> content_checksum row of its exact-typed columns, all
        tables in one job."""
        frames = [
            migrate.content_checksum(
                load_table(self.spark, keyspace_dir, name).select(*self.manifest["columns"][name]),
                name)
            for name in TABLES
        ]
        rows = reduce(lambda a, b: a.unionByName(b), frames).collect()
        return {r.table_name: list(r)[1:] for r in rows}

    def iterate(self, out: str) -> dict:
        with self.tracer.span("migrate.copy"):
            report = migrate.migrate_keyspace(self.spark, self.src, out).collect()
        with self.tracer.span("migrate.checksum"):
            src = self.checksums(self.src)
            dst = self.checksums(out)
        return {"report": report, "src": src, "dst": dst, "out": out}

    def check(self, res: dict, checks: Checks) -> None:
        rows, want = self.manifest["rows"], self.manifest["checks"]
        for r in res["report"]:
            checks.expect(r.counts_match and r.n_rows_src == rows[r.table_name],
                          f"copy report {r}")
        for side in ("src", "dst"):
            for name in TABLES:
                checks.expect(res[side].get(name) == want[name]["checksum"],
                              f"{side} {name}: checksum {res[side].get(name)}")
        for msg in copy_mismatches(self.manifest, res["out"], TABLES) or [None]:
            checks.expect(msg is None, f"copy {msg}")

    def layer_metrics(self, res: dict, out: str) -> dict:
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
                 if f.endswith(".parquet")]
        return {"migrate.files_written": len(files),
                "migrate.bytes_written": sum(os.path.getsize(f) for f in files)}


class RangeSync(Workload):
    """Token-range scan of one large table, a range-by-range resumable
    copy, and a snapshot diff against a target with known drift."""

    name = "range_sync"
    key = "o_orderkey"
    diff_cols = ("o_custkey", "o_orderstatus", "o_orderpriority")
    layer_calls = 3

    def __init__(self, spark, inputs: str, manifest: dict, tracer, cores: int):
        self.spark, self.manifest, self.tracer = spark, manifest, tracer
        self.src = os.path.join(inputs, "src")
        self.target = os.path.join(inputs, "target")
        self.n_ranges = 2 * cores
        tracer.wrap(migrate, "plan_key_ranges", "migrate.plan_ranges", count=len)

    def iterate(self, out: str) -> dict:
        with self.tracer.span("cluster_source.scan"):
            scan = cluster_source.read_keyspace_table(
                self.spark, os.path.join(self.src, "orders.parquet"), self.key,
                n_ranges=self.n_ranges)
            per_range = dict(scan.groupBy(F.spark_partition_id()).count().collect())
        with self.tracer.span("migrate.resumable_copy"):
            migrate.copy_table_resumable(
                self.spark, self.src, out, "orders", self.key, n_splits=self.n_ranges)
        with self.tracer.span("migrate.diff"):
            diff = migrate.snapshot_diff(
                load_table(self.spark, self.src, "orders"),
                load_table(self.spark, self.target, "orders"),
                self.key, self.diff_cols,
            )
            drift = dict(diff.groupBy("status").count().collect())
        counts = [per_range.get(i, 0) for i in range(self.n_ranges)]
        return {"ranges": counts, "out": out, "drift": drift,
                "n_partitions": scan.rdd.getNumPartitions()}

    def check(self, res: dict, checks: Checks) -> None:
        n = self.manifest["rows"]["orders"]
        checks.expect(sum(res["ranges"]) == n, f"scan rows {sum(res['ranges'])} != {n}")
        checks.expect(res["drift"] == self.manifest["drift"],
                      f"diff {res['drift']} != injected {self.manifest['drift']}")
        for msg in copy_mismatches(self.manifest, res["out"], ["orders"]) or [None]:
            checks.expect(msg is None, f"resumable copy {msg}")

    def layer_metrics(self, res: dict, out: str) -> dict:
        counts = res["ranges"]
        mean = sum(counts) / len(counts)
        compared = self.manifest["rows"]["orders"] + self.manifest["drift"]["extra_in_target"]
        return {"cluster_source.tasks": res["n_partitions"],
                "cluster_source.range_skew": max(counts) / mean if mean else 0.0,
                "migrate.diff_yield": sum(res["drift"].values()) / compared}


class CorpusDedupSearch(Workload):
    """Exact dedup, auto-routed near-dup pairs, near-dup clusters,
    TF-IDF and auto-routed top-k cosine search over a generated corpus."""

    name = "corpus_dedup_search"
    blocking = ["lang", "source"]
    k = 10
    layer_calls = 5

    def __init__(self, spark, inputs: str, manifest: dict, tracer, cores: int):
        self.manifest, self.tracer = manifest, tracer
        self.vec_path = os.path.join(inputs, "embeddings.parquet")
        self.docs = load_table(spark, inputs, "documents")
        self.vecs = load_table(spark, inputs, "embeddings")
        docs = pq.read_table(os.path.join(inputs, "documents.parquet"), columns=["doc_id", "text"])
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))

    def setup(self) -> None:
        with self.tracer.span("similarity.stage"):
            similarity.prestage_cosine_corpus(self.vecs, corpus_key=self.vec_path)

    def iterate(self, out: str) -> dict:
        res = {}
        with self.tracer.span("dedup.exact"):
            row = dedup.exact_dedup(self.docs).agg(
                F.count(F.lit(1)).alias("n"), F.sum("n_copies").alias("copies")).collect()[0]
            res["survivors"], res["copies"] = row.n, row.copies
        with self.tracer.span("dedup.neardup"):
            chosen = {}
            pairs = dedup.auto_neardup(self.docs, self.blocking, gen.NEARDUP_THRESHOLD,
                                       chosen=chosen).persist()
            res["pairs"] = [tuple(r) for r in pairs.collect()]
            res["neardup"] = chosen
        with self.tracer.span("dedup.clusters"):
            res["clusters"] = dict(dedup.neardup_clusters(self.docs, pairs).collect())
        pairs.unpersist()
        with self.tracer.span("text.tfidf"):
            row = text.tf_idf(self.docs).agg(
                F.count(F.lit(1)).alias("n"), F.sum("tf").alias("tf")).collect()[0]
            res["terms"], res["tf_sum"] = row.n, row.tf
        with self.tracer.span("similarity.topk"):
            chosen = {}
            top = similarity.auto_cosine_topk(self.vecs, k=self.k, chosen=chosen,
                                              corpus_key=self.vec_path)
            row = top.agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_list(F.when(F.col("rank") == 1, F.array("query_id", "neighbor_id")))
                .alias("top1"),
            ).collect()[0]
            res["topk_rows"], res["top1"] = row.n, dict(map(tuple, row.top1))
            res["similarity"] = chosen
        return res

    def check(self, res: dict, checks: Checks) -> None:
        m = self.manifest
        n_docs, n_vecs = m["rows"]["documents"], m["rows"]["embeddings"]
        checks.expect(res["survivors"] == m["distinct_texts"] and res["copies"] == n_docs,
                      f"exact_dedup {res['survivors']}/{res['copies']}")
        # every planted pair at or above the threshold is found, and every
        # emitted pair is a true pair at or above the threshold
        checks.expect(res["neardup"].get("tier") in ("postings", "prefix"),
                      f"near-dup routed to inexact tier {res['neardup'].get('tier')}")
        found = {(a, b): j for a, b, j in res["pairs"]}
        missed = [p for p in m["planted_pairs"] if (p[0], p[1]) not in found]
        checks.expect(not missed, f"{len(missed)} planted pairs missed, e.g. {missed[:3]}")
        wrong = [(a, b, j) for (a, b), j in found.items()
                 if j < gen.NEARDUP_THRESHOLD
                 or abs(gen.jaccard(self.texts[a], self.texts[b]) - j) > 1e-6]
        checks.expect(not wrong, f"{len(wrong)} emitted pairs wrong, e.g. {wrong[:3]}")
        checks.expect(res["clusters"] == components(self.texts, found),
                      "clusters differ from the components of the emitted pairs")
        checks.expect(res["terms"] == m["doc_terms"]
                      and abs(res["tf_sum"] - n_docs) < 1e-3 * n_docs,
                      f"tf_idf rows {res['terms']} tf sum {res['tf_sum']}")
        checks.expect(res["topk_rows"] == n_vecs * self.k, f"top-k rows {res['topk_rows']}")
        bad = [(a, b) for a, b in m["twins"]
               if res["top1"].get(a) != b or res["top1"].get(b) != a]
        checks.expect(not bad, f"{len(bad)} twins not mutual top-1, e.g. {bad[:3]}")

    def layer_metrics(self, res: dict, out: str) -> dict:
        cand = res["neardup"].get("cand_pairs", 0.0)
        return {"dedup.tier": float(NEARDUP_TIERS.index(res["neardup"]["tier"])),
                "dedup.cand_pairs": cand,
                "dedup.verified_pairs": len(res["pairs"]),
                "dedup.pair_yield": len(res["pairs"]) / cand if cand else 0.0,
                "similarity.tier": float(SIMILARITY_TIERS.index(res["similarity"]["tier"]))}


def components(ids, pairs) -> dict:
    """id -> smallest id of its connected component over ``pairs``."""
    parent = {i: i for i in ids}

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: root(i) for i in ids}


WORKLOADS = {w.name: w for w in (KeyspaceCopy, RangeSync, CorpusDedupSearch)}
