"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical parquet files. Inputs are staged content-addressed
under ``<work>/inputs/<workload>-<digest>/`` (written to a temporary
sibling and renamed only when complete, with a ``manifest.json`` holding
row counts, bytes and the planted ground truth) and reused by later runs
with the same seed and size.

- ``keyspace_copy``: the ten keyspace tables the engine's loaders know. The big
  tables (orders, lineitem, events) are directories of ``PARTS`` part
  files with several row groups each; the small ones are single files.
- ``range_sync``: one orders-shaped table (multi-part) plus a drifted copy
  of it with exactly ``missing`` keys removed, ``changed`` rows edited in
  an exact-typed column and ``extra`` keys added.
- ``corpus_dedup_search``: documents over a wide Zipf vocabulary with planted exact and
  near duplicates, and embeddings with planted twin vectors.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator changes what it writes: old stagings are then
# never reused.
GEN_VERSION = 4
PARTS = 16
LANGS = ("en", "de", "es", "fr", "zh")
NEARDUP_THRESHOLD = 0.6
DIM = 64

SIZES = {
    "keyspace_copy": {"lineitem": 120_000, "orders": 30_000, "events": 30_000,
                 "customer": 3_000, "part": 4_000, "supplier": 300,
                 "documents": 2_000, "embeddings": 1_000},
    "range_sync": {"orders": 64_000, "missing": 311, "changed": 517,
                   "extra": 223},
    "corpus_dedup_search": {"documents": 5_000, "vocab": 60_000, "zipf_s": 1.0,
               "sources": 40, "neardup_rate": 0.06, "exact_rate": 0.02,
               "embeddings": 2_500, "twin_rate": 0.05},
}


# -- staging -----------------------------------------------------------


def stage(work: str, workload: str, seed: int, size: dict | None = None,
          keep: int = 12) -> tuple[str, dict]:
    """Return ``(dir, manifest)`` of the staged inputs for ``workload``,
    generating them when no complete staging with the same content key
    exists. At most ``keep`` stagings per workload stay on disk."""
    size = dict(SIZES[workload] if size is None else size)
    key = json.dumps([GEN_VERSION, workload, seed, size], sort_keys=True)
    digest = hashlib.sha256(key.encode()).hexdigest()[:16]
    root = os.path.join(work, "inputs")
    path = os.path.join(root, f"{workload}-{digest}")
    manifest_path = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = _GENERATORS[workload](tmp, seed, size)
        manifest.update(workload=workload, seed=seed, size=size,
                        bytes=_tree_bytes(tmp))
        manifest.setdefault("source_bytes", manifest["bytes"])
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    os.utime(path)
    evict(root, f"{workload}-", keep=path, max_keep=keep)
    with open(manifest_path) as fh:
        return path, json.load(fh)


def evict(root: str, prefix: str, keep: str, max_keep: int) -> None:
    """Delete the oldest entries of ``root`` named ``prefix*`` so that at
    most ``max_keep`` remain, ``keep`` among them."""
    others = []
    for name in os.listdir(root):
        p = os.path.join(root, name)
        if name.startswith(prefix) and p != keep:
            others.append((os.stat(p).st_mtime_ns, p))
    for _, p in sorted(others, reverse=True)[max(0, max_keep - 1):]:
        shutil.rmtree(p, ignore_errors=True)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _write(table: pa.Table, path: str, parts: int = 1, row_group: int = 0) -> None:
    """One parquet file, or a directory of ``parts`` part files with
    row groups of ``row_group`` rows."""
    if parts == 1:
        pq.write_table(table, path, compression="zstd")
        return
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
            compression="zstd",
            row_group_size=row_group,
        )


EXACT_ARROW_TYPES = (pa.int32(), pa.int64(), pa.string())


def exact_columns(schema: pa.Schema) -> list[str]:
    """Integer and string columns: the ones checksums may hash (float and
    timestamp renderings differ between engines)."""
    return [f.name for f in schema if f.type in EXACT_ARROW_TYPES]


def checksums(table: pa.Table, columns: list[str] | None = None) -> dict:
    """Expected checks of the table's exact-typed columns, from the md5
    of each row's "|"-joined values:

    - ``checksum``: what ``content_checksum`` reports, [n_rows,
      n_distinct, min, max] of the row hashes;
    - ``digest``: [n_rows, sum of the first 15 hex digits of every row
      hash], which changes when any single row is lost or edited.

    ``columns`` (default: the exact-typed ones) names the hashed columns.
    """
    if columns is None:
        columns = exact_columns(table.schema)
    cols = [table[c].to_pylist() for c in columns]
    hashes = [hashlib.md5("|".join(map(str, row)).encode()).hexdigest()
              for row in zip(*cols)]
    distinct = set(hashes)
    return {"checksum": [table.num_rows, len(distinct), min(distinct), max(distinct)],
            "digest": [table.num_rows, sum(int(h[:15], 16) for h in hashes)]}


def _pick(rng, words, n) -> pa.Array:
    return pa.array(np.asarray(words, dtype=object)[rng.integers(0, len(words), n)],
                    pa.string())


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()], pa.string())


def _timestamps(rng, n, lo="1995-01-01", days=2400) -> pa.Array:
    base = np.datetime64(lo, "ms").astype(np.int64)
    ms = base + rng.integers(0, days * 86_400_000, n)
    return pa.array(ms, pa.timestamp("ms"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# -- keyspace tables ----------------------------------------------------


def _orders(rng, n: int, n_cust: int, first_key: int = 1) -> pa.Table:
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, n_cust + 1, n).astype(np.int64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
        "o_totalprice": _money(rng, n, 900, 500_000),
        "o_orderdate": _timestamps(rng, n),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n),
    })


def _lineitem(rng, n: int, n_orders: int, n_part: int, n_sup: int) -> pa.Table:
    # unique (l_orderkey, l_linenumber): line numbers count up per order
    orderkey = np.sort(rng.integers(1, n_orders + 1, n)).astype(np.int64)
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    run = np.repeat(starts, np.diff(np.r_[starts, n]))
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(1, n_part + 1, n).astype(np.int64),
        "l_suppkey": rng.integers(1, n_sup + 1, n).astype(np.int64),
        "l_linenumber": (np.arange(n) - run + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _timestamps(rng, n, lo="1995-01-02"),
    })


def gen_keyspace(out: str, seed: int, size: dict) -> dict:
    rngs = [np.random.default_rng([seed, i]) for i in range(10)]
    n_cust, n_part, n_sup = size["customer"], size["part"], size["supplier"]
    n_ord, n_li, n_ev = size["orders"], size["lineitem"], size["events"]
    nations = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
               "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN",
               "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE",
               "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
               "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": nations,
            "n_regionkey": pa.array(rngs[1].integers(0, 5, 25), pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": _names("Customer", np.arange(1, n_cust + 1)),
            "c_nationkey": rngs[2].integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rngs[2], n_cust, -999, 9999),
            "c_mktsegment": _pick(rngs[2], ["AUTOMOBILE", "BUILDING",
                                            "FURNITURE", "HOUSEHOLD",
                                            "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(1, n_sup + 1, dtype=np.int64),
            "s_name": _names("Supplier", np.arange(1, n_sup + 1)),
            "s_nationkey": rngs[3].integers(0, 25, n_sup).astype(np.int32),
            "s_acctbal": _money(rngs[3], n_sup, -999, 9999),
        }),
        "part": pa.table({
            "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
            "p_name": _names("Part", np.arange(1, n_part + 1)),
            "p_brand": _pick(rngs[4], [f"Brand#{i}{j}" for i in range(1, 6)
                                       for j in range(1, 6)], n_part),
            "p_type": _pick(rngs[4], ["STANDARD", "SMALL", "MEDIUM", "LARGE",
                                      "ECONOMY", "PROMO"], n_part),
            "p_size": rngs[4].integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": _money(rngs[4], n_part, 900, 2000),
        }),
        "orders": _orders(rngs[5], n_ord, n_cust),
        "lineitem": _lineitem(rngs[6], n_li, n_ord, n_part, n_sup),
        "events": pa.table({
            "event_id": np.arange(1, n_ev + 1, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us").astype(np.int64)
                           + rngs[7].integers(0, 29 * 86_400_000_000, n_ev),
                           pa.timestamp("us")),
            "user_id": rngs[7].integers(1, 1500, n_ev).astype(np.int64),
            "event_type": _pick(rngs[7], ["signup", "click", "view",
                                          "purchase", "error"], n_ev),
            "value": np.round(rngs[7].exponential(20.0, n_ev), 3),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rngs[7].integers(0, 100, n_ev).tolist()]),
        }),
    }
    docs, _ = _documents(rngs[8], size["documents"], vocab=5_000, zipf_s=1.0,
                         sources=20, neardup_rate=0.0, exact_rate=0.0)
    tables["documents"] = docs
    tables["embeddings"], _ = _embeddings(rngs[9], size["embeddings"], 0.0)
    big = {"orders": 600, "lineitem": 2_500, "events": 600}
    rows = {}
    for name, tbl in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        if name in big:
            _write(tbl, path, parts=PARTS, row_group=big[name])
        else:
            _write(tbl, path)
        rows[name] = tbl.num_rows
    return {"rows": rows, "source_rows": sum(rows.values()),
            "checks": {name: checksums(tbl) for name, tbl in tables.items()},
            "columns": {name: exact_columns(tbl.schema) for name, tbl in tables.items()}}


# -- range-sync table + drifted target ------------------------------------


def gen_range_sync(out: str, seed: int, size: dict) -> dict:
    rng = np.random.default_rng([seed, 100])
    n = size["orders"]
    src = _orders(rng, n, n_cust=max(1, n // 10))
    keys = src["o_orderkey"].to_numpy()
    pick = rng.permutation(n)
    n_miss, n_chg, n_extra = size["missing"], size["changed"], size["extra"]
    missing = np.sort(keys[pick[:n_miss]])
    changed = np.sort(keys[pick[n_miss:n_miss + n_chg]])
    keep = ~np.isin(keys, missing)
    chg = np.isin(keys, changed)
    # a changed row differs in an exact-typed column the diff hashes
    custkey = src["o_custkey"].to_numpy() + chg.astype(np.int64)
    drifted = src.set_column(1, "o_custkey", pa.array(custkey)).filter(keep)
    extra = _orders(rng, n_extra, n_cust=max(1, n // 10), first_key=n + 1)
    target = pa.concat_tables([drifted, extra])
    os.makedirs(os.path.join(out, "src"))
    os.makedirs(os.path.join(out, "target"))
    _write(src, os.path.join(out, "src", "orders.parquet"), PARTS, 1_000)
    _write(target, os.path.join(out, "target", "orders.parquet"), PARTS, 1_000)
    return {
        "rows": {"orders": n},
        "source_rows": n,
        "source_bytes": _tree_bytes(os.path.join(out, "src")),
        "checks": {"orders": checksums(src)},
        "columns": {"orders": exact_columns(src.schema)},
        "drift": {"missing_in_target": n_miss, "changed": n_chg,
                  "extra_in_target": n_extra},
    }


# -- corpus: documents + embeddings ---------------------------------------


def _word(i: int) -> str:
    syl = ("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa",
           "do", "fe", "gu", "hi", "jo", "be", "ci", "wa", "xo", "yu")
    out = []
    while True:
        out.append(syl[i % 20])
        i //= 20
        if i == 0:
            return "".join(out)


def jaccard(a: str, b: str) -> float:
    """Token-set Jaccard on single-space tokens (the dedup operators'
    tokenization)."""
    sa, sb = set(a.split(" ")), set(b.split(" "))
    return len(sa & sb) / len(sa | sb)


def _documents(rng, n: int, vocab: int, zipf_s: float, sources: int,
               neardup_rate: float, exact_rate: float):
    """``n`` documents; a share are planted copies of an earlier document
    in the same (lang, source) block: exact copies, or near copies with
    one to three token substitutions. Returns (table, planted pairs as
    [base_id, copy_id, jaccard])."""
    words = np.asarray([_word(i) for i in range(vocab)], dtype=object)
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    n_near = int(n * neardup_rate)
    n_exact = int(n * exact_rate)
    n_base = n - n_near - n_exact
    lens = rng.integers(16, 49, n_base)
    flat = words[rng.choice(vocab, int(lens.sum()), p=p)]
    ends = np.cumsum(lens)
    texts = [" ".join(flat[e - ln:e]) for e, ln in zip(ends.tolist(), lens.tolist())]
    langs = rng.integers(0, len(LANGS), n_base).tolist()
    srcs = rng.integers(0, sources, n_base).tolist()
    planted = []
    bases = rng.integers(0, n_base, n_near + n_exact).tolist()
    subs = rng.integers(1, 4, n_near).tolist()
    for j, b in enumerate(bases):
        text = texts[b]
        if j < n_near:
            toks = text.split(" ")
            at = rng.choice(len(toks), subs[j], replace=False)
            for pos, w in zip(at.tolist(), rng.integers(0, vocab, subs[j]).tolist()):
                toks[pos] = words[w]
            text = " ".join(toks)
        texts.append(text)
        langs.append(langs[b])
        srcs.append(srcs[b])
        planted.append([b + 1, len(texts), jaccard(texts[b], text)])
    table = pa.table({
        "doc_id": np.arange(1, n + 1, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{i}" for i in srcs], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, planted


def _embeddings(rng, n: int, twin_rate: float):
    """``n`` random vectors; a share are planted twins (base + small
    noise) of distinct base vectors. Returns (table, twin pairs)."""
    n_twin = int(n * twin_rate)
    mat = rng.standard_normal((n, DIM)).astype(np.float32)
    bases = rng.permutation(n - n_twin)[:n_twin]
    noise = 0.05 * rng.standard_normal((n_twin, DIM)).astype(np.float32)
    mat[n - n_twin:] = mat[bases] + noise
    twins = [[int(b) + 1, n - n_twin + i + 1] for i, b in enumerate(bases.tolist())]
    emb = pa.FixedSizeListArray.from_arrays(pa.array(mat.reshape(-1)), DIM)
    table = pa.table({
        "vec_id": np.arange(1, n + 1, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })
    return table, twins


def gen_corpus(out: str, seed: int, size: dict) -> dict:
    docs, planted = _documents(
        np.random.default_rng([seed, 200]), size["documents"], size["vocab"],
        size["zipf_s"], size["sources"], size["neardup_rate"], size["exact_rate"],
    )
    vecs, twins = _embeddings(np.random.default_rng([seed, 201]),
                              size["embeddings"], size["twin_rate"])
    _write(docs, os.path.join(out, "documents.parquet"), PARTS, 200)
    _write(vecs, os.path.join(out, "embeddings.parquet"), PARTS, 100)
    texts = docs["text"].to_pylist()
    return {
        "rows": {"documents": docs.num_rows, "embeddings": vecs.num_rows},
        "source_rows": docs.num_rows + vecs.num_rows,
        "distinct_texts": len(set(texts)),
        "doc_terms": sum(len(set(t.split(" "))) for t in texts),
        "planted_pairs": [pr for pr in planted if pr[2] >= NEARDUP_THRESHOLD],
        "twins": twins,
    }


_GENERATORS = {"keyspace_copy": gen_keyspace, "range_sync": gen_range_sync,
               "corpus_dedup_search": gen_corpus}
