"""The generator is a pure function of (seed, size)."""

import filecmp
import os

import gen

TINY = {
    "keyspace_copy": {"lineitem": 800, "orders": 200, "events": 200, "customer": 50,
                      "part": 60, "supplier": 10, "documents": 40, "embeddings": 30},
    "range_sync": {"orders": 500, "missing": 7, "changed": 11, "extra": 5},
    "corpus_dedup_search": {"documents": 300, "vocab": 2_000, "zipf_s": 1.0,
                            "sources": 4, "neardup_rate": 0.1, "exact_rate": 0.05,
                            "embeddings": 200, "twin_rate": 0.1},
}


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for workload, size in TINY.items():
        a, ma = gen.stage(str(tmp_path / "a"), workload, 7, size)
        b, mb = gen.stage(str(tmp_path / "b"), workload, 7, size)
        assert ma == mb
        names = _files(a)
        assert names == _files(b) and len(names) > 1
        match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        assert not mismatch and not errors, (workload, mismatch, errors)


def test_other_seed_gives_other_inputs(tmp_path):
    _, ma = gen.stage(str(tmp_path), "range_sync", 1, TINY["range_sync"])
    _, mb = gen.stage(str(tmp_path), "range_sync", 2, TINY["range_sync"])
    assert ma["checks"] != mb["checks"]


def test_staging_is_reused_and_bounded(tmp_path):
    path, _ = gen.stage(str(tmp_path), "range_sync", 1, TINY["range_sync"], keep=2)
    marker = os.path.join(path, "reused")
    open(marker, "w").close()
    assert gen.stage(str(tmp_path), "range_sync", 1, TINY["range_sync"], keep=2)[0] == path
    assert os.path.exists(marker)
    for seed in (2, 3, 4):
        gen.stage(str(tmp_path), "range_sync", seed, TINY["range_sync"], keep=2)
    assert len(os.listdir(tmp_path / "inputs")) == 2


def test_planted_truth_is_recorded(tmp_path):
    _, m = gen.stage(str(tmp_path), "range_sync", 3, TINY["range_sync"])
    assert m["drift"] == {"missing_in_target": 7, "changed": 11, "extra_in_target": 5}
    _, m = gen.stage(str(tmp_path), "corpus_dedup_search", 3, TINY["corpus_dedup_search"])
    assert m["planted_pairs"] and all(j >= gen.NEARDUP_THRESHOLD for _, _, j in m["planted_pairs"])
    assert len(m["twins"]) == 20
    _, m = gen.stage(str(tmp_path), "keyspace_copy", 3, TINY["keyspace_copy"])
    parts = os.listdir(os.path.join(_, "lineitem.parquet"))
    assert len(parts) == gen.PARTS
