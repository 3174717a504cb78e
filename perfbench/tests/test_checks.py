"""The copy check catches a target that lost or changed one row."""

import os
import shutil

import pyarrow.parquet as pq
import pytest

import gen
from test_gen import TINY
from workloads import TABLES, copy_mismatches


def _corrupt(table_dir, how):
    part = os.path.join(table_dir, sorted(os.listdir(table_dir))[0])
    table = pq.read_table(part)
    if how == "drop":
        table = table.slice(1)
    else:
        custkey = table["o_custkey"].to_pylist()
        custkey[0] += 1
        table = table.set_column(1, "o_custkey", [custkey])
    pq.write_table(table, part)


def test_generated_keyspace_passes_copy_check(tmp_path):
    src, manifest = gen.stage(str(tmp_path), "keyspace_copy", 5, TINY["keyspace_copy"])
    assert copy_mismatches(manifest, src, TABLES) == []


@pytest.mark.parametrize("how", ["drop", "mutate"])
def test_corrupted_target_fails_copy_check(tmp_path, how):
    src, manifest = gen.stage(str(tmp_path), "keyspace_copy", 5, TINY["keyspace_copy"])
    dst = str(tmp_path / "copy")
    shutil.copytree(src, dst)
    _corrupt(os.path.join(dst, "orders.parquet"), how)
    bad = copy_mismatches(manifest, dst, TABLES)
    assert len(bad) == 1 and bad[0].startswith("orders: digest")
