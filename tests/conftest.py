"""Shared fixtures: one SparkSession per test run + DuckDB oracle conns."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# transformWithStateInPandas needs google.protobuf in BOTH the test
# process and the pyspark worker processes. The container has no wheel,
# but tests/_protoshim/sitecustomize.py can bridge to the pure-Python
# runtime bundled in the google-cloud-sdk tree (see its docstring).
# PYTHONPATH must carry the shim dir BEFORE the SparkSession/JVM is
# created so workers inherit it; loading the module here applies the
# same shim to this (driver) process. No-op once a real wheel exists.
_PROTOSHIM = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_protoshim")
if os.path.isdir(_PROTOSHIM):
    os.environ["PYTHONPATH"] = (
        _PROTOSHIM + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)
    import importlib.util as _ilu

    _spec = _ilu.spec_from_file_location(
        "_tws_protoshim", os.path.join(_PROTOSHIM, "sitecustomize.py")
    )
    _mod = _ilu.module_from_spec(_spec)
    _spec.loader.exec_module(_mod)

from cassandra_migrate_keyspace_from_cluster_spark.session import build_session
from cassandra_migrate_keyspace_from_cluster_spark.sources import TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"
# Parity tests run at the same scale factor the driver's t2 uses unless
# overridden (PARITY_SF=sf0.001 for a fast pre-check).
PARITY_SF = os.environ.get("PARITY_SF", SF_T2)


def jobs_submitted(spark, fn) -> int:
    """Spark jobs submitted while ``fn()`` runs, from any thread.

    Job ids are sequential per SparkContext, so this is the growth of the
    newest job id; the newest job is always among the
    ``spark.ui.retainedJobs`` the status tracker keeps. The calling
    thread's job group is cleared, so its jobs are counted together with
    the ungrouped ones of the engine's thread pools."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)

    def newest() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(), default=-1)

    before = newest()
    fn()
    return newest() - before


@pytest.fixture(scope="session")
def spark():
    spark = build_session(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection factory with the keyspace views registered."""
    conns: dict[str, duckdb.DuckDBPyConnection] = {}

    def get(sf_dir: str) -> duckdb.DuckDBPyConnection:
        if sf_dir not in conns:
            con = duckdb.connect()
            for name in TABLES:
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{name}.parquet')"
                )
            conns[sf_dir] = con
        return conns[sf_dir]

    yield get
    for con in conns.values():
        con.close()
