"""Migration-surface unit tests (SURVEY.md §5.3.6 round-trip, plus the
Cassandra-path design helpers that are string/config-only here)."""

from __future__ import annotations

import hashlib
import os
import re
import tempfile
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_migrate_keyspace_from_cluster_spark.operators import migrate as mig
from cassandra_migrate_keyspace_from_cluster_spark.sources import cassandra as cass
from cassandra_migrate_keyspace_from_cluster_spark.sources import load_table

from .conftest import SF_SMOKE as SMOKE_SF, jobs_submitted


# (copy_table keyword arguments, derived columns the layout adds)
COPY_LAYOUTS = {
    "parquet": ({}, ()),
    "csv": ({"fmt": "csv"}, ()),
    "json": ({"fmt": "json"}, ()),
    "orc": ({"fmt": "orc"}, ()),
    "partitioned": (
        {
            "layout": lambda df: df.withColumn("o_year", F.year("o_orderdate")),
            "partition_by": ("o_year",),
        },
        ("o_year",),
    ),
    "compacted": ({"layout": lambda df: df.repartition(3)}, ()),
    "clustered": (
        {
            "layout": lambda df: df.repartitionByRange(4, F.col("o_orderdate"))
            .sortWithinPartitions("o_orderdate", "o_orderkey")
        },
        (),
    ),
}


@pytest.mark.parametrize("layout", list(COPY_LAYOUTS))
def test_copy_roundtrip_schema_and_checksum(spark, tmp_path, layout):
    """Every copy layout reads back with the source schema (plus only
    its derived columns) and the source's content checksum."""
    kwargs, derived = COPY_LAYOUTS[layout]
    src = load_table(spark, SMOKE_SF, "orders")
    copied = mig.copy_table(spark, SMOKE_SF, str(tmp_path), "orders", **kwargs)
    assert copied.columns == src.columns + list(derived)
    assert copied.drop(*derived).schema == src.schema
    a = mig.content_checksum(src, "orders").collect()
    b = mig.content_checksum(copied.drop(*derived), "orders").collect()
    assert a == b


def test_range_split_covers_all_rows(spark):
    orders = load_table(spark, SMOKE_SF, "orders")
    buckets = mig.range_split_counts(orders, "o_orderkey", 8).collect()
    assert len(buckets) == 8
    assert sum(r.n_rows for r in buckets) == orders.count()
    # contiguous, non-overlapping key ranges in bucket order
    rows = sorted(buckets, key=lambda r: r.bucket)
    for prev, cur in zip(rows, rows[1:]):
        assert prev.max_key < cur.min_key


def _fail_ranges_from(monkeypatch, k: int) -> None:
    """Make the copy core's write raise for every ``range=i`` with
    i >= k, before it submits a job: a crash that leaves ranges 0..k-1
    copied and marked."""
    write = mig._write

    def failing(df, path, *a, **kw):
        if int(re.search(r"range=(\d+)$", path).group(1)) >= k:
            raise OSError(f"injected write failure for {os.path.basename(path)}")
        write(df, path, *a, **kw)

    monkeypatch.setattr(mig, "_write", failing)


def test_resumable_copy_skips_completed_ranges(spark, monkeypatch):
    """A9: an interrupted copy resumes where it stopped — completed
    ranges are skipped (markers untouched) and the final content equals
    the source. Planning submits no Spark job: each run submits exactly
    one job per range it copies, 3 before the crash and 5 on resume."""
    import os

    src = load_table(spark, SMOKE_SF, "orders")
    dst = tempfile.mkdtemp(prefix="mig_resume_")
    args = (spark, SMOKE_SF, dst, "orders", "o_orderkey")

    def crash():
        with monkeypatch.context() as m:
            _fail_ranges_from(m, 3)
            with pytest.raises(OSError, match="injected write failure for range=3"):
                mig.copy_table_resumable(*args, n_splits=8)

    assert jobs_submitted(spark, crash) == 3
    markers = sorted(f for f in os.listdir(dst) if f.endswith(".done"))
    assert len(markers) == 3
    stamps = {m: os.path.getmtime(os.path.join(dst, m)) for m in markers}

    resumed = []
    assert jobs_submitted(
        spark, lambda: resumed.append(mig.copy_table_resumable(*args, n_splits=8))
    ) == 5
    copied = resumed[0]
    # all 8 ranges now done; the first 3 markers were not rewritten
    assert len([f for f in os.listdir(dst) if f.endswith(".done")]) == 8
    for m, ts in stamps.items():
        assert os.path.getmtime(os.path.join(dst, m)) == ts
    assert copied.count() == src.count()
    a = mig.content_checksum(src.select("o_orderkey", "o_orderstatus"), "orders").collect()
    b = mig.content_checksum(copied.select("o_orderkey", "o_orderstatus"), "orders").collect()
    assert a == b


def test_ddl_emission_maps_types(spark):
    schema = load_table(spark, SMOKE_SF, "orders").schema
    ddl = cass.ddl_for(schema, "ks", "orders", ["o_orderkey"], ["o_orderdate"])
    assert "CREATE TABLE IF NOT EXISTS ks.orders" in ddl
    assert "o_orderkey bigint" in ddl
    assert "o_orderdate timestamp" in ddl
    assert "PRIMARY KEY ((o_orderkey), o_orderdate)" in ddl


def test_cluster_config_conf_shape():
    cfg = cass.ClusterConfig(hosts=("h1", "h2"), username="u", password="p")
    conf = cfg.spark_conf()
    assert conf["spark.cassandra.connection.host"] == "h1,h2"
    assert conf["spark.cassandra.auth.username"] == "u"
    opts = cass.reader_options("ks", "t", writetime_cols=("v",), ttl_cols=("v",))
    assert opts["writetime.v"] == "v_writetime"
    assert opts["ttl.v"] == "v_ttl"


def _range_rows(dst, n_ranges: int) -> list[int]:
    """Rows the resumable copy wrote to each ``range=i`` directory of
    ``<dst>/orders.parquet``, from the parquet footers."""
    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        footer_rows,
    )

    return [
        footer_rows(os.path.join(dst, "orders.parquet", f"range={i}"))
        for i in range(n_ranges)
    ]


def _publish(src_dir, keys) -> None:
    """Write (or replace) an ``orders`` table under ``src_dir`` whose
    columns are a bigint key ``k`` (NULLs allowed) and a value ``v``
    derived from it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"k": pa.array(keys, pa.int64()), "v": [f"v{k}" for k in keys]}),
        os.path.join(src_dir, "orders.parquet"),
    )


def test_resume_after_source_change_copies_each_key_once(spark, tmp_path, monkeypatch):
    """ROADMAP item 1's repro: copy 1,000 keys over 4 ranges, crash after
    2, replace the source with 2,000 keys (1,000 below the old minimum)
    and resume. The target holds no key twice, and the only drift left
    for a repair pass is the new keys whose token lies in the two ranges
    copied before the crash."""
    from cassandra_migrate_keyspace_from_cluster_spark.sources.cluster_source import (
        ring_ranges,
        token_of,
    )

    src_dir, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    os.makedirs(src_dir)
    args = (spark, src_dir, dst, "orders", "k")
    _publish(src_dir, list(range(1000, 2000)))
    with monkeypatch.context() as m:
        _fail_ranges_from(m, 2)
        with pytest.raises(OSError, match="range=2"):
            mig.copy_table_resumable(*args, n_splits=4)
    _publish(src_dir, list(range(2000)))
    out = mig.copy_table_resumable(*args, n_splits=4)

    assert out.count() == out.select("k").distinct().count()
    copied_first = ring_ranges(4)[:2]
    missed = sorted(
        k for k in range(1000) if any(lo <= token_of(k) < hi for lo, hi in copied_first)
    )
    assert 0 < len(missed) < 1000
    diff = mig.snapshot_diff(load_table(spark, src_dir, "orders"), out, "k", ("v",))
    assert sorted((r.k, r.status) for r in diff.collect()) == [
        (k, "missing_in_target") for k in missed
    ]


def test_resume_trusts_only_markers_of_its_own_plan(spark, tmp_path):
    """A range whose data was written but whose marker was not (a crash
    between the two) is copied again, and the target equals the source
    exactly. A resume under another plan (a different ``n_splits``) is
    refused with a ValueError naming the first mismatched marker rather
    than mixing two plans' overlapping ranges; the refusal creates
    nothing, even in a target that holds only the foreign marker."""
    from cassandra_migrate_keyspace_from_cluster_spark.sources.cluster_source import (
        ring_ranges,
    )

    dst = str(tmp_path / "dst")
    args = (spark, SMOKE_SF, dst, "orders", "o_orderkey")
    src = load_table(spark, SMOKE_SF, "orders")
    mig.copy_table_resumable(*args, n_splits=4)
    os.remove(os.path.join(dst, "_orders_range_2.done"))
    out = mig.copy_table_resumable(*args, n_splits=4)
    assert out.count() == src.count()
    assert out.exceptAll(src).count() == 0 and src.exceptAll(out).count() == 0
    with pytest.raises(ValueError, match=re.escape("_orders_range_0.done")):
        mig.copy_table_resumable(*args, n_splits=8)
    fresh = tmp_path / "fresh"
    fresh.mkdir()
    lo, hi = ring_ranges(4)[0]
    (fresh / "_orders_range_0.done").write_text(f"{lo}..{hi}\n")
    with pytest.raises(ValueError, match=re.escape("_orders_range_0.done")):
        mig.copy_table_resumable(spark, SMOKE_SF, str(fresh), "orders", "o_orderkey", n_splits=8)
    assert sorted(os.listdir(fresh)) == ["_orders_range_0.done"]


@pytest.mark.parametrize("torn", ["", "92233720"], ids=["empty", "cut_off"])
def test_torn_marker_is_recopied(spark, tmp_path, torn):
    """A marker left empty or cut off mid-line (a crash while it was
    written) counts as absent: the resume copies exactly that range, in
    one write job, leaves a whole marker and no temporary file, and the
    target equals the source."""
    import shutil

    from cassandra_migrate_keyspace_from_cluster_spark.sources.cluster_source import (
        ring_ranges,
    )

    dst = str(tmp_path)
    args = (spark, SMOKE_SF, dst, "orders", "o_orderkey")
    mig.copy_table_resumable(*args, n_splits=4)
    shutil.rmtree(os.path.join(dst, "orders.parquet", "range=2"))
    marker = os.path.join(dst, "_orders_range_2.done")
    with open(marker, "w") as fh:
        fh.write(torn)
    resumed = []
    assert jobs_submitted(
        spark, lambda: resumed.append(mig.copy_table_resumable(*args, n_splits=4))
    ) == 1
    lo, hi = ring_ranges(4)[2]
    with open(marker) as fh:
        assert fh.read() == f"{lo}..{hi}\n"
    markers = [f"_orders_range_{i}.done" for i in range(4)]
    assert sorted(os.listdir(dst)) == markers + ["orders.parquet"]
    out, src = resumed[0], load_table(spark, SMOKE_SF, "orders")
    assert out.exceptAll(src).count() == 0 and src.exceptAll(out).count() == 0


@pytest.mark.parametrize(
    "keys", [[], [5, 5, -3, None, 7, None, 5] * 30], ids=["empty", "repeated_keys"]
)
def test_resumable_copy_is_exact_on_edge_sources(spark, tmp_path, keys):
    """An empty source copies to a 0-row target with the source schema;
    repeated key values, NULL keys among them, are copied with exact
    multiplicity."""
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    _publish(src_dir, keys)
    src = load_table(spark, src_dir, "orders")
    out = mig.copy_table_resumable(
        spark, src_dir, str(tmp_path / "dst"), "orders", "k", n_splits=3
    )
    assert out.schema == src.schema
    assert out.count() == len(keys)
    assert out.exceptAll(src).count() == 0 and src.exceptAll(out).count() == 0


def test_throttled_copy_pacing_schedule(spark, tmp_path):
    """A10: with a fake clock, the pacing schedule is exact — before
    range i starts, virtual time >= rows_copied_before_i / rate; with
    no rate, no sleeps; the copied table is identical either way."""
    from cassandra_migrate_keyspace_from_cluster_spark.queries.part_a_migration import (
        _FakeClock,
    )

    sf = SMOKE_SF
    rate = 500.0
    clock = _FakeClock()
    out = mig.copy_table_resumable(
        spark, sf, str(tmp_path / "thr"), "orders", "o_orderkey",
        n_splits=4, rows_per_second=rate, clock=clock,
    )
    src = spark.read.parquet(f"{sf}/orders.parquet")
    assert out.count() == src.count()
    assert out.exceptAll(src).count() == 0 and src.exceptAll(out).count() == 0
    counts = _range_rows(tmp_path / "thr", 4)
    # ranges run sequentially: cumulative virtual time when the LAST
    # range starts must be >= everything-before / rate (clock only
    # advances via sleep, so the schedule is exact, not approximate)
    assert clock.slept, "throttle never paced"
    assert abs(clock.t - sum(counts[:-1]) / rate) < 1e-6
    # unthrottled: same bytes, zero sleeps
    clock2 = _FakeClock()
    out2 = mig.copy_table_resumable(
        spark, sf, str(tmp_path / "unthr"), "orders", "o_orderkey",
        n_splits=4, rows_per_second=None, clock=clock2,
    )
    assert not clock2.slept
    assert out2.exceptAll(out).count() == 0 and out.exceptAll(out2).count() == 0


def test_paced_copy_resumes_and_repaces_remaining_ranges(spark, tmp_path):
    """A9 + A10 in one loop: a paced copy interrupted after two of four
    ranges keeps its markers; the resumed run skips those ranges, paces
    only the ranges it copies itself (a fresh clock sleeps for every
    range but the last, at the written row counts), and completes the
    table exactly."""
    import os

    from cassandra_migrate_keyspace_from_cluster_spark.queries.part_a_migration import (
        _FakeClock,
    )

    class _CrashingClock(_FakeClock):
        """Crashes the copy at its second pacing sleep, before range 2,
        with virtual time left at the first sleep's end."""

        def sleep(self, seconds):
            if self.slept:
                raise RuntimeError("crash before range 2")
            super().sleep(seconds)

    rate = 500.0
    dst = str(tmp_path / "paced")
    args = (spark, SMOKE_SF, dst, "orders", "o_orderkey")
    first = _CrashingClock()
    with pytest.raises(RuntimeError, match="before range 2"):
        mig.copy_table_resumable(*args, n_splits=4, rows_per_second=rate, clock=first)
    src = load_table(spark, SMOKE_SF, "orders")
    assert abs(first.t - _range_rows(dst, 2)[0] / rate) < 1e-6
    markers = sorted(f for f in os.listdir(dst) if f.endswith(".done"))
    assert len(markers) == 2
    stamps = {m: os.stat(os.path.join(dst, m)).st_mtime_ns for m in markers}

    second = _FakeClock()
    out = mig.copy_table_resumable(
        *args, n_splits=4, rows_per_second=rate, clock=second
    )
    assert len([f for f in os.listdir(dst) if f.endswith(".done")]) == 4
    for m, ns in stamps.items():
        assert os.stat(os.path.join(dst, m)).st_mtime_ns == ns
    counts = _range_rows(dst, 4)
    assert abs(sum(second.slept) - sum(counts[2:-1]) / rate) < 1e-6
    assert out.exceptAll(src).count() == 0 and src.exceptAll(out).count() == 0


def test_failed_range_is_reported_and_resumed(spark, tmp_path, monkeypatch):
    """A range whose write raises is reported, never dropped: an unpaced
    copy over 8 ranges raises that range's error after every other range
    has written all its rows and its marker, the failed range has
    neither, and the resume submits one job, for that range, and
    completes the table exactly."""
    from cassandra_migrate_keyspace_from_cluster_spark.sources.cluster_source import (
        ring_ranges,
        token_of,
    )
    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        footer_rows,
    )

    dst = str(tmp_path)
    args = (spark, SMOKE_SF, dst, "orders", "o_orderkey")
    write = mig._write

    def failing(df, path, *a, **k):
        if path.endswith("range=2"):
            raise OSError("no space left for range=2")
        write(df, path, *a, **k)

    monkeypatch.setattr(mig, "_write", failing)
    with pytest.raises(OSError, match="range=2"):
        mig.copy_table_resumable(*args, n_splits=8)
    src = load_table(spark, SMOKE_SF, "orders")
    keys = [r.o_orderkey for r in src.select("o_orderkey").collect()]
    for i, (lo, hi) in enumerate(ring_ranges(8)):
        marker = os.path.join(dst, f"_orders_range_{i}.done")
        part = os.path.join(dst, "orders.parquet", f"range={i}")
        if i == 2:
            assert not os.path.exists(marker) and not os.path.exists(part)
            continue
        with open(marker) as fh:
            assert fh.read() == f"{lo}..{hi}\n"
        assert footer_rows(part) == sum(lo <= token_of(k) < hi for k in keys), i

    monkeypatch.setattr(mig, "_write", write)
    resumed = []
    assert jobs_submitted(
        spark, lambda: resumed.append(mig.copy_table_resumable(*args, n_splits=8))
    ) == 1
    out = resumed[0]
    assert out.exceptAll(src).count() == 0 and src.exceptAll(out).count() == 0


def test_unpaced_copy_writes_ranges_concurrently(spark, tmp_path, monkeypatch):
    """An unpaced copy has range writes in flight together: every write
    waits at a two-party barrier before it starts, which only a second
    concurrent write can release (a serial copy breaks the barrier)."""
    barrier = threading.Barrier(2, timeout=60)
    write = mig._write

    def gated(*a, **k):
        barrier.wait()
        write(*a, **k)

    monkeypatch.setattr(mig, "_write", gated)
    out = mig.copy_table_resumable(
        spark, SMOKE_SF, str(tmp_path), "orders", "o_orderkey", n_splits=4
    )
    src = load_table(spark, SMOKE_SF, "orders")
    assert out.exceptAll(src).count() == 0 and src.exceptAll(out).count() == 0


def test_paced_copy_writes_one_range_at_a_time(spark, tmp_path, monkeypatch):
    """A paced copy bounds source read pressure, so it never has two
    range writes in flight, and its sleep schedule is exact: before each
    range but the first it sleeps the previous range's rows / rate."""
    from cassandra_migrate_keyspace_from_cluster_spark.queries.part_a_migration import (
        _FakeClock,
    )

    lock, in_flight, peak = threading.Lock(), [0], [0]
    write = mig._write

    def counted(*a, **k):
        with lock:
            in_flight[0] += 1
            peak[0] = max(peak[0], in_flight[0])
        try:
            write(*a, **k)
        finally:
            with lock:
                in_flight[0] -= 1

    monkeypatch.setattr(mig, "_write", counted)
    rate, clock = 500.0, _FakeClock()
    mig.copy_table_resumable(
        spark, SMOKE_SF, str(tmp_path), "orders", "o_orderkey",
        n_splits=4, rows_per_second=rate, clock=clock,
    )
    assert peak[0] == 1
    counts = _range_rows(tmp_path, 4)
    assert clock.slept == pytest.approx([n / rate for n in counts[:-1]], abs=1e-9)


def test_copies_write_one_file_per_million_rows(spark, tmp_path):
    """File-shape law: both copy paths coalesce a copy unit to one file
    per ~1M rows, however many splits its source has. sf0.001 orders
    rewritten as three part files (three input splits) copies to exactly
    one part file per ``range=i`` over 4 ranges, and migrate_keyspace
    writes one part file per table, as it did before the rule was
    shared."""
    _split_table(tmp_path, "orders")
    _split_table(tmp_path, "events")
    src_dir = str(tmp_path)
    ranged = tmp_path / "ranged"
    mig.copy_table_resumable(spark, src_dir, str(ranged), "orders", "o_orderkey", n_splits=4)
    for i in range(4):
        assert len(list((ranged / "orders.parquet" / f"range={i}").glob("*.parquet"))) == 1, i
    keyspace = tmp_path / "keyspace"
    report = mig.migrate_keyspace(spark, src_dir, str(keyspace), ["orders", "events"])
    assert all(r.counts_match for r in report.collect())
    for name in ("orders", "events"):
        assert len(list((keyspace / f"{name}.parquet").glob("*.parquet"))) == 1, name


def test_resumable_copy_target_is_a_keyspace_table(spark, tmp_path):
    """The resumable copy's target (one ``range=i`` directory per token
    range) opens and counts like any keyspace table: ``footer_rows``
    equals the source's, ``load_table`` has the source schema (no
    ``range`` column) and the source rows, and ``table_counts`` (A7)
    reports the source count. Hidden paths (``_temporary/``, dot files)
    are not part files."""
    import shutil

    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        footer_rows,
        list_part_files,
        table_path,
    )

    dst = str(tmp_path / "dst")
    mig.copy_table_resumable(spark, SMOKE_SF, dst, "orders", "o_orderkey", n_splits=4)
    n = footer_rows(table_path(SMOKE_SF, "orders"))
    assert footer_rows(table_path(dst, "orders")) == n
    src = load_table(spark, SMOKE_SF, "orders")
    got = load_table(spark, dst, "orders")
    assert got.schema == src.schema
    assert got.exceptAll(src).count() == 0
    assert src.exceptAll(got).count() == 0
    assert [tuple(r) for r in mig.table_counts(spark, dst, ["orders"]).collect()] == [
        ("orders", n)
    ]

    parts = list_part_files(table_path(dst, "orders"))
    stray = tmp_path / "dst" / "orders.parquet" / "_temporary" / "0"
    stray.mkdir(parents=True)
    shutil.copy(parts[0], stray / "part-0.parquet")
    shutil.copy(parts[0], stray.parent.parent / ".part-0.parquet")
    assert list_part_files(table_path(dst, "orders")) == parts


def test_compacted_copy_sizes_from_footers(spark, tmp_path):
    """a4f sizes its compaction from the footer row count: it submits
    exactly the jobs of the same ``copy_table`` with the file count
    given, and no counting job of its own."""
    from cassandra_migrate_keyspace_from_cluster_spark.queries.part_a_migration import (
        a4f_copy_compacted,
    )
    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        footer_rows,
        table_path,
    )

    k = max(1, -(-footer_rows(table_path(SMOKE_SF, "lineitem")) // 20000))
    a4f = jobs_submitted(spark, lambda: a4f_copy_compacted(spark, SMOKE_SF))
    given = jobs_submitted(
        spark,
        lambda: mig.copy_table(
            spark, SMOKE_SF, str(tmp_path), "lineitem",
            layout=lambda df: df.repartition(k),
        ),
    )
    assert a4f == given


def test_migrate_keyspace_without_tables_reports_nothing(spark, tmp_path):
    """An empty table list is an empty four-column report, not a thread
    pool error."""
    report = mig.migrate_keyspace(spark, SMOKE_SF, str(tmp_path), tables=[])
    assert report.columns == ["table_name", "n_rows_src", "n_rows_dst", "counts_match"]
    assert report.count() == 0


def test_cluster_source_token_ranges(spark, tmp_path):
    """A1 connector simulation: one task per token range, ranges tile
    the table exactly, and uniform-hash tokens keep splits balanced.
    Partition i holds only rows whose key token is in range i, for a
    single file, a directory of parts and a table with NULL keys (kept,
    all in partition 0: NULL is token 0). The Spark predicate
    ``token_in_range`` puts every key in the range ``token_of`` puts it
    in, and in that range only."""
    from cassandra_migrate_keyspace_from_cluster_spark.sources.cluster_source import (
        read_keyspace_table,
        ring_ranges,
        token_in_range,
        token_of,
    )
    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        footer_rows,
    )

    path = "/root/testdata/sf0.001/orders.parquet"
    events_dir, n_events = _split_table(tmp_path)
    null_dir = str(tmp_path / "nulls")
    os.makedirs(null_dir)
    null_keys = [None, 3, None, -7] * 5 + list(range(40))
    _publish(null_dir, null_keys)
    tables = [  # (path, key, rows, NULL keys)
        (path, "o_orderkey", footer_rows(path), 0),
        (str(events_dir), "event_id", n_events, 0),
        (os.path.join(null_dir, "orders.parquet"), "k", len(null_keys), null_keys.count(None)),
    ]
    for table, key, n_rows, n_nulls in tables:
        for n in (1, 3, 8):
            rng = ring_ranges(n)
            scan = read_keyspace_table(spark, table, key, n_ranges=n)
            assert scan.rdd.getNumPartitions() == n, (table, n)
            rows = scan.select(F.spark_partition_id().alias("p"), F.col(key).alias("k")).collect()
            assert len(rows) == n_rows, (table, n)
            bad = [(r.p, r.k) for r in rows if not rng[r.p][0] <= token_of(r.k) < rng[r.p][1]]
            assert not bad, (table, n, bad[:5])
            assert [r.p for r in rows if r.k is None] == [0] * n_nulls, (table, n)
    df = read_keyspace_table(spark, path, "o_orderkey", n_ranges=8)
    assert df.rdd.getNumPartitions() == 8
    plain = spark.read.parquet(path)
    assert df.count() == plain.count()
    assert df.exceptAll(plain).count() == 0
    assert plain.exceptAll(df).count() == 0
    # ring math: ranges are half-open, disjoint, and cover the ring
    rng = ring_ranges(8)
    assert rng[0][0] == 0 and rng[-1][1] == 1 << 64
    assert all(rng[i][1] == rng[i + 1][0] for i in range(7))
    # balance: md5 tokens are uniform -> no split above 2x the mean
    sizes = (
        df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    )
    assert len(sizes) == 8 and min(sizes) > 0
    assert max(sizes) <= 2 * (sum(sizes) / len(sizes))
    # determinism: the same key always lands in the same range
    assert token_of(42) == token_of(42)
    # the Spark predicate agrees with token_of on bigint keys (negatives
    # and both extremes), string keys (non-ASCII too) and NULL
    bigints = list(range(-10_250, 10_250)) + [-(1 << 63), (1 << 63) - 1, None]
    strings = [f"k{i}" for i in range(20_500)] + ["", "é", "日本", "a|b", None]
    for keys, ddl in [(bigints, "k bigint"), (strings, "k string")]:
        keyed = spark.createDataFrame([(k,) for k in keys], ddl)
        for n in (1, 3, 8):
            rng = ring_ranges(n)
            flags = [token_in_range("k", lo, hi) for lo, hi in rng]
            for row in keyed.select("k", F.array(*flags).alias("in")).collect():
                want = [i for i, (lo, hi) in enumerate(rng) if lo <= token_of(row.k) < hi]
                assert len(want) == 1
                assert [i for i, hit in enumerate(row["in"]) if hit] == want, (row.k, n)


def test_non_positive_range_count_is_refused(spark, tmp_path):
    """A token-range plan needs at least one range: the scan and the
    resumable copy (both planned by ``ring_ranges``) raise ValueError
    naming the count instead of returning an empty plan, so a bad count
    never copies nothing silently."""
    from cassandra_migrate_keyspace_from_cluster_spark.sources.cluster_source import (
        read_keyspace_table,
        ring_ranges,
    )

    for n in (0, -1):
        with pytest.raises(ValueError, match=f"got {n}$"):
            ring_ranges(n)
    with pytest.raises(ValueError, match="got 0$"):
        read_keyspace_table(spark, f"{SMOKE_SF}/orders.parquet", "o_orderkey", n_ranges=0)
    dst = tmp_path / "dst"
    with pytest.raises(ValueError, match="got -1$"):
        mig.copy_table_resumable(spark, SMOKE_SF, str(dst), "orders", "o_orderkey", n_splits=-1)
    assert not [f for f in dst.rglob("*") if f.is_file()]
    assert not (dst / "orders.parquet").exists()


def test_cluster_source_reads_list_columns(spark):
    """The A1 cluster source declares load_table's footer types, so a
    list column scans: embeddings (an array<float> column) read over 4
    token ranges is exactly load_table's rows, and orders and events
    keep the schema load_table gives them."""
    from cassandra_migrate_keyspace_from_cluster_spark.sources.cluster_source import (
        read_keyspace_table,
    )
    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        table_path,
    )

    def scan(name, key, n_ranges=8):
        return read_keyspace_table(spark, table_path(SMOKE_SF, name), key, n_ranges)

    emb, want = scan("embeddings", "vec_id", 4), load_table(spark, SMOKE_SF, "embeddings")
    assert emb.schema == want.schema
    assert emb.rdd.getNumPartitions() == 4

    def rows(df):
        return sorted((r.vec_id, tuple(r.embedding), r.label) for r in df.collect())

    assert rows(emb) == rows(want)
    for name, key in [("orders", "o_orderkey"), ("events", "event_id")]:
        assert scan(name, key).schema == load_table(spark, SMOKE_SF, name).schema, name


def test_compacted_copy_file_count_and_values(spark):
    """a4f: compaction copy produces exactly ceil(rows/rows_per_file)
    parquet data files and preserves values."""
    import glob
    import os

    dst = tempfile.mkdtemp(prefix="spark_graft_test_a4f_")
    src = load_table(spark, SMOKE_SF, "orders")
    n_rows = src.count()
    expected_files = -(-n_rows // 100)
    out = mig.copy_table(
        spark, SMOKE_SF, dst, "orders",
        layout=lambda df: df.repartition(max(1, -(-df.count() // 100))),
    )
    files = glob.glob(os.path.join(dst, "orders.parquet", "part-*"))
    assert len(files) == expected_files, (len(files), expected_files)
    assert out.count() == n_rows
    assert out.exceptAll(src).count() == 0
    assert src.exceptAll(out).count() == 0


def test_snapshot_diff_empty_on_identical(spark):
    """snapshot_diff of a table against itself emits zero repair rows
    (drift-proportional output)."""
    orders = load_table(spark, SMOKE_SF, "orders")
    cols = ("o_orderkey", "o_orderstatus", "o_orderpriority")
    diff = mig.snapshot_diff(orders, orders, "o_orderkey", cols)
    assert diff.count() == 0


def test_snapshot_diff_null_and_delimiter_drift_detected(spark):
    r"""The row hash must be NULL- and delimiter-unambiguous: a row whose
    drift is only WHICH column is NULL, or a value that shifts the '|'
    delimiter across a column boundary, must still be reported changed
    (a naive concat_ws hash skips NULLs and collides on both)."""
    src = spark.createDataFrame(
        [(1, "a", None), (2, "x|y", "z"), (3, None, None)],
        "k int, c1 string, c2 string",
    )
    tgt = spark.createDataFrame(
        [(1, None, "a"), (2, "x", "y|z"), (3, None, None)],
        "k int, c1 string, c2 string",
    )
    diff = mig.snapshot_diff(src, tgt, "k", ("c1", "c2")).collect()
    assert {(r.k, r.status) for r in diff} == {(1, "changed"), (2, "changed")}


CHECKSUM_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_distinct_hashes", T.LongType(), False),
        T.StructField("min_hash", T.StringType(), True),
        T.StructField("max_hash", T.StringType(), True),
    ]
)


def _reference_checksum(rows, table_name):
    """content_checksum in pure Python: md5 of the '|'-joined values,
    NULLs skipped as concat_ws skips them."""
    hashes = [
        hashlib.md5("|".join(str(v) for v in row if v is not None).encode()).hexdigest()
        for row in rows
    ]
    return (
        table_name, len(hashes), len(set(hashes)),
        min(hashes, default=None), max(hashes, default=None),
    )


@pytest.mark.parametrize(
    "rows",
    [
        pytest.param([(1, "a", "x"), (1, "a", "x"), (2, "b", "y"), (1, "a", "x")], id="duplicates"),
        # concat_ws skips NULLs: the first two rows hash the same
        pytest.param([(1, None, "x"), (1, "x", None), (None, None, None), (2, "", "")], id="nulls"),
        pytest.param([(1, "héllo", "日本"), (2, "ß|ü", "😀"), (3, "naïve", None)], id="non_ascii"),
        pytest.param([], id="empty"),
    ],
)
def test_content_checksum_equals_python_reference(spark, rows):
    """content_checksum's row is the pure-Python md5 reduction of the
    same rows, and its schema is (table_name, n_rows, n_distinct_hashes,
    min_hash, max_hash) with only the extrema nullable; an empty frame
    gives 0, 0, NULL, NULL."""
    df = spark.createDataFrame(rows, "k int, c1 string, c2 string")
    got = mig.content_checksum(df, "t")
    assert got.schema == CHECKSUM_SCHEMA
    assert [tuple(r) for r in got.collect()] == [_reference_checksum(rows, "t")]


def test_dotted_and_backticked_column_names_are_names(spark):
    """A column name is a name, not a struct-field path: a table whose
    columns are ``k.id``, ``v.x`` and ``w`y`` checksums and diffs exactly
    as the same table with plain names does."""
    src_rows = [(1, "a", 10), (2, None, 20), (3, "c", 30), (4, "d", 40)]
    tgt_rows = [(1, "a", 10), (2, "b", 20), (3, "c", 31), (5, "e", 50)]

    def run(key, v, w):
        schema = f"{key} int, {v} string, {w} int"
        src = spark.createDataFrame(src_rows, schema)
        tgt = spark.createDataFrame(tgt_rows, schema)
        names = [f.name for f in src.schema.fields]
        diff = mig.snapshot_diff(src, tgt, names[0], tuple(names[1:]))
        assert diff.columns == [names[0], "status", "action"]
        return (
            [tuple(r) for r in mig.content_checksum(src, "t").collect()],
            sorted(tuple(r) for r in diff.collect()),
        )

    plain = run("k", "v", "w")
    assert plain[1] == [
        (2, "changed", "recopy"), (3, "changed", "recopy"),
        (4, "missing_in_target", "copy"), (5, "extra_in_target", "delete"),
    ]
    assert run("`k.id`", "`v.x`", "`w``y`") == plain


def test_dotted_key_names_are_names(spark, tmp_path):
    """A key column named ``k.id`` is a name, not a struct-field path:
    the A1 token-range scan, the resumable copy and the a5 range report
    each return every row of a table keyed on it (NULL and repeated keys
    included)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_migrate_keyspace_from_cluster_spark.sources.cluster_source import (
        read_keyspace_table,
    )

    keys = list(range(-50, 150)) + [None, 7, 7]
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    pq.write_table(
        pa.table({"k.id": pa.array(keys, pa.int64()), "v": [f"v{k}" for k in keys]}),
        src_dir / "orders.parquet",
    )
    src = load_table(spark, str(src_dir), "orders")
    scan = read_keyspace_table(spark, str(src_dir / "orders.parquet"), "k.id", n_ranges=4)
    copied = mig.copy_table_resumable(
        spark, str(src_dir), str(tmp_path / "dst"), "orders", "k.id", n_splits=3
    )
    for got in (scan, copied):
        assert got.columns == ["k.id", "v"]
        assert got.exceptAll(src).count() == 0 and src.exceptAll(got).count() == 0
    splits = mig.range_split_counts(src, "k.id", 4).collect()
    assert sum(r.n_rows for r in splits) == len(keys)


def test_expectation_rule_names_are_labels(spark):
    """A rule name is a label, not a column path: a rule named
    ``users.id_non_negative`` reports its row, in rule order, like a
    plain one."""
    df = spark.createDataFrame([(1,), (-2,), (3,)], "id int")
    report = mig.expectations_report(
        df,
        [
            ("users.id_non_negative", F.col("id") < 0),
            ("id_not_null", F.col("id").isNull()),
        ],
    )
    assert [tuple(r) for r in report.collect()] == [
        ("users.id_non_negative", 1, 3, 0),
        ("id_not_null", 0, 3, 1),
    ]


def test_copy_with_observed_metrics(spark):
    """Migration monitoring via DataFrame.observe(): the copy pipeline
    publishes row-count / sum metrics as a side effect of the ONE write
    pass (no second validation scan) — at 100 TB this is how per-batch
    QA counters come out of a copy for free."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    dst = tempfile.mkdtemp(prefix="spark_graft_observe_")
    src = load_table(spark, SMOKE_SF, "orders")
    obs = Observation("copy_metrics")
    observed = src.observe(
        obs,
        F.count(F.lit(1)).alias("rows_copied"),
        F.round(F.sum("o_totalprice"), 2).alias("value_copied"),
        F.max("o_orderkey").alias("max_key"),
    )
    observed.write.mode("overwrite").parquet(f"{dst}/orders.parquet")
    m = obs.get
    assert m["rows_copied"] == src.count()
    assert m["max_key"] == src.agg(F.max("o_orderkey")).collect()[0][0]
    got = spark.read.parquet(f"{dst}/orders.parquet")
    assert got.count() == m["rows_copied"]


def test_commitlog_reader_resyncs_cap_after_restart():
    """Checkpoint-restart contract of the commit-log reader: a fresh
    reader (admission cap 0) that learns a committed position via
    partitions()/commit() must never let latestOffset trail it —
    otherwise a restarted paced query reads empty batches until the
    cap catches up (the r4 ADVICE finding). Driver-side unit test: no
    Spark session, just the reader protocol."""
    from cassandra_migrate_keyspace_from_cluster_spark.sources.commitlog_stream import (
        CommitLogStreamReader,
    )

    path = f"{SMOKE_SF}/events.parquet"
    r = CommitLogStreamReader({"path": path, "n_slices": "2", "batch_rows": "100"})
    # simulated restart: the engine replays the checkpointed batch
    # [300, 400) before ever calling latestOffset
    r.partitions({"pos": 300}, {"pos": 400})
    nxt = r.latestOffset()["pos"]
    assert nxt >= 400, f"latestOffset {nxt} trails the restored position"
    # commit() alone must also raise the floor
    r2 = CommitLogStreamReader({"path": path, "n_slices": "2", "batch_rows": "100"})
    r2.commit({"pos": 500})
    assert r2.latestOffset()["pos"] >= 500


def test_commitlog_reader_rowgroup_pruned_slices():
    """The sliced reads must reconstruct the log exactly (no row lost
    or duplicated at row-group boundaries) and each slice must only
    yield its own [lo, hi) rows."""
    import pyarrow.parquet as pq

    from cassandra_migrate_keyspace_from_cluster_spark.sources.commitlog_stream import (
        CommitLogStreamReader,
        RowSlice,
    )

    path = f"{SMOKE_SF}/events.parquet"
    total = pq.ParquetFile(path).metadata.num_rows
    r = CommitLogStreamReader({"path": path, "n_slices": "4"})
    slices = r.partitions({"pos": 0}, {"pos": total})
    n = 0
    for sl in slices:
        got = sum(b.num_rows for b in r.read(sl))
        assert got == sl.hi - sl.lo
        n += got
    assert n == total
    # interior slice crossing a row-group boundary-sized span
    mid = RowSlice(total // 3, total // 3 + 57)
    assert sum(b.num_rows for b in r.read(mid)) == 57


def test_stage_content_key_reuse_and_worker_cache(spark):
    """_stage with a content_key must reuse a completed staging (same
    path, no rewrite) and produce a fresh path without one; the
    per-worker loader keeps exactly one corpus in memory."""
    import os

    from cassandra_migrate_keyspace_from_cluster_spark.operators import (
        similarity as sim,
    )

    df = spark.range(10).selectExpr(
        "id", "array(cast(id as float), cast(id+1 as float)) as embedding"
    )
    p1 = sim._stage(df.select("id", "embedding"), "stage_test", content_key="k1")
    mtimes = {
        f: os.path.getmtime(os.path.join(p1, f)) for f in os.listdir(p1)
    }
    p2 = sim._stage(df.select("id", "embedding"), "stage_test", content_key="k1")
    assert p1 == p2
    assert {
        f: os.path.getmtime(os.path.join(p1, f)) for f in os.listdir(p1)
    } == mtimes, "completed staging was rewritten"
    p3 = sim._stage(df.select("id", "embedding"), "stage_test")
    assert p3 != p1
    ids1, mat1 = sim._load_normalized_corpus(p3)
    assert len(ids1) == 10 and mat1.shape == (10, 2)
    assert set(sim._WORKER_INDEX_CACHE) == {p3}
    # loading a different path evicts the previous entry (single-slot)
    p4 = sim._stage(df.select("id", "embedding"), "stage_test2", content_key="k2")
    sim._load_normalized_corpus(p4)
    assert set(sim._WORKER_INDEX_CACHE) == {p4}


def test_load_table_normalizes_timestamp_encodings(spark):
    """Fixture timestamp encodings have drifted across driver rounds
    (r1/r2 NANOS → r3 MICROS-NTZ); load_table must deliver plain
    TimestampType with identical wall-clock values for every plausible
    parquet encoding of the same data, so a future regen cannot break
    the query layer again. A ``list<float>`` column beside each encoding
    reads as ``array<float>`` with nullable elements, its values intact."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        load_table,
    )
    from cassandra_migrate_keyspace_from_cluster_spark.util import (
        scratch_dir_unique,
    )

    wall = [
        datetime.datetime(2024, 1, 1, 12, 0, 0),
        datetime.datetime(2024, 6, 15, 23, 59, 59, 123456),
    ]
    encodings = {
        "ns_ntz": pa.timestamp("ns"),
        "us_ntz": pa.timestamp("us"),
        "ms_ntz": pa.timestamp("ms"),
        "us_utc": pa.timestamp("us", tz="UTC"),
    }
    for label, typ in encodings.items():
        vals = wall if typ.unit != "ms" else [w.replace(microsecond=0) for w in wall]
        tbl = pa.table(
            {
                "event_id": pa.array([0, 1], pa.int64()),
                "ts": pa.array(vals, typ),
                "vec": pa.array([[0.5, None], []], pa.list_(pa.float32())),
            }
        )
        d = scratch_dir_unique(f"ts_enc_{label}")
        pq.write_table(tbl, f"{d}/events.parquet")
        got = load_table(spark, d, "events")
        assert dict(got.dtypes)["ts"] == "timestamp", (label, got.dtypes)
        assert got.schema["vec"].dataType == T.ArrayType(T.FloatType(), True), label
        rows = {
            (r.event_id, r.ts.strftime("%Y-%m-%d %H:%M:%S.%f")[:23], tuple(r.vec))
            for r in got.collect()
        }
        expect = {
            (i, v.strftime("%Y-%m-%d %H:%M:%S.%f")[:23], vec)
            for i, (v, vec) in enumerate(zip(vals, [(0.5, None), ()]))
        }
        assert rows == expect, (label, rows, expect)


def test_wallclock_stable_under_session_timezone(spark):
    """Session-timezone invariance law (SURVEY §5.3 off-gate axis): the
    fixtures' timestamps are epoch-pinned on read (inferTimestampNTZ
    disabled), so without stabilization every rendered wall-clock,
    filter membership, and window bucket would follow
    spark.sql.session.timeZone — an environment accident the pinned-UTC
    session paths hide (measured: 24/207 queries drifted under
    Etc/GMT-8 before the loader fix). Three layers checked:

    1. under a UTC session the stabilizer is an IDENTITY (same object —
       plans unchanged, parquet pushdown preserved; plan test asserts
       the pushed filter separately);
    2. load_table renders identical wall-clocks under a fixed-offset
       non-UTC session for every fixture timestamp encoding;
    3. representative registered queries (filter membership b2, window
       bucketing e1, raw-epoch output d4) are cell-identical under
       Etc/GMT-8 vs UTC at sf0.001.
    """
    from cassandra_migrate_keyspace_from_cluster_spark.registry import specs
    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        load_table,
        stabilize_wallclock,
    )

    sf = "/root/testdata/sf0.001"
    lineitem = load_table(spark, sf, "lineitem")
    assert stabilize_wallclock(lineitem) is lineitem  # layer 1: UTC no-op

    sp = specs()
    names = ["b2_filter_pred", "e1_tumbling", "d4_datetime"]
    base = {n: sp[n].fn(spark, sf).toPandas() for n in names}
    base_dates = load_table(spark, sf, "orders").select("o_orderdate").toPandas()
    try:
        spark.conf.set("spark.sql.session.timeZone", "Etc/GMT-8")
        pert_dates = (
            load_table(spark, sf, "orders").select("o_orderdate").toPandas()
        )
        assert base_dates.equals(pert_dates)  # layer 2
        for n in names:  # layer 3
            got = sp[n].fn(spark, sf).toPandas()
            cols = sorted(got.columns)
            b = base[n][cols].sort_values(by=cols).reset_index(drop=True)
            g = got[cols].sort_values(by=cols).reset_index(drop=True)
            assert b.astype(str).equals(g.astype(str)), n
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_loader_timestamp_names_are_names(spark, tmp_path):
    """``load_path``'s timestamp handling reads a column name as a name:
    a micros column named ``t.s`` keeps its wall-clock under a non-UTC
    session, and a nanos column named ``t`s`` converts to micros."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        load_path,
    )

    from cassandra_migrate_keyspace_from_cluster_spark.util import quoted

    def rendered(path, name):
        df = load_path(spark, path)
        return [r[0] for r in df.select(F.col(quoted(name)).cast("string")).collect()]

    noon = dt.datetime(2020, 1, 1, 12)
    micros, nanos = str(tmp_path / "micros.parquet"), str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"t.s": pa.array([noon], pa.timestamp("us"))}), micros)
    pq.write_table(pa.table({"t`s": pa.array([noon], pa.timestamp("ns"))}), nanos)
    assert rendered(nanos, "t`s") == ["2020-01-01 12:00:00"]
    try:
        spark.conf.set("spark.sql.session.timeZone", "Etc/GMT-8")
        assert rendered(micros, "t.s") == ["2020-01-01 12:00:00"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def _split_table(tmp_path, name="events"):
    """sf0.001's ``name`` table rewritten as ``<tmp_path>/<name>.parquet``,
    a directory of three part files with heterogeneous writer profiles
    (zstd / dict-off / tiny row groups). Returns (directory, rows)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SMOKE_SF}/{name}.parquet")
    d = tmp_path / f"{name}.parquet"
    d.mkdir()
    n = tbl.num_rows
    profiles = [
        dict(version="2.6", data_page_version="2.0", compression="zstd"),
        dict(use_dictionary=False, compression="snappy"),
        dict(compression="gzip", row_group_size=7),
    ]
    bounds = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        pq.write_table(
            tbl.slice(bounds[i], bounds[i + 1] - bounds[i]),
            str(d / f"part-{i:02d}.parquet"),
            **profiles[i],
        )
    return d, n


def test_sources_read_directory_shaped_tables(spark, tmp_path):
    """Multifile law (the physical truth at 100 TB: a table is a
    DIRECTORY of many writers' part files, a commitlog is segment
    files): load_table's footer sniff, the A1 cluster source, and the
    commitlog stream source must read a directory-shaped table
    identically to the single file it was split from. Parts carry
    heterogeneous writer profiles (zstd / dict-off / tiny row groups)
    — the lakemix matrix inside ONE table."""
    import pyarrow.parquet as pq

    from cassandra_migrate_keyspace_from_cluster_spark.sources.cluster_source import (
        read_keyspace_table,
    )
    from cassandra_migrate_keyspace_from_cluster_spark.sources.commitlog_stream import (
        read_commitlog_stream,
    )
    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        list_part_files,
    )

    d, n = _split_table(tmp_path)
    assert len(list_part_files(str(d))) == 3

    # load_table path: footer sniff must not crash on a directory, and
    # values must equal the single-file read
    from cassandra_migrate_keyspace_from_cluster_spark.sources import load_table

    got = load_table(spark, str(tmp_path), "events")
    want = load_table(spark, "/root/testdata/sf0.001", "events")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # A1 cluster source: per-part walk, same multiset
    cs = read_keyspace_table(spark, str(d), "event_id", n_ranges=4)
    assert cs.count() == n
    assert cs.exceptAll(want).count() == 0

    # commitlog stream: segment concatenation replays every row exactly
    # once (order-insensitive count + key-set equality via a batch sink)
    out_dir = tmp_path / "sink"
    q = (
        read_commitlog_stream(spark, str(d), n_slices=3, batch_rows=4000)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    replayed = spark.read.parquet(str(out_dir))
    assert replayed.count() == n
    assert replayed.select("event_id").exceptAll(want.select("event_id")).count() == 0


def test_footer_metadata_paths_submit_no_spark_jobs(spark, tmp_path):
    """Job-count law: opening, counting and describing parquet tables
    reads footers only. load_table (a single file and a 3-part
    directory), table_counts and schema_manifest (results collected)
    submit no Spark job, and migrate_keyspace submits exactly one job
    per table: its write."""
    _split_table(tmp_path)
    calls = {
        "load_table file": lambda: load_table(spark, SMOKE_SF, "orders"),
        "load_table dir": lambda: load_table(spark, str(tmp_path), "events"),
        "table_counts": lambda: mig.table_counts(spark, SMOKE_SF).collect(),
        "schema_manifest": lambda: mig.schema_manifest(spark, SMOKE_SF).collect(),
    }
    for label, call in calls.items():
        assert jobs_submitted(spark, call) == 0, label
    tables = ["nation", "orders", "events"]
    migrate = lambda: mig.migrate_keyspace(  # noqa: E731
        spark, SMOKE_SF, str(tmp_path / "dst"), tables
    ).collect()
    assert jobs_submitted(spark, migrate) == len(tables)


def _inferred_schema(spark, path: str):
    """The schema Spark infers for a parquet table, after load_table's
    own conversion of nanosecond timestamps (inferred as bigint under
    ``spark.sql.legacy.parquet.nanosAsLong``) to TimestampType."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat
    from pyspark.sql import types as T

    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        list_part_files,
    )

    footer = pq.read_schema(list_part_files(path)[0])
    return T.StructType(
        [
            T.StructField(f.name, T.TimestampType(), f.nullable)
            if f.dataType == T.LongType() and pat.is_timestamp(footer.field(f.name).type)
            else f
            for f in spark.read.parquet(path).schema
        ]
    )


def test_load_table_schema_equals_spark_inference(spark, tmp_path):
    """load_table's footer-built schema is the schema Spark's own
    inference gives, field for field (names, types, nullability), for
    every fixture table at every scale factor and for a Spark-written
    migrate_keyspace target (INT96 timestamps, Spark's schema metadata,
    a directory of part files)."""
    from cassandra_migrate_keyspace_from_cluster_spark.sources import TABLES
    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        table_path,
    )

    dst = str(tmp_path / "dst")
    mig.migrate_keyspace(spark, SMOKE_SF, dst).collect()
    for sf_dir in (SMOKE_SF, "/root/testdata/sf0.01", "/root/testdata/sf0.1", dst):
        for name in TABLES:
            want = _inferred_schema(spark, table_path(sf_dir, name))
            assert load_table(spark, sf_dir, name).schema == want, (sf_dir, name)


def test_footer_counts_empty_parts_and_missing_tables(spark, tmp_path):
    """Edge cases of the footer paths. A Spark-written directory whose
    part file holds 0 rows counts 0 rows and reads back as an empty
    table with the source schema. A missing table path raises
    FileNotFoundError naming the path, before any Spark read."""
    import pyarrow.parquet as pq

    from cassandra_migrate_keyspace_from_cluster_spark.sources.parquet_keyspace import (
        list_part_files,
    )

    src = tmp_path / "src"
    src.mkdir()
    empty = pq.read_table(f"{SMOKE_SF}/orders.parquet").slice(0, 0)
    pq.write_table(empty, str(src / "orders.parquet"))
    dst = tmp_path / "dst"
    report = mig.migrate_keyspace(spark, str(src), str(dst), ["orders"]).collect()
    assert [tuple(r) for r in report] == [("orders", 0, 0, True)]
    parts = list_part_files(str(dst / "orders.parquet"))
    assert parts and all(pq.ParquetFile(p).metadata.num_rows == 0 for p in parts)
    assert [tuple(r) for r in mig.table_counts(spark, str(dst), ["orders"]).collect()] == [
        ("orders", 0)
    ]
    copied = load_table(spark, str(dst), "orders")
    assert copied.schema == load_table(spark, SMOKE_SF, "orders").schema
    assert copied.count() == 0

    missing = str(tmp_path / "nowhere")
    path = re.escape(os.path.join(missing, "orders.parquet"))
    with pytest.raises(FileNotFoundError, match=path):
        load_table(spark, missing, "orders")
    with pytest.raises(FileNotFoundError, match=path):
        mig.table_counts(spark, missing, ["orders"])
