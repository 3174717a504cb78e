"""Executable cluster-connector path (A1): a PySpark Python DataSource
that reads a "keyspace table" the way a Cassandra connector does —
one input partition per TOKEN RANGE, planned driver-side without
touching data, each range read independently by its own task.

This makes the reference's core read path (SURVEY.md §3.1: token-ring
split → parallel per-range scan) a REAL executed dataflow in this
sandbox: Spark schedules one task per `TokenRange` InputPartition, each
task materializes only the rows whose partition-key token falls in its
range. The storage behind the simulated cluster is the parquet
keyspace; on a real cluster the identical plan shape is produced by the
Spark Cassandra Connector with server-side token predicates
(``token(pk) > ? AND token(pk) <= ?``) instead of the local filter —
see ``sources/cassandra.py`` for the production connector config.

Token model: unsigned 64-bit ring, token(key) = first 8 bytes of the md5
of the key's string form (``token_of``; ``token_in_range`` is the same
test as a Spark expression). ``n_ranges`` splits the ring evenly —
exactly how a connector derives its default splits from the ring.

Scale notes: range planning is O(n_ranges) driver work with NO data
scan; per-range reads are embarrassingly parallel and the token filter
is uniform-hash balanced, so split sizes stay even regardless of key
distribution (the property that makes token-range copy the right unit
for A5/A9/A10). The per-task full-file read below is the simulation's
only concession (a server would seek by token); row-group pruning on a
token-sorted layout restores it, noted inline.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

RING_BITS = 64
_RING = 1 << RING_BITS


def token_of(key) -> int:
    """Ring position of a partition key: first 8 bytes of md5 of the
    key's utf-8 string form, as unsigned 64-bit. Standardized hash →
    identical on every executor/engine, uniform on the ring. NULL is 0."""
    if key is None:
        return 0
    h = hashlib.md5(str(key).encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big")


def token_in_range(col, lo: int, hi: int):
    """Spark predicate ``lo <= token_of(col) < hi`` for integer and string
    keys: fixed-width lowercase hex compares in numeric order, and an md5
    compares with a 16-digit bound as its first 16 digits (the token) do."""
    h = F.coalesce(F.md5(col.cast("string")), F.lit("0" * 16))
    above = h >= F.lit(f"{lo:016x}")
    return above if hi == _RING else above & (h < F.lit(f"{hi:016x}"))


def ring_ranges(n_ranges: int) -> list[tuple[int, int]]:
    """Split the unsigned 64-bit ring into n half-open [lo, hi) ranges
    covering it exactly (last hi = 2^64)."""
    step = _RING // n_ranges
    bounds = [i * step for i in range(n_ranges)] + [_RING]
    return [(bounds[i], bounds[i + 1]) for i in range(n_ranges)]


class TokenRange(InputPartition):
    def __init__(self, index: int, lo: int, hi: int):
        self.index = index
        self.lo = lo
        self.hi = hi


def _arrow_batches(table):
    """Yield a pyarrow Table as Spark-ready RecordBatches: timestamp
    columns are cast to micros/UTC (Spark's arrow form of
    TimestampType — naive values keep their wall-clock reading, the
    same interpretation the old row-by-row path produced via naive
    datetimes in a UTC session). Yielding Arrow batches instead of
    per-row python tuples keeps the source on the vectorized
    serialization path — order-of-magnitude faster for wide scans."""
    import pyarrow as pa

    cast_fields = [
        pa.field(f.name, pa.timestamp("us", tz="UTC"))
        if pa.types.is_timestamp(f.type)
        else f
        for f in table.schema
    ]
    yield from table.cast(pa.schema(cast_fields)).to_batches()


def _source_schema(path: str) -> str:
    """The schema the keyspace DataSources declare for a table, as DDL:
    ``load_table``'s footer types (``parquet_keyspace._spark_type``),
    except that a timestamp of any unit is ``timestamp``, which is what
    ``_arrow_batches`` emits. Every footer type is nullable, so the DDL
    reads back exactly. DDL rather than a ``StructType``, which the JVM
    reads as JSON: that measured about 0.6 s more in a fresh session's
    first scan."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    from .parquet_keyspace import _spark_type, list_part_files

    return ", ".join(
        f"`{f.name}` "
        + ("timestamp" if pat.is_timestamp(f.type) else _spark_type(f.type).simpleString())
        for f in pq.read_schema(list_part_files(path)[0])
    )


class KeyspaceClusterReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        self.key = options["key"]
        self.n_ranges = int(options.get("n_ranges", "8"))

    def partitions(self):
        # planned WITHOUT reading data — pure ring math, like a
        # connector deriving splits from the token ring metadata
        return [
            TokenRange(i, lo, hi) for i, (lo, hi) in enumerate(ring_ranges(self.n_ranges))
        ]

    def read(self, partition: TokenRange):
        # runs ON THE EXECUTOR, one call per token range. A real
        # connector pushes `token(pk) in [lo, hi)` to the server; the
        # parquet simulation filters locally — the hash-token filter
        # cannot row-group-prune (a token-SORTED layout plus row-group
        # stats would restore that), but streaming group-at-a-time
        # bounds task memory to one row group instead of the file.
        # Directory-aware (multifile probe): a node's data is many
        # sstable part files; every range task walks all parts — a
        # real connector's server-side push makes this O(range) there.
        import pyarrow.parquet as pq

        from .parquet_keyspace import list_part_files

        for part in list_part_files(self.path):
            pf = pq.ParquetFile(part)
            for rg in range(pf.metadata.num_row_groups):
                tbl = pf.read_row_group(rg)
                keys = tbl[self.key].to_pylist()
                hits = [
                    i
                    for i, k in enumerate(keys)
                    if partition.lo <= token_of(k) < partition.hi
                ]
                if not hits:
                    continue
                yield from _arrow_batches(tbl.take(hits))


class KeyspaceClusterDataSource(DataSource):
    """``spark.read.format("keyspace_cluster")`` with options
    path (parquet file, or a directory of sstable-like part files),
    key (partition-key column), n_ranges."""

    @classmethod
    def name(cls):
        return "keyspace_cluster"

    def schema(self):
        return _source_schema(self.options["path"])

    def reader(self, schema):
        return KeyspaceClusterReader(self.options)


def register(spark) -> None:
    """Idempotently register the data source on a session."""
    spark.dataSource.register(KeyspaceClusterDataSource)


def read_keyspace_table(spark, path: str, key: str, n_ranges: int = 8):
    register(spark)
    from .parquet_keyspace import stabilize_wallclock

    # _arrow_batches pins the naive micros as UTC instants, so the same
    # wall-clock stabilization as the batch loader applies (no-op in
    # the engine's pinned-UTC sessions).
    return stabilize_wallclock(
        spark.read.format("keyspace_cluster")
        .option("path", path)
        .option("key", key)
        .option("n_ranges", str(n_ranges))
        .load()
    )
