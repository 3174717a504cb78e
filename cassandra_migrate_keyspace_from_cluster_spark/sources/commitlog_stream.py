"""Streaming cluster-connector path: a PySpark Python
``DataSourceStreamReader`` that tails a "keyspace table" the way a CDC
reader tails a commit log — micro-batches of rows in stable log order,
offsets tracked as positions, each batch split into parallel slices.

It reads the same simulated cluster (the parquet keyspace) as A1's
batch token-range scan (``cluster_source.py``), but incrementally, in
log order rather than by token. It is the engine's only Python
DataSource; the batch scan runs in the JVM. On a real cluster the same
reader shape sits on the Cassandra CDC agent / Kafka topic; offsets
become (shard, seq) and slices become shard assignments — the
offset/partition/read dataflow below is unchanged.

Scale notes:
  - ``latestOffset`` paces admission: each micro-batch admits at most
    ``batch_rows`` rows (0 = everything at once), so a backlogged log
    replays in bounded-memory batches instead of one giant batch —
    the Python-source analog of ``maxOffsetsPerTrigger``.
  - ``partitions(start, end)`` splits every admitted span into
    ``n_slices`` row-range slices planned driver-side with NO data
    read; each slice is read independently by its own task.
  - Offsets are plain dicts → checkpointable; ``read`` re-derives rows
    from (lo, hi) alone, so batch replay after failure is exact —
    the property end-to-end exactly-once sinks need. On restart the
    admission cap re-syncs to the engine-supplied offsets
    (``partitions``/``commit``), so a checkpointed position is never
    trailed by ``latestOffset``.
  - ``read`` prunes to the row groups overlapping its slice
    (``ParquetFile.read_row_group``) — a task touches O(slice) bytes,
    not the whole log; a real log store would seek by offset the same
    way.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


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
    """The schema the stream declares for a table, as DDL: ``load_path``'s
    footer types (``parquet_keyspace._spark_type``), except that a
    timestamp of any unit is ``timestamp``, which is what
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


class RowSlice(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo = lo
        self.hi = hi


class CommitLogStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options["path"]
        self.n_slices = int(options.get("n_slices", "4"))
        self.batch_rows = int(options.get("batch_rows", "0"))
        from .parquet_keyspace import footer_rows

        # metadata-only: the log's current end position. A real
        # commitlog IS segment files — a directory reads as the
        # segments concatenated in sorted name order (multifile probe)
        self.total = footer_rows(self.path)
        self._cap = 0

    def initialOffset(self):
        return {"pos": 0}

    def latestOffset(self):
        # admission control: advance the visible end by batch_rows per
        # micro-batch (0 = expose the whole log immediately)
        if self.batch_rows <= 0:
            self._cap = self.total
        else:
            self._cap = min(self.total, self._cap + self.batch_rows)
        return {"pos": self._cap}

    def partitions(self, start, end):
        lo, hi = start["pos"], end["pos"]
        # restart re-sync: after a checkpoint restore the engine replays
        # from the committed position — never let the admission cap
        # trail it (a fresh reader starts at _cap=0)
        self._cap = max(self._cap, lo, hi)
        if hi <= lo:
            return [RowSlice(lo, lo)]
        n = self.n_slices
        step = max(1, -(-(hi - lo) // n))
        return [
            RowSlice(s, min(s + step, hi)) for s in range(lo, hi, step)
        ]

    def read(self, partition: RowSlice):
        if partition.hi <= partition.lo:
            return
        import pyarrow.parquet as pq

        from .parquet_keyspace import list_part_files

        # row-group-pruned read: only the groups overlapping [lo, hi)
        # are decoded, so a slice task touches O(slice) bytes. Global
        # positions run across the sorted segment files (metadata-only
        # walk to skip whole segments before the slice).
        pos = 0
        for part in list_part_files(self.path):
            pf = pq.ParquetFile(part)
            if pos + pf.metadata.num_rows <= partition.lo:
                pos += pf.metadata.num_rows  # segment wholly before slice
                continue
            for rg in range(pf.metadata.num_row_groups):
                n_rows = pf.metadata.row_group(rg).num_rows
                g_lo, g_hi = pos, pos + n_rows
                pos = g_hi
                if g_hi <= partition.lo:
                    continue
                if g_lo >= partition.hi:
                    return
                s = max(partition.lo - g_lo, 0)
                e = min(partition.hi - g_lo, n_rows)
                yield from _arrow_batches(
                    pf.read_row_group(rg).slice(s, e - s)
                )

    def commit(self, end):
        # committed position is a floor for the admission cap (restart
        # path: the engine may commit a replayed batch before the next
        # latestOffset call)
        self._cap = max(self._cap, end["pos"])


class CommitLogStreamDataSource(DataSource):
    """``spark.readStream.format("keyspace_commitlog")`` with options
    path (parquet file, or a directory of segment files), n_slices,
    batch_rows."""

    @classmethod
    def name(cls):
        return "keyspace_commitlog"

    def schema(self):
        return _source_schema(self.options["path"])

    def streamReader(self, schema):
        return CommitLogStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the streaming data source on a session."""
    spark.dataSource.register(CommitLogStreamDataSource)


def read_commitlog_stream(
    spark, path: str, n_slices: int = 4, batch_rows: int = 0
):
    register(spark)
    from .parquet_keyspace import stabilize_wallclock

    # The replay reader emits naive micros pinned as UTC instants, so
    # the same wall-clock stabilization as the batch loader applies
    # (no-op in the engine's pinned-UTC sessions).
    return stabilize_wallclock(
        spark.readStream.format("keyspace_commitlog")
        .option("path", path)
        .option("n_slices", str(n_slices))
        .option("batch_rows", str(batch_rows))
        .load()
    )
