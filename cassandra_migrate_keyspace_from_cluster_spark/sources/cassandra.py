"""Cassandra source/sink design (SURVEY.md §2 A1/A3/A6/A9/A10 — design
notes; UNTESTED here: the sandbox has no Cassandra cluster and no
spark-cassandra-connector jar, so everything in this module is
config-construction only, gated behind import/availability checks).

On a real deployment the parquet-keyspace simulation in
``parquet_keyspace.py`` is swapped for the DataStax Spark Cassandra
Connector (public OSS: com.datastax.spark:spark-cassandra-connector).
The query layer never notices: both sources yield plain DataFrames.

Connector facts used below are the connector's public documented
surface:
  - format ``org.apache.spark.sql.cassandra`` with options
    ``keyspace``/``table``; cluster-level conf
    ``spark.cassandra.connection.host`` / ``.port`` / auth conf.
  - Token-range parallel scan (A5) is native: the connector creates one
    Spark partition per token-range group, sized by
    ``spark.cassandra.input.split.sizeInMB`` — the parquet analogue is
    Spark's own file splits.
  - Predicate/projection pushdown to CQL happens in the connector's
    Catalyst integration where CQL allows (partition-key equality,
    clustering-column ranges).
  - WRITETIME/TTL preservation (A6): read options
    ``writetime.<col>``/``ttl.<col>`` expose per-cell metadata as extra
    columns; the writer accepts ``writetime``/``ttl`` options to apply
    them on insert, so a copy carries original timestamps.
  - Throughput control (A10): ``spark.cassandra.output.throughputMBPerSec``,
    ``output.concurrent.writes``, ``output.batch.size.rows`` bound write
    pressure on the target cluster.
  - Progress/resume (A9): the driver persists one row per completed
    (table, token_range) (a done-marker file per range in the
    simulation, ``operators/migrate.copy_table_resumable``); a restart
    plans only the remaining ranges. With idempotent writes (same
    primary keys, same writetime via A6) re-running a completed range
    is harmless, so at-least-once + idempotence suffices.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ClusterConfig:
    """A1 — source/target cluster session config."""

    hosts: tuple[str, ...]
    port: int = 9042
    username: str | None = None
    password: str | None = None
    consistency: str = "LOCAL_QUORUM"
    extra: dict[str, str] = field(default_factory=dict)

    def spark_conf(self) -> dict[str, str]:
        prefix = "spark.cassandra"
        conf = {
            f"{prefix}.connection.host": ",".join(self.hosts),
            f"{prefix}.connection.port": str(self.port),
            f"{prefix}.input.consistency.level": self.consistency,
            f"{prefix}.output.consistency.level": self.consistency,
        }
        if self.username is not None:
            conf[f"{prefix}.auth.username"] = self.username
        if self.password is not None:
            conf[f"{prefix}.auth.password"] = self.password
        conf.update(self.extra)
        return conf


def reader_options(
    keyspace: str,
    table: str,
    writetime_cols: tuple[str, ...] = (),
    ttl_cols: tuple[str, ...] = (),
) -> dict[str, str]:
    """A4/A6 — options for ``spark.read.format("org.apache.spark.sql.cassandra")``.

    ``writetime.<col>``/``ttl.<col>`` surface per-cell metadata as extra
    columns named ``<col>_writetime``/``<col>_ttl`` so the writer can
    replay them (A6)."""
    opts = {"keyspace": keyspace, "table": table}
    for c in writetime_cols:
        opts[f"writetime.{c}"] = f"{c}_writetime"
    for c in ttl_cols:
        opts[f"ttl.{c}"] = f"{c}_ttl"
    return opts


def ddl_for(schema, keyspace: str, table: str, partition_keys, clustering_keys=()) -> str:
    """A3 — emit CQL DDL from a Spark schema (inverse of the connector's
    type mapping, SURVEY.md §1.1 table). Testable string construction."""
    spark_to_cql = {
        "int": "int",
        "bigint": "bigint",
        "float": "float",
        "double": "double",
        "string": "text",
        "boolean": "boolean",
        "date": "date",
        "timestamp": "timestamp",
        "timestamp_ntz": "timestamp",
        "binary": "blob",
    }

    def cql_type(dt) -> str:
        s = dt.simpleString()
        if s.startswith("array<"):
            return f"list<{spark_to_cql.get(s[6:-1], 'text')}>"
        return spark_to_cql.get(s, "text")

    cols = ",\n  ".join(f"{f.name} {cql_type(f.dataType)}" for f in schema.fields)
    pk = ", ".join(partition_keys)
    ck = ", ".join(clustering_keys)
    key = f"(({pk}), {ck})" if ck else f"(({pk}))"
    return (
        f"CREATE TABLE IF NOT EXISTS {keyspace}.{table} (\n  {cols},\n"
        f"  PRIMARY KEY {key}\n)"
    )

