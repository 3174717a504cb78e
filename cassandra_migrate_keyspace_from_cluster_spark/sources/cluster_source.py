"""Executable cluster-connector path (A1): read a "keyspace table" the
way a Cassandra connector does — one input partition per TOKEN RANGE,
planned driver-side without touching data, each range read by its own
task.

This makes the reference's core read path (SURVEY.md §3.1: token-ring
split → parallel per-range scan) a real executed dataflow in this
sandbox. Each range ``[lo, hi)`` of ``ring_ranges(n_ranges)`` is one
filtered parquet scan, ``table.filter(token_in_range(key, lo, hi))``,
coalesced to one partition, and the scan is the union of those frames:
partition i holds exactly range i's rows, and the plan has no shuffle
and no Python worker (the token is a Spark expression, so projection
pruning reaches the parquet reader). The session keeps
``spark.sql.unionOutputPartitioning`` off (``session.py``); with it on,
Spark 4.1 zips a union of ``coalesce(1)`` children into one partition.
On a real cluster the same plan shape is produced by the Spark
Cassandra Connector with server-side token predicates
(``token(pk) > ? AND token(pk) <= ?``) instead of the local filter —
see ``sources/cassandra.py`` for the production connector config.

Token model: unsigned 64-bit ring, token(key) = first 8 bytes of the md5
of the key's string form (``token_of``; ``token_in_range`` is the same
test as a Spark expression). ``n_ranges`` splits the ring evenly —
exactly how a connector derives its default splits from the ring.

Scale notes:
  - Range planning is O(n_ranges) ring math with no data read, and the
    uniform-hash token keeps split sizes even regardless of key
    distribution (the property that makes token-range copy the right
    unit for A5/A9/A10).
  - Building and planning the union grows faster than linearly in
    ``n_ranges``: on sf0.1 orders, with a warm session on a 4-core VM,
    it took 0.15–0.3 s for 8 ranges, 0.9–1.7 s for 64 and 5.5–5.8 s for
    256, where the former Python DataSource took about 0.2 s at every
    count. Keep ``n_ranges`` near the core count, as a connector's
    default splits are.
  - Every range task reads the whole table (only the columns the query
    needs) and filters it, so the scan reads the table n_ranges times
    where a server would seek by token. A per-range count took the same
    time as the DataSource's (10–11 s at 64 ranges, 40–43 s at 256, in
    the same runs). Row-group pruning on a token-sorted layout would
    restore O(range) reads.
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import quoted
from .parquet_keyspace import load_path

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


def token_in_range(key: str, lo: int, hi: int):
    """Spark predicate ``lo <= token_of(key) < hi`` over the column named
    ``key`` (a name, not a struct-field path: a dot in it is part of the
    name), for integer and string keys: fixed-width lowercase hex
    compares in numeric order, and an md5 compares with a 16-digit bound
    as its first 16 digits (the token) do."""
    h = F.coalesce(F.md5(F.col(quoted(key)).cast("string")), F.lit("0" * 16))
    above = h >= F.lit(f"{lo:016x}")
    return above if hi == _RING else above & (h < F.lit(f"{hi:016x}"))


def ring_ranges(n_ranges: int) -> list[tuple[int, int]]:
    """Split the unsigned 64-bit ring into n half-open [lo, hi) ranges
    covering it exactly (last hi = 2^64). A count below 1 raises
    ``ValueError``: no plan of zero ranges tiles the ring."""
    if n_ranges < 1:
        raise ValueError(f"token-range count must be at least 1, got {n_ranges}")
    step = _RING // n_ranges
    bounds = [i * step for i in range(n_ranges)] + [_RING]
    return [(bounds[i], bounds[i + 1]) for i in range(n_ranges)]


def read_keyspace_table(spark, path: str, key: str, n_ranges: int = 8) -> DataFrame:
    """Scan the parquet table at ``path`` (a file or a directory of part
    files) as ``n_ranges`` token-range partitions: partition i holds
    exactly the rows whose ``key`` token lies in ``ring_ranges(n_ranges)[i]``
    (NULL keys are token 0, so range 0), with ``load_path``'s schema.
    Building the scan submits no Spark job."""
    table = load_path(spark, path)
    return reduce(
        DataFrame.unionAll,
        [
            table.filter(token_in_range(key, lo, hi)).coalesce(1)
            for lo, hi in ring_ranges(n_ranges)
        ],
    )
