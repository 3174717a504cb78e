"""Session-scoped scratch storage for staging layouts and sinks.

Several operators materialize intermediate layouts (chunk-partitioned
corpora, clustered copies, streaming checkpoints/sinks). Earlier rounds
gave each invocation its own ``tempfile.mkdtemp`` and never removed it,
so repeated bench/parity/driver runs accumulated unbounded /tmp usage.
All scratch now lives under ONE per-process root that is removed at
interpreter exit:

  - ``scratch_dir(label)``        — deterministic per-label dir, reused
    across invocations in the same process (for content-addressed
    layouts that can be rebuilt-or-reused, e.g. a16's clustered copy);
  - ``scratch_dir_unique(label)`` — fresh dir per call (for streaming
    checkpoints/sinks, where reuse would resume prior state), still
    under the auto-cleaned root.

On a real cluster the root would be a job-scoped path on shared storage
(HDFS/S3) supplied by the orchestrator.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid

_SCRATCH_ROOT: str | None = None


def scratch_root() -> str:
    """The per-process scratch root; created lazily, removed atexit."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return _SCRATCH_ROOT


def scratch_dir(label: str) -> str:
    """Deterministic per-label scratch dir (reused within the process)."""
    path = os.path.join(scratch_root(), label)
    os.makedirs(path, exist_ok=True)
    return path


def scratch_dir_unique(label: str) -> str:
    """Fresh scratch dir per call, under the auto-cleaned root."""
    return tempfile.mkdtemp(prefix=f"{label}_", dir=scratch_root())


def content_fingerprint(key: str) -> str:
    """``key`` plus a cheap content fingerprint when it names a real path.

    Staging tags derived from a stable name (e.g. an sf_dir) must change
    when the data AT that name changes: fixtures get regenerated in-place
    mid-session, and a tag keyed only on (path, row-count) would silently
    reuse a _SUCCESS-marked staging built from the old data. Folding in
    the sorted (name, size, mtime_ns) of the path's parquet files makes
    the tag content-addressed for O(#files) stat calls, no data read.
    Non-path keys pass through unchanged. A source in flux — a file
    vanishing between listdir and stat (fixtures get regenerated
    in-place) — must not crash the query: it falls back to a one-shot
    key (uuid suffix) so that run simply skips staging reuse.
    """
    if not os.path.exists(key):
        return key
    try:
        if os.path.isdir(key):
            names = sorted(e for e in os.listdir(key) if e.endswith(".parquet"))
            paths = [os.path.join(key, e) for e in names]
        else:
            names, paths = [os.path.basename(key)], [key]
        stats = [
            (name, st.st_size, st.st_mtime_ns)
            for name, p in zip(names, paths)
            for st in (os.stat(p),)
        ]
    except OSError:
        return f"{key}|influx-{uuid.uuid4().hex}"
    return f"{key}|{stats!r}"


def evict_stale_tags(base: str, keep: str, max_tags: int = 4) -> None:
    """Drop old staging tag dirs under ``base``, keeping ``keep`` plus the
    most recently modified ``max_tags - 1`` siblings.

    Keeping a few recent tags (instead of exactly one) lets a process
    that alternates corpora — sf0.01 parity interleaved with sf0.1 bench
    — keep both stagings warm; evicting every sibling on each call
    silently defeated the reuse the tags exist for.
    """
    entries = []
    for name in os.listdir(base):
        path = os.path.join(base, name)
        if path == keep:
            continue
        try:
            entries.append((os.stat(path).st_mtime_ns, path))
        except OSError:
            continue
    entries.sort(reverse=True)
    for _, path in entries[max(0, max_tags - 1):]:
        shutil.rmtree(path, ignore_errors=True)


# Bounded registry for persist() calls whose cached frame is part of a
# RETURNED lazy plan (self-join build sides, band indexes): the consuming
# action runs outside the operator, so the operator cannot unpersist
# eagerly. Without a bound, a long-lived session (bench loops every query
# several times) accumulates cached blocks without limit. FIFO eviction
# is correctness-safe — unpersisting a frame that is later re-used only
# costs recomputation — so a small cap converts an unbounded leak into a
# bounded working set.
_PERSISTED: list = []
_PERSIST_CAP = 8
_PERSISTED_LOCK = threading.Lock()


def bounded_persist(df):
    """``df.persist()`` registered in a process-wide FIFO of size
    ``_PERSIST_CAP``; the oldest cached frame is unpersisted (non-
    blocking) when the cap is exceeded. The registry is locked:
    operators submit jobs from thread pools (a13), and an unguarded
    append/pop race could let the FIFO exceed its cap."""
    df = df.persist()
    evict = []
    with _PERSISTED_LOCK:
        _PERSISTED.append(df)
        while len(_PERSISTED) > _PERSIST_CAP:
            evict.append(_PERSISTED.pop(0))
    for old in evict:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass
    return df


def drain_persisted() -> None:
    """Unpersist and forget EVERY frame in the bounded-persist FIFO.

    Measurement hygiene (VERDICT r13 item 2): Spark's CacheManager
    matches cached frames by logical plan, so a frame a query persisted
    during one bench rep silently serves the SAME query's next rep from
    memory — min-of-K then reports a warm-cache number, not the
    steady-state plan cost. The bench calls this (plus
    ``spark.catalog.clearCache()``) before every timed rep. Correctness-
    safe anywhere: unpersisting only ever costs recomputation."""
    with _PERSISTED_LOCK:
        drained = _PERSISTED[:]
        _PERSISTED.clear()
    for df in drained:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass


def quoted(name: str) -> str:
    """``name`` as a SQL identifier: backtick-quoted, a backtick inside it
    doubled, so a dot (CQL quoted identifiers may hold one) stays part of
    the name instead of reading as a struct-field path."""
    return "`" + name.replace("`", "``") + "`"


def local_frame(spark, rows: list[tuple], schema):
    """A small driver-side result as a DataFrame that submits no Spark job.

    Built from pandas, Spark turns it into an Arrow ``LocalRelation``; a
    list of tuples would go through a Python RDD, one job with a task per
    core on Python workers."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)
