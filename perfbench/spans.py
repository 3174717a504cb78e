"""In-memory spans around layer calls, Spark task counters per span, and
/proc readings of the benchmark's process tree.

A span records ``name, start, end, parent, iteration``. Spans are kept in
memory and written out once, when the run ends. The layer calls are the
engine's public functions; spans are taken in the benchmark's own code
around them (``Tracer.span``) or by wrapping a module attribute the layer
calls through (``Tracer.wrap``), never inside the engine.

Spark's own per-task counters come from the event log a traced session
writes: every task is charged to each span whose interval holds the
task's launch time (so a span's counters include its children's).
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

# Spark task counters reported per span: name -> (unit, reader of one
# SparkListenerTaskEnd event).
TASK_COUNTERS = {
    "tasks": ("count", lambda m: 1),
    "executor_run_s": ("s", lambda m: m.get("Executor Run Time", 0) / 1e3),
    "shuffle_write_mb": (
        "MB", lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6),
    "spill_mb": (
        "MB", lambda m: (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6),
    "gc_s": ("s", lambda m: m.get("JVM GC Time", 0) / 1e3),
}


class Tracer:
    """Collects spans; a disabled tracer records nothing and wraps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()

    @contextmanager
    def span(self, name: str):
        """Record the enclosed block as a span; yields a dict of
        attributes stored with it."""
        if not self.enabled:
            yield {}
            return
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            # spans opened on a pool thread hang under the main thread's
            # innermost open span (the call that started the pool)
            outer = stack or self._stacks.get(self._main, [])
            rec = {"id": len(self.spans), "name": name, "start": time.time(),
                   "end": None, "parent": outer[-1] if outer else None,
                   "iteration": self.iteration, "attrs": {}}
            self.spans.append(rec)
            stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.time()
            with self._lock:
                stack.pop()

    def wrap(self, module, attr: str, name: str, count=None) -> None:
        """Replace ``module.attr`` with a spanned call; ``count(result)``
        (optional) is stored on the span as ``n``."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name) as attrs:
                out = fn(*args, **kwargs)
                if count is not None:
                    attrs["n"] = count(out)
                return out

        setattr(module, attr, spanned)

    def dump(self, path: str) -> None:
        """One JSON line per finished span, with its self time."""
        done = [rec for rec in self.spans if rec["end"] is not None]
        with open(path, "w") as fh:
            for rec in done:
                fh.write(json.dumps({**rec, "self_s": self_time(done, rec)}) + "\n")


def self_time(spans: list[dict], span: dict) -> float:
    """Duration of ``span`` minus the part of it its children cover
    (children on pool threads may overlap; their union is subtracted)."""
    lo, hi = span["start"], span["end"]
    cover = sorted(
        (max(lo, c["start"]), min(hi, c["end"]))
        for c in spans
        if c["parent"] == span["id"] and c["end"] is not None
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in cover:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def task_events(event_log_dir: str) -> list[tuple[float, dict]]:
    """(launch time in s, task metrics) of every finished task in the
    event log(s) under ``event_log_dir``."""
    out = []
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(event_log_dir)
                   for f in fs if not f.startswith("."))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                launch = ev["Task Info"]["Launch Time"] / 1e3
                out.append((launch, ev.get("Task Metrics") or {}))
    return out


def interval_task_counters(intervals: list[tuple[float, float]],
                           tasks: list[tuple[float, dict]]) -> dict:
    """{counter: total} over the tasks launched inside the union of
    ``intervals`` (so overlapping spans never count a task twice). Task
    launch times have millisecond resolution, so edges are widened by
    half a millisecond."""
    merged: list[list[float]] = []
    for lo, hi in sorted(intervals):
        if merged and lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    hits = [m for launch, m in tasks
            if any(lo - 5e-4 <= launch <= hi + 5e-4 for lo, hi in merged)]
    return {k: sum(read(m) for m in hits) for k, (_, read) in TASK_COUNTERS.items()}


# -- /proc readings of the process tree ---------------------------------


def process_tree(pid: int) -> list[tuple[int, int, tuple[int, int]]]:
    """(pid, parent pid, (virtual size, resident pages)) of ``pid`` and
    every live descendant, from /proc/*/stat."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(entry)] = (int(fields[1]), (int(fields[20]), int(fields[21])))
    children: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(p)
    out, todo = [(pid, *procs[pid])], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append((c, *procs[c]))
            todo.append(c)
    return out


def descendants(pid: int) -> list[int]:
    return [p for p, _, _ in process_tree(pid)[1:]]


def tree_write_bytes() -> int:
    """Bytes the process tree below this process has written to files
    (``write_bytes`` of /proc/<pid>/io, summed over live descendants)."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/io") as fh:
                for line in fh:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process plus all descendants
    (Python driver, JVM, Python workers) on a background thread and keeps
    the peak."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def sample(self) -> None:
        tree = process_tree(os.getpid())
        mem = {p: m for p, _, m in tree}
        # A child whose memory reads exactly as its parent's still shares
        # it (a JVM spawning a helper through vfork, before the exec; a
        # fork before its first write): counting it would count the
        # parent twice.
        pages = sum(m[1] for p, ppid, m in tree if m != mem.get(ppid))
        self.peak = max(self.peak, pages * os.sysconf("SC_PAGE_SIZE"))

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
