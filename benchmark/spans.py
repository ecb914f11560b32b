"""Spans recorded around the engine's public names, and Spark's event log.

A span is one call of a wrapped name: its id, the id of the span that was
open on the same thread when it started (its parent), the op it belongs to
and its start and end.  Spans stay in memory and are written out when the
run ends.  A span's self time is its duration minus the part of it that
its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op: str | None) -> None:
        self._local.op = op

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else 0
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            rec = {"id": sid, "parent": parent, "name": name,
                   "op": getattr(self._local, "op", None),
                   "thread": threading.get_ident(), "t0": t0, "t1": t1}
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += (t0 - t_in) + (time.perf_counter() - t1)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` (a module function or a class's method)
        with a traced wrapper."""
        setattr(owner, attr, self.wrap(name, getattr(owner, attr)))

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals; empty ones add 0."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= max(a, end):
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                   for c in children.get(s["id"], ())]
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length(covered)
    return out


def parse_event_log(path: str) -> dict[str, dict]:
    """Job group -> totals over its jobs: jobs, tasks, executor run time
    (ms), JVM GC time (ms) and shuffle bytes written, from a Spark event
    log (one JSON event a line)."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
        "shuffle_write_bytes": 0})
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                totals[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                m = ev.get("Task Metrics") or {}
                t = totals[group]
                t["tasks"] += 1
                t["run_ms"] += m.get("Executor Run Time", 0)
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
    return dict(totals)
