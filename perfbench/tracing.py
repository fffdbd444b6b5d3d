"""Traced-run plumbing: span recorders around the engine's public
functions, and an event-log replay for the Spark runtime layer.

Spans are recorded from outside the engine: ``Tracer.install`` swaps
the names ``pipeline.run_dataset`` resolves (``pipeline.normalize``,
``pipeline.smart_update``) and the ``Warehouse``/``MergeResult``
methods for recording wrappers, and ``Tracer.uninstall`` restores them.
Spans live in memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

from econdatapipeline_spark import pipeline
from econdatapipeline_spark.operators.merge import MergeResult
from econdatapipeline_spark.sources.warehouse import Warehouse

# (owner, attribute, span name); the span name is the layer metric stem.
PATCHES = (
    (pipeline, "normalize", "sources.normalize"),
    (pipeline, "smart_update", "merge.smart_update"),
    (MergeResult, "counts", "merge.counts"),
    (Warehouse, "should_update", "warehouse.should_update"),
    (Warehouse, "read_or_empty", "warehouse.read_or_empty"),
    (Warehouse, "apply_merge", "warehouse.apply_merge"),
    (Warehouse, "append_revisions", "warehouse.append_revisions"),
    (Warehouse, "write_dataset", "warehouse.write_dataset"),
    (Warehouse, "update_last_run", "warehouse.update_last_run"),
    (Warehouse, "read", "warehouse.read"),
)


class Tracer:
    """In-memory spans: (op id, name, parent index, start, end).

    Times are ``time.time()`` seconds so they line up with the event
    log's wall-clock milliseconds. Recording is on only while an op is
    traced (``op`` context), so the same wrappers cost one attribute
    check on untraced ops.
    """

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._saved: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if self._op is None:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([self._op, name, parent, time.time(), None])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][4] = time.time()

    @contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one traced op."""
        self._op = op_id
        try:
            with self.span(name):
                yield
        finally:
            self._op = None

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        for owner, attr, name in PATCHES:
            fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [dict(zip(("op", "name", "parent", "start", "end"), s)) for s in self.spans],
                fh,
            )


def self_times(spans: list[list]) -> dict[int, float]:
    """Span index -> its duration minus the time its children cover."""
    child = [0.0] * len(spans)
    for s in spans:
        if s[2] is not None:
            child[s[2]] += s[4] - s[3]
    return {i: (s[4] - s[3]) - child[i] for i, s in enumerate(spans)}


def read_event_log(evdir: str) -> tuple[dict, dict]:
    """Replay a Spark event log the way tools/qprofile.py does.

    Returns (jobs, stages): jobs by id with group, submit/end seconds
    and stage ids; stages by id with task count, executor run time,
    JVM GC time and shuffle bytes written (summed over its tasks).
    """
    paths = []
    for entry in sorted(os.listdir(evdir)):
        p = os.path.join(evdir, entry)
        if os.path.isdir(p):  # rolling event log: a directory of parts
            paths += [os.path.join(p, f) for f in sorted(os.listdir(p)) if f.startswith("events_")]
        else:
            paths.append(p)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for p in paths:
        with open(p) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(
                        ev["Stage ID"], {"tasks": 0, "run_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0}
                    )
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return jobs, stages


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
