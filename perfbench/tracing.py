"""Timing, job accounting and summary statistics for the benchmark.

Every operation the benchmark times runs inside ``Tracer.op``. With
tracing off an op records only its wall time. With tracing on it also
runs under its own Spark job group (per thread: PySpark pins each
Python thread to one JVM thread), reads the job, stage and task counts
of that group from ``statusTracker()`` once the listener bus has drained,
and keeps a span (name, start, end, parent, op id) in memory. Spans are
written out once, at the end of the run.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np


def median(values) -> float:
    return float(np.median(values)) if len(values) else float("nan")


def percentile(values, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else float("nan")


def control_s() -> float:
    """Pure-compute host reading with no Spark in it: a fixed, seeded
    chain of 500x500 float64 matrix products. Its wall time moves only
    with CPU contention, so a slow reading marks a contended run."""
    rng = np.random.default_rng(12345)
    a = rng.standard_normal((500, 500))
    b = a
    t0 = time.perf_counter()
    for _ in range(8):
        b = b @ a
        b /= np.abs(b).max()
    return time.perf_counter() - t0


@dataclass
class Op:
    """One timed operation; ``jobs``/``stages``/``tasks`` are filled
    only when tracing is on."""

    name: str
    op_id: int
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    parts: dict = field(default_factory=dict)  # child span name -> seconds

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self._origin = time.perf_counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.spans: list[dict] = []

    def _span(self, name: str, op_id: int, parent, start: float, end: float) -> None:
        if self.enabled:
            with self._lock:
                self.spans.append({
                    "name": name, "op": op_id, "parent": parent,
                    "start": start - self._origin, "end": end - self._origin,
                })

    @contextmanager
    def op(self, name: str, untagged: bool = False):
        """Time one operation. ``untagged=True`` also attributes to it
        the jobs that ran with no job group while it ran (jobs submitted
        from helper threads inside the library, such as the builder's
        two stage chains); only valid when no other client is running."""
        op = Op(name, next(self._ids))
        group = f"perfbench-{op.op_id}"
        before = set()
        if self.enabled and untagged:
            # drain first, so jobs that ran before this op are in ``before``
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
            before = set(self._sc.statusTracker().getJobIdsForGroup(None))
        if self.enabled:
            self._sc.setJobGroup(group, name)
        op.start = time.perf_counter()
        try:
            yield op
        finally:
            op.end = time.perf_counter()
            if self.enabled:
                self._sc._jsc.clearJobGroup()
                self._count(op, group, before if untagged else None)
                self._span(name, op.op_id, None, op.start, op.end)

    @contextmanager
    def part(self, op: Op, name: str):
        """A child span of ``op``; its seconds are kept in ``op.parts``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            op.parts[name] = op.parts.get(name, 0.0) + (t1 - t0)
            self._span(f"{op.name}.{name}", op.op_id, op.op_id, t0, t1)

    def _count(self, op: Op, group: str, untagged_before) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        ids = set(st.getJobIdsForGroup(group))
        if untagged_before is not None:
            ids |= set(st.getJobIdsForGroup(None)) - untagged_before
        stage_ids = set()
        for jid in ids:
            info = st.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        op.jobs = len(ids)
        for sid in stage_ids:
            s = st.getStageInfo(sid)
            # AQE-skipped stages keep numTasks but never complete one
            if s is not None and s.numCompletedTasks > 0:
                op.stages += 1
                op.tasks += s.numCompletedTasks

    def self_seconds(self) -> dict:
        """Self seconds per span name: a span's duration minus the part
        of it covered by its child spans, summed over the run."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            if s["parent"] is None:
                d -= child.get(s["op"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_seconds()}, f)
