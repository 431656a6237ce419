"""Spans around the benchmark's calls into the engine, and the statistics
the benchmark reports.

A span records name, start, end, parent span and request id. Spans live in
memory until the run ends. With tracing off, `span` records nothing and sets
no Spark job group, so the untraced run pays for neither.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    request: str | None
    end: float = 0.0
    group: str | None = None
    jobs: int = 0
    tasks: int = 0


class Tracer:
    """Collects spans; with `enabled` False every span is a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, request: str | None = None, spark_jobs: bool = True):
        """Time the enclosed call as layer `name`. Spark jobs the call starts
        on this thread are tagged with a job group, counted at `finish`."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        s = Span(next(self._ids), name, time.perf_counter(),
                 parent.sid if parent else None,
                 request or (parent.request if parent else None))
        if spark_jobs:
            s.group = f"pb-{s.sid}"
            self.sc.setJobGroup(s.group, name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if spark_jobs:
                if parent is not None and parent.group:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    def finish(self) -> None:
        """Resolve each span's Spark job and task counts from the status tracker."""
        if not self.enabled:
            return
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if s.group is None:
                continue
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for stage in info.stageIds:
                    st = tracker.getStageInfo(stage)
                    if st is not None:
                        s.tasks += st.numTasks

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, reach = 0.0, s.start
            for c in sorted(children[s.sid], key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def totals(self, name: str) -> tuple[int, float, int, int]:
        """(calls, seconds, jobs, tasks) summed over spans called `name`."""
        sel = [s for s in self.spans if s.name == name]
        return (len(sel), sum(s.end - s.start for s in sel),
                sum(s.jobs for s in sel), sum(s.tasks for s in sel))

    def dump(self, path: str, stamp: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [{"id": s.sid, "name": s.name, "start": s.start - t0, "end": s.end - t0,
                 "parent": s.parent, "request": s.request, "jobs": s.jobs,
                 "tasks": s.tasks} for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"stamp": stamp, "spans": rows}, fh)


# Percentile every tail figure reports (perfbench/METRICS.md gives the
# samples beyond it per workload).
TAIL_PCT = 75.0


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (pct in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)
