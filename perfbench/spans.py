"""Spans around the benchmark's calls into the program, kept in memory.

A span records name, start, end, parent span and the operation it belongs
to. Spans that wrap a Spark action also carry a job group, so the jobs,
stages and tasks that action launched can be counted afterwards through
``SparkContext.statusTracker()``. With tracing off, ``span`` yields at once
and records nothing; the untraced run gives the end-to-end metrics.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    op: int
    name: str
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself
        self._stack: list[int] = []
        self._op = 0
        self._sc = None

    def bind(self, sc) -> None:
        """Attach the SparkContext whose jobs action spans count."""
        self._sc = sc

    @contextmanager
    def paused(self):
        """Record nothing inside the block (the untimed warm-up)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, action: bool = False):
        """Time one call; ``action`` marks a call that launches Spark jobs."""
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        s = Span(len(self.spans), self._stack[-1] if self._stack else None,
                 self._op, name, 0.0)
        self.spans.append(s)
        self._stack.append(s.id)
        if action:
            s.group = f"perfbench-{s.id}"
            self._sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t_in
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if action:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.bookkeeping_s += time.perf_counter() - s.end

    def resolve_counts(self) -> None:
        """Fill in jobs/tasks per action span from the status tracker.

        Called once at the end of the run, after the listener bus has
        caught up, so the lookups cost nothing inside the timed
        operations."""
        if not self.enabled or self._sc is None:
            return
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        for s in self.spans:
            if s.group is None or s.jobs:
                continue
            job_ids = tracker.getJobIdsForGroup(s.group)
            s.jobs = len(job_ids)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    # skipped stages (shuffle reuse) report no attempt
                    if st is not None and st.currentAttemptId >= 0:
                        s.stages += 1
                        s.tasks += st.numTasks

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def layer_stats(self) -> dict[str, dict[str, float]]:
        """Per span name: call count and medians of duration, self time,
        jobs, stages and tasks."""
        selfs = self.self_times()
        by_name: dict[str, list[Span]] = {}
        for s in self.spans:
            by_name.setdefault(s.name, []).append(s)
        out = {}
        for name, spans in by_name.items():
            out[name] = {
                "calls": len(spans),
                "ms": statistics.median((s.end - s.start) * 1e3 for s in spans),
                "self_ms": statistics.median(selfs[s.id] * 1e3 for s in spans),
                "jobs": statistics.median(s.jobs for s in spans),
                "stages": statistics.median(s.stages for s in spans),
                "tasks": statistics.median(s.tasks for s in spans),
            }
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": selfs[s.id]}) + "\n")
