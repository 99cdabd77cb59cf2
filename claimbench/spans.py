"""Spans recorded by the benchmark around its calls into each layer.

A span has a name, start, end and the span that caused it. Spans are
kept in memory and written as JSON lines when the run ends. While a
span is open, the Spark jobs it launches carry a job group named after
it, so the span also records how many jobs, stages and tasks ran inside
it (read from ``SparkContext.statusTracker()``).

With tracing off, ``span`` opens no group and records nothing. With
tracing on, the time the tracer spends on its own bookkeeping (job
groups, status-tracker reads) is summed in ``overhead``.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


def median(xs) -> float:
    """Median of ``xs``; 0.0 when empty (a layer the workload never ran)."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tags: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None  # set once the session exists
        self.spans: list[Span] = []
        self.overhead = 0.0
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **tags):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        s = Span(len(self.spans), name, self._stack[-1].id if self._stack else None,
                 t_in, tags=dict(tags))
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext if self.spark is not None else None
        group = f"bench-span-{s.id}"
        if sc is not None:
            sc.setJobGroup(group, name)
        s.start = time.perf_counter()
        self.overhead += s.start - t_in
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                self._count_jobs(sc, group, s)
                if self._stack:
                    parent = self._stack[-1]
                    sc.setJobGroup(f"bench-span-{parent.id}", parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.overhead += time.perf_counter() - s.end

    @staticmethod
    def _count_jobs(sc, group: str, s: Span) -> None:
        st = sc.statusTracker()
        for job_id in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job_id)
            if info is None:
                continue
            s.jobs += 1
            for stage_id in info.stageIds:
                stage = st.getStageInfo(stage_id)
                if stage is not None and stage.numCompletedTasks > 0:
                    s.stages += 1
                    s.tasks += stage.numCompletedTasks

    # ------------------------------------------------------- analysis

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_seconds(self, s: Span) -> float:
        """Span time minus the part of it that child spans cover."""
        covered, cursor = 0.0, s.start
        for c in sorted(self.children(s), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return s.seconds - covered

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children(x))
        return out

    def write(self, path) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = self.self_seconds(s)
                f.write(json.dumps(row, ensure_ascii=False) + "\n")
