"""In-memory spans recorded around calls into the engine's layers.

A span has a name, start and end (``perf_counter`` seconds), the index
of its parent span and the id of the run it belongs to. Each span runs
its Spark jobs under a job group of its own (``spark.jobGroup.id``, the
property ``SparkContext.setJobGroup`` sets), so after the run the
jobs and stages of a span are read back from ``sc.statusTracker()``.
Nothing here triggers a Spark action.

Spark is lazy: a job runs inside the span of the call that forces it,
not the call that built the plan. ``cf.predict`` returns a lazy frame,
for instance, so scoring cost lands in the span of ``cf.validate``,
the first action on the predictions.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    run_id: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans of one traced run; ``summary()`` reads them back."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        group = f"{self.run_id}/{idx}"
        parent = self._stack[-1] if self._stack else None
        span = Span(name, self.run_id, parent, group, time.perf_counter(), attrs=attrs)
        self.spans.append(span)
        self._stack.append(idx)
        self.sc.setLocalProperty(_GROUP, group)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, self.spans[parent].group if parent is not None else None)

    def _children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def _descendants(self, idx: int) -> list[int]:
        out = [idx]
        for child in self._children(idx):
            out.extend(self._descendants(child))
        return out

    def self_seconds(self, idx: int) -> float:
        """Duration minus the part of it that child spans cover."""
        span = self.spans[idx]
        covered, cursor = 0.0, span.start
        for c in sorted((self.spans[i] for i in self._children(idx)), key=lambda s: s.start):
            lo, hi = max(c.start, cursor), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span.seconds - covered

    def jobs_and_stages(self, idx: int) -> tuple[int, int]:
        """Jobs and submitted stages run under this span and its descendants."""
        tracker = self.sc.statusTracker()
        jobs, stages = 0, set()
        for i in self._descendants(idx):
            for job_id in tracker.getJobIdsForGroup(self.spans[i].group):
                jobs += 1
                info = tracker.getJobInfo(job_id)
                for sid in info.stageIds if info else ():
                    if tracker.getStageInfo(sid) is not None:
                        stages.add(sid)
        return jobs, len(stages)

    def summary(self) -> list[dict]:
        """One record per span, with self time and job/stage counts."""
        out = []
        for i, s in enumerate(self.spans):
            jobs, stages = self.jobs_and_stages(i)
            out.append({
                "name": s.name, "run_id": s.run_id, "parent": s.parent,
                "start": s.start, "end": s.end, "seconds": s.seconds,
                "self_seconds": self.self_seconds(i), "jobs": jobs, "stages": stages,
                **s.attrs,
            })
        return out
