"""In-memory span tracing around calls into the engine's layers.

A span records its name, start, end, parent and request id. Each span
runs its Spark actions under a job group of its own, so after the run the
jobs, tasks and failed tasks it caused are read from the status tracker.
Spans stay in memory; :meth:`Tracer.dump` writes them out at the end.

A span's self time is its duration minus the part its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    children_s: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


#: prefix of the per-span Spark job groups
GROUP_PREFIX = "perfbench"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span) -> str:
        return f"{GROUP_PREFIX}-{span.sid}"

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        parent = self._stack[-1] if self._stack else None
        span = Span(
            sid=len(self.spans),
            name=name,
            parent=parent.sid if parent else None,
            request=request if request is not None else (
                parent.request if parent else None),
            start=0.0,
        )
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(self._group(span), name)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += span.duration
                self.sc.setJobGroup(self._group(parent), parent.name)
            else:
                self.sc._jsc.clearJobGroup()

    def collect_spark_work(self) -> None:
        """Fill jobs / tasks / failed tasks of every span from the status
        tracker, once the listener bus has delivered every event. Safe to
        call again after more spans ran."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for span in self.spans:
            span.jobs = span.tasks = span.failed_tasks = 0
            for job_id in tracker.getJobIdsForGroup(self._group(span)):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                span.jobs += 1
                for stage_id in info.stageIds:
                    stage = tracker.getStageInfo(stage_id)
                    if stage is not None:
                        span.tasks += stage.numCompletedTasks
                        span.failed_tasks += stage.numFailedTasks

    # -- aggregation -------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_s(self, name: str) -> float:
        """Summed self time of every span with this name."""
        return sum(s.self_s for s in self.named(name))

    def count(self, name: str, key: str) -> float:
        return sum(s.counts.get(key, 0) for s in self.named(name))

    def layer_work(self, layer: str) -> dict[str, int]:
        spans = [s for s in self.spans if s.layer == layer]
        return {
            "spark_jobs": sum(s.jobs for s in spans),
            "spark_tasks": sum(s.tasks for s in spans),
            "failed_tasks": sum(s.failed_tasks for s in spans),
        }

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "sid": s.sid, "name": s.name, "parent": s.parent,
                    "request": s.request, "start": s.start, "end": s.end,
                    "self_s": s.self_s, "counts": s.counts, "jobs": s.jobs,
                    "tasks": s.tasks, "failed_tasks": s.failed_tasks,
                }) + "\n")
