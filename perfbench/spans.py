"""In-memory span tracer for the benchmark's traced run.

A span records name, start, end, parent and run id.  Spans stay in
memory and are written out once, when the run ends.  When a
SparkContext is bound, each span runs its Spark calls under a job group
of its own, and on exit reads the jobs, stages and tasks of that group
from ``SparkContext.statusTracker()``; a span's counts include those of
its children.  Self time is a span's duration minus the time its child
spans cover.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def spark_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran and tasks completed under one job group."""
    try:  # let the status listener catch up with the finished jobs
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 - counts may then lag by a few tasks
        pass
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class Tracer:
    """Collects spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Count Spark jobs per span on ``sc`` (None stops counting)."""
        self._sc = sc

    def _set_group(self, idx: int | None) -> None:
        if idx is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{self.run_id}-{idx}", self.spans[idx].name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, time.perf_counter(), parent, self.run_id, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(idx)
        sc = self._sc
        if sc is not None:
            self._set_group(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None and sc is self._sc:
                own = spark_counts(sc, f"{self.run_id}-{idx}")
                for k, v in own.items():
                    sp.attrs[k] = sp.attrs.get(k, 0) + v
                self._set_group(parent)
            if parent is not None:
                up = self.spans[parent].attrs
                for k in ("jobs", "stages", "tasks"):
                    if k in sp.attrs:
                        up[k] = up.get(k, 0) + sp.attrs[k]

    def self_seconds(self, idx: int) -> float:
        children = sum(s.seconds for s in self.spans if s.parent == idx)
        return self.spans[idx].seconds - children

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def median_seconds(self, name: str) -> float:
        return statistics.median(s.seconds for s in self.named(name))

    def dump(self, path: Path) -> None:
        rows = [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                "self_s": self.self_seconds(i),
                **s.attrs,
            }
            for i, s in enumerate(self.spans)
        ]
        path.write_text(json.dumps({"run_id": self.run_id, "spans": rows}, indent=1))
