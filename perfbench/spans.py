"""In-memory span recorder and Spark scheduler counters for traced runs.

Spans are kept in a list and written once, at the end of the run.  A
layer's self time is its span time minus the part of it covered by child
spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Records (name, start, end, parent) spans.  Disabled tracers keep no
    spans; ``span`` then only yields."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "start": time.perf_counter(),
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name.  Children of one span never
        overlap (a single client thread), so coverage is their sum."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, covered in zip(self.spans, child_time):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh, indent=1)


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages run, tasks run and tasks failed under one job group,
    read from ``SparkContext.statusTracker()``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = n_tasks = n_failed = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is None or info.numCompletedTasks == 0 and info.numFailedTasks == 0:
            continue   # skipped: its output was reused
        n_stages += 1
        n_tasks += info.numCompletedTasks
        n_failed += info.numFailedTasks
    return {"spark.jobs": len(jobs), "spark.stages": n_stages,
            "spark.tasks": n_tasks, "spark.failed_tasks": n_failed}
