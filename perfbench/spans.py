"""Spans and Spark counters recorded from outside the engine.

A span is (name, start, end, parent, attrs).  Spans stay in memory and
are written out once, when the run ends.  Spark job, stage and task
counts come from the status tracker and the application status store,
read per job group so that they attach to the span that ran the group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, **attrs}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block; nested spans name this one as their parent."""
        start = time.time()
        sid = self.add(name, start, start, **attrs)
        if self.enabled:
            self._stack.append(sid)
        try:
            yield attrs
        finally:
            if self.enabled:
                self._stack.pop()
                self.spans[sid]["end"] = time.time()
                self.spans[sid].update(attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def group_counters(sc, group: str) -> dict:
    """Jobs, stages, tasks, shuffle and spill bytes of one job group."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    for job in jobs:
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks()
            out["shuffle_bytes"] += stage.shuffleWriteBytes()
            out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    return out
