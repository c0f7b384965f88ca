"""Spans around layer calls, and Spark job/task counts per operation.

With tracing off, `span` only yields and `op` only hands out ids, so the
untraced run pays no bookkeeping. With tracing on, every span records
(name, start, end, parent, op) in memory, and every operation runs under
its own Spark job group, whose jobs and tasks are read back through
`sparkContext.statusTracker()` when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ops = 0

    def op(self, kind: str) -> str:
        """A fresh operation id; when tracing, also its Spark job group."""
        self._ops += 1
        oid = f"{kind}-{self._ops}"
        if self.enabled:
            self.sc.setJobGroup(oid, oid)
        return oid

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    # ----------------------------------------------------------- readback
    def drain(self) -> None:
        """Wait until the listener bus has delivered every job event, so
        the status tracker knows each job that ran."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def jobs_tasks(self, op: str) -> tuple[int, int]:
        """(jobs, tasks run) under one operation's job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(op)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numCompletedTasks
        return len(jobs), tasks

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span, summed. The layer
        of a span is its name without the last dotted part."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = sum(c["end"] - c["start"] for c in kids[s["id"]])
            out[s["name"].rsplit(".", 1)[0]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "self_s": self.self_times(), "spans": self.spans}, f)
