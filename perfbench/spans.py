"""Spans around calls into the engine's layers, with Spark's own counters.

Each span sets a Spark job group, so every job the span's calls launch is
attributed to it. When the span closes, its jobs' stages are read from the
driver's status store (the same store the web UI reads; it is filled even
with the UI off). Spans live in memory and are written out as JSONL when
the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


def stage_counters(sc, group: str) -> dict:
    """Counters summed over the stages of every job in job group ``group``.
    Skipped stages (shuffle output reused) count for nothing."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    out = {
        "jobs": len(jobs),
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "input_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "executor_run_s": 0.0,
        "gc_s": 0.0,
        "task_skew": 0.0,
    }
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage never ran
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["input_mb"] += st.inputBytes() / 1e6
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["gc_s"] += st.jvmGcTime() / 1e3
        if st.numTasks() > 0:
            tl = store.taskList(sid, st.attemptId(), st.numTasks())
            durs = [
                tl.apply(i).duration().get()
                for i in range(tl.size())
                if tl.apply(i).duration().isDefined()
            ]
            med = statistics.median(durs) if durs else 0
            if med > 0:
                out["task_skew"] = max(out["task_skew"], max(durs) / med)
    return out


class Tracer:
    """Records spans (name, start, end, parent, run id) plus the Spark
    counters of the jobs each span launched."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self.run_id}.{rec['id']}"
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["spark"] = stage_counters(self.sc, group)
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(f"{self.run_id}.{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"]
        )
        return rec["end"] - rec["start"] - kids

    def dump(self, path: str) -> None:
        with open(path, "a") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self.self_time(s)}) + "\n")
