"""Spans around the benchmark's calls into linkgraph, and the Spark numbers
behind each span.

A span records name, start, end, parent and run id. With tracing on, every
span gets its own Spark job group, so after the run the jobs (and through
them the stages and tasks) that a call ran can be read back from
``statusTracker`` and the AppStatusStore. The store is read once, after the
measured passes, so reading it costs the traced pass nothing; setting job
groups is all the tracing the pass itself pays for.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Optional

MB = 1e6


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _group(self, span_id: int) -> str:
        return f"{self.run_id}-{span_id}"

    def _set_group(self, span_id: Optional[int]) -> None:
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(span_id), self.spans[span_id]["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        span_id = len(self.spans)
        rec = {
            "id": span_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "traced": self.enabled,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(span_id)
        if self.enabled:
            self._set_group(span_id)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                self._set_group(self._stack[-1] if self._stack else None)

    def collect(self) -> None:
        """Attach job and stage numbers to every traced span."""
        if not any(rec["traced"] for rec in self.spans):
            return
        store = self.sc._jsc.sc().statusStore()
        stages = _stage_table(self.sc, store)
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if not rec["traced"]:
                continue
            intervals, stage_ids = [], []
            job_ids = tracker.getJobIdsForGroup(self._group(rec["id"]))
            for jid in job_ids:
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
                ids = job.stageIds()
                stage_ids.extend(ids.apply(i) for i in range(ids.size()))
            ran = [stages[s] for s in stage_ids if s in stages]
            wall = rec["end"] - rec["start"]
            busy = _union_length(intervals)
            largest = max(ran, key=lambda s: s["run_ms"], default=None)
            rec["spark"] = {
                "jobs": len(job_ids),
                "stages": len(ran),
                "job_busy_s": busy,
                "driver_gap_s": max(0.0, wall - busy),
                "exec_busy_s": sum(s["run_ms"] for s in ran) / 1000.0,
                "shuffle_read_mb": sum(s["shuffle_read"] for s in ran) / MB,
                "shuffle_write_mb": sum(s["shuffle_write"] for s in ran) / MB,
                "spill_mb": sum(s["spill"] for s in ran) / MB,
                "largest_stage_task_skew": (
                    _task_skew(store, largest) if largest is not None else 0.0
                ),
            }

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                # call outputs (DataFrames) are written as their type name
                f.write(json.dumps(rec, default=lambda o: f"<{type(o).__name__}>") + "\n")


def _stage_table(sc, store) -> dict:
    """stageId -> numbers of every completed stage the store retains."""
    jvm = sc._jvm
    rows = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = {}
    for i in range(rows.size()):
        s = rows.apply(i)
        if s.status().toString() != "COMPLETE":
            continue
        out[s.stageId()] = {
            "stage": s.stageId(),
            "attempt": s.attemptId(),
            "run_ms": s.executorRunTime(),
            "shuffle_read": s.shuffleReadBytes(),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.diskBytesSpilled(),
        }
    return out


def _task_skew(store, stage: dict) -> float:
    """Max over median task duration of one stage."""
    tasks = store.taskList(stage["stage"], stage["attempt"], 1 << 30)
    durations = sorted(
        tasks.apply(i).duration().get()
        for i in range(tasks.size())
        if tasks.apply(i).duration().isDefined()
    )
    if not durations:
        return 0.0
    mid = len(durations) // 2
    median = (
        durations[mid]
        if len(durations) % 2
        else (durations[mid - 1] + durations[mid]) / 2.0
    )
    return durations[-1] / median if median > 0 else 1.0


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
