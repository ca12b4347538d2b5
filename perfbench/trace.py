"""Spans and Spark accounting for the traced run.

Every span is recorded from the benchmark's side of a call into the
package: name, start, end, parent span and run id.  Spans stay in
memory and are written once, when the run ends.  An *op* span also
sets a Spark job group for its duration; when it closes, the group's
jobs are read back from ``statusTracker()`` and each stage from
``statusStore().lastStageAttempt`` (works with the UI disabled), so the
span carries the job, stage and task counts, executor times and bytes
of exactly the work it caused.  Untraced passes use no tracer at all.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Optional

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "input_records", "shuffle_read_bytes", "shuffle_write_bytes",
)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    @contextmanager
    def op(self, name: str, **attrs):
        """A span that also owns a Spark job group; on exit the span
        gets a ``spark`` dict of the work its jobs did."""
        with self.span(name, **attrs) as rec:
            group = f"perfbench-{self.run_id}-{rec['id']}"
            self._sc.setJobGroup(group, name)
            wall0 = time.time()
            try:
                yield rec
            finally:
                wall = time.time() - wall0
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                rec["spark"] = self._group_stats(group, wall)

    def _group_stats(self, group: str, wall: float) -> dict:
        jsc = self._sc._jsc.sc()
        # job/stage end events reach the status store through the
        # listener bus; drain it so the op's last stage is visible
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        out = dict.fromkeys(SPARK_FIELDS, 0)
        intervals = []
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped (reused exchange) or never ran
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["input_bytes"] += st.inputBytes()
            out["input_records"] += st.inputRecords()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["jobs_s"] = union_s(intervals)
        out["driver_s"] = max(0.0, wall - out["jobs_s"])
        return out

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it its children cover."""
        kids = [(s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - union_s(kids)

    def write(self, path: str, extra: Optional[dict] = None) -> None:
        for rec in self.spans:
            rec["self_s"] = self.self_time(rec)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, **(extra or {}), "spans": self.spans}, fh)
