"""Span recorder for the traced run.

Spans are recorded by the benchmark around its calls into each layer: one
span per operation, with child spans for query construction and for
materialization. A span opened with ``counted=True`` runs its Spark jobs
under a job group of its own; when it closes, the recorder reads that
group's jobs and stages back from Spark's status store (it works with the
UI disabled); with ``scans=True`` also the files its scans read. Spans
stay in memory until the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

COUNTERS = ("jobs", "tasks", "task_s", "shuffle_bytes", "spill_bytes", "output_bytes", "files_read")


def self_time(span: dict, children: list[dict]) -> float:
    """The span's duration minus the part of it that its children cover
    (overlapping children are counted once)."""
    covered, cursor = 0.0, span["start"]
    for child in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(child["start"], cursor), min(child["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return span["end"] - span["start"] - covered


class StageCounters:
    """Counters of the Spark jobs run under one job group."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.stages = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def last_execution(self) -> int:
        n = int(self.sql.executionsCount())
        return self.sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def read(self, group: str, after_execution: int | None) -> dict:
        """Stage counters of the group's jobs; with ``after_execution`` also
        the scans' "number of files read" over the SQL executions newer
        than it (spans run one at a time)."""
        out = dict.fromkeys(COUNTERS, 0)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out["jobs"] = len(jobs)
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage_id in info.stageIds if info else ():
                try:
                    st = self.stages.lastStageAttempt(stage_id)
                except Py4JJavaError:  # skipped stage: its shuffle output was reused
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["task_s"] += st.executorRunTime() / 1000.0
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["output_bytes"] += st.outputBytes()
        if after_execution is not None:
            out["files_read"] = self._files_read(after_execution)
        return out

    def _files_read(self, after_execution: int) -> int:
        total = 0
        n = int(self.sql.executionsCount())
        recent = self.sql.executionsList(max(0, n - 256), 256)
        for i in range(recent.size()):
            execution = recent.apply(i)
            if execution.executionId() <= after_execution:
                continue
            ids = set()
            it = execution.metrics().iterator()
            while it.hasNext():
                metric = it.next()
                if metric.name() == "number of files read":
                    ids.add(metric.accumulatorId())
            if not ids:
                continue
            it = self.sql.executionMetrics(execution.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in ids:
                    total += int(kv._2().replace(",", ""))
        return total


class Tracer:
    """Records spans (name, start, end, parent, run id, attributes)."""

    def __init__(self, run_id: str, spark: SparkSession):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._counters = StageCounters(spark)
        self._sc = spark.sparkContext
        self.overhead_s = 0.0  # time spent on job groups and counters, outside every span

    @contextmanager
    def span(self, name: str, counted: bool = False, scans: bool = False, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = f"{self.run_id}/{rec['id']}"
        t0 = time.perf_counter()
        if counted:
            after = self._counters.last_execution() if scans else None
            self._sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if counted:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                rec.update(self._counters.read(group, after))
            self.overhead_s += time.perf_counter() - rec["end"]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
