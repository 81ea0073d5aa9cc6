"""Spans around the benchmark's calls into lucene_spark, and the Spark
counters of the jobs each span ran.

A span records name, start, end, parent and op id. While tracing is on, each
span runs its jobs under its own Spark job group, so after the op the jobs,
stages and task metrics of every span are read back from the status store
(``statusTracker().getJobIdsForGroup`` -> ``getJobInfo(j).stageIds`` ->
``statusStore().lastStageAttempt(s)``), which works with the UI off.
Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: per-span Spark counters, summed over the stages the span's jobs ran
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: str | None = None

    @contextmanager
    def op(self, op_id: str, name: str):
        """The root span of one op; its children share ``op_id``."""
        self._op = op_id
        try:
            with self.span(name):
                yield
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "op": self._op,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def harvest(self, spans: list[dict]) -> None:
        """Fill the Spark counters of ``spans`` (jobs of that span only,
        not of its children). Waits for the listener bus first, so the
        last stage's metrics have reached the status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        for rec in spans:
            c = dict.fromkeys(COUNTERS, 0)
            stage_ids: set[int] = set()
            for j in tracker.getJobIdsForGroup(rec["group"]):
                c["jobs"] += 1
                info = tracker.getJobInfo(j)
                stage_ids.update(info.stageIds if info else ())
            for s in stage_ids:
                try:
                    st = store.lastStageAttempt(s)
                except Py4JJavaError:  # skipped stage: its output was reused
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["executor_run_ms"] += st.executorRunTime()
                c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec.update(c)

    def op_spans(self, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

