"""Spans recorded by the benchmark around its calls into the engine.

A span holds a name, start and end (seconds since the tracer started), the
id of its parent span and an operation id. With a SparkSession attached,
each span also runs its calls under its own job group and records the
Spark work it caused as status-store deltas: jobs, stages that ran, tasks,
executor run time and shuffle bytes. Job and stage ids are handed out
sequentially by the DAG scheduler and the client is single-threaded, so
the ids allocated between a span's start and end are exactly its work
(including jobs a streaming query runs on its own thread).

Spans stay in memory and are written once, by ``dump``. A disabled tracer
(the untraced run) records nothing and touches no Spark API.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _ids(self) -> tuple[int, int]:
        dag = self._sc._jsc.sc().dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId())

    def _spark_delta(self, jobs0: int, stages0: int) -> dict:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs1, stages1 = self._ids()
        store = jsc.statusStore()
        out = {
            "jobs": jobs1 - jobs0,
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0,
        }
        for sid in range(stages0, stages1):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: a stage the store never saw
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(st.numCompleteTasks())
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        return out

    @contextmanager
    def span(self, name: str, op=None):
        """Record a span around the block; yields the span dict (or None
        when disabled) so the caller can attach counts to it."""
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        sp = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        ids = None
        if self._sc is not None:
            self._sc.setJobGroup(f"{name}#{sp['id']}", name)
            ids = self._ids()
        sp["start"] = time.perf_counter() - self._t0
        self.self_s += time.perf_counter() - b0
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter() - self._t0
            b1 = time.perf_counter()
            self._stack.pop()
            if ids is not None:
                sp["spark"] = self._spark_delta(*ids)
                parent = self.spans[self._stack[-1]]["name"] if self._stack else None
                if parent is not None:
                    self._sc.setJobGroup(f"{parent}#{self._stack[-1]}", parent)
                else:
                    self._sc._jsc.clearJobGroup()
            self.self_s += time.perf_counter() - b1

    def dump(self, path: str, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "metrics": metrics}, f, indent=1)


def duration(span: dict) -> float:
    return span["end"] - span["start"]
