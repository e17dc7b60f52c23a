"""Spans and per-operation Spark counters for the traced run.

A span records ``name, start, end, parent, op``; spans are kept in
memory and written out when the run ends. Every operation runs in its
own Spark job group, so after it ends its jobs, stages and stage
metrics are read back from ``statusTracker``/``statusStore``. With
tracing off, :meth:`Tracer.span` and :meth:`Tracer.op` cost one
``if`` and set no job group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = ("tasks", "run_ms", "cpu_ms", "input_bytes", "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self.ops: dict[str, dict] = {}  # op id -> kind, wall, Spark counters
        self._stack: list[int] = []
        self._op: str | None = None
        self._n = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, kind: str, recorded: bool = True):
        """One operation: a root span plus its own Spark job group.
        ``recorded`` marks the operations whose latency is a sample."""
        if not self.enabled:
            yield
            return
        self._n += 1
        op_id = f"{kind}#{self._n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind, False)
        self._op = op_id
        rec = self.ops[op_id] = {"kind": kind, "recorded": recorded}
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self._op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self.spark_counters(op_id))

    def spark_counters(self, group: str) -> dict:
        """Jobs, stages and summed stage metrics of one job group."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        out = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                try:
                    sd = jsc.statusStore().lastStageAttempt(stage_id)
                except Py4JJavaError:
                    continue
                if str(sd.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["run_ms"] += sd.executorRunTime()
                out["cpu_ms"] += sd.executorCpuTime() / 1e6
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def catalyst(self, df) -> None:
        """Add the Catalyst phase times of ``df``'s executed plan to the
        current operation's record."""
        if not self.enabled or df is None:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        rec = self.ops[self._op]
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                rec[name] = rec.get(name, 0.0) + float(opt.get().durationMs())

    def self_times(self) -> dict[str, float]:
        """Self time (span minus its children) summed per span name, ms."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child[i]) * 1e3
        return out

    def durations(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)
