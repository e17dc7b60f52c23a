"""Shared run machinery: session set-up, the closed-loop operation
stream with per-operation error boundaries, memory readings, host
probes and the result line."""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
import traceback

from metrics import END_TO_END
from spans import Tracer


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(xs):
    return statistics.median(xs) if xs else None


class Run:
    """One benchmark run: owns the Spark session, the tracer, the
    attempted/failed counts and the latency samples."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}  # op kind -> seconds
        self.get_spark_s = self.warmup_s = None
        self.stream_kinds: set[str] = set()
        self.context: dict = {"workload": workload, "seed": seed, "seconds": seconds}
        self.marks: dict[str, float] = {"start": time.perf_counter()}
        self.context["timeline_s"] = {}

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended (and how far into the run)."""
        self.marks[phase] = time.perf_counter()
        self.context["timeline_s"][phase] = round(self.marks[phase] - self.marks["start"], 2)

    # -- session ---------------------------------------------------------
    def setup(self) -> None:
        """Start the session cold, as a user's first call does:
        ``get_spark`` launches the JVM with the package's settings, then
        the warm-up runs the session's first job."""
        from bigdata_foundation_spark.session import get_spark

        os.sync()  # the generated inputs' write-back must not land in a timed phase
        # The inputs and their oracles are hundreds of thousands of Python
        # objects. Frozen, they are left out of every later collection,
        # so they do not slow the timed calls' garbage collections.
        gc.collect()
        gc.freeze()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        warmup(self.spark)
        self.get_spark_s, self.warmup_s = t1 - t0, time.perf_counter() - t1
        self.tracer.spark = self.spark
        self.mark("setup")

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm)

    # -- operations ------------------------------------------------------
    def op(self, kind: str, fn, check=None, record: bool = True):
        """Run ``fn()`` as one operation inside its own error boundary.
        ``check(result)`` runs outside the timed region and returns an
        error string or None. A raise or a failed check counts as a
        failed operation; only passing operations add a latency sample.
        Returns ``(result, seconds)``, or ``(None, None)`` on failure."""
        self.attempted += 1
        try:
            with self.tracer.op(kind, record):
                t0 = time.perf_counter()
                res = fn()
                dt = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — one failing op must not end the run
            self._fail(kind, traceback.format_exc(limit=3))
            return None, None
        try:
            err = check(res) if check is not None else None
        except Exception:  # noqa: BLE001
            err = traceback.format_exc(limit=3)
        if err:
            self._fail(kind, f"check: {err}")
            return None, None
        if record:
            self.samples.setdefault(kind, []).append(dt)
        return res, dt

    def _fail(self, kind: str, msg: str) -> None:
        self.failed += 1
        self.errors.append(f"{kind}: {msg.strip()[-400:]}")
        print(f"[perfbench] {kind} failed: {msg.strip()[-400:]}", file=sys.stderr)

    def stream(self, kinds, steps) -> list[float]:
        """Closed loop, one client: run ``steps`` (an endless iterator of
        ``(kind, fn)``; ``fn()`` runs one operation) until ``seconds``
        have passed and every kind in ``kinds`` has run at least once.
        Returns the latencies of the stream's operations."""
        self.stream_kinds = set(kinds)
        before = {k: len(v) for k, v in self.samples.items()}
        tried = set()
        os.sync()  # write-back of the warm-up's files must not land in the stream
        t0 = time.perf_counter()
        n = 0
        while time.perf_counter() - t0 < self.seconds or not self.stream_kinds <= tried:
            kind, fn = next(steps)
            fn()
            tried.add(kind)
            n += 1
        wall = time.perf_counter() - t0
        self.mark("stream")
        lat = [x for k, v in self.samples.items() for x in v[before.get(k, 0):]]
        self.context["stream"] = {"steps": n, "ops": len(lat), "wall_s": round(wall, 3)}
        return lat

    # -- output ----------------------------------------------------------
    def end_to_end(self, ingest: list[float], lat: list[float]) -> dict:
        """The end-to-end metrics. ``ops_per_s`` is the closed loop's
        throughput over an even mix of the stream's kinds: the number of
        kinds over the sum of each kind's median latency, so a run that
        stops part-way through a pass weighs every kind the same.
        ``op_p50_ms``, kept for the traced run, is the geometric mean
        over operation kinds of each kind's median latency, so every
        kind weighs the same whatever its speed."""
        kinds = {k: v for k, v in self.samples.items() if k in self.stream_kinds and v}
        self.context["samples"] = {
            "setup": 1,
            "ingest": len(ingest),
            "ops": len(lat),
            "per_kind": {k: len(v) for k, v in kinds.items()},
        }
        self.context["per_kind_p50_ms"] = {k: round(median(v) * 1e3, 3) for k, v in kinds.items()}
        self.context["ingest_s"] = [round(x, 4) for x in ingest]
        p50 = [median(v) for v in kinds.values()]
        return {
            "setup_s": (self.get_spark_s + self.warmup_s, "s"),
            "ingest_s": (median(ingest), "s"),
            "op_p50_ms": (statistics.geometric_mean(p50) * 1e3 if p50 else None, "ms"),
            "ops_per_s": (len(p50) / sum(p50) if p50 else None, "1/s"),
        }

    def emit(self, metrics: dict) -> int:
        correct = self.failed == 0
        self.context["errors"] = self.errors
        print(json.dumps({"context": self.context}))
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": max(self.attempted, 1),
                    "failed": self.failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0 if correct else 1


def spark_layer(ops: list[dict], spark) -> dict:
    """Per-operation Spark counters, averaged over the stream's ops."""
    cores = spark.sparkContext.defaultParallelism
    n = max(len(ops), 1)

    def mean(key):
        return sum(o.get(key, 0) for o in ops) / n

    busy = [o["run_ms"] / (o["wall_s"] * 1e3 * cores) for o in ops if o.get("wall_s")]
    return {
        "spark.jobs": (mean("jobs"), "count"),
        "spark.stages": (mean("stages"), "count"),
        "spark.tasks": (mean("tasks"), "count"),
        "spark.catalyst_analysis_ms": (mean("analysis"), "ms"),
        "spark.catalyst_optimization_ms": (mean("optimization"), "ms"),
        "spark.catalyst_planning_ms": (mean("planning"), "ms"),
        "spark.executor_run_ms": (mean("run_ms"), "ms"),
        "spark.executor_cpu_ms": (mean("cpu_ms"), "ms"),
        "spark.input_bytes": (mean("input_bytes"), "B"),
        "spark.shuffle_write_bytes": (mean("shuffle_write_bytes"), "B"),
        "spark.spill_bytes": (mean("spill_bytes"), "B"),
        "spark.busy_ratio": (statistics.mean(busy) if busy else 0.0, "ratio"),
    }


def traced_common(r: Run, e2e: dict) -> dict:
    """Per-layer metrics every workload reports: the end-to-end metrics
    as measured with tracing on, the session's two set-up halves, the
    per-op Spark counters and the host probes."""
    out = {f"trace.{k}": v for k, v in e2e.items() if k in END_TO_END}
    out["op.p50_ms"] = e2e["op_p50_ms"]
    out["session.get_spark_ms"] = (r.get_spark_s * 1e3, "ms")
    out["session.warmup_ms"] = (r.warmup_s * 1e3, "ms")
    out["session.peak_rss_mb"] = (r.peak_rss_mb(), "MB")
    stream_ops = [o for o in r.tracer.ops.values() if o["recorded"] and o["kind"] in r.stream_kinds]
    out.update(spark_layer(stream_ops, r.spark))
    out.update(host_probes(r.spark))
    return out


def host_probes(spark) -> dict:
    """bench.py's three calibration probes: whole-stage-codegen CPU, a
    keyed shuffle, and the fixed cost of the cheapest job (min of 5).
    They describe the host, not the code."""
    t0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id * 3 + 7)").collect()
    cpu = time.perf_counter() - t0
    t0 = time.perf_counter()
    (
        spark.range(0, 4_000_000, 1, 32)
        .selectExpr("id % 100000 AS k", "id AS v")
        .groupBy("k")
        .sum("v")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    shuffle = time.perf_counter() - t0
    fixed = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).count()
        fixed.append(time.perf_counter() - t0)
    return {
        "host.cpu_probe_s": (cpu, "s"),
        "host.shuffle_probe_s": (shuffle, "s"),
        "host.fixed_job_s": (min(fixed), "s"),
    }


def warmup(spark) -> None:
    """The first job of a session: one tiny codegen aggregate."""
    spark.range(1000).selectExpr("sum(id)").collect()
