"""Seeded benchmark of the engine's public API.

    python3 perfbench/run.py --workload road_graph --seed 1 --seconds 8 --trace 0

Runs one workload on ``local[nproc]`` from this Python process, checks
every output, and prints one JSON line last: ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` records spans and per-operation Spark counters and
reports the per-layer metrics instead (a layer the workload does not
reach reads 0). The line before it carries the run's context: sample
counts, input sizes, core counts and any errors. The exit code is 0
only if every operation ran and passed its check.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("road_graph", "warehouse_mixed")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import bigdata_foundation_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    # Every file the run writes — Spark's shuffle and broadcast files,
    # temp files, the generated inputs — stays under the checkout.
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # No hsperfdata file in the system temp dir either.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))

    import harness
    import metrics as M

    r = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    r.context.update(nproc=cpus, spark_graft_cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    try:
        if args.workload == "road_graph":
            import road_graph as w
        else:
            import warehouse as w
        got = w.run(r)
        if args.trace:
            trace_path = os.path.join(base, f"trace-{args.workload}-seed{args.seed}.json")
            r.tracer.dump(trace_path)
            r.context["trace_file"] = os.path.relpath(trace_path, ROOT)
            got.update(M.self_times(r.tracer))
            out = M.select(M.PER_LAYER, got)
        else:
            out = M.select(M.END_TO_END, got)
        return r.emit(out)
    finally:
        r.close()
        shutil.rmtree(work, ignore_errors=True)
        os.sync()  # leave no write-back of this run to slow the next one


if __name__ == "__main__":
    sys.exit(main())
