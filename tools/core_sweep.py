"""Core-count sweep: algorithm wall-clock vs executor threads.

The reference's 3-node cluster did NOT speed up its algorithms —
GDS computes on a single member; the cluster only replicates storage
(SURVEY.md §4.2; cluster Dijkstra 74.8 vs standalone 72.6 at full
scale). This engine distributes the multi-source *queries*: APSP fans
source waves across every core, so its time should fall as cores grow
— the scaling the reference could not get. Yen's K is the control: on
the broadcast tier its spur probes run back to back in the driver
process against the driver-held projection, with no Spark job, so it
should stay flat. This harness measures exactly that on the 70k-row
graph.

Each configuration needs its own JVM (master is fixed at session
start), so every measurement runs in a fresh subprocess. Appends a
table to CORES.md. Usage: python tools/core_sweep.py [out.md]
"""

from __future__ import annotations

import json
import subprocess
import sys

REPO = __file__.rsplit("/", 2)[0]

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
os.environ["SPARK_GRAFT_CPUS"] = str(%(cpus)d)
from bigdata_foundation_spark.session import get_spark
from bigdata_foundation_spark.graph import apsp_topk, load_graph, sssp, yens_k
from bigdata_foundation_spark.graph.paths import build_projection

spark = get_spark(app_name="core-sweep-%(cpus)d")
spark.sparkContext.setLogLevel("ERROR")
nodes, roads = load_graph(spark, "/root/reference/Shenzhen_Edgelist_7.csv")
assert (nodes.count(), roads.count()) == (25341, 69070)
proj = build_projection(roads, nodes)
out = {}
# warm: pay projection broadcast + worker spin-up outside the timings
sssp(spark, roads, "2022", projection=proj).count()
for name, fn in [
    ("yens_k3", lambda: yens_k(spark, roads, "2022", "1319", k=3, projection=proj)),
    ("apsp_top10", lambda: apsp_topk(spark, roads, k=10, projection=proj)),
]:
    best = None
    for _ in range(2):
        t0 = time.time()
        fn().write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    out[name] = round(best, 2)
print("CORE_SWEEP_RESULT " + json.dumps(out))
spark.stop()
"""


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "CORES.md"
    rows = []
    for cpus in (4, 8, 16, 32):
        code = _CHILD % {"repo": REPO, "cpus": cpus}
        proc = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, timeout=900
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("CORE_SWEEP_RESULT ")]
        if not line:
            print(f"cpus={cpus} FAILED:\n{proc.stderr[-2000:]}")
            continue
        res = json.loads(line[0].split(" ", 1)[1])
        rows.append((cpus, res))
        print(f"cpus={cpus}: {res}")

    lines = [
        "# CORES — algorithm time vs core count (70k-row graph, min-of-2)",
        "",
        "The reference's cluster gave NO algorithm speedup (compute is",
        "single-member in GDS; BASELINE.md cluster tables). This engine",
        "distributes queries across cores/executors — the table shows the",
        "scaling the reference architecture could not reach. (Dijkstra/",
        "SSSP on this 69k-edge graph are single-task and excluded: their",
        "per-query cost is already sub-second; distribution shows up in",
        "the fan-out algorithms. Yen is the flat control: its spur",
        "probes run back to back in the driver process, with no Spark",
        "job — APSP is the compute-bound fan-out and shows the",
        "scaling.)",
        "",
        "| cores | yen k=3 s | apsp top10 s |",
        "| --- | --- | --- |",
    ]
    for cpus, res in rows:
        lines.append(f"| {cpus} | {res['yens_k3']} | {res['apsp_top10']} |")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
