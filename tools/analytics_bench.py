"""Measure the graph-analytics family's two execution tiers on a
CSV7-scale road graph and ASSERT tier equivalence row-for-row — the
70k-edge leg of the kernel-vs-superstep contract (the toy and random
digraph legs live in tests/test_graph_etl.py).

    python tools/analytics_bench.py [--skip-superstep]

The input is ``perfbench/graphgen.generate(1)``: a perturbed 160×160
grid, ~25k nodes and ~70k roads, the scale of the reference's CSV7,
written to a temporary CSV and read back through ``load_graph``. Each
line prints wall seconds and Spark jobs (one job group per call) for
the kernel tier and the superstep tier. SCC's superstep tier is
diameter-bound on the 160×160 grid (hundreds of supersteps per
forward colouring), and minimum spanning forest's and truss
decomposition's are round-bound, so their tiers are compared on the
40×40 grid of the same generator; at CSV7 scale they print their
kernel tier only, as do the kernel-only functions (bridges,
articulation points, Louvain). ``k_hop_nodes`` and ``random_walks``
have one tier; they are checked against a pure-Python BFS and the
edge list.

Writes nothing but the temporary CSV; paste results into
KERNEL_BENCH.md.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

ROOT = __file__.rsplit("/", 2)[0]
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import graphgen  # noqa: E402

from bigdata_foundation_spark.session import get_spark  # noqa: E402


def _timed(sc, fn):
    """(sorted rows, seconds, Spark jobs) of one call, in its own job group."""
    group = f"analytics-bench-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        rows = sorted(map(tuple, fn().collect()))
        dt = time.perf_counter() - t0
    finally:
        sc.setJobGroup("", "")
    return rows, dt, len(sc.statusTracker().getJobIdsForGroup(group))


def _load(spark, side: int):
    from bigdata_foundation_spark.graph import load_graph
    from bigdata_foundation_spark.graph.paths import build_projection

    g = graphgen.generate(1, side=side)
    path = os.path.join(tempfile.mkdtemp(prefix="analytics-bench-"), "edges.csv")
    g.write_csv(path)
    _nodes, roads = load_graph(spark, path)
    assert roads.count() == g.n_roads
    return g, roads, build_projection(roads)


def main() -> int:
    skip_superstep = "--skip-superstep" in sys.argv
    spark = get_spark(app_name="analytics-bench")
    sc = spark.sparkContext
    from bigdata_foundation_spark.graph import etl as E

    g, roads, proj = _load(spark, 160)
    source = g.roads[0][0]
    print(f"graphgen.generate(1): {g.n_nodes:,} nodes, {g.n_roads:,} roads")

    def two_tier(name, kern, sstep):
        k_rows, t_k, j_k = _timed(sc, kern)
        line = f"{name:32s} kernel={t_k:6.2f}s ({j_k:3d} jobs)"
        if skip_superstep:
            print(f"{line} (superstep skipped)")
            return
        s_rows, t_s, j_s = _timed(sc, sstep)
        assert k_rows == s_rows, f"{name}: tier mismatch ({len(k_rows)} vs {len(s_rows)} rows)"
        print(f"{line} superstep={t_s:6.2f}s ({j_s:4d} jobs) rows={len(k_rows):,} EQUAL")

    cases = [
        ("connected_components",
         lambda: E.connected_components(roads, strategy="broadcast", projection=proj),
         lambda: E._connected_components_superstep(roads)),
        ("pagerank (20 iters)",
         lambda: E.pagerank(spark, roads, strategy="broadcast", projection=proj),
         lambda: E.pagerank(spark, roads, strategy="bsp")),
        ("personalized_pagerank (20)",
         lambda: E.personalized_pagerank(spark, roads, [source], strategy="broadcast",
                                         projection=proj),
         lambda: E.personalized_pagerank(spark, roads, [source], strategy="bsp")),
        ("eigenvector_centrality (20)",
         lambda: E.eigenvector_centrality(spark, roads, strategy="broadcast", projection=proj),
         lambda: E.eigenvector_centrality(spark, roads, strategy="bsp")),
        ("hits (20 iters)",
         lambda: E.hits(spark, roads, strategy="broadcast", projection=proj),
         lambda: E.hits(spark, roads, strategy="bsp")),
        ("label_propagation (10 rounds)",
         lambda: E.label_propagation(spark, roads, strategy="broadcast", projection=proj),
         lambda: E.label_propagation(spark, roads, strategy="bsp")),
        ("core_decomposition",
         lambda: E.core_decomposition(spark, roads, strategy="broadcast", projection=proj),
         lambda: E.core_decomposition(spark, roads, strategy="bsp")),
        ("hyperball (t_max=8, m=64)",
         lambda: E.hyperball(roads, strategy="broadcast", projection=proj),
         lambda: E.hyperball(roads, strategy="bsp")),
    ]
    for case in cases:
        two_tier(*case)

    # k_hop_nodes: one tier, checked against a pure-Python BFS
    adj: dict[str, set[str]] = {}
    for a, b, _rid, _c in g.roads:
        adj.setdefault(a, set()).add(b)
    want = {source: 0}
    ring = [source]
    for hop in range(1, 9):
        ring = [v for u in ring for v in adj.get(u, ()) if v not in want]
        want.update((v, hop) for v in ring)
    rows, dt, jobs = _timed(sc, lambda: E.k_hop_nodes(spark, roads, source, 8))
    assert dict(rows) == want, "k_hop_nodes: BFS mismatch"
    print(f"{'k_hop_nodes (k=8)':32s} superstep={dt:6.2f}s ({jobs:4d} jobs) rows={len(rows):,} EQUAL")

    # random_walks: one tier, every step must follow a simple edge
    rows, dt, jobs = _timed(sc, lambda: E.random_walks(roads, walk_length=8))
    walks: dict[tuple, list] = {}
    for seed, wid, step, node in rows:
        walks.setdefault((seed, wid), []).append((step, node))
    for path in walks.values():
        nodes = [n for _s, n in sorted(path)]
        assert all(b in adj.get(a, ()) and a != b for a, b in zip(nodes, nodes[1:]))
    assert len(walks) == len({v for a, b, _r, _c in g.roads for v in (a, b)})
    print(f"{'random_walks (8 steps)':32s} superstep={dt:6.2f}s ({jobs:4d} jobs) rows={len(rows):,} VALID")

    # Kernel tier only at CSV7 scale: the kernel-only functions, and
    # the functions whose superstep tier is diameter- or round-bound on
    # the 160×160 grid (their tiers are compared on the 40×40 grid below)
    kernel_only = [
        ("strongly_connected_components",
         lambda: E.strongly_connected_components(roads, strategy="broadcast", projection=proj)),
        ("minimum_spanning_forest",
         lambda: E.minimum_spanning_forest(roads, strategy="broadcast", projection=proj)),
        ("truss_decomposition",
         lambda: E.truss_decomposition(roads, strategy="broadcast", projection=proj)),
        ("bridge_edges", lambda: E.bridge_edges(roads, projection=proj)),
        ("articulation_points", lambda: E.articulation_points(roads, projection=proj)),
        ("louvain", lambda: E.louvain(roads, projection=proj)),
    ]
    for name, kern in kernel_only:
        rows, t_k, j_k = _timed(sc, kern)
        print(f"{name:32s} kernel={t_k:6.2f}s ({j_k:3d} jobs) rows={len(rows):,}")

    _g40, roads40, proj40 = _load(spark, 40)
    grid40 = [
        ("scc on the 40x40 grid",
         lambda: E.strongly_connected_components(roads40, strategy="broadcast", projection=proj40),
         lambda: E.strongly_connected_components(roads40, strategy="bsp")),
        ("msf on the 40x40 grid",
         lambda: E.minimum_spanning_forest(roads40, strategy="broadcast", projection=proj40),
         lambda: E.minimum_spanning_forest(roads40, strategy="bsp")),
        ("truss on the 40x40 grid",
         lambda: E.truss_decomposition(roads40, strategy="broadcast", projection=proj40),
         lambda: E.truss_decomposition(roads40, strategy="bsp")),
    ]
    for case in grid40:
        two_tier(*case)
    return 0


if __name__ == "__main__":
    sys.exit(main())
