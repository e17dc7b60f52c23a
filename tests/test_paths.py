"""Path-algorithm correctness.

Oracles, mirroring the reference's own verification practices
(SURVEY.md §5): (1) FIXTURES.md §3.2 goldens computed by an independent
survey-time Dijkstra; (2) an in-test Bellman–Ford oracle written
independently of the engine's heap kernel; (3) cross-algorithm
agreement (delta-stepping == Dijkstra, MAIN:388; Yen path #0 ==
Dijkstra, MAIN:703); (4) broadcast-strategy == BSP-strategy.
"""

import math

import pytest
from pyspark.sql import functions as F

from bigdata_foundation_spark.graph import apsp_topk, astar, dijkstra, sssp, yens_k
from bigdata_foundation_spark.graph.paths import build_projection, path_summary

from .conftest import reference_csv

SOURCE = "2022"
# FIXTURES.md §3.2, file _1: reachable nodes, farthest node, distance, path len
REACHABLE_1, FARTHEST_1, FARTHEST_DIST_1, FARTHEST_HOPS_1 = 2191, "2802", 9221.720431, 66


def bellman_ford_oracle(edges, source):
    """Deliberately different algorithm from the engine kernel."""
    dist = {source: 0.0}
    changed = True
    while changed:
        changed = False
        for s, d, c in edges:
            if s in dist and dist[s] + c < dist.get(d, math.inf) - 1e-12:
                dist[d] = dist[s] + c
                changed = True
    return dist


@pytest.fixture(scope="module")
def proj(graph1):
    nodes, roads = graph1
    return build_projection(roads, nodes)


@pytest.fixture(scope="module")
def edge_rows(graph1):
    _nodes, roads = graph1
    return [(r[0], r[1], float(r[2])) for r in roads.select("src", "dst", "cost").collect()]


def test_sssp_matches_independent_oracle(spark, graph1, proj, edge_rows):
    _nodes, roads = graph1
    got = {r[0]: r[1] for r in sssp(spark, roads, SOURCE, projection=proj).collect()}
    want = bellman_ford_oracle(edge_rows, SOURCE)
    assert len(got) == len(want) == REACHABLE_1
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-9)


def test_sssp_fixture_goldens(spark, graph1, proj):
    _nodes, roads = graph1
    res = sssp(spark, roads, SOURCE, projection=proj)
    far = res.orderBy(F.desc("distance")).first()
    assert far["NodeId"] == FARTHEST_1
    assert far["distance"] == pytest.approx(FARTHEST_DIST_1, abs=1e-5)


def test_dijkstra_path_stream(spark, graph1, proj):
    _nodes, roads = graph1
    stream = dijkstra(spark, roads, SOURCE, FARTHEST_1, projection=proj)
    rows = stream.collect()
    assert len(rows) == FARTHEST_HOPS_1
    assert rows[0]["NodeId"] == SOURCE and rows[0]["cost"] == 0.0
    assert rows[-1]["NodeId"] == FARTHEST_1
    assert rows[-1]["cost"] == pytest.approx(FARTHEST_DIST_1, abs=1e-5)
    costs = [r["cost"] for r in rows]
    assert costs == sorted(costs)  # cumulative cost is monotone (MAIN:310–326)
    summ = path_summary(stream).first()
    assert summ["PathNodeNumber"] == FARTHEST_HOPS_1
    assert summ["totalcost"] == pytest.approx(FARTHEST_DIST_1, abs=1e-5)


def test_astar_equals_dijkstra_cost(spark, graph1, proj):
    """Admissible-heuristic contract: optimal cost == Dijkstra
    (deliberate deviation from the reference's inadmissible heuristic,
    SURVEY.md §2.2 G4)."""
    nodes, roads = graph1
    d = dijkstra(spark, roads, SOURCE, FARTHEST_1, projection=proj).agg(F.max("cost")).first()[0]
    a = astar(spark, roads, nodes, SOURCE, FARTHEST_1, projection=proj).agg(F.max("cost")).first()[0]
    assert a == pytest.approx(d, abs=1e-9)


def test_yens_k(spark, graph1, proj):
    _nodes, roads = graph1
    res = yens_k(spark, roads, SOURCE, FARTHEST_1, k=3, projection=proj).collect()
    assert len(res) == 3
    totals = [r["totalCost"] for r in res]
    assert totals == sorted(totals)
    assert totals[0] == pytest.approx(FARTHEST_DIST_1, abs=1e-5)  # path#0 == Dijkstra (MAIN:703)
    for r in res:
        assert len(r["nodeIds"]) == len(r["costs"]) + 1
        assert sum(r["costs"]) == pytest.approx(r["totalCost"], abs=1e-9)
        assert len(set(r["nodeIds"])) == len(r["nodeIds"])  # loopless
    # distinct paths
    assert len({tuple(r["nodeIds"]) + (round(r["totalCost"], 9),) for r in res}) == 3


def test_apsp_topk(spark, graph1, proj, edge_rows):
    _nodes, roads = graph1
    got = [(r["source"], r["target"], r["distance"]) for r in apsp_topk(spark, roads, k=5, projection=proj).collect()]
    assert len(got) == 5
    # verify against oracle for the sources that appear
    for s, t, dist_val in got:
        want = bellman_ford_oracle(edge_rows, s)
        assert dist_val == pytest.approx(want[t], abs=1e-9)
    dists = [d for _, _, d in got]
    assert dists == sorted(dists, reverse=True)
    # landmark pruning must be invisible in the result
    unpruned = [
        (r["source"], r["target"], r["distance"])
        for r in apsp_topk(spark, roads, k=5, projection=proj, landmark_pruning=False).collect()
    ]
    assert got == unpruned


def test_bsp_full_equivalence_synthetic(spark):
    """BSP vs broadcast on a random low-diameter digraph, across all
    three kernels (SSSP / Dijkstra / A*)."""
    import random

    from bigdata_foundation_spark.graph.paths import build_projection as bp

    rng = random.Random(3)
    n = 60
    edges = []
    for u in range(n):
        for _ in range(3):
            v = rng.randrange(n)
            if v != u:
                edges.append((str(u), str(v), round(rng.uniform(1, 10), 3)))
    roads = spark.createDataFrame(edges, "src string, dst string, cost double")
    nodes = spark.createDataFrame(
        [(str(i), float(i % 10), float(i // 10)) for i in range(n)],
        "NodeId string, XCoord double, YCoord double",
    )
    proj2 = bp(roads, nodes)

    b = {r[0]: r[1] for r in sssp(spark, roads, "0", projection=proj2).collect()}
    s = {r[0]: r[1] for r in sssp(spark, roads, "0", strategy="bsp").collect()}
    assert set(b) == set(s)
    for k2 in b:
        assert b[k2] == pytest.approx(s[k2], abs=1e-9)

    target = max(b, key=b.get)
    pb = dijkstra(spark, roads, "0", target, projection=proj2).collect()
    ps = dijkstra(spark, roads, "0", target, strategy="bsp").collect()
    assert [r["NodeId"] for r in pb] == [r["NodeId"] for r in ps]

    ab = astar(spark, roads, nodes, "0", target, projection=proj2).collect()
    as_ = astar(spark, roads, nodes, "0", target, strategy="bsp").collect()
    assert ab[-1]["cost"] == pytest.approx(as_[-1]["cost"], abs=1e-9)
    assert ab[-1]["cost"] == pytest.approx(pb[-1]["cost"], abs=1e-9)


def test_bsp_dist_only_state_equals_path_carrying(spark):
    """carry_paths=False (r7 — the scale fix for the path-array
    checkpoint ceiling, KERNEL_BENCH §BSP): distances are bit-identical
    to the path-carrying state, and reconstruct_paths recovers from
    the parent forest exactly the shortest path the path-carrying run
    produced (unique-shortest-path graph, so no tie ambiguity)."""
    import random

    from bigdata_foundation_spark.graph import bsp as B

    rng = random.Random(11)
    n = 60
    edges = []
    for u in range(n):
        for _ in range(3):
            v = rng.randrange(n)
            if v != u:
                # distinct sums w.h.p. -> unique shortest paths
                edges.append((str(u), str(v), round(rng.uniform(1, 10), 6)))
    roads = spark.createDataFrame(edges, "src string, dst string, cost double")

    full = B.bsp_sssp(spark, roads, "0")
    lean = B.bsp_sssp(spark, roads, "0", carry_paths=False)
    fd = {r["node"]: r["dist"] for r in full.collect()}
    ld = {r["node"]: r["dist"] for r in lean.collect()}
    assert fd == ld  # bit-identical doubles, same relaxation order

    fpaths = {r["node"]: list(r["path"]) for r in full.collect()}
    far = max(fd, key=fd.get)
    rec = B.reconstruct_paths(lean, [far, "0"])
    assert rec[far] == fpaths[far]
    assert rec["0"] == ["0"]


def test_bsp_grid_equals_broadcast_both_superstep_shapes(spark, monkeypatch):
    """BSP ≡ broadcast for sssp, dijkstra (path and costs) and astar
    (cost) on a 6×6 grid with parallel edges, one one-way edge and an
    unreachable island. The broadcast gates are patched low so every
    BSP run mixes broadcast and shuffle supersteps. Costs are random
    with 6 decimals, so shortest paths are unique and tie-breaks do
    not enter."""
    import random

    from bigdata_foundation_spark.graph import bsp as B

    rng = random.Random(5)
    side = 6
    edges = []
    for r in range(side):
        for c in range(side):
            u = f"g{r}_{c}"
            for dr, dc in ((0, 1), (1, 0)):
                if r + dr < side and c + dc < side:
                    v = f"g{r + dr}_{c + dc}"
                    edges.append((u, v, round(rng.uniform(1, 10), 6)))
                    if (u, v) != ("g2_2", "g2_3"):  # the one-way edge
                        edges.append((v, u, round(rng.uniform(1, 10), 6)))
    edges += [(a, b, round(c + rng.uniform(-0.5, 3), 6)) for a, b, c in edges[::7]]
    edges += [("i0", "i1", 1.0), ("i1", "i0", 1.0)]  # unreachable island
    roads = spark.createDataFrame(edges, "src string, dst string, cost double")
    names = [f"g{r}_{c}" for r in range(side) for c in range(side)] + ["i0", "i1"]
    # half-unit spacing keeps the Euclidean heuristic admissible: no
    # edge costs less than 0.5
    nodes = spark.createDataFrame(
        [(n, (i % side) / 2, (i // side) / 2) for i, n in enumerate(names)],
        "NodeId string, XCoord double, YCoord double",
    )
    proj2 = build_projection(roads, nodes)

    shapes: list[bool] = []

    class _CandidateGate(int):
        """Records each broadcast-or-shuffle decision the loop makes
        (``n × degree <= gate`` calls the reflected ``__ge__``)."""

        def __ge__(self, other):
            shapes.append(int(self) >= other)
            return shapes[-1]

    monkeypatch.setattr(B, "_BROADCAST_FRONTIER_ROWS", 4)
    monkeypatch.setattr(B, "_BROADCAST_CANDIDATE_ROWS", _CandidateGate(8))

    src, tgt = "g0_0", f"g{side - 1}_{side - 1}"
    b = {r[0]: r[1] for r in sssp(spark, roads, src, strategy="broadcast").collect()}
    s = {r[0]: r[1] for r in sssp(spark, roads, src, strategy="bsp").collect()}
    assert set(b) == set(s) == set(names) - {"i0", "i1"}
    for n in b:
        assert s[n] == pytest.approx(b[n], abs=1e-9)
    assert True in shapes and False in shapes

    pb = dijkstra(spark, roads, src, tgt, projection=proj2).collect()
    ps = dijkstra(spark, roads, src, tgt, strategy="bsp").collect()
    assert [r["NodeId"] for r in ps] == [r["NodeId"] for r in pb]
    for rb, rs in zip(pb, ps):
        assert rs["cost"] == pytest.approx(rb["cost"], abs=1e-9)

    ab = astar(spark, roads, nodes, src, tgt, projection=proj2).collect()
    as_ = astar(spark, roads, nodes, src, tgt, strategy="bsp").collect()
    assert as_[-1]["cost"] == pytest.approx(ab[-1]["cost"], abs=1e-9)
    assert as_[-1]["cost"] == pytest.approx(pb[-1]["cost"], abs=1e-9)


def test_bsp_equals_broadcast(spark, graph1, proj):
    """Strategy equivalence on a bounded-depth query: the distributed
    BSP kernel and the broadcast heap kernel must agree exactly."""
    _nodes, roads = graph1
    # Pick a ~10-hop target so the BSP superstep count stays small.
    full_path = dijkstra(spark, roads, SOURCE, FARTHEST_1, projection=proj).collect()
    target = full_path[10]["NodeId"]
    b = dijkstra(spark, roads, SOURCE, target, projection=proj).collect()
    s = dijkstra(spark, roads, SOURCE, target, strategy="bsp").collect()
    assert [r["NodeId"] for r in b] == [r["NodeId"] for r in s]
    for rb, rs in zip(b, s):
        assert rb["cost"] == pytest.approx(rs["cost"], abs=1e-9)


def test_dijkstra_agg_golden(spark, csv1):
    """The reference's aggregate variant pins to the CSV1 goldens."""
    from bigdata_foundation_spark.queries import registry

    row = registry()["graph_dijkstra_agg"].fn(spark, "unused").collect()[0]
    assert row["PathNodeNumber"] == 66
    assert abs(row["totalcost"] - 9221.720431) < 1e-6


def test_sssp_slice_query(spark, csv1):
    """The CODE:54-shape slice query returns the tail window of the
    distance-ordered stream as scalar (pos, NodeId, distance) rows;
    the last element is the farthest golden."""
    from bigdata_foundation_spark.queries import registry

    rows = sorted(
        registry()["graph_sssp_slice"].fn(spark, "unused").collect(),
        key=lambda r: r["pos"],
    )
    assert [r["pos"] for r in rows] == list(range(10))
    assert rows[-1]["NodeId"] == "2802"  # farthest reachable (FIXTURES §3.2)
    assert abs(rows[-1]["distance"] - 9221.720431) < 1e-6
    dists = [r["distance"] for r in rows]
    assert dists == sorted(dists)


def test_sssp_csv7_farthest_golden(spark):
    from bigdata_foundation_spark.graph import load_graph, sssp

    nodes, roads = load_graph(spark, reference_csv(7))
    d = sssp(spark, roads, "2022").collect()
    far = max(d, key=lambda r: r["distance"])
    assert far["NodeId"] == "1319"
    assert abs(far["distance"] - 98318.360585) < 1e-5


# Twins of the three reference-CSV tests above, on the generated 40×40
# road graph (conftest ``generated40``) with networkx as the oracle.


@pytest.fixture(scope="module")
def generated_oracle(generated40):
    """(roads, nodes, networkx digraph of the cheapest parallel edge,
    source, networkx distances from it) for ``generated40``; the
    source is the smallest id of the largest strongly connected
    component."""
    import networkx as nx

    g, nodes, roads = generated40
    G = nx.DiGraph()
    for a, b, _rid, c in g.roads:
        if not G.has_edge(a, b) or c < G[a][b]["w"]:
            G.add_edge(a, b, w=c)
    source = min(max(nx.strongly_connected_components(G), key=len))
    dist = nx.single_source_dijkstra_path_length(G, source, weight="w")
    return roads, nodes, G, source, dist


def _farthest(dist):
    return max(dist.items(), key=lambda kv: (kv[1], kv[0]))


def test_dijkstra_agg_generated(spark, generated_oracle):
    """:func:`test_dijkstra_agg_golden`'s aggregate (path_summary over
    the Dijkstra stream) to the farthest node of the generated graph:
    node count and total cost equal networkx's shortest path."""
    import networkx as nx

    roads, nodes, G, source, dist = generated_oracle
    target, far = _farthest(dist)
    row = path_summary(dijkstra(spark, roads, source, target)).collect()[0]
    assert row["PathNodeNumber"] == len(nx.dijkstra_path(G, source, target, weight="w"))
    assert row["totalcost"] == pytest.approx(far, abs=1e-6)


def test_sssp_slice_generated(spark, generated_oracle):
    """:func:`test_sssp_slice_query`'s ordered-collect + slice pipeline
    (``queries._sssp_window``) on the generated graph: the tail window
    of 10 equals networkx's distance-ordered tail."""
    from bigdata_foundation_spark.queries import _sssp_window

    roads, _nodes, _G, source, dist = generated_oracle
    n = len(dist)
    rows = sorted(_sssp_window(sssp(spark, roads, source), n - 10, 10).collect(), key=lambda r: r["pos"])
    want = sorted((d, v) for v, d in dist.items())[n - 10:]
    assert [r["pos"] for r in rows] == list(range(10))
    assert [r["NodeId"] for r in rows] == [v for _d, v in want]
    assert [r["distance"] for r in rows] == pytest.approx([d for d, _v in want], abs=1e-6)


def test_sssp_farthest_generated(spark, generated_oracle):
    """:func:`test_sssp_csv7_farthest_golden` on the generated graph,
    through the default strategy: every reachable node's distance and
    the farthest node equal networkx's."""
    roads, _nodes, _G, source, dist = generated_oracle
    d = {r["NodeId"]: r["distance"] for r in sssp(spark, roads, source).collect()}
    assert d.keys() == dist.keys()
    assert max(d, key=lambda v: (d[v], v)) == _farthest(dist)[0]
    for v, want in dist.items():
        assert d[v] == pytest.approx(want, abs=1e-6)


def test_projection_million_edges_compact():
    """The broadcast path's scale contract: a 1.2M-edge projection is
    numpy CSR (~16 B/edge + indptr) on the driver — never per-edge
    Python objects — and the columnar build is byte-identical to the
    row-iterable constructor (same dictionary-encoding order, which
    the heap kernels' tie-breaks and the pinned goldens depend on)."""
    import pickle

    import numpy as np

    from bigdata_foundation_spark.graph.kernel import Projection

    rng = np.random.default_rng(42)
    m, n = 1_200_000, 120_000
    src_i = rng.integers(0, n, m)
    dst_i = rng.integers(0, n, m)
    src = np.array([f"n{x}" for x in src_i], dtype=object)
    dst = np.array([f"n{x}" for x in dst_i], dtype=object)
    cost = rng.random(m) + 0.01
    proj = Projection.from_columns(src, dst, cost)

    # numpy CSR, bounded resident bytes (not ~100 B/edge object lists)
    assert proj.adj_v.dtype == np.int32 and proj.adj_e.dtype == np.int32
    assert proj.adj_w.dtype == np.float64 and proj.indptr.dtype == np.int64
    csr_bytes = proj.indptr.nbytes + proj.adj_v.nbytes + proj.adj_w.nbytes + proj.adj_e.nbytes
    assert csr_bytes < 21 * m / 1.0  # ≈16 B/edge + indptr

    # CSR slice correctness on a sampled node
    u = proj.index[f"n{src_i[0]}"]
    lo, hi = int(proj.indptr[u]), int(proj.indptr[u + 1])
    got = sorted(zip(proj.adj_v[lo:hi].tolist(), proj.adj_w[lo:hi].tolist()))
    mask = src == f"n{src_i[0]}"
    want = sorted(
        (proj.index[d], c) for d, c in zip(dst[mask].tolist(), cost[mask].tolist())
    )
    assert got == want

    # pickling (the broadcast) never ships the hot list views
    proj.hot()
    clone = pickle.loads(pickle.dumps(proj))
    assert clone._hot is None
    assert clone.adj_v.tolist()[:100] == proj.adj_v.tolist()[:100]

    # ... and the vectorized delta-stepping kernel (the path this size
    # dispatches to) beats the heap loop by the documented margin
    # (KERNEL_BENCH.md: 13× at 1M edges; bar set at 5× per the
    # round-3 verdict) while agreeing on every distance.
    import time

    from bigdata_foundation_spark.graph import kernel as K

    assert proj.n_edges >= K._NUMPY_DIST_EDGE_THRESHOLD  # dispatch covers this size
    proj.hot()
    sources = [proj.index["n0"], proj.index["n7"]]
    saved = K._NUMPY_DIST_EDGE_THRESHOLD
    try:
        K._NUMPY_DIST_EDGE_THRESHOLD = 1 << 60  # force heap
        t0 = time.perf_counter()
        heap_d = [K._dijkstra_dist(proj, s) for s in sources]
        t_heap = time.perf_counter() - t0
    finally:
        K._NUMPY_DIST_EDGE_THRESHOLD = saved
    t0 = time.perf_counter()
    np_d = [K._delta_dist_numpy(proj, s) for s in sources]
    t_np = time.perf_counter() - t0
    for h, d in zip(heap_d, np_d):
        ha = np.asarray(h)
        assert np.allclose(np.nan_to_num(ha, posinf=-1.0), np.nan_to_num(d, posinf=-1.0))
    assert t_heap / t_np >= 5.0, f"numpy kernel speedup {t_heap/t_np:.1f}x < 5x"


def test_numpy_kernel_exact_on_int_weights(monkeypatch):
    """Integer-valued weights make every path sum exactly representable
    in float64, so the heap and numpy kernels must agree BIT-exactly —
    including through the per_source_longest top-k tie-breaks (equal
    distances are common with small integer weights)."""
    import numpy as np

    from bigdata_foundation_spark.graph import kernel as K

    rng = np.random.default_rng(5)
    n, m = 400, 2400
    src = np.array([f"n{x}" for x in rng.integers(0, n, m)], dtype=object)
    dst = np.array([f"n{x}" for x in rng.integers(0, n, m)], dtype=object)
    cost = rng.integers(1, 9, m).astype(np.float64)
    proj = K.Projection.from_columns(src, dst, cost)

    for s in (0, 17, 256):
        heap_d = K._dijkstra_dist(proj, s)  # below threshold → heap
        np_d = K._delta_dist_numpy(proj, s)
        assert heap_d == np_d.tolist()

    srcs = [proj.ids[i] for i in range(0, len(proj.ids), 37)]
    want = K.per_source_longest(proj, srcs, 5)
    monkeypatch.setattr(K, "_NUMPY_DIST_EDGE_THRESHOLD", 1)  # force numpy path
    got = K.per_source_longest(proj, srcs, 5)
    assert got == want


def test_numpy_kernel_exact_on_grid_with_adaptive_delta():
    """High-diameter road-like shape (lattice): enough bucket rounds
    that the adaptive delta-widening (×4 every 16 buckets) actually
    fires several times — exactness must hold through every widening
    step, not just the classic mean-weight delta the dense synthetics
    stay on. Integer weights pin bit-exact agreement with the heap."""
    import numpy as np

    from bigdata_foundation_spark.graph import kernel as K

    rng = np.random.default_rng(11)
    r = c = 60  # ~3,600 nodes, ~14k directed edges, ~120-hop diameter
    idx = np.arange(r * c).reshape(r, c)
    pieces = []
    a, b = idx[:, :-1].ravel(), idx[:, 1:].ravel()
    pieces += [(a, b), (b, a)]
    a, b = idx[:-1, :].ravel(), idx[1:, :].ravel()
    pieces += [(a, b), (b, a)]
    src = np.concatenate([p[0] for p in pieces])
    dst = np.concatenate([p[1] for p in pieces])
    cost = rng.integers(50, 150, len(src)).astype(np.float64)
    ids = np.array([f"n{i}" for i in range(r * c)], dtype=object)
    proj = K.Projection.from_columns(ids[src], ids[dst], cost)

    for s in (0, r * c // 2, r * c - 1):
        heap_d = K._dijkstra_dist(proj, s)  # below threshold → heap
        np_d = K._delta_dist_numpy(proj, s)
        assert heap_d == np_d.tolist()


def test_projection_columnar_equals_row_build():
    """from_columns == the row-iterable constructor, element for
    element (ids, index, CSR layout, edge identities)."""
    import numpy as np

    from bigdata_foundation_spark.graph.kernel import Projection

    rng = np.random.default_rng(7)
    m = 5000
    src = [f"v{int(x)}" for x in rng.integers(0, 500, m)]
    dst = [f"v{int(x)}" for x in rng.integers(0, 500, m)]
    cost = [float(c) for c in (rng.random(m) + 0.01)]

    a = Projection(zip(src, dst, cost))
    b = Projection.from_columns(
        np.array(src, dtype=object), np.array(dst, dtype=object), np.array(cost)
    )
    assert a.ids == b.ids and a.index == b.index
    assert a.indptr.tolist() == b.indptr.tolist()
    assert a.adj_v.tolist() == b.adj_v.tolist()
    assert a.adj_w.tolist() == b.adj_w.tolist()
    assert a.adj_e.tolist() == b.adj_e.tolist()


def test_apsp_bsp_equals_broadcast(spark):
    """G3's BSP fallback (wave-batched multi-source relaxation) must
    return exactly the broadcast heap kernel's top-k, including the
    3-key tie-break, on a synthetic low-diameter digraph."""
    import random

    rng = random.Random(11)
    n = 50
    edges = []
    for u in range(n):
        for _ in range(3):
            v = rng.randrange(n)
            if v != u:
                edges.append((str(u), str(v), round(rng.uniform(1, 10), 3)))
    roads = spark.createDataFrame(edges, "src string, dst string, cost double")

    b = [
        (r["source"], r["target"], r["distance"])
        for r in apsp_topk(spark, roads, k=7, strategy="broadcast").collect()
    ]
    s = [
        (r["source"], r["target"], r["distance"])
        for r in apsp_topk(spark, roads, k=7, strategy="bsp", bsp_wave_size=16).collect()
    ]
    assert len(b) == len(s) == 7
    for (bs, bt, bd), (ss, st, sd) in zip(b, s):
        assert (bs, bt) == (ss, st)
        assert bd == pytest.approx(sd, abs=1e-9)


def test_apsp_bsp_driver_rows_bounded(spark, monkeypatch):
    """The BSP fallback's scale contract: the driver never holds more
    than one wave of source ids at a time (each multi-SSSP call is
    seeded with ≤ wave_size sources), and together the waves partition
    the full source set — no all-sources collect anywhere."""
    import random

    from bigdata_foundation_spark.graph import bsp as _bsp_mod
    from bigdata_foundation_spark.graph import paths as _paths_mod

    rng = random.Random(3)
    n = 60
    edges = []
    for u in range(n):
        for _ in range(2):
            v = rng.randrange(n)
            if v != u:
                edges.append((str(u), str(v), round(rng.uniform(1, 10), 3)))
    roads = spark.createDataFrame(edges, "src string, dst string, cost double")
    all_sources = {e[0] for e in edges}

    seen_waves: list[list[str]] = []
    real = _bsp_mod.bsp_multi_sssp

    def spy(spark_, roads_, sources, **kw):
        seen_waves.append(list(sources))
        return real(spark_, roads_, sources, **kw)

    monkeypatch.setattr(_bsp_mod, "bsp_multi_sssp", spy)
    wave_size = 16
    got = apsp_topk(spark, roads, k=5, strategy="bsp", bsp_wave_size=wave_size).collect()
    assert len(got) == 5
    assert seen_waves, "bsp fallback never invoked the multi-SSSP kernel"
    assert all(len(w) <= wave_size for w in seen_waves)
    covered = set().union(*(set(w) for w in seen_waves))
    assert covered == all_sources
    # waves partition (no source visited twice)
    assert sum(len(w) for w in seen_waves) == len(all_sources)
    # bounded: with |sources| ≈ 60 and wave_size 16, several waves
    assert len(seen_waves) >= 3
    # sanity vs broadcast
    monkeypatch.undo()
    b = apsp_topk(spark, roads, k=5, strategy="broadcast").collect()
    assert [(r[0], r[1]) for r in got] == [(r[0], r[1]) for r in b]


def test_yens_k_auto_dispatches_bsp_beyond_broadcast(spark, monkeypatch):
    """yens_k(strategy='auto') past BROADCAST_EDGE_LIMIT must dispatch
    to the BSP Yen (never collect a projection that would OOM the
    driver) and return the same paths broadcast would."""
    from bigdata_foundation_spark.graph import bsp as _bsp_mod
    from bigdata_foundation_spark.graph import paths as _paths_mod

    roads = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 5.0)],
        "src string, dst string, cost double",
    )
    monkeypatch.setattr(_paths_mod, "BROADCAST_EDGE_LIMIT", 2)
    _paths_mod._COUNT_MEMO.clear()
    calls: list[int] = []
    real = _bsp_mod.bsp_yens_k

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(_paths_mod._bsp, "bsp_yens_k", spy)
    got = yens_k(spark, roads, "a", "c", k=2).collect()
    assert calls, "auto past the limit must run the BSP Yen"
    assert [r["totalCost"] for r in got] == [2.0, 5.0]
    assert [r["nodeIds"] for r in got] == [["a", "b", "c"], ["a", "c"]]
    # forcing broadcast still works and agrees
    monkeypatch.undo()
    _paths_mod._COUNT_MEMO.clear()
    b = yens_k(spark, roads, "a", "c", k=2, strategy="broadcast").collect()
    assert [r["totalCost"] for r in b] == [2.0, 5.0]
    _paths_mod._COUNT_MEMO.clear()


def test_bsp_yens_equals_broadcast_multigraph(spark):
    """BSP Yen vs broadcast Yen on a random low-diameter MULTIGRAPH
    (parallel edges with distinct road_id/cost force true edge-identity
    masking — endpoint masking would wrongly kill the parallel edge)."""
    import random

    rng = random.Random(11)
    n = 30
    edges = []
    eid = 0
    for u in range(n):
        for _ in range(3):
            v = rng.randrange(n)
            if v == u:
                continue
            edges.append((str(u), str(v), f"r{eid}", round(rng.uniform(1.0, 9.0), 3)))
            eid += 1
            if rng.random() < 0.3:  # parallel edge, different cost
                edges.append(
                    (str(u), str(v), f"r{eid}", round(rng.uniform(1.0, 9.0), 3))
                )
                eid += 1
    roads = spark.createDataFrame(edges, "src string, dst string, road_id string, cost double")

    b = yens_k(spark, roads, "0", str(n - 1), k=4, strategy="broadcast").collect()
    s = yens_k(spark, roads, "0", str(n - 1), k=4, strategy="bsp").collect()
    assert len(b) == len(s) == 4
    for rb, rs in zip(b, s):
        assert rb["totalCost"] == pytest.approx(rs["totalCost"], abs=1e-9)
    # path #0 must be the Dijkstra path on both strategies
    assert b[0]["nodeIds"] == s[0]["nodeIds"]
    # loopless + monotone costs on the BSP side
    for r in s:
        assert len(set(r["nodeIds"])) == len(r["nodeIds"])
    totals = [r["totalCost"] for r in s]
    assert totals == sorted(totals)


def test_bsp_yens_probe_wave_batching(spark):
    """probes_per_wave bounds distributed state without changing
    results: forcing 2-probe waves must reproduce the unbatched
    answer on a multigraph with parallel edges."""
    from bigdata_foundation_spark.graph.bsp import bsp_yens_k

    edges = [
        ("a", "b", "r1", 1.0),
        ("b", "c", "r2", 1.0),
        ("c", "d", "r3", 1.0),
        ("a", "c", "r4", 3.5),
        ("b", "d", "r5", 3.0),
        ("a", "b", "r6", 2.0),  # parallel to r1
        ("c", "d", "r7", 1.5),  # parallel to r3
    ]
    roads = spark.createDataFrame(edges, "src string, dst string, road_id string, cost double")
    full = bsp_yens_k(spark, roads, "a", "d", k=4, probes_per_wave=64)
    waved = bsp_yens_k(spark, roads, "a", "d", k=4, probes_per_wave=2)
    assert [(p, round(t, 9)) for p, _c, t in full] == [
        (p, round(t, 9)) for p, _c, t in waved
    ]
    assert full[0][2] == pytest.approx(3.0)  # a-b-c-d via r1,r2,r3


def test_projection_rejects_negative_costs(spark):
    """Dijkstra/delta-stepping/A*/ALT all assume non-negative weights;
    a negative cost must be rejected loudly at projection build, not
    silently corrupt every distance downstream."""
    import pytest as _pytest

    roads = spark.createDataFrame(
        [("a", "b", 1.0, "r1"), ("b", "c", -0.5, "r2")],
        "src string, dst string, cost double, road_id string",
    )
    with _pytest.raises(ValueError, match="negative edge cost"):
        build_projection(roads)


def _seeded_grid(spark, side, seed=5):
    """A side×side two-way grid with integer costs from a narrow range
    (many equal-cost alternatives) and a parallel copy of every
    seventh link (half at the same cost, half dearer). Costs are at
    least the unit grid spacing, so the planar A* heuristic on the
    grid coordinates stays admissible. Returns (roads, nodes, edges)."""
    import random

    rng = random.Random(seed)
    edges = []

    def link(a, b):
        c = float(rng.randint(1, 3))
        edges.append((a, b, f"r{len(edges)}", c))
        if len(edges) % 7 == 0:
            edges.append((a, b, f"r{len(edges)}", c + rng.choice((0.0, 1.0))))

    for x in range(side):
        for y in range(side):
            for nx_, ny_ in ((x + 1, y), (x, y + 1)):
                if nx_ < side and ny_ < side:
                    link(f"{x}_{y}", f"{nx_}_{ny_}")
                    link(f"{nx_}_{ny_}", f"{x}_{y}")
    roads = spark.createDataFrame(edges, "src string, dst string, road_id string, cost double")
    nodes = spark.createDataFrame(
        [(f"{x}_{y}", float(x), float(y)) for x in range(side) for y in range(side)],
        "NodeId string, XCoord double, YCoord double",
    )
    return roads, nodes, edges


def test_point_queries_start_no_spark_job(spark):
    """Broadcast-tier point queries run the kernel in the calling
    process against the driver-held projection: dijkstra (both
    directions), astar and yens_k, each called and collected, start
    zero Spark jobs, and their costs equal networkx Dijkstra."""
    import uuid

    import networkx as nx

    side = 14
    roads, nodes, edges = _seeded_grid(spark, side)
    proj = build_projection(roads, nodes)
    G = nx.DiGraph()
    for s, d, _rid, c in edges:
        if not G.has_edge(s, d) or c < G[s][d]["w"]:
            G.add_edge(s, d, w=c)

    pairs = [("0_0", f"{side - 1}_{side - 1}"), ("3_9", "12_1"), ("13_0", "0_13"), ("6_6", "6_7")]
    sc = spark.sparkContext
    group = f"point-queries-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "point queries in the driver", False)
    try:
        got = []
        for s, t in pairs:
            got.append(
                (
                    s,
                    t,
                    dijkstra(spark, roads, s, t, projection=proj).collect(),
                    dijkstra(spark, roads, s, t, projection=proj, bidirectional=True).collect(),
                    astar(spark, roads, nodes, s, t, projection=proj).collect(),
                    yens_k(spark, roads, s, t, k=3, projection=proj).collect(),
                )
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    for s, t, fwd, bid, ast, yen in got:
        want = nx.dijkstra_path_length(G, s, t, weight="w")
        for rows in (fwd, bid, ast):
            assert rows[0]["NodeId"] == s and rows[-1]["NodeId"] == t
            assert rows[-1]["cost"] == pytest.approx(want, abs=1e-9)
        totals = [r["totalCost"] for r in yen]
        assert len(yen) == 3 and totals == sorted(totals)
        assert totals[0] == pytest.approx(want, abs=1e-9)
        assert yen[0]["nodeIds"] == [r["NodeId"] for r in fwd]


def test_broadcast_sssp_starts_no_spark_job(spark):
    """Broadcast-tier SSSP runs its kernel in the calling process and
    hands the rows to Spark as one Arrow table: called and collected it
    starts zero Spark jobs, its rows are the kernel's sorted by NodeId,
    an absent source gives an empty frame with the pinned schema, and
    the rows do not depend on the session's Arrow setting."""
    import uuid

    from bigdata_foundation_spark.graph import kernel
    from bigdata_foundation_spark.graph.paths import _SSSP_SCHEMA

    side = 14
    roads, nodes, _edges = _seeded_grid(spark, side)
    proj = build_projection(roads, nodes)
    source = "3_9"
    want = sorted(kernel.sssp(proj, source).items())
    assert len(want) > 1

    sc = spark.sparkContext
    group = f"sssp-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "sssp in the driver", False)
    try:
        df = sssp(spark, roads, source, projection=proj)
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.schema == _SSSP_SCHEMA
    assert [tuple(r) for r in rows] == want

    absent = sssp(spark, roads, "no-such-node", projection=proj)
    assert absent.schema == _SSSP_SCHEMA
    assert absent.collect() == []

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert [tuple(r) for r in sssp(spark, roads, source, projection=proj).collect()] == want
    finally:
        spark.conf.set(key, before)


def test_yens_k_equals_brute_force_on_multigraph(spark):
    """Yen's totalCost list equals the k cheapest loopless edge-paths
    of a small multigraph, enumerated by brute force (parallel edges
    are distinct paths), and path #0 is the Dijkstra path."""
    import networkx as nx

    edges = [
        ("a", "b", "r1", 1.0),
        ("a", "b", "r2", 1.0),  # parallel, same cost
        ("a", "b", "r3", 2.0),  # parallel, dearer
        ("b", "c", "r4", 1.0),
        ("a", "c", "r5", 2.0),
        ("c", "d", "r6", 1.0),
        ("c", "d", "r7", 2.0),
        ("b", "d", "r8", 3.0),
        ("a", "d", "r9", 4.0),
        ("d", "b", "r10", 1.0),
        ("c", "a", "r11", 1.0),
    ]
    roads = spark.createDataFrame(edges, "src string, dst string, road_id string, cost double")
    proj = build_projection(roads)
    M = nx.MultiDiGraph()
    for s, d, rid, c in edges:
        M.add_edge(s, d, key=rid, w=c)
    brute = sorted(
        sum(M[u][v][key]["w"] for u, v, key in p) for p in nx.all_simple_edge_paths(M, "a", "d")
    )
    k = 6
    assert len(brute) > k
    yen = yens_k(spark, roads, "a", "d", k=k, projection=proj).collect()
    assert [r["totalCost"] for r in yen] == pytest.approx(brute[:k], abs=1e-9)
    for r in yen:
        assert len(set(r["nodeIds"])) == len(r["nodeIds"])
        assert sum(r["costs"]) == pytest.approx(r["totalCost"], abs=1e-9)
    path0 = dijkstra(spark, roads, "a", "d", projection=proj).collect()
    assert yen[0]["nodeIds"] == [r["NodeId"] for r in path0]


@pytest.mark.parametrize("strategy", ["broadcast", "bsp"])
@pytest.mark.parametrize("k", [0, -1])
def test_yens_k_rejects_k_below_one(spark, strategy, k):
    roads = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 5.0)],
        "src string, dst string, cost double",
    )
    with pytest.raises(ValueError, match="k >= 1"):
        yens_k(spark, roads, "a", "c", k=k, strategy=strategy)


@pytest.mark.parametrize("strategy", ["bogus", "file"])
def test_point_queries_validate_strategy(spark, strategy):
    """dijkstra and astar accept only 'auto', 'broadcast' and 'bsp',
    with or without a projection: a passed projection used to skip the
    check and silently run the broadcast kernel."""
    roads = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0)], "src string, dst string, cost double"
    )
    nodes = spark.createDataFrame(
        [("a", 0.0, 0.0), ("b", 1.0, 0.0), ("c", 2.0, 0.0)],
        "NodeId string, XCoord double, YCoord double",
    )
    proj = build_projection(roads, nodes)
    for projection in (None, proj):
        with pytest.raises(ValueError, match="unknown strategy"):
            dijkstra(spark, roads, "a", "c", strategy=strategy, projection=projection)
        with pytest.raises(ValueError, match="unknown strategy"):
            astar(spark, roads, nodes, "a", "c", strategy=strategy, projection=projection)


def test_bidirectional_dijkstra_equivalence(spark, graph1):
    """Bidirectional Dijkstra (Pohl 1971): exact same cost as the
    single-sided kernel on the CSV1 golden pair and on random pairs;
    path is valid (edges exist, hop costs sum to the distance); the
    unreachable case returns an empty frame like the forward path."""
    import random

    from bigdata_foundation_spark.graph import kernel as K

    nodes, roads = graph1
    proj = build_projection(roads, nodes)

    fwd = dijkstra(spark, roads, "2022", "2802", projection=proj).collect()
    bid = dijkstra(
        spark, roads, "2022", "2802", projection=proj, bidirectional=True
    ).collect()
    assert abs(fwd[-1]["cost"] - bid[-1]["cost"]) < 1e-6
    assert fwd[-1]["cost"] == pytest.approx(9221.720431, abs=1e-4)
    assert bid[0]["NodeId"] == "2022" and bid[-1]["NodeId"] == "2802"

    rng = random.Random(11)
    ids = proj.ids
    checked = 0
    while checked < 10:
        a, b = rng.choice(ids), rng.choice(ids)
        sp = K.shortest_path(proj, a, b)
        got = K.bidirectional_shortest_path(proj, a, b)
        if sp is None:
            assert got is None
            continue
        assert got is not None
        assert abs(sum(sp[1]) - sum(got[1])) < 1e-9
        # validity: every hop is a real edge with that cost
        index = proj.index
        for (u, v, w) in zip(got[0], got[0][1:], got[1]):
            ui = index[u]
            lo, hi = proj.indptr[ui], proj.indptr[ui + 1]
            cand = [
                float(proj.adj_w[i])
                for i in range(lo, hi)
                if proj.ids[proj.adj_v[i]] == v
            ]
            assert any(abs(c - w) < 1e-9 for c in cand), (u, v, w)
        checked += 1


def test_bidirectional_flag_forces_broadcast_strategy(spark, graph1, monkeypatch):
    """ADVICE r5: dijkstra(..., bidirectional=True) used to fall into
    the BSP dispatch before the flag was consulted when the strategy
    resolved to 'bsp', silently no-opping the requested algorithm.
    The flag must force the broadcast path: with bsp_sssp poisoned,
    the call still succeeds and returns the golden cost."""
    from bigdata_foundation_spark.graph import paths as P

    nodes, roads = graph1

    def _boom(*a, **k):  # pragma: no cover - failure branch
        raise AssertionError("BSP dispatched despite bidirectional=True")

    monkeypatch.setattr(P._bsp, "bsp_sssp", _boom)
    got = dijkstra(
        spark, roads, "2022", "2802", strategy="bsp", bidirectional=True
    ).collect()
    assert got[-1]["cost"] == pytest.approx(FARTHEST_DIST_1, abs=1e-4)


def test_harmonic_rounds_half_up_like_oracle(spark):
    """ADVICE r5 (medium): the harmonic sum must round the way the
    golden generator's r6 does (HALF_UP on the shortest decimal repr,
    i.e. Spark F.round), NOT Python round() (half-even on the binary
    double). Cost 8.100019035044733 makes H = 1/cost == 0.1234565
    exactly: round() gives 0.123456, r6/F.round give 0.123457."""
    from bigdata_foundation_spark.graph.paths import harmonic_centrality

    roads = spark.createDataFrame(
        [("a", "b", 8.100019035044733, "r1")],
        "src string, dst string, cost double, road_id string",
    )
    rows = {r["NodeId"]: r for r in harmonic_centrality(spark, roads, n_sources=16).collect()}
    assert rows["a"]["harmonic"] == 0.123457
    assert rows["a"]["n_reachable"] == 1
    assert rows["b"]["harmonic"] == 0.0


def test_centralities_reject_zero_weight_edges(spark):
    """ADVICE r5: a zero-cost edge lets a successor settle at the same
    distance as its predecessor, dropping sigma/pred contributions in
    Brandes, and harmonic's d>0 filter would treat 0-distance reachable
    nodes as unreachable — both must refuse loudly instead."""
    from bigdata_foundation_spark.graph.paths import (
        betweenness_centrality,
        harmonic_centrality,
    )

    roads = spark.createDataFrame(
        [("a", "b", 0.0, "r1"), ("b", "c", 1.0, "r2")],
        "src string, dst string, cost double, road_id string",
    )
    with pytest.raises(ValueError, match="zero-cost edge"):
        harmonic_centrality(spark, roads, n_sources=4)
    with pytest.raises(ValueError, match="zero-cost edge"):
        betweenness_centrality(spark, roads, n_sources=4)


def test_betweenness_sampled_error_bound_vs_exact(spark, graph1, proj):
    """r5 verdict task 4: the sampled centralities verified replay
    equality but nothing bounded sampling error vs the exact statistic.
    On CSV1 exact is cheap (every node a source), so pin the 16-source
    estimator against it: rank recall (>= 8 of the exact top-10 inside
    the sampled top-50) and scaled-value error (x |V|/16, Brandes &
    Pich 2007 unbiased estimator: median relative error over the exact
    top-50 <= 0.25, max <= 0.75 — measured 0.125 / 0.459; the sample
    is hash-deterministic so this is a regression pin, not a flaky
    probabilistic bound). The exact side runs IN-ENGINE via
    ``n_sources=None`` (r7: the exact all-source tier — every node a
    source as parallel executor tasks), not a driver-side replay."""
    import statistics

    from bigdata_foundation_spark.graph.paths import betweenness_centrality

    _nodes, roads = graph1
    n = len(proj.ids)
    exact = {
        r["NodeId"]: r["betweenness"]
        for r in betweenness_centrality(
            spark, roads, n_sources=None, k=4000, projection=proj
        ).collect()
    }
    sampled = {
        r["NodeId"]: r["betweenness"]
        for r in betweenness_centrality(
            spark, roads, n_sources=16, k=4000, projection=proj
        ).collect()
    }
    top_exact = sorted(exact, key=lambda k: (-exact[k], k))
    top_samp = set(sorted(sampled, key=lambda k: (-sampled[k], k))[:50])
    assert len(set(top_exact[:10]) & top_samp) >= 8

    scale = n / 16
    errs = [
        abs(sampled.get(k, 0.0) * scale - exact[k]) / exact[k] for k in top_exact[:50]
    ]
    assert statistics.median(errs) <= 0.25, statistics.median(errs)
    assert max(errs) <= 0.75, max(errs)


def test_harmonic_sampled_values_are_exact(spark, graph1, proj):
    """Harmonic has NO estimation error: n_sources selects which nodes
    are reported, each value is the exact H(s). Cross-check each of
    the 16 sampled rows against an independent driver-side kernel SSSP
    + Decimal HALF_UP rounding (the golden generator's r6)."""
    from decimal import ROUND_HALF_UP, Decimal

    from bigdata_foundation_spark.graph import kernel as K
    from bigdata_foundation_spark.graph.paths import harmonic_centrality

    _nodes, roads = graph1
    rows = harmonic_centrality(spark, roads, n_sources=16, projection=proj).collect()
    assert len(rows) == 16
    for r in rows:
        dist = K.sssp(proj, r["NodeId"])
        h = sum((1.0 / d for d in dist.values() if d > 0.0), 0.0)
        expect = float(
            Decimal(repr(h)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )
        assert r["harmonic"] == expect, r["NodeId"]
        assert r["n_reachable"] == sum(1 for d in dist.values() if d > 0.0)


def test_closeness_sampled_values_are_exact(spark, graph1, proj):
    """Closeness mirrors harmonic's contract: no estimation error —
    each sampled row is the exact C(s) = r/Σd, cross-checked against
    an independent driver-side kernel SSSP + Decimal HALF_UP rounding.
    The sampled node set must be identical to harmonic's (same
    hash-spread selection)."""
    from decimal import ROUND_HALF_UP, Decimal

    from bigdata_foundation_spark.graph import kernel as K
    from bigdata_foundation_spark.graph.paths import (
        closeness_centrality,
        harmonic_centrality,
    )

    _nodes, roads = graph1
    rows = closeness_centrality(spark, roads, n_sources=16, projection=proj).collect()
    assert len(rows) == 16
    for r in rows:
        dist = K.sssp(proj, r["NodeId"])
        tot = sum((d for d in dist.values() if d > 0.0), 0.0)
        n = sum(1 for d in dist.values() if d > 0.0)
        c = (n / tot) if tot > 0.0 else 0.0
        expect = float(
            Decimal(repr(c)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )
        assert r["closeness"] == expect, r["NodeId"]
        assert r["n_reachable"] == n
    h_nodes = {
        r["NodeId"]
        for r in harmonic_centrality(spark, roads, n_sources=16, projection=proj).collect()
    }
    assert {r["NodeId"] for r in rows} == h_nodes


def test_closeness_wasserman_faust(spark, graph1, proj):
    """wf_correction=True scales by r/(|V|-1): every value lands in
    [0, 1], equals the uncorrected value times the reachability
    fraction, and preserves 0.0 for sources reaching nothing."""
    from bigdata_foundation_spark.graph.paths import closeness_centrality

    _nodes, roads = graph1
    n_nodes = roads.selectExpr("src AS id").union(roads.selectExpr("dst AS id")).distinct().count()
    plain = {r["NodeId"]: r for r in closeness_centrality(spark, roads, n_sources=16, projection=proj).collect()}
    wf = {r["NodeId"]: r for r in closeness_centrality(
        spark, roads, n_sources=16, wf_correction=True, projection=proj
    ).collect()}
    assert set(wf) == set(plain)
    for nid, r in wf.items():
        assert 0.0 <= r["closeness"] <= 1.0
        expect = plain[nid]["closeness"] * r["n_reachable"] / (n_nodes - 1)
        assert abs(r["closeness"] - expect) < 2e-6  # both sides 6-dp rounded


def test_eccentricity_sampled_values_are_exact(spark, graph1, proj):
    """Eccentricity mirrors the closeness/harmonic contract: each
    sampled row is the exact max distance, cross-checked against a
    driver-side kernel SSSP; the sampled node set is identical to the
    family's; max(ecc) over closeness-family samples lower-bounds the
    directed diameter by construction."""
    from bigdata_foundation_spark.graph import kernel as K
    from bigdata_foundation_spark.graph.paths import eccentricity, harmonic_centrality

    _nodes, roads = graph1
    from decimal import ROUND_HALF_UP, Decimal

    rows = eccentricity(spark, roads, n_sources=16, projection=proj).collect()
    assert len(rows) == 16
    for r in rows:
        dist = K.sssp(proj, r["NodeId"])
        pos = [d for node, d in dist.items() if node != r["NodeId"]]
        expect = float(
            Decimal(repr(max(pos, default=0.0))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        assert r["eccentricity"] == expect, r["NodeId"]
        assert r["n_reachable"] == len(pos)
    h_nodes = {
        r["NodeId"]
        for r in harmonic_centrality(spark, roads, n_sources=16, projection=proj).collect()
    }
    assert {r["NodeId"] for r in rows} == h_nodes
