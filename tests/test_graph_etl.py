"""ETL count goldens — every expected value is a published reference
number (standalone.txt:2–11, MAIN:753–763) re-verified in FIXTURES.md §2."""

import pytest

from bigdata_foundation_spark.graph import build_edges, build_nodes, read_edgelist

from .conftest import graphgen, reference_csv

# (file suffix, csv rows, nodes, roads) — FIXTURES.md §2 table.
GOLDENS = [
    (1, 9999, 3705, 9696),
    (2, 20000, 7272, 19524),
    (7, 70000, 25341, 69070),
]


@pytest.mark.parametrize("n,rows,n_nodes,n_roads", GOLDENS)
def test_etl_counts(spark, n, rows, n_nodes, n_roads):
    el = read_edgelist(spark, reference_csv(n))
    assert el.count() == rows  # blank padding rows dropped (SURVEY §1.1)
    nodes = build_nodes(el)
    assert nodes.count() == n_nodes
    roads = build_edges(el, nodes)
    assert roads.count() == n_roads


@pytest.mark.parametrize("seed", [1, 2, 7])
def test_etl_counts_generated(spark, tmp_path, seed):
    """:func:`test_etl_counts` on a generated CSV of the reference's
    schema (40×40 grid with planted padding, dangling, duplicate and
    parallel rows): the counts and the road multigraph equal the
    generator's own expectation."""
    g = graphgen().generate(seed, side=40)
    path = str(tmp_path / "edges.csv")
    g.write_csv(path)
    el = read_edgelist(spark, path)
    assert el.count() == len(g.rows) - g.planted["padding"]
    nodes = build_nodes(el)
    assert nodes.count() == g.n_nodes
    roads = build_edges(el, nodes)
    assert roads.count() == g.n_roads
    assert sorted(map(tuple, roads.select("src", "dst", "road_id", "cost").collect())) == g.roads


def test_schema_and_types(spark, graph1):
    nodes, roads = graph1
    assert dict(nodes.dtypes) == {"NodeId": "string", "XCoord": "double", "YCoord": "double"}
    assert dict(roads.dtypes) == {"src": "string", "dst": "string", "road_id": "string", "cost": "double"}
    # 3 props/node, 2 props/edge goldens (MAIN:737, MAIN:754)
    assert len(nodes.columns) * nodes.count() == 11115
    assert (len(roads.columns) - 2) * roads.count() == 19392


def test_multigraph_preserved(graph1):
    """Parallel edges with distinct road_id/cost must survive the dedup
    (MAIN:221–227) — only exact quadruples collapse."""
    from pyspark.sql import functions as F

    _nodes, roads = graph1
    multi = roads.groupBy("src", "dst").count().filter(F.col("count") > 1)
    assert multi.count() > 0


def test_dangling_edges_dropped(spark, graph1):
    """END_NODEs never seen as START_NODE are dropped (operator I5)."""
    nodes, roads = graph1
    node_ids = {r[0] for r in nodes.select("NodeId").collect()}
    dsts = {r[0] for r in roads.select("dst").distinct().collect()}
    assert dsts <= node_ids


def test_connected_components_and_triangles(spark):
    """Toy graph with a known shape: two components (a-b-c-a triangle
    plus pendant d; isolated pair x-y), 1 triangle; labels are the
    lexicographic min of each component; parallel edges and direction
    must not affect either result."""
    from bigdata_foundation_spark.graph.etl import connected_components, triangle_count

    rows = [
        ("a", "b", 1.0, "r1"),
        ("b", "c", 1.0, "r2"),
        ("c", "a", 1.0, "r3"),
        ("a", "b", 2.0, "r4"),  # parallel edge
        ("c", "d", 1.0, "r5"),
        ("y", "x", 1.0, "r6"),  # direction reversed vs min-label
    ]
    roads = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
    comp = {r["NodeId"]: r["component_id"] for r in connected_components(roads).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}
    assert triangle_count(roads).first()["n_triangles"] == 1


def test_pagerank_properties(spark):
    """PageRank invariants on a toy graph: total mass stays 1 (dangling
    redistribution), every rank >= (1-d)/N, and the hub of a star
    graph outranks its satellites; determinism across partitionings."""
    from bigdata_foundation_spark.graph.etl import pagerank

    rows = [(s, "hub", 1.0, f"r{i}") for i, s in enumerate(["a", "b", "c", "d"])]
    rows.append(("hub", "a", 1.0, "r9"))
    roads = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
    pr = {r["NodeId"]: r["rank"] for r in pagerank(spark, roads, iters=15).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-4
    assert all(v >= (1 - 0.85) / 5 - 1e-9 for v in pr.values())
    assert pr["hub"] == max(pr.values())
    pr2 = {
        r["NodeId"]: r["rank"]
        for r in pagerank(spark, roads.repartition(7), iters=15).collect()
    }
    assert pr == pr2  # 6-dp determinism contract across layouts


def test_harmonic_centrality_toy(spark):
    """Harmonic centrality on a toy path graph a→b→c (+ isolated pair):
    exact hand-computed values; unreachable targets contribute 0."""
    from bigdata_foundation_spark.graph.paths import harmonic_centrality

    rows = [
        ("a", "b", 1.0, "r1"),
        ("b", "c", 1.0, "r2"),
        ("x", "y", 2.0, "r3"),
    ]
    roads = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
    got = {
        r["NodeId"]: (r["harmonic"], r["n_reachable"])
        for r in harmonic_centrality(spark, roads, n_sources=10).collect()
    }
    assert got["a"] == (1.5, 2)  # 1/1 + 1/2
    assert got["b"] == (1.0, 1)
    assert got["c"] == (0.0, 0)
    assert got["x"] == (0.5, 1)
    assert got["y"] == (0.0, 0)


def test_label_propagation_two_cliques(spark):
    """LPA on two 4-cliques joined by one bridge edge: each clique
    converges to one community (its min node id), the bridge does not
    merge them, and results are identical across partitionings
    (all-integer determinism)."""
    from bigdata_foundation_spark.graph.etl import label_propagation

    def clique(names):
        return [
            (a, b, 1.0, f"{a}{b}") for a in names for b in names if a < b
        ] + [(b, a, 1.0, f"{b}{a}") for a in names for b in names if a < b]

    rows = clique(["a1", "a2", "a3", "a4"]) + clique(["b1", "b2", "b3", "b4"])
    rows.append(("a1", "b1", 1.0, "bridge"))
    roads = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
    got = {r["NodeId"]: r["community"] for r in label_propagation(spark, roads, iters=8).collect()}
    assert {got[f"a{i}"] for i in range(1, 5)} == {"a1"}
    assert {got[f"b{i}"] for i in range(1, 5)} == {"b1"}
    got2 = {
        r["NodeId"]: r["community"]
        for r in label_propagation(spark, roads.repartition(5), iters=8).collect()
    }
    assert got == got2


def test_betweenness_path_graph(spark):
    """Brandes on a directed path a→b→c→d with all four nodes sampled:
    interior nodes carry the known dependencies (b: paths a→c, a→d =
    2; c: a→d, b→d = 2), endpoints carry 0 and are absent; identical
    across partitionings."""
    from bigdata_foundation_spark.graph.paths import betweenness_centrality

    rows = [("a", "b", 1.0, "r1"), ("b", "c", 1.0, "r2"), ("c", "d", 1.0, "r3")]
    roads = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
    got = {
        r["NodeId"]: r["betweenness"]
        for r in betweenness_centrality(spark, roads, n_sources=4, k=10).collect()
    }
    assert got == {"b": 2.0, "c": 2.0}
    got2 = {
        r["NodeId"]: r["betweenness"]
        for r in betweenness_centrality(spark, roads.repartition(3), n_sources=4, k=10).collect()
    }
    assert got == got2


def test_analytics_kernel_tier_equals_superstep_toy(spark):
    """r5 verdict task 1: WCC / PageRank / LPA get the same two-tier
    dispatch the path family has. On toy graphs with dangling nodes,
    parallel edges, self-loops, ties and multiple components, the
    broadcast numpy kernel must reproduce the superstep loop's pinned
    contracts EXACTLY (WCC min-string-label; PageRank 6-dp power
    iteration; LPA integer votes + smallest-string-label ties)."""
    from bigdata_foundation_spark.graph.etl import (
        _connected_components_superstep,
        connected_components,
        label_propagation,
        pagerank,
    )

    rows = [
        ("a", "b", 1.0, "r1"),
        ("b", "c", 1.0, "r2"),
        ("c", "a", 1.0, "r3"),
        ("a", "b", 2.0, "r4"),   # parallel edge — double vote / double mass
        ("c", "d", 1.0, "r5"),   # d is dangling (no out-edges)
        ("e", "e", 1.0, "r6"),   # self-loop component
        ("y", "x", 1.0, "r7"),   # reversed vs min-label
        ("10", "2", 1.0, "r8"),  # string order != numeric order
    ]
    roads = spark.createDataFrame(
        rows, "src string, dst string, cost double, road_id string"
    )
    k_wcc = sorted(map(tuple, connected_components(roads, strategy="broadcast").collect()))
    s_wcc = sorted(map(tuple, _connected_components_superstep(roads).collect()))
    assert k_wcc == s_wcc

    k_pr = sorted(map(tuple, pagerank(spark, roads, iters=12, strategy="broadcast").collect()))
    s_pr = sorted(map(tuple, pagerank(spark, roads, iters=12, strategy="bsp").collect()))
    assert k_pr == s_pr  # 6-dp rounded — bit-identical across tiers

    k_lpa = sorted(map(tuple, label_propagation(spark, roads, iters=6, strategy="broadcast").collect()))
    s_lpa = sorted(map(tuple, label_propagation(spark, roads, iters=6, strategy="bsp").collect()))
    assert k_lpa == s_lpa


def test_analytics_kernel_tier_equals_superstep_csv1(spark, graph1):
    """Tier equivalence on the real CSV1 road graph (3,705 nodes /
    9,696 edges): the kernel tier must hash-match the superstep tier
    row for row — this is what keeps the graph_components /
    graph_pagerank / graph_label_propagation gate hashes unchanged.
    (The 70k-edge equivalence assert lives in tools/analytics_bench.py,
    where the superstep tier's cost is already being measured.)"""
    from bigdata_foundation_spark.graph.etl import (
        _connected_components_superstep,
        connected_components,
        label_propagation,
        pagerank,
    )

    _nodes, roads = graph1
    assert sorted(map(tuple, connected_components(roads, strategy="broadcast").collect())) == \
        sorted(map(tuple, _connected_components_superstep(roads).collect()))
    assert sorted(map(tuple, pagerank(spark, roads, strategy="broadcast").collect())) == \
        sorted(map(tuple, pagerank(spark, roads, strategy="bsp").collect()))
    assert sorted(map(tuple, label_propagation(spark, roads, strategy="broadcast").collect())) == \
        sorted(map(tuple, label_propagation(spark, roads, strategy="bsp").collect()))


def test_analytics_auto_dispatch_uses_kernel_below_limit(spark, graph1, monkeypatch):
    """auto-strategy parity with paths.py:92 — below
    BROADCAST_EDGE_LIMIT the analytics family must take the kernel
    tier, not the superstep loop (poison the superstep path and the
    dedup machinery it rides; auto must still succeed)."""
    from bigdata_foundation_spark.graph import etl as E

    _nodes, roads = graph1

    def _boom(*a, **k):  # pragma: no cover - failure branch
        raise AssertionError("superstep tier dispatched below the broadcast limit")

    monkeypatch.setattr(E, "_connected_components_superstep", _boom)
    comp = E.connected_components(roads)  # strategy="auto"
    assert comp.count() == 3705


def test_scc_and_kcore_tiers_equal(spark):
    """Round-6 additions: strongly connected components (Tarjan kernel
    tier vs Forward-Backward coloring superstep tier) and k-core
    decomposition (Batagelj-Zaversnik kernel vs distributed h-index
    iteration) must agree row-for-row. Toys cover self-loops, 2-cycles,
    pendant nodes and string-vs-numeric id order; a 400-node random
    digraph (low diameter — the superstep tier's fast regime) covers
    non-trivial SCC structure. Needs no reference CSV."""
    import random

    from bigdata_foundation_spark.graph.etl import (
        _kcore_superstep,
        _scc_superstep,
        core_decomposition,
        strongly_connected_components,
    )

    rows = [
        ("a", "b", 1.0, "r1"), ("b", "c", 1.0, "r2"), ("c", "a", 1.0, "r3"),
        ("c", "d", 1.0, "r4"), ("e", "f", 1.0, "r5"), ("f", "e", 1.0, "r6"),
        ("g", "g", 1.0, "r7"), ("10", "2", 1.0, "r8"), ("2", "10", 2.0, "r9"),
    ]
    toy = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
    assert sorted(map(tuple, strongly_connected_components(toy, strategy="broadcast").collect())) == \
        sorted(map(tuple, _scc_superstep(toy).collect()))
    assert sorted(map(tuple, core_decomposition(spark, toy, strategy="broadcast").collect())) == \
        sorted(map(tuple, _kcore_superstep(spark, toy).collect()))

    rng = random.Random(17)
    n = 400
    rnd = [
        (f"v{rng.randrange(n):03d}", f"v{rng.randrange(n):03d}", 1.0, f"r{i}")
        for i in range(1200)
    ]
    rdf = spark.createDataFrame(rnd, "src string, dst string, cost double, road_id string")
    assert sorted(map(tuple, strongly_connected_components(rdf, strategy="broadcast").collect())) == \
        sorted(map(tuple, _scc_superstep(rdf).collect()))
    assert sorted(map(tuple, core_decomposition(spark, rdf, strategy="broadcast").collect())) == \
        sorted(map(tuple, _kcore_superstep(spark, rdf).collect()))


def test_kcore_tiers_equal_csv1(spark, graph1):
    """k-core tier equivalence on the real CSV1 road graph (its mostly
    bidirectional edges make the h-index loop converge quickly; SCC's
    forward coloring there is diameter-bound, so its real-graph check
    is the Kosaraju-replay gate oracle)."""
    from bigdata_foundation_spark.graph.etl import _kcore_superstep, core_decomposition

    _nodes, roads = graph1
    assert sorted(map(tuple, core_decomposition(spark, roads, strategy="broadcast").collect())) == \
        sorted(map(tuple, _kcore_superstep(spark, roads).collect()))


def _two_tier_analytics():
    from bigdata_foundation_spark.graph import etl as E

    return {
        "connected_components": lambda spark, r, s: E.connected_components(r, strategy=s),
        "pagerank": lambda spark, r, s: E.pagerank(spark, r, strategy=s),
        "label_propagation": lambda spark, r, s: E.label_propagation(spark, r, strategy=s),
        "strongly_connected_components":
            lambda spark, r, s: E.strongly_connected_components(r, strategy=s),
        "core_decomposition": lambda spark, r, s: E.core_decomposition(spark, r, strategy=s),
        "personalized_pagerank":
            lambda spark, r, s: E.personalized_pagerank(spark, r, ["a"], strategy=s),
        "eigenvector_centrality":
            lambda spark, r, s: E.eigenvector_centrality(spark, r, strategy=s),
        "hits": lambda spark, r, s: E.hits(spark, r, strategy=s),
        "minimum_spanning_forest": lambda spark, r, s: E.minimum_spanning_forest(r, strategy=s),
        "hyperball": lambda spark, r, s: E.hyperball(r, t_max=3, strategy=s),
        "truss_decomposition": lambda spark, r, s: E.truss_decomposition(r, strategy=s),
    }


@pytest.mark.parametrize("name", sorted(_two_tier_analytics()))
def test_two_tier_analytics_on_empty_edge_table(spark, name):
    """An empty edge table is a graph with no nodes: every two-tier
    analytic returns the same (empty) rows on the superstep tier as on
    the broadcast kernel tier, instead of dividing by a zero node
    count or summing an empty estimate."""
    run = _two_tier_analytics()[name]
    empty = spark.createDataFrame([], "src string, dst string, cost double, road_id string")
    bsp = sorted(map(tuple, run(spark, empty, "bsp").collect()))
    broadcast = sorted(map(tuple, run(spark, empty, "broadcast").collect()))
    assert bsp == broadcast


def test_biconnectivity_toy_graphs(spark):
    """Bridges/articulation (round 6): path, cycle, butterfly, parallel
    physical roads, and the two-way-road convention (both directed rows
    share one road_id → ONE physical edge → still a bridge)."""
    from bigdata_foundation_spark.graph.etl import articulation_points, bridge_edges

    def run(rows):
        roads = spark.createDataFrame(
            rows, "src string, dst string, road_id string, cost double"
        )
        b = [(r["src"], r["dst"]) for r in bridge_edges(roads).collect()]
        a = [r["NodeId"] for r in articulation_points(roads).collect()]
        return sorted(b), sorted(a)

    # path a-b-c (each hop a two-way road): both bridges, b articulation
    b, a = run([("a", "b", "r1", 1.0), ("b", "a", "r1", 1.0),
                ("b", "c", "r2", 1.0), ("c", "b", "r2", 1.0)])
    assert b == [("a", "b"), ("b", "c")] and a == ["b"]

    # cycle: no bridges, no articulation
    b, a = run([("a", "b", "r1", 1.0), ("b", "c", "r2", 1.0), ("c", "a", "r3", 1.0)])
    assert b == [] and a == []

    # parallel PHYSICAL roads a=b (two distinct road ids) + b-c
    b, a = run([("a", "b", "r1", 1.0), ("a", "b", "r2", 2.0), ("b", "c", "r3", 1.0)])
    assert b == [("b", "c")] and a == ["b"]

    # butterfly (two triangles sharing c): c articulation, no bridges
    b, a = run([("a", "b", "r1", 1.0), ("b", "c", "r2", 1.0), ("c", "a", "r3", 1.0),
                ("c", "d", "r4", 1.0), ("d", "e", "r5", 1.0), ("e", "c", "r6", 1.0)])
    assert b == [] and a == ["c"]


def test_biconnectivity_csv1_structure(spark, graph1):
    """CSV1 pins (counts match the brute-force goldens) plus the
    structural theorem: every endpoint of a bridge with degree >= 2 in
    the simple graph is an articulation point."""
    from bigdata_foundation_spark.graph.etl import articulation_points, bridge_edges

    _nodes, roads = graph1
    bridges = [(r["src"], r["dst"]) for r in bridge_edges(roads).collect()]
    artic = {r["NodeId"] for r in articulation_points(roads).collect()}
    assert len(bridges) == 1067
    assert len(artic) == 833

    deg: dict[str, set] = {}
    for r in roads.select("src", "dst").filter("src != dst").distinct().collect():
        deg.setdefault(r["src"], set()).add(r["dst"])
        deg.setdefault(r["dst"], set()).add(r["src"])
    for u, v in bridges:
        for x in (u, v):
            if len(deg[x]) >= 2:
                assert x in artic, x


def test_personalized_pagerank_semantics_and_tiers(spark):
    """PPR (round 6): kernel tier == superstep tier row-for-row; mass
    sums to ~1 over the reachable set; nodes unreachable from the
    seeds are exactly 0; the seed outranks distant nodes; empty and
    absent seed sets raise."""
    import pytest as _pytest

    from bigdata_foundation_spark.graph.etl import personalized_pagerank

    rows = [("a", "b", "r1", 1.0), ("b", "c", "r2", 1.0), ("c", "a", "r3", 1.0),
            ("c", "d", "r4", 1.0), ("e", "a", "r5", 1.0)]
    roads = spark.createDataFrame(rows, "src string, dst string, road_id string, cost double")
    k = {r["NodeId"]: r["rank"] for r in
         personalized_pagerank(spark, roads, ["a"], strategy="broadcast").collect()}
    s = {r["NodeId"]: r["rank"] for r in
         personalized_pagerank(spark, roads, ["a"], strategy="bsp").collect()}
    assert k == s
    assert k["e"] == 0.0                      # e only points INTO the seed set
    assert abs(sum(k.values()) - 1.0) < 1e-4  # 6-dp rounding wobble only
    assert k["a"] > k["d"]                    # concentration near the seed

    with _pytest.raises(ValueError):
        personalized_pagerank(spark, roads, [])
    with _pytest.raises(ValueError):
        personalized_pagerank(spark, roads, ["zz"], strategy="bsp").collect()


@pytest.mark.parametrize("sources", [["a"], ["a", "a"], ["a", "zz"]], ids=["a", "a_a", "a_zz"])
def test_personalized_pagerank_restart_over_distinct_present_sources(spark, sources):
    """Both PPR tiers restart uniformly over the distinct sources that
    are nodes of the graph: a repeated seed and an absent one change
    nothing, so each seed list gives ``["a"]``'s ranks on both tiers,
    and the ranks sum to 1 within the 6-dp rounding."""
    from bigdata_foundation_spark.graph.etl import personalized_pagerank

    rows = [("a", "b", "r1", 1.0), ("b", "c", "r2", 1.0), ("c", "a", "r3", 1.0),
            ("c", "d", "r4", 1.0), ("e", "a", "r5", 1.0)]
    roads = spark.createDataFrame(rows, "src string, dst string, road_id string, cost double")

    def ranks(seeds, strategy):
        return sorted(map(tuple, personalized_pagerank(spark, roads, seeds, strategy=strategy).collect()))

    kernel, superstep = ranks(sources, "broadcast"), ranks(sources, "bsp")
    assert kernel == superstep == ranks(["a"], "broadcast")
    assert sum(r for _n, r in kernel) == pytest.approx(1.0, abs=1e-5)


def test_eigenvector_centrality_semantics_and_tiers(spark):
    """Eigenvector centrality (round 6): kernel tier == superstep tier
    row-for-row; a hub with two in-edges outranks single-in-edge
    nodes; ranks are L2-normalized; DAG in-mass death returns the zero
    vector in BOTH tiers (no divide-by-zero)."""
    from bigdata_foundation_spark.graph.etl import eigenvector_centrality

    rows = [("a", "h", "r1", 1.0), ("b", "h", "r2", 1.0), ("h", "a", "r3", 1.0),
            ("a", "b", "r4", 1.0)]
    roads = spark.createDataFrame(rows, "src string, dst string, road_id string, cost double")
    k = {r["NodeId"]: r["rank"] for r in
         eigenvector_centrality(spark, roads, strategy="broadcast").collect()}
    s = {r["NodeId"]: r["rank"] for r in
         eigenvector_centrality(spark, roads, strategy="bsp").collect()}
    assert k == s
    assert k["h"] == max(k.values())          # the two-in-edge hub wins
    assert abs(sum(v * v for v in k.values()) - 1.0) < 1e-4

    dag = spark.createDataFrame(
        [("a", "b", "r1", 1.0), ("b", "c", "r2", 1.0)],
        "src string, dst string, road_id string, cost double",
    )
    zk = {r["NodeId"]: r["rank"] for r in
          eigenvector_centrality(spark, dag, strategy="broadcast").collect()}
    zs = {r["NodeId"]: r["rank"] for r in
          eigenvector_centrality(spark, dag, strategy="bsp").collect()}
    assert zk == zs and set(zk.values()) == {0.0}


def test_random_walks_replay_and_semantics(spark):
    """Deterministic walks (round 6): bit-exact vs an independent
    pure-Python replay using the ported xxhash64 (all-integer — no
    rounding contract at all); deterministic across partitionings;
    sinks end walks early with partial paths; guards reject bad
    params."""
    import os
    import sys

    import pytest as _pytest

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from spark_hashes import spark_xxhash64

    from bigdata_foundation_spark.graph.etl import random_walks

    rows = [("a", "b", "r1", 1.0), ("b", "c", "r2", 1.0), ("b", "d", "r3", 1.0),
            ("c", "a", "r4", 1.0)]  # d is a sink
    roads = spark.createDataFrame(rows, "src string, dst string, road_id string, cost double")
    got = sorted(tuple(r) for r in random_walks(roads, walk_length=5, walks_per_node=2).collect())

    adj = {"a": ["b"], "b": ["c", "d"], "c": ["a"]}
    expect = []
    for s in ["a", "b", "c", "d"]:
        for wlk in range(2):
            cur, path = s, [s]
            for t in range(1, 6):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                cur = sorted(nbrs)[spark_xxhash64(f"{s}|{wlk}|{t}|{cur}") % len(nbrs)]
                path.append(cur)
            expect += [(s, wlk, i, n) for i, n in enumerate(path)]
    assert got == sorted(expect)

    # seed d: only the step-0 row (immediate sink)
    d_rows = [t for t in got if t[0] == "d"]
    assert d_rows == [("d", 0, 0, "d"), ("d", 1, 0, "d")]

    got2 = sorted(tuple(r) for r in
                  random_walks(roads.repartition(7), walk_length=5, walks_per_node=2).collect())
    assert got2 == got

    with _pytest.raises(ValueError):
        random_walks(roads, walk_length=0)
    with _pytest.raises(ValueError):
        random_walks(roads, walks_per_node=0)


def test_msf_tiers_equal_and_match_kruskal(spark):
    """Round-7 MSF: the Borůvka kernel tier, the distributed Borůvka
    superstep tier, and an inline independent Kruskal must agree
    edge-for-edge on random multigraphs WITH COST TIES (the strict
    total order (cost, a, b) makes the forest unique), and on a toy
    covering parallel edges, both directions, self-loops, and a
    disconnected component (forest, not tree)."""
    import random

    from bigdata_foundation_spark.graph.etl import (
        _msf_superstep,
        minimum_spanning_forest,
    )

    def kruskal(rows):
        best = {}
        for s, d, c, _r in rows:
            if s == d:
                continue
            a, b = (s, d) if s < d else (d, s)
            if (a, b) not in best or c < best[(a, b)]:
                best[(a, b)] = c
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        out = []
        for c, a, b in sorted((c, a, b) for (a, b), c in best.items()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
                out.append((a, b, c))
        return sorted(out)

    toy = [
        ("a", "b", 3.0, "r1"), ("b", "a", 1.0, "r2"),  # direction collapse, min cost
        ("a", "b", 2.0, "r3"),                          # parallel edge
        ("b", "c", 1.0, "r4"), ("a", "c", 1.0, "r5"),  # tie with (a,b)=1.0
        ("c", "c", 0.5, "r6"),                          # self-loop never spans
        ("x", "y", 9.0, "r7"),                          # second component
    ]
    tdf = spark.createDataFrame(toy, "src string, dst string, cost double, road_id string")
    want = kruskal(toy)
    assert sorted(map(tuple, minimum_spanning_forest(tdf, strategy="broadcast").collect())) == want
    assert sorted(map(tuple, _msf_superstep(tdf).collect())) == want
    # |V| - |components|: nodes {a,b,c,x,y}, comps {abc, xy} -> 3 edges
    assert len(want) == 3

    rng = random.Random(29)
    for n, m in ((30, 120), (80, 200)):
        rows = [
            (f"v{rng.randrange(n)}", f"v{rng.randrange(n)}",
             float(rng.randrange(1, 5)), f"r{i}")
            for i in range(m)
        ]
        df = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
        want = kruskal(rows)
        assert sorted(map(tuple, minimum_spanning_forest(df, strategy="broadcast").collect())) == want
        assert sorted(map(tuple, _msf_superstep(df).collect())) == want


def test_louvain_semantics(spark):
    """Round-7 Louvain: recovers planted cliques, is deterministic
    across runs and input layouts, labels by min member, refuses the
    superstep tier, and scores at least the LPA communities on its own
    objective (modularity is what Louvain greedily maximizes)."""
    import pytest as _pytest

    from bigdata_foundation_spark.graph.etl import (
        label_propagation,
        louvain,
        modularity,
    )

    rows = []
    for base in ("a", "b", "c"):
        ns = [f"{base}{i}" for i in range(5)]
        for i in range(5):
            for j in range(i + 1, 5):
                rows.append((ns[i], ns[j], 1.0, f"e{base}{i}{j}"))
    rows += [("a0", "b0", 1.0, "x1"), ("b1", "c0", 1.0, "x2")]
    df = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
    got = {r.NodeId: r.community for r in louvain(df).collect()}
    for base in ("a", "b", "c"):
        labs = {got[f"{base}{i}"] for i in range(5)}
        assert labs == {f"{base}0"}, labs  # min member labels the clique
    # deterministic across runs and partition layouts
    again = {r.NodeId: r.community for r in louvain(df.repartition(7)).collect()}
    assert got == again
    with _pytest.raises(ValueError):
        louvain(df, strategy="bsp")
    # Louvain's objective: Q(louvain) >= Q(LPA) on this graph
    lv = louvain(df).selectExpr("NodeId", "community")
    lp = label_propagation(spark, df)
    q_lv = modularity(df, lv).collect()[0].modularity
    q_lp = modularity(df, lp).collect()[0].modularity
    assert q_lv >= q_lp - 1e-12
    assert q_lv > 0.4  # three near-cliques -> strong structure


def test_modularity_known_values(spark):
    """Q on two triangles joined by a bridge: perfect split gives
    2*(3/7 - 1/4); the all-in-one partition gives 0 (the degenerate
    upper bound of the null model on a connected graph)."""
    from bigdata_foundation_spark.graph.etl import modularity

    rows = [("a", "b", 1.0, "1"), ("b", "c", 1.0, "2"), ("a", "c", 1.0, "3"),
            ("d", "e", 1.0, "4"), ("e", "f", 1.0, "5"), ("d", "f", 1.0, "6"),
            ("c", "d", 1.0, "7")]
    df = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
    comm = spark.createDataFrame(
        [("a", "A"), ("b", "A"), ("c", "A"), ("d", "B"), ("e", "B"), ("f", "B")],
        "NodeId string, community string",
    )
    got = modularity(df, comm).collect()[0]
    assert got.n_communities == 2
    assert abs(got.modularity - (2 * (3 / 7 - 0.25))) < 1e-12
    allone = comm.selectExpr("NodeId", "'Z' as community")
    got1 = modularity(df, allone).collect()[0]
    assert got1.n_communities == 1 and abs(got1.modularity) < 1e-12


def test_node_similarity_semantics(spark):
    """GDS nodeSimilarity contract: identical out-sets score 1.0,
    jaccard is the exact quotient, pairs are (node1 < node2) with no
    self pairs, degree_cutoff prunes sources, and parallel edges /
    self-loops collapse before scoring."""
    from bigdata_foundation_spark.graph.etl import node_similarity

    rows = [
        ("a", "x", 1.0, "r1"), ("a", "y", 1.0, "r2"), ("a", "a", 1.0, "rX"),
        ("b", "x", 1.0, "r3"), ("b", "y", 2.0, "r4"), ("b", "x", 3.0, "r5"),
        ("c", "x", 1.0, "r6"),
        ("d", "z", 1.0, "r7"),
    ]
    df = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
    got = {(r.node1, r.node2): (r.n_common, r.jaccard) for r in node_similarity(df, k=10).collect()}
    assert got[("a", "b")] == (2, 1.0)
    assert got[("a", "c")] == (1, 0.5)
    assert got[("b", "c")] == (1, 0.5)
    assert ("d", "d") not in got and ("a", "a") not in got
    assert all(n1 < n2 for n1, n2 in got)
    assert ("c", "d") not in got  # no shared neighbor -> no row
    cut = {(r.node1, r.node2) for r in node_similarity(df, k=10, degree_cutoff=2).collect()}
    assert cut == {("a", "b")}  # c (deg 1) pruned as a source


def test_clustering_coefficient_toys(spark):
    """Triangle+pendant: d = (a:2, b:2, c:3, d:1) -> 5 wedges, 1
    triangle, transitivity 3/5, mean local cc (1 + 1 + 1/3)/3; a pure
    star has wedges but zero triangles -> transitivity 0."""
    from bigdata_foundation_spark.graph.etl import clustering_coefficient

    rows = [("a", "b", 1.0, "e1"), ("b", "c", 1.0, "e2"),
            ("a", "c", 1.0, "e3"), ("c", "d", 1.0, "e4")]
    df = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
    got = clustering_coefficient(df).collect()[0]
    assert got.n_triangles == 1 and got.n_wedges == 5
    assert abs(got.transitivity - 0.6) < 1e-12
    assert abs(got.avg_local_cc - (1 + 1 + 1 / 3) / 3) < 1e-12

    star = [("h", f"l{i}", 1.0, f"s{i}") for i in range(4)]
    sdf = spark.createDataFrame(star, "src string, dst string, cost double, road_id string")
    got = clustering_coefficient(sdf).collect()[0]
    assert got.n_triangles == 0 and got.n_wedges == 6
    assert got.transitivity == 0.0 and got.avg_local_cc == 0.0


def test_degree_assortativity_known_values(spark):
    """Star → −1 (hub degree anticorrelates with leaf degree), cycle →
    NULL (constant degree, zero variance — SQL CORR semantics)."""
    from bigdata_foundation_spark.graph.etl import degree_assortativity

    star = [("h", f"l{i}", 1.0, f"s{i}") for i in range(4)]
    sdf = spark.createDataFrame(star, "src string, dst string, cost double, road_id string")
    got = degree_assortativity(sdf).collect()[0]
    assert got.n_edges == 4 and abs(got.assortativity - (-1.0)) < 1e-12

    cyc = [(f"c{i}", f"c{(i + 1) % 5}", 1.0, f"e{i}") for i in range(5)]
    cdf = spark.createDataFrame(cyc, "src string, dst string, cost double, road_id string")
    got = degree_assortativity(cdf).collect()[0]
    assert got.n_edges == 5 and got.assortativity is None


def test_hyperball_tiers_and_semantics(spark):
    """Round-7 HyperBall: kernel tier ≡ superstep tier row-for-row
    (the register contract is fully deterministic), N(t) is monotone
    non-decreasing, N(0) estimates n distinct singletons, and at
    saturation on a small clique the estimate sits within the HLL
    error band of the true pair count (n² reachable pairs)."""
    from bigdata_foundation_spark.graph.etl import _hyperball_init, _hyperball_superstep, hyperball

    # directed 12-clique (every ordered pair an edge): saturates at t=1
    n = 12
    rows = [
        (f"n{i:02d}", f"n{j:02d}", 1.0, f"e{i}_{j}")
        for i in range(n)
        for j in range(n)
        if i != j
    ]
    df = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
    kern = sorted(map(tuple, hyperball(df, t_max=3, m=64, strategy="broadcast").collect()))
    sup = sorted(
        map(
            tuple,
            _hyperball_superstep(df, _hyperball_init(df, 64), t_max=3, m=64).collect(),
        )
    )
    assert [t for t, _ in kern] == [0, 1, 2, 3]
    assert all(abs(a[1] - b[1]) < 1e-6 for a, b in zip(kern, sup)), (kern, sup)
    ests = [e for _t, e in kern]
    assert all(b >= a - 1e-9 for a, b in zip(ests, ests[1:]))  # monotone
    # N(0) ~ n singletons; clique saturates at n^2 pairs by t=1
    assert abs(ests[0] - n) / n < 0.35  # HLL relative error band at m=64
    assert abs(ests[1] - n * n) / (n * n) < 0.35
    assert abs(ests[3] - ests[1]) < 1e-9  # saturated

    # two-node chain: balls grow along edge direction only
    chain = spark.createDataFrame(
        [("a", "b", 1.0, "e1"), ("b", "c", 1.0, "e2")],
        "src string, dst string, cost double, road_id string",
    )
    k2 = dict((t, e) for t, e in map(tuple, hyperball(chain, t_max=3, m=64, strategy="broadcast").collect()))
    s2 = dict(
        (t, e)
        for t, e in map(
            tuple,
            _hyperball_superstep(chain, _hyperball_init(chain, 64), t_max=3, m=64).collect(),
        )
    )
    assert all(abs(k2[t] - s2[t]) < 1e-6 for t in k2)


def test_ktruss_tiers_and_known_values(spark):
    """Round-7 truss decomposition: a clique's edges all carry truss n
    (K5 → 5), a pure cycle carries 2, and the kernel peel ≡ the
    level-synchronous superstep tier on toys and a random graph (peel
    order cannot change the ladder)."""
    import random

    from bigdata_foundation_spark.graph.etl import (
        _ktruss_superstep,
        truss_decomposition,
    )

    k5 = [
        (f"n{i}", f"n{j}", 1.0, f"e{i}{j}")
        for i in range(5)
        for j in range(i + 1, 5)
    ]
    df = spark.createDataFrame(k5, "src string, dst string, cost double, road_id string")
    got = {(r.src, r.dst): r.truss for r in truss_decomposition(df, strategy="broadcast").collect()}
    assert set(got.values()) == {5}
    cyc = [(f"c{i}", f"c{(i + 1) % 6}", 1.0, f"e{i}") for i in range(6)]
    cdf = spark.createDataFrame(cyc, "src string, dst string, cost double, road_id string")
    got = {(r.src, r.dst): r.truss for r in truss_decomposition(cdf, strategy="broadcast").collect()}
    assert set(got.values()) == {2}

    rng = random.Random(11)
    rows = [
        (f"v{rng.randrange(30)}", f"v{rng.randrange(30)}", 1.0, f"r{i}")
        for i in range(140)
    ]
    rdf = spark.createDataFrame(rows, "src string, dst string, cost double, road_id string")
    kern = sorted(map(tuple, truss_decomposition(rdf, strategy="broadcast").collect()))
    sup = sorted(map(tuple, _ktruss_superstep(rdf).collect()))
    assert kern == sup


def test_hits_semantics_and_tiers(spark):
    """HITS (round 7): kernel tier == superstep tier row-for-row; on
    the bipartite hub/authority toy the pure hubs carry all hub mass
    and the pure authorities all authority mass; both score vectors
    are L2-normalized; a single edge gives (authority, hub) = (1, 1)
    split across its endpoints."""
    from bigdata_foundation_spark.graph.etl import hits

    rows = [("p1", "a1", "r1", 1.0), ("p1", "a2", "r2", 1.0),
            ("p2", "a1", "r3", 1.0), ("p2", "a2", "r4", 1.0)]
    roads = spark.createDataFrame(rows, "src string, dst string, road_id string, cost double")
    k = {r["NodeId"]: (r["authority"], r["hub"]) for r in
         hits(spark, roads, strategy="broadcast").collect()}
    s = {r["NodeId"]: (r["authority"], r["hub"]) for r in
         hits(spark, roads, strategy="bsp").collect()}
    assert k == s
    for a_node in ("a1", "a2"):            # pure authorities: no hub mass
        assert k[a_node][1] == 0.0 and k[a_node][0] > 0.0
    for p_node in ("p1", "p2"):            # pure hubs: no authority mass
        assert k[p_node][0] == 0.0 and k[p_node][1] > 0.0
    assert abs(sum(a * a for a, _h in k.values()) - 1.0) < 1e-4
    assert abs(sum(h * h for _a, h in k.values()) - 1.0) < 1e-4

    one = spark.createDataFrame([("u", "v", "r1", 1.0)],
                                "src string, dst string, road_id string, cost double")
    ok = {r["NodeId"]: (r["authority"], r["hub"]) for r in
          hits(spark, one, strategy="broadcast").collect()}
    os_ = {r["NodeId"]: (r["authority"], r["hub"]) for r in
           hits(spark, one, strategy="bsp").collect()}
    assert ok == os_ == {"u": (0.0, 1.0), "v": (1.0, 0.0)}
