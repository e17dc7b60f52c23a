"""The graph layer's tier decision (``paths._tier``) and kernel runner
(``paths._run_kernel``), checked on the toy cycle a→b→c→a:

* a strategy that is neither 'auto' nor one of the function's tiers
  raises, with or without a projection;
* an explicit 'bsp' with a projection runs the superstep tier and
  warns that the projection is unused;
* 'auto' with a projection, and every kernel-only function, never
  starts a count job;
* every kernel-tier function keeps its output schema.
"""

import pytest
from pyspark.sql import types as T

from bigdata_foundation_spark.graph import etl as E
from bigdata_foundation_spark.graph import paths as P


@pytest.fixture(scope="module")
def toy(spark):
    roads = spark.createDataFrame(
        [("a", "b", 1.0, "r1"), ("b", "c", 2.0, "r2"), ("c", "a", 3.0, "r3")],
        "src string, dst string, cost double, road_id string",
    )
    nodes = spark.createDataFrame(
        [("a", 0.0, 0.0), ("b", 1.0, 0.0), ("c", 1.0, 1.0)],
        "NodeId string, XCoord double, YCoord double",
    )
    return roads, nodes, P.build_projection(roads, nodes)


# Every strategy-taking analytics function in etl.py, called as
# fn(spark, roads, strategy, projection).
ANALYTICS = {
    "connected_components": lambda sp, r, s, p: E.connected_components(r, strategy=s, projection=p),
    "pagerank": lambda sp, r, s, p: E.pagerank(sp, r, strategy=s, projection=p),
    "label_propagation": lambda sp, r, s, p: E.label_propagation(sp, r, strategy=s, projection=p),
    "strongly_connected_components": lambda sp, r, s, p: E.strongly_connected_components(
        r, strategy=s, projection=p
    ),
    "core_decomposition": lambda sp, r, s, p: E.core_decomposition(sp, r, strategy=s, projection=p),
    "personalized_pagerank": lambda sp, r, s, p: E.personalized_pagerank(
        sp, r, ["a"], strategy=s, projection=p
    ),
    "eigenvector_centrality": lambda sp, r, s, p: E.eigenvector_centrality(
        sp, r, strategy=s, projection=p
    ),
    "hits": lambda sp, r, s, p: E.hits(sp, r, strategy=s, projection=p),
    "minimum_spanning_forest": lambda sp, r, s, p: E.minimum_spanning_forest(
        r, strategy=s, projection=p
    ),
    "hyperball": lambda sp, r, s, p: E.hyperball(r, strategy=s, projection=p),
    "truss_decomposition": lambda sp, r, s, p: E.truss_decomposition(r, strategy=s, projection=p),
    "louvain": lambda sp, r, s, p: E.louvain(r, strategy=s, projection=p),
}


@pytest.mark.parametrize("with_projection", [False, True], ids=["no_projection", "projection"])
@pytest.mark.parametrize("strategy", ["bogus", "file"])
@pytest.mark.parametrize("name", sorted(ANALYTICS))
def test_analytics_reject_unknown_strategy(spark, toy, name, strategy, with_projection):
    """No analytics function has a file tier, and a typo is a typo: a
    passed projection must not turn either into a silent kernel run."""
    roads, _nodes, proj = toy
    with pytest.raises(ValueError, match="unknown strategy"):
        ANALYTICS[name](spark, roads, strategy, proj if with_projection else None)


def _spy(monkeypatch, owner, attr):
    """Replace ``owner.attr`` with a pass-through that records calls."""
    calls = []
    real = getattr(owner, attr)

    def spy(*a, **kw):
        calls.append(attr)
        return real(*a, **kw)

    monkeypatch.setattr(owner, attr, spy)
    return calls


# (BSP entry point owner, attribute, call) for every path function; a
# call is fn(spark, roads, nodes, strategy, projection).
PATH_BSP = {
    "sssp": (
        P._bsp,
        "bsp_sssp",
        lambda sp, r, n, s, p: P.sssp(sp, r, "a", strategy=s, projection=p),
    ),
    "dijkstra": (
        P._bsp,
        "bsp_sssp",
        lambda sp, r, n, s, p: P.dijkstra(sp, r, "a", "c", strategy=s, projection=p),
    ),
    "astar": (
        P._bsp,
        "bsp_sssp",
        lambda sp, r, n, s, p: P.astar(sp, r, n, "a", "c", strategy=s, projection=p),
    ),
    "yens_k": (
        P._bsp,
        "bsp_yens_k",
        lambda sp, r, n, s, p: P.yens_k(sp, r, "a", "c", k=2, strategy=s, projection=p),
    ),
    "apsp_topk": (
        P,
        "_apsp_topk_bsp",
        lambda sp, r, n, s, p: P.apsp_topk(sp, r, k=3, strategy=s, projection=p),
    ),
}


@pytest.mark.parametrize("name", sorted(PATH_BSP))
def test_path_explicit_bsp_with_projection_runs_bsp(spark, toy, monkeypatch, name):
    """An explicit 'bsp' wins over a passed projection on the path
    functions too, with the same warning the analytics give; the
    superstep answer equals the kernel's on the toy cycle."""
    roads, nodes, proj = toy
    owner, attr, call = PATH_BSP[name]
    calls = _spy(monkeypatch, owner, attr)
    with pytest.warns(UserWarning, match="projection is unused"):
        got = call(spark, roads, nodes, "bsp", proj).collect()
    assert calls, f"{name}(strategy='bsp', projection=...) did not run {attr}"
    want = call(spark, roads, nodes, "broadcast", proj).collect()
    assert len(calls) == 1
    assert sorted(map(repr, got)) == sorted(map(repr, want))


def test_bidirectional_dijkstra_keeps_broadcast_under_bsp(spark, toy, monkeypatch):
    """The one exception to 'explicit tier wins': the two-ended search
    is broadcast-kernel only, so bidirectional=True takes the kernel
    with no warning and no BSP run."""
    import warnings

    roads, _nodes, proj = toy
    calls = _spy(monkeypatch, P._bsp, "bsp_sssp")
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        rows = P.dijkstra(
            spark, roads, "a", "c", strategy="bsp", projection=proj, bidirectional=True
        ).collect()
    assert not [w for w in seen if "projection is unused" in str(w.message)]
    assert not calls
    assert [(r["NodeId"], r["cost"]) for r in rows] == [("a", 0.0), ("b", 1.0), ("c", 3.0)]


def test_auto_with_projection_and_kernel_only_never_count(spark, toy, monkeypatch):
    """'auto' with a projection resolves to the kernel without a count
    job; a kernel-only function never counts at all."""
    roads, _nodes, proj = toy

    def _boom(*a, **k):  # pragma: no cover - failure branch
        raise AssertionError("tier decision started a count job")

    monkeypatch.setattr(P, "_resolve_edge_count", _boom)
    assert P._tier(roads, "auto", proj, P._ALL_TIERS) == "broadcast"
    assert P._tier(roads, "auto", None, P._KERNEL_ONLY) == "broadcast"
    assert len(P.sssp(spark, roads, "a", projection=proj).collect()) == 3
    assert len(P.yens_k(spark, roads, "a", "c", k=2, projection=proj).collect()) == 1
    assert len(E.pagerank(spark, roads, projection=proj).collect()) == 3
    assert len(E.louvain(roads).collect()) == 3


S, D, L, I = T.StringType(), T.DoubleType(), T.LongType(), T.IntegerType()


def _struct(*fields):
    return T.StructType([T.StructField(n, t, nullable) for n, t, nullable in fields])


# The output schema of every kernel-tier function, as the per-function
# dispatch produced it before the shared resolver and runner existed.
SCHEMAS = {
    "connected_components": _struct(("NodeId", S, False), ("component_id", S, False)),
    "pagerank": _struct(("NodeId", S, False), ("rank", D, True)),
    "label_propagation": _struct(("NodeId", S, False), ("community", S, False)),
    "strongly_connected_components": _struct(("NodeId", S, False), ("scc_id", S, False)),
    "core_decomposition": _struct(("NodeId", S, False), ("core", L, False)),
    "personalized_pagerank": _struct(("NodeId", S, False), ("rank", D, True)),
    "eigenvector_centrality": _struct(("NodeId", S, False), ("rank", D, True)),
    "hits": _struct(("NodeId", S, False), ("authority", D, True), ("hub", D, True)),
    "minimum_spanning_forest": _struct(("src", S, False), ("dst", S, False), ("cost", D, False)),
    "hyperball": _struct(("t", I, False), ("nf_est", D, False)),
    "truss_decomposition": _struct(("src", S, False), ("dst", S, False), ("truss", I, False)),
    "louvain": _struct(("NodeId", S, False), ("community", S, False)),
    "bridge_edges": _struct(("src", S, False), ("dst", S, False)),
    "articulation_points": _struct(("NodeId", S, False)),
    "sssp": _struct(("NodeId", S, False), ("distance", D, False)),
    "harmonic_centrality": _struct(
        ("NodeId", S, False), ("harmonic", D, True), ("n_reachable", L, False)
    ),
    "eccentricity": _struct(
        ("NodeId", S, False), ("eccentricity", D, True), ("n_reachable", L, False)
    ),
    "closeness_centrality": _struct(
        ("NodeId", S, False), ("closeness", D, True), ("n_reachable", L, False)
    ),
    "betweenness_centrality": _struct(("NodeId", S, False), ("betweenness", D, True)),
}

# The kernel-only functions without a strategy, called as
# fn(spark, roads, projection).
KERNEL_ONLY = {
    "bridge_edges": lambda sp, r, p: E.bridge_edges(r, projection=p),
    "articulation_points": lambda sp, r, p: E.articulation_points(r, projection=p),
    "sssp": lambda sp, r, p: P.sssp(sp, r, "a", projection=p),
    "harmonic_centrality": lambda sp, r, p: P.harmonic_centrality(sp, r, projection=p),
    "eccentricity": lambda sp, r, p: P.eccentricity(sp, r, projection=p),
    "closeness_centrality": lambda sp, r, p: P.closeness_centrality(sp, r, projection=p),
    "betweenness_centrality": lambda sp, r, p: P.betweenness_centrality(sp, r, projection=p),
}


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_kernel_tier_output_schema(spark, toy, name):
    roads, _nodes, proj = toy
    if name in ANALYTICS:
        df = ANALYTICS[name](spark, roads, "broadcast", proj)
    else:
        df = KERNEL_ONLY[name](spark, roads, proj)
    assert df.schema == SCHEMAS[name]
    df.collect()  # the rows must fit the declared schema too
