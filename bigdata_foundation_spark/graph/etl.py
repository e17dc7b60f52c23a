"""CSV edge-list → graph-table ETL (reference operators I1–I11).

Semantics replicated from the reference's Cypher ingest, with every
count-golden verified against its published tables (SURVEY.md §2.1,
FIXTURES.md §2):

* rows with empty ``START_NODE`` are dropped (the shipped CSVs are
  padded to a constant length with ``,,,,,`` rows — SURVEY.md §1.1);
* **nodes** come from ``START_NODE`` occurrences only, deduped on the
  full ``{NodeId, XCoord, YCoord}`` MERGE key (MAIN:188–190; I4);
* **edges** attach only when BOTH endpoints exist as nodes, so rows
  whose ``END_NODE`` never appears as a ``START_NODE`` are silently
  dropped — this dangling-edge drop is part of the contract
  (MAIN:280–282; I5);
* exact duplicate quadruples dedup while parallel edges with distinct
  ``roadId``/``cost`` survive — the graph is a multigraph (MAIN:282 and
  the rejected collapsing form MAIN:221–227; I6).

Scale notes: nodes dedup is one hash-aggregate shuffle on the node id;
the two existence joins broadcast the (small) node-id side when it fits
and fall back to shuffled hash join under AQE otherwise. No per-batch
commit is needed (reference's ``PERIODIC COMMIT``, I2) — Spark tasks
already bound memory per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_foundation_spark._local import local_df
from bigdata_foundation_spark.graph import kernel as _k
from bigdata_foundation_spark.graph import paths as _p
from bigdata_foundation_spark.io import EDGELIST_RAW_SCHEMA, read_csv

# Output schemas shared by a kernel tier and its superstep twin (or by
# two analytics).
_RANK_DDL = "NodeId string NOT NULL, rank double NOT NULL"
_COMMUNITY_DDL = "NodeId string NOT NULL, community string NOT NULL"
_SCC_DDL = "NodeId string NOT NULL, scc_id string NOT NULL"
_MSF_DDL = "src string NOT NULL, dst string NOT NULL, cost double NOT NULL"
_HYPERBALL_DDL = "t int NOT NULL, nf_est double NOT NULL"
_TRUSS_DDL = "src string NOT NULL, dst string NOT NULL, truss int NOT NULL"

# The superstep tiers' shared vocabulary: edge views, the fixed-count
# loop, the convergence loop and the power-iteration pieces.

# Fixed-count loops flatten their lineage every this many rounds and
# after the last: each flatten costs a job, and between two of them the
# plan stays a few joins deep.
_FLATTEN_EVERY = 4


def _undirected(roads: DataFrame) -> DataFrame:
    """The undirected simple graph under the road multigraph: one
    (a, b) row per linked node pair, a < b, self-loops dropped."""
    return (
        roads.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _directed_simple(roads: DataFrame) -> DataFrame:
    """The directed simple graph under the road multigraph: one
    (src, dst) row per linked ordered pair, self-loops dropped."""
    return roads.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()


def _fixed_rounds(state, step, rounds: int):
    """``state`` after ``rounds`` applications of ``step(state, t)``,
    t = 1..rounds. ``state`` is a DataFrame, None (a power iteration's
    zero vector) or a tuple of those; it is localCheckpointed every
    ``_FLATTEN_EVERY`` rounds and after the last."""
    for t in range(1, rounds + 1):
        state = step(state, t)
        if t % _FLATTEN_EVERY == 0 or t == rounds:
            state = _flatten(state)
    return state


def _flatten(state):
    if isinstance(state, tuple):
        return tuple(map(_flatten, state))
    return None if state is None else state.localCheckpoint()


def _until_stable(state, step, key, max_rounds: int, name: str, value: str | None = None):
    """The superstep tiers' convergence loop, in one of two shapes.

    * Relabelling (``value`` given): ``step(state, r)`` returns the
      next (``key``, ``value``) frame; the loop ends once no key has
      changed its value.
    * Reachability (``value`` None): ``state`` is the visited set and
      ``step(frontier, r)`` proposes rows reached from the frontier;
      the proposals whose ``key`` is unvisited form the next frontier,
      and the loop ends once it is empty. A step that returns None
      ends the loop at once (a bounded search at its radius).

    Returns the last state. Raises ``RuntimeError`` once ``max_rounds``
    rounds pass without an end: a partial labelling is not an answer."""
    frontier = state
    for r in range(1, max_rounds + 1):
        proposed = step(frontier, r)
        if proposed is None:
            return state
        if value is None:
            frontier = (
                proposed.distinct().join(state, key, "left_anti").localCheckpoint(eager=True)
            )
            if frontier.isEmpty():
                return state
            state = state.unionByName(frontier).localCheckpoint(eager=True)
        else:
            new = proposed.localCheckpoint(eager=True)
            changed = (
                new.alias("n")
                .join(state.alias("o"), key)
                .filter(F.col(f"n.{value}") != F.col(f"o.{value}"))
                .limit(1)
                .count()
            )
            state = frontier = new
            if not changed:
                return state
    raise RuntimeError(f"{name} did not converge within {max_rounds} rounds")


def _uniform(nodes: DataFrame, col: str) -> DataFrame:
    """``nodes`` with ``col`` = 1/|nodes|, the power iterations' uniform
    vector; an empty node set stays empty."""
    return nodes.withColumn(col, F.lit(1.0 / max(nodes.count(), 1)))


def _half(edges: DataFrame, nodes: DataFrame, mass, key: str, out: str):
    """One power-iteration half-step over ``edges`` (src, dst): gather
    the (id, v) ``mass`` at the ``key`` end, sum it onto the ``out``
    end, L2-normalise over ``nodes``. HITS takes two per iteration,
    eigenvector centrality one. None is the zero vector: a mass that
    dies returns None, and None maps to None at no cost. Numpy twin:
    ``kernel._half``."""
    if mass is None:
        return None
    contrib = (
        edges.join(mass.withColumnRenamed("id", key), key)
        .select(F.col(out).alias("id"), F.col("v").alias("c"))
        .groupBy("id")
        .agg(F.sum("c").alias("c"))
    )
    norm = contrib.agg(
        F.coalesce(F.sqrt(F.sum(F.col("c") * F.col("c"))), F.lit(0.0))
    ).first()[0]
    if norm == 0.0:
        return None
    return nodes.join(contrib, "id", "left").select(
        "id", (F.coalesce(F.col("c"), F.lit(0.0)) / F.lit(norm)).alias("v")
    )


def _vector(nodes: DataFrame, vec) -> DataFrame:
    """A :func:`_half` result as an (id, v) frame, zeros for None."""
    return nodes.withColumn("v", F.lit(0.0)) if vec is None else vec


def _rounded(raw: DataFrame, *cols: str) -> DataFrame:
    """The score family's 6-dp determinism contract on ``cols``."""
    return raw.select("NodeId", *[F.round(F.col(c), 6).alias(c) for c in cols])


def read_edgelist(spark: SparkSession, path: str) -> DataFrame:
    """Operator I1+I3: header-CSV scan, blank-row drop, typed casts.

    Returns columns ``XCoord double, YCoord double, START_NODE string,
    END_NODE string, EDGE string, LENGTH double`` (node ids stay strings
    for parity with the reference's MERGE keys, SURVEY.md §1.1).
    """
    raw = read_csv(spark, path, schema=EDGELIST_RAW_SCHEMA)
    return (
        raw.filter(F.col("START_NODE").isNotNull() & (F.col("START_NODE") != ""))
        .select(
            F.col("XCoord").cast("double").alias("XCoord"),
            F.col("YCoord").cast("double").alias("YCoord"),
            "START_NODE",
            "END_NODE",
            "EDGE",
            F.col("LENGTH").cast("double").alias("LENGTH"),
        )
    )


def build_nodes(edgelist: DataFrame) -> DataFrame:
    """Operator I4: dedup-upsert of nodes.

    MERGE on ``{NodeId, XCoord, YCoord}`` (MAIN:190) — coordinates are
    functionally dependent on the id in the data, so a distinct on the
    full key equals a distinct on the id; we keep the full-key distinct
    to preserve MERGE semantics if that dependency ever broke.
    """
    return (
        edgelist.select(
            F.col("START_NODE").alias("NodeId"),
            "XCoord",
            "YCoord",
        )
        .dropDuplicates(["NodeId", "XCoord", "YCoord"])
    )


def build_edges(edgelist: DataFrame, nodes: DataFrame) -> DataFrame:
    """Operators I5+I6: node-existence joins + quadruple dedup.

    Returns the ``roads(src, dst, road_id, cost)`` multigraph table.
    The join keeps only edges whose endpoints both exist in ``nodes``
    (MAIN:280–282); the node-id side is tiny relative to the edge list
    (37k vs 100k here; ~1:3 at any scale) so we broadcast it — two
    broadcast hash joins, zero shuffles of the big side.
    """
    node_ids = F.broadcast(nodes.select("NodeId").distinct())
    deduped = edgelist.dropDuplicates(["START_NODE", "END_NODE", "EDGE", "LENGTH"])
    return (
        deduped.join(node_ids.withColumnRenamed("NodeId", "START_NODE"), "START_NODE")
        .join(node_ids.withColumnRenamed("NodeId", "END_NODE"), "END_NODE")
        .select(
            F.col("START_NODE").alias("src"),
            F.col("END_NODE").alias("dst"),
            F.col("EDGE").alias("road_id"),
            F.col("LENGTH").alias("cost"),
        )
    )


def load_graph(
    spark: SparkSession,
    path: str,
    bucketed: bool = False,
    bucket_table: str = "graph_roads_bucketed",
    n_buckets: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """End-to-end ingest: CSV path → cached (nodes, roads).

    The cached tables mirror the reference's in-memory graph projection
    (``nodeProjection``/``relationshipProjection``, neo4j-code.txt:3–15)
    — the algorithms iterate over these tables many times. The import
    is EAGER (the reference's import is too): the raw edgelist is
    cached for the duration of the build so the CSV is scanned once
    instead of once per derived table, both tables are materialized,
    and the edgelist scratch cache is released.

    ``bucketed=True`` additionally writes the roads table BUCKETED BY
    ``src`` (``io.write_bucketed``) and returns the bucketed catalog
    read in its place — the pre-shuffle for the past-broadcast BSP
    tier: a bucketed scan reports hash-partitioning on ``src``, so
    every BSP superstep's frontier ⋈ edges join (and the kernel's
    min-cost pre-aggregation) runs with ZERO Exchange on the edge
    side; only the small frontier shuffles, every superstep, forever.
    The bucket shuffle is paid once at write time — exactly the trade
    a 100 TB deployment wants for an edge table queried repeatedly
    (plan pinned by tests/test_io.py::test_bsp_superstep_bucketed_edges_no_shuffle).
    """
    edgelist = read_edgelist(spark, path).cache()
    try:
        nodes = build_nodes(edgelist).cache()
        roads = build_edges(edgelist, nodes).cache()
        nodes.count()
        roads.count()
    finally:
        edgelist.unpersist()
    if bucketed:
        from bigdata_foundation_spark.io import write_bucketed

        write_bucketed(roads, bucket_table, ["src"], n_buckets=n_buckets)
        roads.unpersist()
        roads = spark.table(bucket_table)
    return nodes, roads


def recast_column(df: DataFrame, column: str, dtype: str = "double") -> DataFrame:
    """Operator I7: bulk typed column rewrite (MAIN:423–430)."""
    return df.withColumn(column, F.col(column).cast(dtype))


def truncate(df: DataFrame) -> DataFrame:
    """Operators I9/I10: delete-all. In a DataFrame engine a truncate is
    an empty frame with the same schema (the table overwrite happens at
    the sink)."""
    return df.limit(0)


def degree_distribution(roads: DataFrame) -> DataFrame:
    """Degree histogram of the directed multigraph: for every observed
    degree value, how many nodes have that out-degree and how many
    that in-degree (parallel edges each count — multigraph semantics,
    MAIN:221–227). Pure relational shape — two keyed count aggregates
    over the edge table, histogrammed and full-outer merged; at any
    scale the shuffles carry (node, count) then (degree, n) rows.

    Returns (degree, out_nodes, in_nodes) — nodes with no outgoing
    (resp. incoming) edges simply don't contribute to that side, same
    as the SQL oracle's aggregation over edge endpoints."""
    outs = roads.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
    ins = roads.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("d"))
    oh = outs.groupBy("d").agg(F.count("*").alias("out_nodes"))
    ih = ins.groupBy("d").agg(F.count("*").alias("in_nodes"))
    return (
        oh.join(ih, "d", "full_outer")
        .select(
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("out_nodes", F.lit(0)).cast("bigint").alias("out_nodes"),
            F.coalesce("in_nodes", F.lit(0)).cast("bigint").alias("in_nodes"),
        )
    )


def k_hop_nodes(
    spark: SparkSession, roads: DataFrame, source: str, k: int
) -> DataFrame:
    """Nodes reachable from ``source`` within ``k`` hops (directed),
    with their minimum hop count — the ego-neighborhood extraction
    every graph exploration UI runs before visualizing a subgraph.

    Layered BFS as k keyed joins: frontier_i = (edges ⋈ frontier_{i-1})
    minus everything already visited, so each node is emitted at its
    FIRST (minimum) depth and the per-round state is one (NodeId, hops)
    DataFrame (the reachability shape of :func:`_until_stable`). k is a
    small constant (an ego radius), so the k joins are the whole cost —
    no unbounded iteration."""
    seed = local_df(spark, [(source, 0)], "NodeId string, hops int").localCheckpoint()
    edges = roads.select(F.col("src").alias("NodeId"), F.col("dst"))

    def hop(frontier: DataFrame, i: int):
        if i > k:
            return None
        return edges.join(frontier, "NodeId").select(
            F.col("dst").alias("NodeId"), F.lit(i).alias("hops")
        )

    visited = _until_stable(seed, hop, "NodeId", max(k, 0) + 1, "k_hop_nodes")
    return visited.select("NodeId", F.col("hops").cast("bigint").alias("hops"))


def connected_components(
    roads: DataFrame,
    strategy: str = "auto",
    projection=None,
) -> DataFrame:
    """Weakly connected components of the road multigraph: every node
    labelled with the lexicographically smallest NodeId in its
    component (edges taken as undirected). Returns
    (NodeId, component_id); every edge endpoint is labelled (isolated
    nodes cannot exist in the edge table by construction).

    Tiers (``paths._tier``):

    * ``broadcast`` (auto below ``paths.BROADCAST_EDGE_LIMIT``): the
      calling process runs the vectorized min-hook + pointer-jumping
      kernel (``kernel.wcc_kernel``) over the driver-held CSR. A 70k-edge
      graph is milliseconds of numpy; the superstep loop spent ~30s of
      pure per-superstep scheduling floor on it (KERNEL_BENCH.md).
    * ``bsp`` (auto above the limit): the generic distributed min-label
      propagation + pointer jumping in
      ``operators.dedup.duplicate_clusters`` (O(log diameter)
      supersteps, two keyed shuffles each, no driver-side graph state)
      — the same machinery that clusters near-duplicate pairs.

    Both tiers produce the identical min-STRING-label contract
    (equivalence pinned by tests + the kernel-bench assert)."""
    if _p._tier(roads, strategy, projection, _p._TWO_TIERS) == "bsp":
        return _connected_components_superstep(roads)
    return _p._run_kernel(
        roads, projection, _k.wcc_kernel, "NodeId string NOT NULL, component_id string NOT NULL"
    )


def _connected_components_superstep(roads: DataFrame) -> DataFrame:
    """Past-broadcast WCC tier (see :func:`connected_components`)."""
    from bigdata_foundation_spark.operators.dedup import duplicate_clusters

    return duplicate_clusters(
        roads.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    ).select(F.col("node").alias("NodeId"), F.col("cluster_id").alias("component_id"))


def triangle_count(roads: DataFrame) -> DataFrame:
    """Global triangle count of the UNDIRECTED simple graph underlying
    the road multigraph (parallel edges and direction collapsed —
    the standard graph-analytics definition). Pure relational shape:
    orient each undirected edge small→large once (kills duplicates and
    direction), then two keyed self-joins count closed wedges — every
    triangle a<b<c is found exactly once. At scale both joins shuffle
    on a node key; the classic degree-ordered orientation bounds the
    wedge fan-out by arboricity. Returns one row (n_triangles)."""
    und = _undirected(roads)
    # wedges a<b<c: (a,b) ⋈ (b,c) on the shared middle node; the
    # ordering invariant (every und row has a < b lexicographically)
    # means each triangle appears as exactly one wedge, closed iff
    # (a,c) is also an edge (a<c follows transitively).
    wedges = (
        und.select(F.col("a"), F.col("b"))
        .join(und.select(F.col("a").alias("b"), F.col("b").alias("c")), "b")
        .select("a", "b", "c")
    )
    closed = wedges.join(
        und.select(F.col("a"), F.col("b").alias("c")), ["a", "c"], "left_semi"
    )
    return closed.agg(F.count("*").cast("bigint").alias("n_triangles"))


def pagerank(
    spark: SparkSession,
    roads: DataFrame,
    damping: float = 0.85,
    iters: int = 20,
    strategy: str = "auto",
    projection=None,
) -> DataFrame:
    """PageRank over the directed road MULTIGRAPH (parallel edges each
    carry mass — GDS relationship-multiplicity semantics), fixed
    ``iters`` power iterations, dangling mass redistributed uniformly
    (the classic formulation).

    It is :func:`personalized_pagerank` with a uniform restart vector,
    and runs through the same code on both tiers (``paths._tier``):
    ``broadcast`` (auto below ``paths.BROADCAST_EDGE_LIMIT``) runs
    ``kernel.ppr_kernel`` over every node — one gather + one bincount
    scatter-add per iteration — in the calling process over the
    driver-held CSR; ``bsp`` (auto above) runs :func:`_ppr_superstep`.
    Rank values agree within the 6-dp rounding contract (float
    summation order is the only difference, wobble ~1e-13 vs the 1e-6
    quantum).

    Superstep-tier scale shape: out-degrees are one count aggregate;
    each iteration is ONE keyed join (edges ⋈ ranks on src) + ONE
    groupBy(dst) sum — partial aggregation map-side — plus a
    one-scalar driver agg for the dangling mass (bounded state; no
    per-node driver structures). Returns (NodeId, rank) with rank
    rounded to 6 dp — the determinism contract: float summation order
    across partitions wobbles ~1e-13 per iteration, far below the
    rounding quantum, so results are reproducible and replayable in
    pure Python (tools/gen_pipeline_goldens.py pagerank replay)."""
    tier = _p._tier(roads, strategy, projection, _p._TWO_TIERS)
    return _ppr(roads, None, damping, iters, tier, projection)


def _ppr(roads: DataFrame, sources, damping: float, iters: int, tier: str, projection):
    """(Personalized) PageRank on ``tier``; ``sources=None`` restarts
    uniformly over every node (:func:`pagerank`)."""
    if tier == "broadcast":
        srcs = None if sources is None else list(sources)
        raw = _p._run_kernel(
            roads, projection, lambda p: _k.ppr_kernel(p, srcs, damping, iters), _RANK_DDL
        )
        return _rounded(raw, "rank")
    nodes = _p._node_ids(roads).localCheckpoint()
    if sources is None:
        return _ppr_superstep(roads, _uniform(nodes, "rs").localCheckpoint(), damping, iters)
    n, present = nodes.agg(
        F.count("*"), F.collect_set(F.when(F.col("id").isin(list(set(sources))), F.col("id")))
    ).first()
    if n == 0:  # no nodes, no ranks: the kernel tier's answer, whatever the sources
        return _ppr_superstep(roads, nodes.withColumn("rs", F.lit(0.0)), damping, iters)
    seeds = _k.restart_seeds(sources, present)
    restart = nodes.withColumn(
        "rs", F.when(F.col("id").isin(seeds), F.lit(1.0 / len(seeds))).otherwise(F.lit(0.0))
    ).localCheckpoint()
    return _ppr_superstep(roads, restart, damping, iters)


def _ppr_superstep(roads: DataFrame, restart: DataFrame, damping: float, iters: int) -> DataFrame:
    """Past-broadcast power iteration with restart vector ``restart``
    (id, rs): restart mass AND dangling mass return along ``rs``."""
    outdeg = (
        roads.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("deg"))
        .localCheckpoint()
    )
    edges = roads.select(F.col("src").alias("id"), F.col("dst")).localCheckpoint()

    def step(ranks: DataFrame, _t: int) -> DataFrame:
        with_deg = ranks.join(outdeg, "id", "left")
        dangling = (
            with_deg.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("r"), F.lit(0.0)))
            .first()[0]
        )
        contrib = (
            edges.join(with_deg.filter(F.col("deg").isNotNull()), "id")
            .select(F.col("dst").alias("id"), (F.col("r") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
        )
        teleport = 1.0 - damping + damping * dangling
        return restart.join(contrib, "id", "left").select(
            "id",
            (
                F.lit(teleport) * F.col("rs")
                + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("r"),
        )

    ranks = _fixed_rounds(restart.select("id", F.col("rs").alias("r")), step, iters)
    return ranks.select(F.col("id").alias("NodeId"), F.round(F.col("r"), 6).alias("rank"))


def label_propagation(
    spark: SparkSession,
    roads: DataFrame,
    iters: int = 10,
    strategy: str = "auto",
    projection=None,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (the GDS
    LPA family) over the undirected multigraph, made fully
    deterministic: every node starts as its own label; each of the
    fixed ``iters`` rounds relabels every node to the most frequent
    label among its neighbors (parallel edges weight their endpoint's
    vote; ties break to the lexicographically smallest label; isolated
    direction is irrelevant — edges vote both ways); nodes keep their
    label when they have no neighbors. All-integer votes — unlike
    PageRank there is no float contract at all, so results are exactly
    reproducible and exactly replayable.

    Tiers (``paths._tier``): ``broadcast``
    (auto below ``paths.BROADCAST_EDGE_LIMIT``) runs
    ``kernel.lpa_kernel`` — the identical vote/tie-break contract,
    vectorized as one np.unique count + lexsort argmax per round — in
    the calling process over the driver-held CSR; ``bsp`` (auto
    above) runs the superstep loop: per round one keyed join
    (edges ⋈ labels) + one count aggregate + one per-node window
    argmax — all shuffles keyed on node id; ``localCheckpoint``
    truncates the iterated lineage. All-integer votes, so the tiers
    are bit-identical. Returns (NodeId, community)."""
    if _p._tier(roads, strategy, projection, _p._TWO_TIERS) == "broadcast":
        return _p._run_kernel(
            roads, projection, lambda p: _k.lpa_kernel(p, iters), _COMMUNITY_DDL
        )
    und = roads.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    und = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b"))).localCheckpoint()
    nodes = und.select(F.col("a").alias("id")).distinct().localCheckpoint()
    labels = nodes.withColumn("label", F.col("id")).localCheckpoint()
    w = Window.partitionBy("id").orderBy(F.desc("n"), F.asc("label"))
    for _ in range(iters):
        votes = (
            und.join(labels.withColumnsRenamed({"id": "b"}), "b")
            .groupBy(F.col("a").alias("id"), "label")
            .agg(F.count("*").alias("n"))
        )
        winner = (
            votes.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("id", F.col("label").alias("_new"))
        )
        labels = (
            labels.join(winner, "id", "left")
            .select("id", F.coalesce("_new", "label").alias("label"))
            .localCheckpoint()
        )
    return labels.select(F.col("id").alias("NodeId"), F.col("label").alias("community"))


def strongly_connected_components(
    roads: DataFrame,
    strategy: str = "auto",
    projection=None,
    max_rounds: int = 1000,
) -> DataFrame:
    """Strongly connected components of the directed road multigraph:
    every node labelled with the lexicographically smallest NodeId in
    its SCC — the directed counterpart of
    :func:`connected_components`'s min-label contract. Returns
    (NodeId, scc_id).

    Tiers (``paths._tier``): ``broadcast`` (auto below
    ``paths.BROADCAST_EDGE_LIMIT``) runs iterative Tarjan
    (``kernel.scc_kernel``) in the calling process over the
    driver-held CSR — SCC is a depth-first property, so the
    sequential kernel IS the fast path wherever the projection fits. ``bsp`` (auto above)
    runs the Forward-Backward coloring superstep loop
    (:func:`_scc_superstep`, Fleischer et al. 2000 / Orzan 2004):
    rounds of (forward max-color propagation to fixpoint → backward
    reachability from each color's root inside its color class →
    remove found SCCs). Unlike WCC there is NO hooking shortcut for
    DIRECTED reachability, so each forward fixpoint is
    O(longest simple path) supersteps — distributed SCC is
    diameter-bound, the same honest floor as BSP SSSP
    (KERNEL_BENCH.md §BSP); the coloring rounds remove every root SCC
    per round, typically O(log) rounds on real graphs."""
    if _p._tier(roads, strategy, projection, _p._TWO_TIERS) == "bsp":
        return _scc_superstep(roads, max_rounds=max_rounds)
    return _p._run_kernel(roads, projection, _k.scc_kernel, _SCC_DDL)


def _scc_superstep(roads: DataFrame, max_rounds: int = 1000) -> DataFrame:
    """Past-broadcast SCC tier (see
    :func:`strongly_connected_components`). All state is (node, color)
    DataFrames; ``localCheckpoint`` truncates every iterated lineage;
    raises on non-convergence rather than returning a partial
    labelling (the duplicate_clusters discipline)."""
    spark = roads.sparkSession
    edges0 = _directed_simple(roads).cache()
    remaining = _p._node_ids(roads).localCheckpoint(eager=True)
    out: DataFrame | None = None
    for _round in range(max_rounds):
        if remaining.isEmpty():
            edges0.unpersist()
            if out is None:
                return local_df(spark, [], _SCC_DDL)
            return out.select("NodeId", "scc_id")
        e = (
            edges0.join(remaining.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(remaining.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        # forward MAX-color propagation to fixpoint: color(v) = the
        # largest node id that reaches v within the remaining subgraph.
        def forward(colors: DataFrame, _r: int) -> DataFrame:
            prop = e.join(colors.withColumnRenamed("id", "src"), "src").select(
                F.col("dst").alias("id"), "color"
            )
            return colors.unionByName(prop).groupBy("id").agg(F.max("color").alias("color"))

        colors = _until_stable(
            remaining.withColumn("color", F.col("id")).localCheckpoint(eager=True),
            forward, "id", max_rounds, "_scc_superstep: forward coloring", value="color",
        )
        # backward reachability from each color's root inside its color
        # class; edges whose endpoints share a color stay in-class.
        csrc = colors.select(F.col("id").alias("src"), F.col("color").alias("_cs"))
        cdst = colors.select(F.col("id").alias("dst"), F.col("color").alias("_cd"))
        ce = (
            e.join(csrc, "src")
            .join(cdst, "dst")
            .filter(F.col("_cs") == F.col("_cd"))
            .select("src", "dst", F.col("_cs").alias("color"))
            .localCheckpoint(eager=True)
        )

        def backward(frontier: DataFrame, _r: int) -> DataFrame:
            return ce.join(
                frontier.select(F.col("id").alias("dst"), "color"), ["dst", "color"]
            ).select(F.col("src").alias("id"), "color")

        member = _until_stable(
            colors.filter(F.col("color") == F.col("id")).localCheckpoint(eager=True),
            backward, "id", max_rounds, "_scc_superstep: backward reachability",
        )
        lab = member.groupBy("color").agg(F.min("id").alias("scc_id"))
        found = member.join(lab, "color").select(F.col("id").alias("NodeId"), "scc_id")
        out = found if out is None else out.unionByName(found)
        out = out.localCheckpoint(eager=True)
        remaining = remaining.join(
            member.select("id"), "id", "left_anti"
        ).localCheckpoint(eager=True)
    raise RuntimeError("_scc_superstep: did not converge within max_rounds")


def core_decomposition(
    spark: SparkSession,
    roads: DataFrame,
    strategy: str = "auto",
    projection=None,
    max_iters: int = 1000,
) -> DataFrame:
    """k-core decomposition of the UNDIRECTED SIMPLE graph underlying
    the road multigraph (direction + parallel edges collapsed,
    self-loops dropped — the standard convention): (NodeId, core) for
    every node, where core is the largest k such that the node belongs
    to a subgraph of minimum degree k. The curation analog: coreness
    is the robust "how embedded is this node" signal degree alone
    fakes.

    Tiers (``paths._tier``): ``broadcast`` (auto below
    ``paths.BROADCAST_EDGE_LIMIT``) runs Batagelj–Zaveršnik bucket
    peeling (``kernel.kcore_kernel``) in the calling process; ``bsp``
    (auto above) runs the distributed h-index iteration
    (:func:`_kcore_superstep`, Montresor et al. 2011): every node
    starts at its degree and repeatedly becomes the h-index of its
    neighbors' current estimates — monotone non-increasing, fixpoint =
    exact core numbers; per round one keyed join + one windowed
    h-index aggregate. Tiers are integer-exact identical."""
    if _p._tier(roads, strategy, projection, _p._TWO_TIERS) == "bsp":
        return _kcore_superstep(spark, roads, max_iters=max_iters)
    return _p._run_kernel(
        roads, projection, _k.kcore_kernel, "NodeId string NOT NULL, core bigint NOT NULL"
    )


def _kcore_superstep(
    spark: SparkSession, roads: DataFrame, max_iters: int = 1000
) -> DataFrame:
    """Past-broadcast k-core tier (see :func:`core_decomposition`):
    synchronous h-index iteration. Raises on non-convergence rather
    than returning partial estimates (they would be upper bounds, not
    core numbers)."""
    und = _undirected(roads)
    sym = und.union(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    est = (
        sym.groupBy(F.col("a").alias("id"))
        .agg(F.count("*").cast("long").alias("core"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("id").orderBy(F.desc("nc"), F.asc("b"))

    def h_index(est: DataFrame, _r: int) -> DataFrame:
        nb = sym.join(est.select(F.col("id").alias("b"), F.col("core").alias("nc")), "b").select(
            F.col("a").alias("id"), "b", "nc"
        )
        # h-index of the neighbor estimates: rank them descending;
        # h = max over positions of min(value_at_position, position).
        return (
            nb.withColumn("_rn", F.row_number().over(w))
            .groupBy("id")
            .agg(F.max(F.least(F.col("nc"), F.col("_rn"))).cast("long").alias("core"))
        )

    est = _until_stable(
        est, h_index, "id", max_iters, "_kcore_superstep: h-index iteration", value="core"
    )
    # nodes whose only edges were self-loops vanish from the simplified
    # graph but are still edge-table endpoints — they carry core 0 (the
    # kernel tier's contract).
    zero = _p._node_ids(roads).join(est, "id", "left_anti").withColumn(
        "core", F.lit(0).cast("long")
    )
    return est.unionByName(zero).select(F.col("id").alias("NodeId"), "core")


def _parallel_pairs(roads: DataFrame) -> set:
    """(min_id, max_id) node pairs joined by >= 2 DISTINCT physical
    road ids — the parallel-road set the bridge rule needs. Computed
    DataFrame-side (distinct + count, keyed shuffles) because the CSR
    projection does not carry road ids, and because the result is tiny
    (60 pairs on CSV1) while the input is the full edge table. A
    two-way road (both directed rows share one road_id — 4,825 of
    5,046 CSV1 ids) is ONE physical edge and does not count."""
    rows = (
        roads.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "road_id",
        )
        .distinct()
        .groupBy("a", "b")
        .count()
        .filter(F.col("count") > 1)
        .select("a", "b")
        .collect()
    )
    return {(r["a"], r["b"]) for r in rows}


def bridge_edges(roads: DataFrame, projection=None) -> DataFrame:
    """Bridges of the undirected graph underlying the road multigraph
    (Tarjan 1974): the physical roads whose removal disconnects their
    endpoints — the road-network fragility primitive. Returns
    (src, dst) string-canonical pairs (src < dst), sorted.

    Pairs joined by >= 2 distinct physical roads are never bridges
    (``_parallel_pairs``); a two-way road is one physical edge.

    Tier: broadcast kernel only (run in the calling process over the
    driver-held CSR). Biconnectivity past the broadcast limit
    needs Tarjan–Vishkin Euler-tour machinery — a documented
    non-goal; the projection fits for any graph the reference's
    workload shape produces (SURVEY.md §4.2)."""
    pairs = _parallel_pairs(roads)
    return _p._run_kernel(
        roads,
        projection,
        lambda p: _k.biconnectivity_kernel(p, pairs)[0],
        "src string NOT NULL, dst string NOT NULL",
    )


def articulation_points(roads: DataFrame, projection=None) -> DataFrame:
    """Articulation points (cut vertices) of the undirected graph
    underlying the road multigraph (Tarjan 1974): the junctions whose
    removal disconnects the network. Returns (NodeId), sorted.
    Parallel roads are irrelevant here — removing a NODE severs every
    incident edge at once. Same broadcast-kernel tier and
    Tarjan–Vishkin non-goal note as :func:`bridge_edges`."""
    return _p._run_kernel(
        roads,
        projection,
        lambda p: [(x,) for x in _k.biconnectivity_kernel(p)[1]],
        "NodeId string NOT NULL",
    )


def personalized_pagerank(
    spark,
    roads: DataFrame,
    sources: list[str],
    damping: float = 0.85,
    iters: int = 20,
    strategy: str = "auto",
    projection=None,
) -> DataFrame:
    """Personalized PageRank / random walk with restart (Haveliwala
    2002; GDS pageRank with sourceNodes): :func:`pagerank` with the
    teleport vector restricted to ``sources`` — restart mass AND
    dangling mass return uniformly to the distinct sources that are
    nodes of the graph (``kernel.restart_seeds``, the same on both
    tiers; ``ValueError`` when none is), so rank
    concentrates around the seeds. The local-relevance /
    recommendation primitive. Returns (NodeId, rank) for every node
    (unreachable nodes are exactly 0.0 before rounding), rank rounded
    to 6 dp — the same replayable determinism contract as
    :func:`pagerank`.

    Tiers (``paths._tier``) are :func:`pagerank`'s, which is this
    function with every node a source: broadcast numpy kernel
    (``kernel.ppr_kernel``) below ``paths.BROADCAST_EDGE_LIMIT``, the
    superstep loop above — per iteration ONE keyed join + ONE
    groupBy(dst) sum, the seed set riding a broadcast isin."""
    if not sources:
        raise ValueError("personalized_pagerank: sources must be non-empty")
    tier = _p._tier(roads, strategy, projection, _p._TWO_TIERS)
    return _ppr(roads, sources, damping, iters, tier, projection)


def eigenvector_centrality(
    spark,
    roads: DataFrame,
    iters: int = 20,
    strategy: str = "auto",
    projection=None,
) -> DataFrame:
    """Eigenvector centrality (Bonacich 1987; GDS eigenvector): power
    iteration x ← normalize2(Aᵀ x), fixed ``iters`` iterations from a
    uniform start — the undamped, unteleported sibling of
    :func:`pagerank`; a node is central when its in-neighbors are.
    Parallel edges each carry mass. Returns (NodeId, rank) rounded to
    6 dp, the family's replayable determinism contract; if the
    in-mass dies the zero vector returns (no divide-by-zero).

    It is one :func:`hits` half-step per iteration (:func:`_half` and
    its numpy twin ``kernel._half``). Tiers (``paths._tier``) mirror
    :func:`pagerank`: broadcast numpy kernel below
    ``paths.BROADCAST_EDGE_LIMIT``; above it, per iteration ONE keyed
    join (edges ⋈ x on src) + ONE groupBy(dst) sum + a one-scalar norm
    agg, ``localCheckpoint`` every few iterations."""
    if _p._tier(roads, strategy, projection, _p._TWO_TIERS) == "broadcast":
        raw = _p._run_kernel(
            roads, projection, lambda p: _k.eigenvector_kernel(p, iters), _RANK_DDL
        )
        return _rounded(raw, "rank")
    nodes = _p._node_ids(roads).localCheckpoint()
    edges = roads.select("src", "dst").localCheckpoint()
    x = _fixed_rounds(
        _uniform(nodes, "v").localCheckpoint(),
        lambda x, _t: _half(edges, nodes, x, "src", "dst"),
        iters,
    )
    return _vector(nodes, x).select(
        F.col("id").alias("NodeId"), F.round(F.col("v"), 6).alias("rank")
    )


def hits(
    spark,
    roads: DataFrame,
    iters: int = 20,
    strategy: str = "auto",
    projection=None,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999): the mutual-
    reinforcement pair a ← normalize2(Aᵀ h), h ← normalize2(A a) from
    the all-ones start, fixed ``iters`` full update pairs — a node is
    a good AUTHORITY when good hubs point at it and a good HUB when
    it points at good authorities; the two-score sibling of
    :func:`eigenvector_centrality` (which is HITS's authority side on
    A+Aᵀ-free directed mass). Parallel edges each carry mass
    (multigraph convention). Returns (NodeId, authority, hub) rounded
    to 6 dp — the family's replayable determinism contract; a side
    whose mass dies returns zeros (no divide-by-zero), and once one
    side dies the other follows on the next half-step in BOTH tiers.

    Tiers (``paths._tier``) mirror :func:`pagerank`: broadcast numpy kernel
    (``kernel.hits_kernel`` — two ``kernel._half`` gather+bincount
    scatter-adds per iteration over the CSR edge arrays) below
    ``paths.BROADCAST_EDGE_LIMIT``; above it, the superstep loop —
    per iteration two :func:`_half` steps (edges ⋈ h on src → sum at
    dst; edges ⋈ a on dst → sum at src), each one keyed join with
    map-side partial aggregation and a one-scalar L2-norm agg,
    ``localCheckpoint`` every few iterations to truncate the
    iterated-join lineage (graph/bsp.py discipline)."""
    if _p._tier(roads, strategy, projection, _p._TWO_TIERS) == "broadcast":
        raw = _p._run_kernel(
            roads,
            projection,
            lambda p: _k.hits_kernel(p, iters),
            "NodeId string NOT NULL, authority double NOT NULL, hub double NOT NULL",
        )
        return _rounded(raw, "authority", "hub")
    nodes = _p._node_ids(roads).localCheckpoint()
    edges = roads.select("src", "dst").localCheckpoint()
    ones = nodes.withColumn("v", F.lit(1.0)).localCheckpoint()

    def step(ah: tuple, _t: int) -> tuple:
        a = _half(edges, nodes, ah[1], "src", "dst")
        return a, _half(edges, nodes, a, "dst", "src")

    a, h = _fixed_rounds((ones, ones), step, iters)
    scores = _vector(nodes, a).withColumnRenamed("v", "authority").join(
        _vector(nodes, h).withColumnRenamed("v", "hub"), "id"
    )
    return _rounded(scores.withColumnRenamed("id", "NodeId"), "authority", "hub")


def random_walks(
    roads: DataFrame,
    walk_length: int = 8,
    walks_per_node: int = 1,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Deterministic uniform random-walk corpus over the simple
    directed graph (DeepWalk, Perozzi et al. 2014): the data-prep
    primitive for graph-embedding training — the walk table IS the
    training corpus (each walk a "sentence" of node ids). Every
    choice is a HASH, not an RNG: step t of walk w from seed s at
    node u takes neighbor pmod(xxhash64('s|w|t|u'), outdeg(u)) over
    the out-neighbors sorted by id — byte-identical across runs,
    cluster layouts, AND engines (all-integer; the golden replays the
    same xxhash64). Production contract: re-running the corpus build
    yields the identical training set.

    Walks stop early at sinks (no out-neighbors); partial paths
    return. Walks traverse the SIMPLE graph (parallel roads collapse
    — a documented deviation from degree-weighted node2vec-style
    transition bias, which needs weighted sampling; first-order
    uniform is the DeepWalk contract).

    Scale shape: the adjacency-with-index table (row_number per src
    over sorted dst) is built ONCE and reused; each of the
    ``walk_length`` steps is ONE keyed join of the walk frontier
    against it (frontier rows = |seeds| × walks_per_node, constant
    across steps — no frontier explosion, unlike BFS). No kernel tier
    needed: walk length is fixed and small, so the join count never
    depends on graph diameter. Returns (seed, walk_id, step, NodeId)
    with step 0 = the seed itself."""
    if walk_length < 1:
        raise ValueError("walk_length must be >= 1")
    if walks_per_node < 1:
        raise ValueError("walks_per_node must be >= 1")
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy("dst")
    adj_idx = (
        _directed_simple(roads).withColumn("idx", F.row_number().over(w) - 1)
        .select(F.col("src").alias("_asrc"), F.col("dst").alias("_adst"), "idx")
        .localCheckpoint()
    )
    deg = (
        adj_idx.groupBy(F.col("_asrc").alias("_dsrc"))
        .agg(F.count("*").alias("deg"))
        .localCheckpoint()
    )
    if seeds is None:
        seeds = _p._node_ids(roads)
    state = seeds.select(
        F.col("id").alias("seed"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("walk_id"),
    ).select("seed", "walk_id", F.col("seed").alias("cur"), F.array(F.col("seed")).alias("path"))

    def step(state: DataFrame, t: int) -> DataFrame:
        key = F.concat_ws(
            "|", F.col("seed"), F.col("walk_id").cast("string"), F.lit(str(t)), F.col("cur")
        )
        stepped = (
            state.join(deg, state["cur"] == deg["_dsrc"])
            .withColumn("_pick", F.pmod(F.xxhash64(key), F.col("deg")))
            .join(
                adj_idx,
                (F.col("cur") == F.col("_asrc")) & (F.col("_pick") == F.col("idx")),
            )
            .select(
                "seed", "walk_id",
                F.col("_adst").alias("cur"),
                F.array_append("path", F.col("_adst")).alias("path"),
            )
        )
        # sinks drop out of `stepped`; keep their finished partial walks
        finished = state.join(deg, state["cur"] == deg["_dsrc"], "left_anti")
        return stepped.unionByName(finished.select("seed", "walk_id", "cur", "path"))

    state = _fixed_rounds(state, step, walk_length)
    return state.select(
        "seed", "walk_id", F.posexplode("path").alias("step", "NodeId")
    ).withColumn("walk_id", F.col("walk_id").cast("bigint")).withColumn(
        "step", F.col("step").cast("bigint")
    )


def minimum_spanning_forest(
    roads: DataFrame,
    strategy: str = "auto",
    projection=None,
    max_rounds: int = 64,
) -> DataFrame:
    """Minimum spanning forest (Borůvka 1926) of the undirected simple
    weighted graph underlying the road multigraph — the cheapest set
    of physical links keeping every connected component connected
    (GDS ships this as ``gds.spanningTree``/``kspanningtree``).
    Parallel edges and direction collapse to one undirected pair
    carrying the MIN cost; self-loops never span. Returns one row per
    forest edge: (src, dst, cost) with ``src < dst`` string-wise,
    |V| − |components| rows in total.

    UNIQUENESS: edges are compared under the strict total order
    ``(cost, src, dst)``, which makes the forest unique (the classic
    distinct-weights argument) — so both tiers and the independent
    Kruskal replay oracle provably agree edge-for-edge.

    Tiers (``paths._tier``):

    * ``broadcast`` (auto below ``paths.BROADCAST_EDGE_LIMIT``): the
      calling process runs vectorized Borůvka (``kernel.msf_kernel``)
      over the driver-held CSR — lexsort + first-occurrence pick +
      scatter-min hooking, O(log n) whole-array rounds.
    * ``bsp`` (auto above the limit): distributed Borůvka. Each round
      is (1) one join of the collapsed pair table against the
      component map, (2) one ``min_by``-shaped groupBy picking every
      component's cheapest outgoing edge under the total order, and
      (3) one FastSV merge of the picked root pairs — reusing
      ``operators.dedup.duplicate_clusters``, the same hardened
      star-merge machinery WCC rides, on a root graph that shrinks
      geometrically (≥ halves) every round. O(log V) rounds, every
      shuffle keyed, no driver-side graph state; raises on
      non-convergence rather than returning a partial forest.
    """
    if _p._tier(roads, strategy, projection, _p._TWO_TIERS) == "bsp":
        return _msf_superstep(roads, max_rounds=max_rounds)
    return _p._run_kernel(roads, projection, _k.msf_kernel, _MSF_DDL)


def _msf_superstep(roads: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Past-broadcast distributed Borůvka tier (see
    :func:`minimum_spanning_forest`)."""
    from bigdata_foundation_spark.operators.dedup import duplicate_clusters

    spark = roads.sparkSession
    pairs = (
        roads.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("cost").cast("double").alias("cost"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("cost").alias("cost"))
        .localCheckpoint(eager=True)
    )
    comp = _p._node_ids(roads).withColumn("root", F.col("id")).localCheckpoint(eager=True)
    chosen: DataFrame | None = None
    for _round in range(max_rounds):
        e = (
            pairs.join(
                comp.select(F.col("id").alias("a"), F.col("root").alias("_ra")), "a"
            )
            .join(comp.select(F.col("id").alias("b"), F.col("root").alias("_rb")), "b")
            .filter(F.col("_ra") != F.col("_rb"))
            .localCheckpoint(eager=True)
        )
        if e.isEmpty():
            if chosen is None:
                return local_df(spark, [], _MSF_DDL)
            return chosen.select(
                F.col("a").alias("src"), F.col("b").alias("dst"), "cost"
            )
        # every component's cheapest outgoing edge under the total
        # order (cost, a, b) — struct-min gives min_by semantics with
        # the tie-break baked into the comparison
        edge = F.struct(
            F.col("cost"),
            F.col("a"),
            F.col("b"),
            F.least("_ra", "_rb").alias("_rlo"),
            F.greatest("_ra", "_rb").alias("_rhi"),
        ).alias("edge")
        cand = e.select(F.col("_ra").alias("_root"), edge).unionByName(
            e.select(F.col("_rb").alias("_root"), edge)
        )
        sel = (
            cand.groupBy("_root")
            .agg(F.min("edge").alias("edge"))
            .select("edge.*")
            .distinct()
            .localCheckpoint(eager=True)
        )
        picked = sel.select("a", "b", "cost")
        chosen = picked if chosen is None else chosen.unionByName(picked).distinct()
        chosen = chosen.localCheckpoint(eager=True)
        # merge the picked root pairs (FastSV star-merge — O(log d)
        # supersteps on the shrinking root graph), then relabel comp
        rootmap = duplicate_clusters(
            sel.select(F.col("_rlo").alias("id_a"), F.col("_rhi").alias("id_b"))
        ).select(F.col("node").alias("root"), F.col("cluster_id").alias("_new"))
        comp = (
            comp.join(rootmap, "root", "left")
            .select("id", F.coalesce("_new", "root").alias("root"))
            .localCheckpoint(eager=True)
        )
    raise RuntimeError("_msf_superstep: did not converge within max_rounds")


def node_similarity(
    roads: DataFrame,
    k: int = 100,
    degree_cutoff: int = 1,
    similarity_cutoff: float = 0.0,
) -> DataFrame:
    """GDS-style nodeSimilarity: Jaccard similarity of OUT-neighbour
    sets over the directed simple graph underlying the road multigraph
    (parallel edges collapsed, self-loops dropped) — "junctions that
    fan out onto the same roads". Only pairs sharing ≥1 neighbour can
    score > 0, so the computation is a keyed self-join on the shared
    neighbour, never an all-pairs product. Returns the top-``k`` pairs
    by (jaccard DESC, node1, node2) with node1 < node2:
    (node1, node2, n_common, jaccard).

    ``degree_cutoff`` mirrors GDS's degreeCutoff: only nodes with
    out-degree ≥ the cutoff are compared. ``jaccard`` is the exact
    IEEE quotient n_common / (d1 + d2 − n_common) — no rounding, so
    the SQL oracle reproduces it bit-for-bit.

    100 TB shape: the join fans out Σ indeg(m)² wedge rows over the
    shared-neighbour key — the same bound as :func:`triangle_count` —
    and AQE skew-split handles hot middle nodes; raise
    ``degree_cutoff`` to prune low-signal sources before the join.
    The final top-k is a TakeOrderedAndProject (never a global sort).
    """
    from bigdata_foundation_spark.operators.relational import topk
    from bigdata_foundation_spark.operators._cache import tracked_cache

    # nbrs feeds BOTH sides of the wedge self-join plus the degree
    # table, and deg feeds a semi-join and two score joins — six plan
    # references total. Without a materialization boundary each
    # reference re-runs the distinct's shuffle (r16 audit: 62 Exchange
    # / 61 InMemoryTableScan nodes, zero ReusedExchange — AQE plans
    # each cached-scan subtree independently). Caching the two tiny
    # keyed tables (|E| and |V| rows) collapses the recomputation: one
    # distinct, one degree agg, every other reference an
    # InMemoryTableScan.
    nbrs = tracked_cache(_directed_simple(roads))
    deg = tracked_cache(
        nbrs.groupBy("src").agg(F.count("*").alias("_d")).filter(
            F.col("_d") >= F.lit(int(degree_cutoff))
        )
    )
    nb = nbrs.join(deg.select("src"), "src", "left_semi")
    inter = (
        nb.select(F.col("src").alias("node1"), "dst")
        .join(nb.select(F.col("src").alias("node2"), "dst"), "dst")
        .filter(F.col("node1") < F.col("node2"))
        .groupBy("node1", "node2")
        .agg(F.count("*").alias("n_common"))
    )
    scored = (
        inter.join(deg.select(F.col("src").alias("node1"), F.col("_d").alias("_d1")), "node1")
        .join(deg.select(F.col("src").alias("node2"), F.col("_d").alias("_d2")), "node2")
        .select(
            "node1",
            "node2",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("_d1") + F.col("_d2") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(float(similarity_cutoff)))
    )
    return topk(
        scored,
        [F.col("jaccard").desc(), F.col("node1").asc(), F.col("node2").asc()],
        k,
    )


def clustering_coefficient(roads: DataFrame) -> DataFrame:
    """Clustering structure of the undirected simple graph underlying
    the road multigraph, as ONE summary row:

    * ``n_triangles`` — global triangle count (same contract as
      :func:`triangle_count`);
    * ``n_wedges`` — Σ_v d(v)·(d(v)−1)/2, the open+closed wedge count;
    * ``transitivity`` — 3·triangles / wedges (global clustering
      coefficient, Newman 2003), 0.0 when the graph has no wedges;
    * ``avg_local_cc`` — the Watts–Strogatz 1998 mean over nodes with
      d ≥ 2 of 2·t(v) / (d(v)·(d(v)−1)), where t(v) counts triangles
      through v.

    Shape: the oriented wedge join + closure semi-join of
    :func:`triangle_count` (keyed shuffles, fan-out bounded by
    degree orientation), then per-node triangle counts by exploding
    each closed triangle to its three corners — three keyed unions,
    one groupBy. Ratios are exact IEEE quotients; the two means ride
    the 6-dp comparator quantum (summation wobble ~1e-13)."""
    und = _undirected(roads)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("_d"))
    )
    wedges = (
        und.select("a", "b")
        .join(und.select(F.col("a").alias("b"), F.col("b").alias("c")), "b")
        .select("a", "b", "c")
    )
    tri = wedges.join(
        und.select(F.col("a"), F.col("b").alias("c")), ["a", "c"], "left_semi"
    )
    tri_per_node = (
        tri.select(F.col("a").alias("v"))
        .unionByName(tri.select(F.col("b").alias("v")))
        .unionByName(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("_t"))
    )
    local = (
        deg.filter(F.col("_d") >= 2)
        .join(tri_per_node, "v", "left")
        .select(
            (
                2.0
                * F.coalesce(F.col("_t"), F.lit(0)).cast("double")
                / (F.col("_d").cast("double") * (F.col("_d") - 1).cast("double"))
            ).alias("_cc")
        )
    )
    n_tri = tri.agg(F.count("*").cast("bigint").alias("n_triangles"))
    n_wed = deg.agg(
        (F.sum(F.col("_d").cast("bigint") * (F.col("_d") - 1)) / 2)
        .cast("bigint")
        .alias("n_wedges")
    )
    avg_cc = local.agg(F.avg("_cc").alias("avg_local_cc"))
    return (
        n_tri.crossJoin(n_wed)
        .crossJoin(avg_cc)
        .select(
            "n_triangles",
            "n_wedges",
            F.when(F.col("n_wedges") > 0,
                   3.0 * F.col("n_triangles") / F.col("n_wedges").cast("double"))
            .otherwise(F.lit(0.0))
            .alias("transitivity"),
            "avg_local_cc",
        )
    )


def modularity(roads: DataFrame, communities: DataFrame) -> DataFrame:
    """Newman–Girvan modularity Q of a community assignment over the
    undirected simple graph underlying the road multigraph:

        Q = Σ_c ( m_c / m  −  (d_c / 2m)² )

    with m the undirected edge count, m_c the edges internal to
    community c, and d_c the summed degree of c's members — the
    quality functional Louvain maximizes and GDS exposes as
    ``gds.modularity``. ``communities`` is any (NodeId, community)
    assignment covering the edge endpoints (e.g. the
    :func:`label_propagation` or :func:`connected_components` output).

    Returns ONE row: (n_communities, modularity). Pure keyed
    aggregates — two broadcast-or-shuffle joins tagging each edge's
    endpoint communities, one groupBy; Q's float sum rides the 6-dp
    comparator quantum. Communities with no internal edges still
    contribute their −(d_c/2m)² term (counted via the degree side)."""
    comm = communities.select(
        F.col(communities.columns[0]).alias("_n"),
        F.col(communities.columns[1]).alias("_c"),
    )
    und = _undirected(roads)
    tagged = und.join(
        comm.select(F.col("_n").alias("a"), F.col("_c").alias("_ca")), "a"
    ).join(comm.select(F.col("_n").alias("b"), F.col("_c").alias("_cb")), "b")
    m_total = und.count()
    if m_total == 0:
        spark = roads.sparkSession
        return local_df(spark, [(0, 0.0)], "n_communities bigint, modularity double")
    internal = (
        tagged.filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("_c"))
        .agg(F.count("*").alias("_mc"))
    )
    degsum = (
        und.select(F.col("a").alias("_n"))
        .unionByName(und.select(F.col("b").alias("_n")))
        .join(comm, "_n")
        .groupBy("_c")
        .agg(F.count("*").alias("_dc"))
    )
    per_comm = degsum.join(internal, "_c", "left").select(
        "_c",
        (
            F.coalesce(F.col("_mc"), F.lit(0)).cast("double") / F.lit(float(m_total))
            - F.pow(F.col("_dc").cast("double") / F.lit(2.0 * m_total), F.lit(2.0))
        ).alias("_q"),
    )
    return per_comm.agg(
        F.count("*").cast("bigint").alias("n_communities"),
        F.sum("_q").alias("modularity"),
    )


def louvain(
    roads: DataFrame,
    strategy: str = "auto",
    projection=None,
    max_sweeps: int = 100,
    max_levels: int = 32,
) -> DataFrame:
    """Louvain community detection (Blondel et al. 2008) over the
    unweighted undirected simple graph underlying the road multigraph —
    the GDS flagship community algorithm (``gds.louvain``). Returns
    (NodeId, community), community = the min original member id, for
    every edge endpoint.

    KERNEL TIER ONLY, like the biconnectivity family: the
    modularity-greedy local-moving sweep is order-dependent by
    definition, so it has no faithful superstep twin — the calling
    process runs ``kernel.louvain_kernel`` over the driver-held CSR
    (deterministic sweep order + tie-breaks; see the kernel docstring
    for the pinned contract). Past ``paths.BROADCAST_EDGE_LIMIT``
    use :func:`label_propagation` (the distributed community path) and
    :func:`modularity` to score it; any ``strategy`` but 'auto' or
    'broadcast' (``paths._tier``) raises rather than silently running
    something else."""
    _p._tier(roads, strategy, projection, _p._KERNEL_ONLY)
    return _p._run_kernel(
        roads,
        projection,
        lambda p: _k.louvain_kernel(p, max_sweeps=max_sweeps, max_levels=max_levels),
        _COMMUNITY_DDL,
    )


def degree_assortativity(roads: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the
    undirected simple graph underlying the road multigraph: the
    Pearson correlation of endpoint degrees over the edge list, each
    undirected edge contributing both orientations (the standard
    symmetric convention). Positive → hubs link to hubs (social
    shape); road networks are typically slightly disassortative.

    Returns ONE row (n_edges, assortativity); NULL assortativity when
    the degree sequence is constant (zero variance — e.g. a pure
    cycle), matching SQL ``CORR`` semantics in both engines. Pure
    keyed aggregates: degree groupBy, two joins tagging endpoint
    degrees, one ``corr`` aggregate — the correlation's float sums
    ride the 6-dp comparator quantum."""
    und = _undirected(roads)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("_d"))
    )
    both = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    tagged = both.join(
        deg.select(F.col("v").alias("a"), F.col("_d").alias("_da")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("_d").alias("_db")), "b")
    # corr spelled out as covar/(sd*sd) with a zero-variance guard:
    # ANSI-mode F.corr raises DIVIDE_BY_ZERO on a constant degree
    # sequence (e.g. a pure cycle) where SQL CORR must yield NULL.
    x = F.col("_da").cast("double")
    y = F.col("_db").cast("double")
    agg = tagged.agg(
        (F.count("*") / 2).cast("bigint").alias("n_edges"),
        F.covar_pop(x, y).alias("_cov"),
        F.stddev_pop(x).alias("_sx"),
        F.stddev_pop(y).alias("_sy"),
    )
    return agg.select(
        "n_edges",
        F.when(
            (F.col("_sx") > 0) & (F.col("_sy") > 0),
            F.col("_cov") / (F.col("_sx") * F.col("_sy")),
        ).alias("assortativity"),
    )


def _hyperball_init(roads: DataFrame, m: int) -> DataFrame:
    """(NodeId, bucket, rho) per node — the pinned HyperBall register
    seed, computed with JVM xxhash64 (bucket = pmod(xxhash64(id), m);
    rho = leading-zero rank of xxhash64(id, 1): negative → 1, zero →
    65, else 65 − bit_length via length(bin(x)))."""
    nodes = _p._node_ids(roads, "NodeId")
    h2 = F.xxhash64("NodeId", F.lit(1))
    rho = (
        F.when(h2 < 0, F.lit(1))
        .when(h2 == 0, F.lit(65))
        .otherwise(F.lit(65) - F.length(F.bin(h2)))
    )
    return nodes.select(
        "NodeId",
        F.pmod(F.xxhash64("NodeId"), F.lit(int(m))).cast("int").alias("bucket"),
        rho.cast("int").alias("rho"),
    )


def hyperball(
    roads: DataFrame,
    t_max: int = 8,
    m: int = 64,
    strategy: str = "auto",
    projection=None,
) -> DataFrame:
    """HyperBall neighborhood function (Boldi & Vigna 2013):
    N(t) = Σ_v (estimated ball size of v at hop radius t) for
    t = 0..t_max over the DIRECTED road graph — the sketch that turns
    "what is the effective diameter / distance distribution of a
    graph too big for per-source SSSP" into t_max register-merge
    rounds. One HyperLogLog register set (m registers) per node;
    everything about it is pinned and deterministic (see
    ``kernel.hyperball_kernel``), so the gate value-matches an
    independent replay even though N(t) estimates the true count.

    Returns (t, nf_est) rows, nf_est 6-dp. N(t)/N(t_sat) is the
    cumulative distance distribution; the first t with N(t) ≥ 0.9 ·
    N(saturation) is the standard effective-diameter estimate.

    Tiers: kernel (numpy scatter-max, auto below
    ``paths.BROADCAST_EDGE_LIMIT``); past it a superstep loop in the
    DENSE LONG register layout (node, idx, val) — per round ONE keyed
    join of the m-wide register table against the edge list + one
    (node, idx) max aggregate + one estimate aggregate, all
    JVM-side. Register traffic is |E|·m rows per round — m is the
    accuracy/IO dial (Boldi & Vigna ran the whole of Facebook at
    m=64 on one machine; at 100 TB pick m per the same budget)."""
    init = _hyperball_init(roads, m)
    if _p._tier(roads, strategy, projection, _p._TWO_TIERS) == "bsp":
        return _hyperball_superstep(roads, init, t_max=t_max, m=m)
    rows = [(r["NodeId"], int(r["bucket"]), int(r["rho"])) for r in init.collect()]
    return _p._run_kernel(
        roads, projection, lambda p: _k.hyperball_kernel(p, rows, t_max=t_max, m=m), _HYPERBALL_DDL
    )


def _hyperball_superstep(
    roads: DataFrame, init: DataFrame, t_max: int, m: int
) -> DataFrame:
    """Past-broadcast HyperBall tier (see :func:`hyperball`):
    dense-long registers, one join + max-agg + estimate per round."""
    spark = roads.sparkSession
    alpha = _k._hll_alpha(m)
    edges = _directed_simple(roads)
    # dense long layout: every (node, idx) present, val 0 when unset
    idxs = spark.range(int(m)).select(F.col("id").cast("int").alias("idx"))
    regs = (
        init.crossJoin(F.broadcast(idxs))
        .select(
            F.col("NodeId").alias("node"),
            "idx",
            F.when(F.col("idx") == F.col("bucket"), F.col("rho"))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("val"),
        )
        .localCheckpoint(eager=True)
    )

    def estimate(r: DataFrame):
        per_node = r.groupBy("node").agg(
            F.sum(F.pow(F.lit(2.0), -F.col("val").cast("double"))).alias("_s"),
            F.sum(F.when(F.col("val") == 0, 1).otherwise(0)).alias("_z"),
        )
        raw = F.lit(alpha * m * m) / F.col("_s")
        est = F.when(
            (raw <= F.lit(2.5 * m)) & (F.col("_z") > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("_z")),
        ).otherwise(raw)
        nf = per_node.select(est.alias("_e")).agg(F.sum("_e")).collect()[0][0]
        return None if nf is None else round(float(nf), 6)

    nf0 = estimate(regs)
    if nf0 is None:  # no nodes: the kernel tier's empty answer
        return local_df(spark, [], _HYPERBALL_DDL)
    out = [(0, nf0)]
    for t in range(1, t_max + 1):
        msgs = (
            edges.join(regs.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), "idx", "val")
        )
        regs = (
            regs.unionByName(msgs)
            .groupBy("node", "idx")
            .agg(F.max("val").alias("val"))
            .localCheckpoint(eager=True)
        )
        out.append((t, estimate(regs)))
    return local_df(spark, out, _HYPERBALL_DDL)


def truss_decomposition(
    roads: DataFrame,
    strategy: str = "auto",
    projection=None,
    max_rounds: int = 1000,
) -> DataFrame:
    """Truss decomposition (Cohen 2008): per undirected simple edge,
    the largest k such that the edge survives in the k-truss (every
    edge of the subgraph closing ≥ k−2 triangles inside it) — the
    triangle-certified edge-strength ladder next to k-core's degree
    ladder. Returns (src, dst, truss) with src < dst.

    Tiers: below ``paths.BROADCAST_EDGE_LIMIT`` the incremental
    min-support peel (``kernel.ktruss_kernel``, in the calling
    process);
    past it LEVEL-SYNCHRONOUS peeling — for ascending k, repeatedly
    drop every edge whose in-subgraph support < k−2 (support = one
    wedge join + ordered-pair semi-join over the live edge set, the
    ``triangle_count`` machinery) until stable. The two formulations
    provably assign identical truss numbers (peel order does not
    affect the ladder); equality is pinned by tests. Each inner round
    is two keyed shuffles over the shrinking live set; raises on
    ``max_rounds`` exhaustion rather than returning a partial
    ladder."""
    if _p._tier(roads, strategy, projection, _p._TWO_TIERS) == "bsp":
        return _ktruss_superstep(roads, max_rounds=max_rounds)
    return _p._run_kernel(roads, projection, _k.ktruss_kernel, _TRUSS_DDL)


def _ktruss_superstep(roads: DataFrame, max_rounds: int = 1000) -> DataFrame:
    """Past-broadcast truss tier (see :func:`truss_decomposition`)."""
    spark = roads.sparkSession
    alive = _undirected(roads).localCheckpoint(eager=True)
    out: DataFrame | None = None
    k = 3
    rounds = 0
    while not alive.isEmpty():
        while True:
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError(
                    "_ktruss_superstep: did not converge within max_rounds"
                )
            adj = alive.select("a", "b").unionByName(
                alive.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            support = (
                alive.join(adj.select(F.col("a"), F.col("b").alias("c")), "a")
                .filter(F.col("c") != F.col("b"))
                .withColumn("_x", F.least("b", "c"))
                .withColumn("_y", F.greatest("b", "c"))
                .join(
                    alive.select(
                        F.col("a").alias("_x"), F.col("b").alias("_y")
                    ),
                    ["_x", "_y"],
                    "left_semi",
                )
                .groupBy("a", "b")
                .agg(F.count("*").alias("_s"))
            )
            scored = alive.join(support, ["a", "b"], "left").select(
                "a", "b", F.coalesce("_s", F.lit(0)).alias("_s")
            )
            drop = scored.filter(F.col("_s") < k - 2).localCheckpoint(eager=True)
            if drop.isEmpty():
                break
            assigned = drop.select(
                F.col("a").alias("src"),
                F.col("b").alias("dst"),
                F.lit(k - 1).cast("int").alias("truss"),
            )
            out = assigned if out is None else out.unionByName(assigned)
            out = out.localCheckpoint(eager=True)
            alive = alive.join(
                drop.select("a", "b"), ["a", "b"], "left_anti"
            ).localCheckpoint(eager=True)
        k += 1
    if out is None:
        return local_df(spark, [], _TRUSS_DDL)
    return out
