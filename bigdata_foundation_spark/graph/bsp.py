"""Distributed BSP shortest-path kernels: one keyed relaxation loop.

The scale path for graphs that do NOT fit in one executor's memory.
Every kernel here runs the same superstep, :func:`_relax`, over a state
DataFrame ``(key..., dist, payload...)`` keyed by ``node`` (one source),
``(source, node)`` (a wave of sources, :func:`bsp_multi_sssp`) or
``(pid, node)`` (a wave of Yen spur probes, :func:`_bsp_probe_wave`):

1. expand the frontier (last superstep's improvements) over the edge
   table into candidates — the one step each caller supplies, carrying
   its target bound, reverse-distance join and edge/node masks;
2. keep the best candidate per key: ``min(dist)``, or the minimum
   ``(dist, payload...)`` struct when a payload (path, parent) rides
   along;
3. keep the candidates that improve on the state;
4. merge them: state left-anti improvements ∪ improvements;
5. every 8 supersteps, flatten the state with ``localCheckpoint``;
6. stop when nothing improves, or at ``max_supersteps``.

That is delta-stepping where the bucket is "the whole frontier" (the
reference's ``delta`` knob, neo4j-code.txt:51, is a scheduling detail
with no effect on results; SURVEY.md §2.2 G2).

What holds for every caller (SURVEY.md §4.3 hard-parts list):

* **Lineage discipline** — each superstep's improvements are
  materialized with ``localCheckpoint(eager=True)``, which truncates
  the iterated-join plan (without it the plan doubles per superstep);
  the same materialized frame is counted and feeds the next expansion.
* **Multigraph handling** — parallel edges are reduced to
  ``min(cost)`` per (src, dst) inside the kernel projection only
  (storage keeps the multigraph, per operator I6). Yen's probes reduce
  after their masks apply instead: masking the cheapest parallel edge
  must expose the next-cheapest one.
* **Goal-directed pruning** — a candidate with ``dist + h(node) >=
  best-known target distance`` can never improve the answer and is
  dropped: A*'s OPEN-list pruning, Dijkstra's settled-target exit.
* **Adaptive broadcast supersteps, single source only** — while the
  frontier holds ≤ ``_BROADCAST_FRONTIER_ROWS`` rows (known exactly:
  it is last superstep's counted improvements) and the candidate bound
  |frontier| × max-out-degree stays ≤ ``_BROADCAST_CANDIDATE_ROWS``,
  every join of the superstep broadcasts its small side, in shapes
  BroadcastHashJoin supports (a build-right inner join and left-anti
  joins). Wider supersteps take the shuffle shapes; the gate is
  per superstep. Multi-source and probe waves always shuffle: their
  candidate sets multiply by the wave width, and mixing broadcast
  supersteps into a 64-source expander wave measured 308 s against
  243 s shuffle-only, bit-exact (KERNEL_BENCH §r9, mechanism §r10).
* **Partition width** — the state flattens to ~128k rows per
  partition with a floor of 8: small-frontier supersteps are
  task-scheduling bound, not data bound (KERNEL_BENCH §r8).

Feed these kernels a ``src``-bucketed edge table
(``etl.load_graph(..., bucketed=True)`` / ``io.write_bucketed``) and
every superstep's frontier ⋈ edges join — plus the min-cost kernel
pre-aggregation — runs with ZERO Exchange on the edge side: the
bucketed scan already reports hash-partitioning on ``src``, so only
the small frontier shuffles each superstep. Plan pinned by
``tests/test_io.py::test_bsp_superstep_bucketed_edges_no_shuffle``;
measured delta in KERNEL_BENCH.md §BSP. An unbucketed table works too
(AQE plans the joins normally) — bucketing is the paid-once-shuffle
option, not a requirement.

Every public kernel takes ``stats: dict | None``: when passed, the
kernel records ``stats["supersteps"]`` — the superstep count IS the
latency floor past broadcast scale (one scheduled join round per
frontier hop), so benches report it next to wall time.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_foundation_spark._local import local_df

# Single-source broadcast-superstep gates (KERNEL_BENCH §r8, §r9).
_BROADCAST_FRONTIER_ROWS = 65_536
_BROADCAST_CANDIDATE_ROWS = 65_536


def _checkpoint_union_state(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` for the anti-join ∪ union state
    frames, with constraint propagation disabled for the call: Spark
    4.1's ``UnionBase.rewriteConstraints`` can lose an attribute of
    exactly this plan shape (``NoSuchElementException: key not found:
    node#N`` inside ``LogicalRDD.fromDataset`` → constraint rewrite) —
    the same optimizer-fragility family as the nullable=True notes on
    the state schemas below, first hit at 1M-edge scale by
    tools/bsp_bench.py's Yen run. Constraints only feed optional
    filter inference, and the frame is being materialized to an RDD
    scan here anyway, so skipping their computation is free.

    CONCURRENCY CONTRACT: the toggle is session-global for the few ms
    the checkpoint takes — a query planned CONCURRENTLY on the same
    SparkSession (another driver thread, a streaming foreachBatch)
    would be optimized without constraint propagation in that window
    (losing optional inferred filters, never correctness), and nested
    calls on one thread could restore the inner override. The BSP
    kernels are driver-side loops on one thread and never nest this
    call, so the assumption holds here; run BSP queries on their own
    session (``SparkSession.newSession()`` shares the JVM but isolates
    conf) if you need concurrent planning guarantees."""
    spark = df.sparkSession
    key = "spark.sql.constraintPropagation.enabled"
    try:
        old = spark.conf.get(key)
    except Exception:  # noqa: BLE001
        old = "true"
    spark.conf.set(key, "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set(key, old)


def _checkpoint_count(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` as a local checkpoint, and its row count, from one pass:
    the lazy checkpoint materialises while the count job scans it. An
    eager checkpoint followed by ``count()`` reads the rows again, and
    under AQE that count is two more jobs (a shuffle-map job for the
    global count, then its result job) every superstep."""
    df = df.localCheckpoint(eager=False)
    return df, df._jdf.queryExecution().toRdd().count()


def _width(spark: SparkSession, rows: int) -> int:
    """Partitions for ``rows`` rows: ~128k per partition, floor 8,
    capped at the session's shuffle width. Measured 710 → 456
    ms/superstep on the 520×520 grid from the task-count cut alone
    (KERNEL_BENCH §r8)."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return min(shuffle, max(8, rows // 131_072))


def _relax(
    spark: SparkSession,
    seed: list,
    schema: T.StructType,
    key: list[str],
    expand,
    max_supersteps: int,
    max_degree: int = 0,
    on_improved=None,
) -> tuple[DataFrame, int]:
    """The keyed relaxation loop; returns ``(state, supersteps)``.

    ``seed`` rows (of ``schema``: the ``key`` columns, ``dist``, then
    the payload columns) are the first frontier. ``expand(f)`` maps
    the frontier, aliased ``f`` (and broadcast-hinted on a broadcast
    superstep), to candidate rows carrying at least the schema's
    columns; extra columns are dropped by the per-key minimum.
    ``on_improved(improved)`` sees each non-empty improvement frame,
    e.g. to tighten the caller's target bound. ``max_degree > 0``
    turns on the adaptive broadcast supersteps (module docstring);
    0 keeps every superstep on the shuffle shapes."""
    payload = [c for c in schema.fieldNames() if c not in key and c != "dist"]
    carried = ["dist", *payload]
    state = local_df(spark, seed, schema).localCheckpoint(eager=True)
    frontier = base = state
    pending: list[DataFrame] = []
    n_frontier = settled = len(seed)
    small = max_degree > 0 and n_frontier <= _BROADCAST_FRONTIER_ROWS
    dirty = False
    step = 0
    for step in range(1, max_supersteps + 1):
        f = frontier.alias("f")
        cand = expand(F.broadcast(f) if small else f)
        if payload:
            best_cand = (
                cand.groupBy(*key)
                .agg(F.min(F.struct(*carried)).alias("m"))
                .select(*key, *[F.col(f"m.{c}").alias(c) for c in carried])
            )
        else:
            best_cand = cand.groupBy(*key).agg(F.min("dist").alias("dist"))
        if small and n_frontier * max_degree <= _BROADCAST_CANDIDATE_ROWS:
            # Two-join EXISTS decomposition, both joins build-right
            # broadcasts of the small candidate side while the state
            # only streams: `defeated` = candidate keys a known row
            # already reaches at <= dist, `improved` = the rest. EXISTS
            # is order-insensitive across state versions, so it reads
            # the settled base checkpoint ∪ the frontiers pending
            # since, never replaying the state lineage between flattens.
            best_cand = best_cand.coalesce(1).localCheckpoint(eager=True)
            known = base.select(*key, "dist")
            for p in pending:
                known = known.unionByName(p.select(*key, "dist"))
            defeated = (
                known.alias("s")
                .join(F.broadcast(best_cand.alias("c")), key, "inner")
                .filter(F.col("s.dist") <= F.col("c.dist"))
                .select(*key)
            )
            improved = best_cand.join(F.broadcast(defeated), key, "left_anti")
        else:
            improved = (
                best_cand.alias("c")
                .join(state.alias("s"), key, "left")
                .filter(F.col("s.dist").isNull() | (F.col("c.dist") < F.col("s.dist")))
                .select(*key, *[F.col(f"c.{c}").alias(c) for c in carried])
            )
        improved, n_frontier = _checkpoint_count(improved)
        if n_frontier:
            small = max_degree > 0 and n_frontier <= _BROADCAST_FRONTIER_ROWS
            settled += n_frontier
            merged = F.broadcast(improved) if small else improved
            state = state.join(merged, key, "left_anti").unionByName(improved)
            dirty = True
        if dirty and (n_frontier == 0 or step % 8 == 0 or step == max_supersteps):
            # coalesce (narrow) before materializing: a broadcast
            # anti-join passes partitions through, so each union would
            # otherwise add partitions to the state forever.
            state = _checkpoint_union_state(state.coalesce(_width(spark, settled)))
            base, pending, dirty = state, [], False
        elif n_frontier:
            pending.append(improved)
        if n_frontier == 0:
            break
        frontier = improved
        if on_improved is not None:
            on_improved(improved)
    return state, step


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("node", T.StringType(), False),
        T.StructField("dist", T.DoubleType(), False),
        T.StructField("path", T.ArrayType(T.StringType()), False),
    ]
)

_PARENT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("node", T.StringType(), False),
        T.StructField("dist", T.DoubleType(), False),
        T.StructField("parent", T.StringType(), False),
    ]
)


def reconstruct_paths(state: DataFrame, targets: list[str]) -> dict[str, list[str]]:
    """Recover full paths for ``targets`` from a ``carry_paths=False``
    ``bsp_sssp`` result by walking the parent forest (the source is its
    own parent, terminating the walk).

    The forest is collected as TWO narrow string columns, one row per
    reachable node — at the 270k-node grid that is a few MB, and the
    walk is O(Σ path length) dict hops. For graphs whose reachable set
    cannot be collected, keep the forest in parquet and batch-walk it
    with iterative joins instead; this helper serves the
    few-targets-after-one-SSSP shape the path family actually uses
    (p2p, Yen spurs), where |targets| ≪ |V|."""
    parent = {r["node"]: r["parent"] for r in state.select("node", "parent").collect()}
    out: dict[str, list[str]] = {}
    for t in targets:
        if t not in parent:
            continue
        chain = [t]
        while parent[chain[-1]] != chain[-1]:
            chain.append(parent[chain[-1]])
        out[t] = chain[::-1]
    return out


def bsp_sssp(
    spark: SparkSession,
    roads: DataFrame,
    source: str,
    target: str | None = None,
    nodes: DataFrame | None = None,
    use_heuristic: bool = False,
    max_supersteps: int = 10_000,
    stats: dict | None = None,
    carry_paths: bool = True,
) -> DataFrame:
    """Single-source shortest distances (and paths) by BSP relaxation.

    Returns a DataFrame ``(node, dist, path)`` with one row per
    reachable node (all nodes for SSSP; pruned search space when
    ``target`` is given). ``use_heuristic`` additionally prunes by the
    admissible Euclidean heuristic (requires ``nodes`` with
    XCoord/YCoord) — the A* variant.

    ``carry_paths=False`` switches the state row from ``(node, dist,
    path array)`` to constant-width ``(node, dist, parent)`` — the
    scale fix for the measured ceiling of the path-carrying design
    (KERNEL_BENCH §BSP: on a 270k-node grid the average accepted path
    is ~500 hops, so checkpoint-rewriting path arrays dominates the
    superstep at ~2s; parent rows keep it near the small-graph floor).
    Distances are bit-identical either way; full paths are recovered
    on demand with :func:`reconstruct_paths` from the parent forest.
    ``paths.sssp`` runs this way: it returns distances only.

    The edge projection is cached hash-partitioned on ``src`` at the
    adaptive width, so every superstep's frontier ⋈ edges join reuses
    the in-memory partitioning (zero edge-side Exchange, the property
    a src-bucketed table gives, paid once here for any input). This is
    the one caller with the adaptive broadcast supersteps: its
    candidate fan-out is degree-bounded, and high-diameter runs spend
    most supersteps on small frontiers (KERNEL_BENCH §r9: 698 → 521 s
    on the 520×520 grid, bit-exact).
    """
    # Kernel projection: min-cost per (src, dst) — the analog of GDS's
    # relationshipProjection (neo4j-code.txt:3–15).
    edges = roads.groupBy("src", "dst").agg(F.min("cost").alias("cost"))
    if use_heuristic:
        if nodes is None or target is None:
            raise ValueError("A* pruning needs `nodes` coordinates and a target")
        trow = nodes.filter(F.col("NodeId") == target).select("XCoord", "YCoord").head()
        if trow is None:
            raise ValueError(f"target node {target!r} not found")
        tx, ty = float(trow[0]), float(trow[1])
        # h(dst) attached to every edge once, JVM-side arithmetic only.
        edges = edges.join(
            F.broadcast(nodes.select(F.col("NodeId").alias("dst"), "XCoord", "YCoord")), "dst"
        ).withColumn(
            "h",
            F.sqrt(
                (F.col("XCoord") - F.lit(tx)) ** 2 + (F.col("YCoord") - F.lit(ty)) ** 2
            ),
        ).select("src", "dst", "cost", "h")
    else:
        edges = edges.withColumn("h", F.lit(0.0))
    edges = edges.repartition(_width(spark, roads.count()), "src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    edges.count()  # materialize the projection once
    # One degree pass bounds every superstep's candidate set at
    # |frontier| × max-out-degree before its join runs, so a hub
    # fan-out never broadcasts a megabyte build side.
    max_deg = edges.groupBy("src").count().agg(F.max("count")).head()[0] or 1

    carried = (
        F.concat(F.col("f.path"), F.array(F.col("e.dst"))).alias("path")
        if carry_paths
        else F.col("f.node").alias("parent")
    )
    best_target = float("inf")

    def expand(f: DataFrame) -> DataFrame:
        cand = f.join(edges.alias("e"), F.col("f.node") == F.col("e.src")).select(
            F.col("e.dst").alias("node"),
            (F.col("f.dist") + F.col("e.cost")).alias("dist"),
            carried,
            F.col("e.h").alias("h"),
        )
        if best_target < float("inf"):
            cand = cand.filter(F.col("dist") + F.col("h") < F.lit(best_target))
        return cand

    def on_improved(improved: DataFrame) -> None:
        nonlocal best_target
        trow = improved.filter(F.col("node") == target).select("dist").head()
        if trow is not None:
            best_target = min(best_target, float(trow[0]))

    if carry_paths:
        seed, schema = [(source, 0.0, [source])], _STATE_SCHEMA
    else:
        seed, schema = [(source, 0.0, source)], _PARENT_STATE_SCHEMA
    state, step = _relax(
        spark, seed, schema, ["node"], expand, max_supersteps, max_deg,
        on_improved if target is not None else None,
    )
    edges.unpersist()
    if stats is not None:
        stats["supersteps"] = step
    return state


# NOTE nullable=True throughout: declaring these non-nullable trips a
# Spark 4.1 optimizer NoSuchElementException ("key not found: source#N")
# when the anti-join ∪ union state plan is localCheckpoint'd — the
# nullability-propagation rule loses the attribute. Values are never
# actually null.
_MULTI_STATE_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), True),
        T.StructField("node", T.StringType(), True),
        T.StructField("dist", T.DoubleType(), True),
    ]
)


def bsp_multi_sssp(
    spark: SparkSession,
    roads: DataFrame,
    sources: list[str],
    max_supersteps: int = 10_000,
    edges_pre_aggregated: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Distance-only SSSP from MANY sources in one BSP run: state is
    ``(source, node, dist)`` keyed by (source, node), so every
    superstep relaxes all sources' frontiers in the same join — the
    wave-batched G3 kernel for graphs past the broadcast limit. Memory
    per wave is |sources| × |reachable| rows, which the caller bounds
    by batching sources into waves (SURVEY.md §4.3 hard-part 5).

    Paths are not carried (the APSP post-pipeline needs distances
    only), so the shuffled state row is 3 narrow columns.

    ``edges_pre_aggregated`` lets the caller pass an already-cached
    min-cost (src, dst, cost) projection shared across waves.

    Every superstep takes the shuffle shapes (module docstring: the
    broadcast supersteps lose on multi-source expander waves).
    """
    if edges_pre_aggregated is not None:
        edges = edges_pre_aggregated
    else:
        # FULL shuffle width here, unlike bsp_sssp's adaptive floor-8
        # projection: multi-source waves run WIDE frontiers (|sources| ×
        # wavefront — the whole point is batching), so the per-superstep
        # join is compute-bound and wants every core; the narrow
        # projection was measured 34% SLOWER on the 64-source 1M-edge
        # wave (254 vs 190 s).
        edges = (
            roads.groupBy("src", "dst")
            .agg(F.min("cost").alias("cost"))
            .repartition("src")
            .cache()
        )
        edges.count()

    def expand(f: DataFrame) -> DataFrame:
        return f.join(edges.alias("e"), F.col("f.node") == F.col("e.src")).select(
            F.col("f.source").alias("source"),
            F.col("e.dst").alias("node"),
            (F.col("f.dist") + F.col("e.cost")).alias("dist"),
        )

    state, step = _relax(
        spark,
        [(s, s, 0.0) for s in sources],
        _MULTI_STATE_SCHEMA,
        ["source", "node"],
        expand,
        max_supersteps,
    )
    if edges_pre_aggregated is None:
        edges.unpersist()
    if stats is not None:
        stats["supersteps"] = step
    return state


# Probe state for BSP Yen: one row per (probe, node) with the best
# known spur path. nullable=True for the same Spark 4.1 optimizer
# reason as _MULTI_STATE_SCHEMA above.
_PROBE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType(), True),
        T.StructField("node", T.StringType(), True),
        T.StructField("dist", T.DoubleType(), True),
        T.StructField("path", T.ArrayType(T.StringType()), True),
        T.StructField("cpath", T.ArrayType(T.DoubleType()), True),
        T.StructField("epath", T.ArrayType(T.LongType()), True),
    ]
)

_MASK_E_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType(), True),
        T.StructField("eid", T.LongType(), True),
    ]
)

_MASK_N_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType(), True),
        T.StructField("node", T.StringType(), True),
    ]
)

_BOUND_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType(), True),
        T.StructField("_bt", T.DoubleType(), True),
    ]
)


def _edges_with_identity(roads: DataFrame) -> DataFrame:
    """(src, dst, cost, eid): the multigraph with a stable 64-bit edge
    identity. The ingest's quadruple dedup (operator I6) makes
    (src, dst, road_id, cost) unique per edge, so hashing the available
    identity columns gives a deterministic per-edge key — Yen's edge
    masking needs identity, not endpoints, so parallel edges stay
    individually maskable (same contract as the broadcast kernel's CSR
    edge index). Rows identical on EVERY identity column hash alike
    and are treated as one edge — exactly the duplicates operator I6
    removes at ingest, so engine-built tables never hit it. NO
    min-cost pre-aggregation here: masking the cheapest parallel edge
    must expose the next-cheapest one, so the per-superstep groupBy
    does the reduction after masks apply."""
    id_cols = [c for c in ("src", "dst", "road_id", "cost") if c in roads.columns]
    return roads.select(
        "src", "dst", "cost", F.xxhash64(*[F.col(c) for c in id_cols]).alias("eid")
    )


def _bsp_probe_wave(
    spark: SparkSession,
    e: DataFrame,
    h: DataFrame | None,
    probes: list[tuple[int, str, frozenset, frozenset]],
    target: str,
    max_supersteps: int,
    stats: dict | None = None,
) -> dict[int, tuple[list[str], list[float], list[int], float]]:
    """Run one wave of masked point-to-point probes as a SINGLE
    probe-keyed BSP relaxation. ``probes`` is (pid, spur_node,
    masked_eids, masked_nodes); returns pid → (node path, hop costs,
    edge ids, spur dist) for probes that reached ``target``.

    Pruning (both exact, so results match the unmasked-lower-bound
    contract of the broadcast spur search):

    * candidates inner-join the reverse-distance table ``h`` — a node
      that cannot reach the target in the UNMASKED graph can never lie
      on a spur path (masks only remove edges), so the search space is
      pre-restricted to target-reaching nodes;
    * ``dist + h(node) >= best known target dist for the probe`` drops
      the candidate (admissible bound ⇒ cannot improve).

    ``h=None`` runs the wave UNPRUNED (exact, every reachable node
    relaxed) — the first Yen probe uses this so it can run
    concurrently with the reverse BSP that computes ``h`` (r7: the two
    are independent, and overlapping them removes one of the
    sequential BSP latencies that floor Yen's wall time).

    One Bellman-Ford hop per superstep: two hops per materialization
    halved the superstep count but raised wall time (211 → 241 s at
    1M edges, KERNEL_BENCH §BSP r7) — these waves are compute-bound.
    """
    mask_e = F.broadcast(
        local_df(
            spark,
            [(pid, int(eid)) for pid, _s, me, _mn in probes for eid in me],
            _MASK_E_SCHEMA,
        )
    )
    mask_n = F.broadcast(
        local_df(
            spark, [(pid, n) for pid, _s, _me, mn in probes for n in mn], _MASK_N_SCHEMA
        )
    )
    best: dict[int, float] = {}

    def expand(f: DataFrame) -> DataFrame:
        cand = (
            f.join(e.alias("e"), F.col("f.node") == F.col("e.src"))
            .join(
                mask_e.alias("me"),
                (F.col("f.pid") == F.col("me.pid")) & (F.col("e.eid") == F.col("me.eid")),
                "left_anti",
            )
            .join(
                mask_n.alias("mn"),
                (F.col("f.pid") == F.col("mn.pid")) & (F.col("e.dst") == F.col("mn.node")),
                "left_anti",
            )
        )
        if h is not None:
            # inner join: restrict to nodes with a finite unmasked
            # reverse distance (h also feeds the bound prune below).
            cand = cand.join(h.alias("h"), F.col("e.dst") == F.col("h.node"))
        cand = cand.select(
            F.col("f.pid").alias("pid"),
            F.col("e.dst").alias("node"),
            (F.col("f.dist") + F.col("e.cost")).alias("dist"),
            F.concat(F.col("f.path"), F.array(F.col("e.dst"))).alias("path"),
            F.concat(F.col("f.cpath"), F.array(F.col("e.cost"))).alias("cpath"),
            F.concat(F.col("f.epath"), F.array(F.col("e.eid"))).alias("epath"),
            (F.col("h._h") if h is not None else F.lit(0.0)).alias("_h"),
        )
        if best:
            bt = F.broadcast(local_df(spark, list(best.items()), _BOUND_SCHEMA))
            cand = cand.join(bt, "pid", "left").filter(
                F.col("_bt").isNull() | (F.col("dist") + F.col("_h") < F.col("_bt"))
            )
        return cand

    def on_improved(improved: DataFrame) -> None:
        for r in improved.filter(F.col("node") == target).select("pid", "dist").collect():
            pid, d = int(r[0]), float(r[1])
            if d < best.get(pid, float("inf")):
                best[pid] = d

    state, step = _relax(
        spark,
        [(pid, spur, 0.0, [spur], [], []) for pid, spur, _me, _mn in probes],
        _PROBE_STATE_SCHEMA,
        ["pid", "node"],
        expand,
        max_supersteps,
        on_improved=on_improved,
    )
    if stats is not None:
        stats["supersteps"] = stats.get("supersteps", 0) + step
        stats["waves"] = stats.get("waves", 0) + 1
        stats["probes"] = stats.get("probes", 0) + len(probes)
    out: dict[int, tuple[list[str], list[float], list[int], float]] = {}
    for r in state.filter(F.col("node") == target).collect():
        out[int(r["pid"])] = (
            list(r["path"]),
            [float(c) for c in r["cpath"]],
            [int(x) for x in r["epath"]],
            float(r["dist"]),
        )
    return out


def bsp_yens_k(
    spark: SparkSession,
    roads: DataFrame,
    source: str,
    target: str,
    k: int = 3,
    max_supersteps: int = 10_000,
    probes_per_wave: int = 64,
    stats: dict | None = None,
) -> list[tuple[list[str], list[float], float]]:
    """Yen's K loopless shortest paths for graphs past the broadcast
    limit (G5 at BSP scale). Same semantics as the broadcast
    ``paths.yens_k`` — k paths ordered by total cost with the broadcast
    kernel's tie-breaks, path #0 = Dijkstra's, multigraph edge identity
    respected — but no per-node structure ever materializes on the
    driver beyond the k result paths themselves.

    Execution: Yen is sequential in k, but each iteration's ~|path|
    masked spur probes are independent, so they run as ONE probe-keyed
    BSP relaxation per wave (``probes_per_wave`` bounds distributed
    state at |wave| × |target-reaching nodes| rows). One reverse BSP
    SSSP from the target, computed once, serves as the exact admissible
    heuristic for every probe (the BSP analog of the broadcast path's
    reverse-distance landmark). Total cost ≈ (1 + k·ceil(|path| /
    probes_per_wave)) BSP runs — honest but latency-heavy, which is why
    ``auto`` only dispatches here past BROADCAST_EDGE_LIMIT.

    Returns [(node path, hop costs, total cost)] — driver-sized.
    """
    # src-partitioned cache: every probe superstep's frontier ⋈ e join
    # reuses the in-memory partitioning — zero edge-side Exchange (r7)
    e = _edges_with_identity(roads).repartition("src").cache()
    e.count()
    try:
        # The reverse-distance BSP (admissible heuristic for every
        # later wave) and the FIRST forward probe are independent —
        # run them as two concurrent driver threads on the shared
        # session (r7: removes one full sequential BSP latency; Spark
        # job submission is thread-safe). The first probe runs with
        # h=None (unpruned, exact); every later wave gets the finished
        # h. Constraint propagation is pre-disabled for the whole
        # concurrent window so the per-checkpoint toggles inside both
        # loops are idempotent writes of the same value (the
        # single-threaded assumption _checkpoint_union_state documents
        # would otherwise race).
        from concurrent.futures import ThreadPoolExecutor

        _cp_key = "spark.sql.constraintPropagation.enabled"
        try:
            _cp_old = spark.conf.get(_cp_key)
        except Exception:  # noqa: BLE001
            _cp_old = "true"
        spark.conf.set(_cp_key, "false")

        def _mk_h():
            rev = e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "cost"
            )
            hh = (
                bsp_multi_sssp(spark, rev, [target], max_supersteps=max_supersteps)
                .select("node", F.col("dist").alias("_h"))
                .repartition("node")  # candidate ⋈ h joins reuse this
                .cache()
            )
            hh.count()
            return hh

        try:
            with ThreadPoolExecutor(max_workers=2) as _ex:
                _fut_h = _ex.submit(_mk_h)
                _fut_first = _ex.submit(
                    _bsp_probe_wave,
                    spark,
                    e,
                    None,
                    [(0, source, frozenset(), frozenset())],
                    target,
                    max_supersteps,
                    stats,
                )
                h = _fut_h.result()
                first = _fut_first.result()
        finally:
            spark.conf.set(_cp_key, _cp_old)
        try:
            if 0 not in first:
                return []
            p0_nodes, p0_costs, p0_eids, _d0 = first[0]
            a_paths: list[tuple[list[str], list[float], list[int]]] = [
                (p0_nodes, p0_costs, p0_eids)
            ]
            seen: set[tuple[int, ...]] = {tuple(p0_eids)}
            import heapq as _hq

            candidates: list[tuple[float, list[str], list[float], list[int], int]] = []
            # Lawler's rule (r7): when the just-accepted path deviated
            # from its parent at spur index d, positions i < d carry
            # masks IDENTICAL to the parent iteration's (the new path's
            # prefix edges were already masked there), so their spur
            # results are already in `seen`/the heap — probe only
            # i >= d. Exact-equivalent output (the skipped probes could
            # only regenerate seen keys), fewer probe rows per wave.
            dev_prev = 0
            while len(a_paths) < k:
                prev_nodes, prev_costs, prev_eids = a_paths[-1]
                probes = []
                for i in range(dev_prev, len(prev_nodes) - 1):
                    root_nodes = prev_nodes[: i + 1]
                    masked_e = frozenset(
                        p_eids[i]
                        for p_nodes, _pc, p_eids in a_paths
                        if p_nodes[: i + 1] == root_nodes and len(p_eids) > i
                    )
                    probes.append(
                        (i, prev_nodes[i], masked_e, frozenset(root_nodes[:-1]))
                    )
                results: dict[int, tuple[list[str], list[float], list[int], float]] = {}
                for lo in range(0, len(probes), probes_per_wave):
                    results.update(
                        _bsp_probe_wave(
                            spark,
                            e,
                            h,
                            probes[lo : lo + probes_per_wave],
                            target,
                            max_supersteps,
                            stats=stats,
                        )
                    )
                for i, (sp_nodes, sp_costs, sp_eids, _sd) in results.items():
                    nodes_i = prev_nodes[:i] + sp_nodes
                    costs_i = prev_costs[:i] + sp_costs
                    eids_i = prev_eids[:i] + sp_eids
                    key = tuple(eids_i)
                    if key in seen:
                        continue
                    seen.add(key)
                    _hq.heappush(
                        candidates, (float(sum(costs_i)), nodes_i, costs_i, eids_i, i)
                    )
                if not candidates:
                    break
                _total, nodes_i, costs_i, eids_i, dev_prev = _hq.heappop(candidates)
                a_paths.append((nodes_i, costs_i, eids_i))
            return [
                (nodes_i, costs_i, float(sum(costs_i)))
                for nodes_i, costs_i, _e2 in a_paths
            ]
        finally:
            h.unpersist()
    finally:
        e.unpersist()
