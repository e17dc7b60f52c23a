"""Distributed BSP shortest-path kernel (whole-frontier relaxation).

The scale path for graphs that do NOT fit in one executor's memory:
state is a DataFrame ``(node, dist, path)`` advanced by joining the
improvement frontier against the edge table each superstep —
effectively delta-stepping where the bucket is "the whole frontier"
(the reference's ``delta`` knob, neo4j-code.txt:51, is a scheduling
detail with no effect on results; SURVEY.md §2.2 G2).

Scale design decisions (SURVEY.md §4.3 hard-parts list):

* **Lineage discipline** — ``localCheckpoint(eager=True)`` on every
  superstep's improvement frontier truncates the iterated-join plan;
  without it the Catalyst plan doubles per iteration.
* **Convergence without extra actions** — the frontier is checkpointed
  then counted; the same materialized result feeds the next join, so
  each superstep is exactly one job.
* **Multigraph handling** — parallel edges are pre-aggregated to
  ``min(cost)`` per (src, dst) *inside the kernel projection only*
  (storage keeps the multigraph, per operator I6): distances are
  unaffected and the join fan-out halves.
* **Goal-directed pruning (A*/early stop)** — candidates with
  ``dist + h(node) >= best-known target distance`` are dropped, the
  BSP analog of A*'s OPEN-list pruning / Dijkstra's settled-target
  early exit. h is a column expression (Euclidean on planar coords),
  evaluated JVM-side.
* **Adaptive broadcast supersteps (r8, shapes corrected r9)** — while
  the frontier is small (its exact size is known: it is last step's
  materialized improvements) and the candidate bound |frontier| ×
  max-out-degree stays under the broadcast budget, every per-superstep
  join pins the small side as a SUPPORTED broadcast build (the r8
  right-outer hint was an unsupported BroadcastHashJoin shape that
  silently planned a both-sides SortMergeJoin; r9 decomposes the
  improvement test into inner-"defeated" + left-anti, both
  build-right). The improvement test reads the settled BASE checkpoint
  plus the pending frontiers directly, so the state lineage is only
  evaluated at its periodic flatten. Single-source defaults the
  threshold ON (high-diameter runs live in the small-frontier regime);
  multi-source defaults it OFF — r9's A/B shows the all-shuffle run
  keeps the state hash-partitioned on the key through localCheckpoint
  and reuses that Exchange every wide superstep, which mixed broadcast
  steps forfeit (243 vs 308 s on the 64-source 1M-edge wave,
  bit-exact; KERNEL_BENCH §r9). Partition width tracks
  ~128k rows/partition with a floor of 8 — small-frontier supersteps
  are task-scheduling bound, not data bound.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_foundation_spark._local import local_df


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
    checkpoint_state_every: int = 8,
    stats: dict | None = None,
    carry_paths: bool = True,
    broadcast_frontier_rows: int = 65_536,
    broadcast_candidate_rows: int = 65_536,
    prune_edge_probe: int = 0,
    edge_storage_level: str = "MEMORY_AND_DISK",
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

    ADAPTIVE BROADCAST SUPERSTEPS (r8, corrected r9 — the r8 "flipped
    right-outer broadcast" was an unsupported BroadcastHashJoin shape
    that silently fell back to a SortMergeJoin exchanging both sides;
    advisor finding, fixed this round). While the frontier holds ≤
    ``broadcast_frontier_rows`` rows (known exactly — it is last
    step's materialized ``improved``) AND the candidate bound
    |frontier| × max-out-degree stays ≤ ``broadcast_candidate_rows``
    (the per-THIS-step gate: the improvement join's build side is the
    candidate set, which a hub fan-out can multiply far past the
    frontier size), the superstep runs only SUPPORTED broadcast
    builds: frontier → edges (hash probe of the cached edge scan — no
    edge-side sort or frontier Exchange), then the improvement test as
    a two-join EXISTS decomposition — ``defeated`` = candidate nodes
    already reached at ≤ dist by a settled-base ∪ pending-frontier
    row (inner join, candidates broadcast), ``improved`` = candidates
    left-anti ``defeated`` (both build-right shapes BroadcastHashJoin
    actually supports) — and improvements → state anti-join (broadcast
    build-right, supported). The settled base is the last periodic
    state checkpoint and ``pending`` the tiny frontiers since, so the
    per-superstep anti∪union state LINEAGE is evaluated only at its
    every-``checkpoint_state_every`` flatten, never replayed inside a
    superstep. The improvement frontier also coalesces to ONE
    partition before its checkpoint — a wavefront of a few thousand
    rows does not want 32 scheduled tasks. Distances are BIT-IDENTICAL
    (same per-row arithmetic, same min-struct merge; EXISTS-defeat is
    order-insensitive across state versions). Frontiers or candidate
    bounds past their thresholds — the expander regime, where
    broadcasting would collect megabytes to the driver — fall back to
    the r7 shuffle shapes for exactly that superstep; the gates are
    per-step, so one wide wave does not pin the whole run to shuffle
    plans. Measured deltas: KERNEL_BENCH §BSP r9 row.

    FRONTIER-PRUNED EDGE PROBE (``prune_edge_probe`` > 0, r9): while
    the frontier holds at most that many rows (and no A* heuristic is
    attached), candidate generation re-reads the ORIGINAL ``roads``
    input with a literal ``src IN (frontier ids)`` filter instead of
    probing the full cached projection — on a src-bucketed table the
    scan prunes whole bucket files, on plain parquet the IN predicate
    prunes row groups, so the probe cost tracks |frontier| rather than
    |E|. This is the only probe shape that survives past
    cache-resident edge counts (a 25B-edge table cannot be scanned
    per superstep) — and it is ONLY for that regime: below it, the
    per-superstep plan/scan/re-aggregate overhead loses to the cached
    in-memory probe decisively (measured 521 → 1688 s on the 520×520
    grid, KERNEL_BENCH §r9 — which is why the default is 0/off).
    The beyond-cache side of the crossover is now MEASURED too
    (r10, KERNEL_BENCH §r10, where the result of the since-removed
    A/B script is recorded — the r9 verdict's "validate or retire"
    ask): with the edge projection DISK_ONLY (what
    MEMORY_AND_DISK degrades to past memory scale) on a 5M-edge table
    whose wavefront touches a 3.6k-node lattice, the pruned probe wins
    0.57× (95.5 → 54.5 s over 119 supersteps, bit-equal) — the full
    probe's per-superstep cost grows with |E| (0.56 → 0.80 s/step from
    1M → 5M edges) while the pruned probe stays flat (~0.46 s/step).
    KERNEL_BENCH §r10. Results are identical either way (same
    (src, dst, min-cost) rows reach the same join; pinned by
    test_bsp_pruned_edge_probe_equivalence).
    """
    # Kernel projection: min-cost per (src, dst). Column-pruned and
    # cached — the analog of GDS's relationshipProjection
    # (neo4j-code.txt:3–15).
    edges = (
        roads.groupBy("src", "dst").agg(F.min("cost").alias("cost"))
    )
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
    # r7: cache the projection HASH-PARTITIONED ON src — every
    # superstep's frontier ⋈ edges join then reuses the in-memory
    # partitioning (zero Exchange on the edge side, only the small
    # frontier shuffles), the same property the src-bucketed table
    # gives (+17% measured, KERNEL_BENCH §BSP) but paid once here for
    # ANY input. The groupBy above leaves (src, dst) partitioning,
    # which a join on src alone cannot reuse.
    # Adaptive width (r8, measured on the 520×520 grid: 710 → 456
    # ms/superstep): small-frontier supersteps are TASK-SCHEDULING
    # bound (~70 tasks/job at 32 partitions), so the edge projection
    # and the state coalesce both target ~128k rows/partition with a
    # floor of 8 — at genuinely large inputs the count climbs back to
    # the session's shuffle parallelism.
    _shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    _edge_parts = min(_shuffle_parts, max(8, roads.count() // 131_072))
    # ``edge_storage_level`` (r10): DataFrame.cache() is
    # MEMORY_AND_DISK, which at beyond-memory edge counts silently
    # degrades to disk-resident blocks deserialized per superstep —
    # the regime the frontier-pruned probe exists for. The knob makes
    # that regime explicit (and measurable at test scale: the r10
    # prune A/B persists DISK_ONLY to pay the per-superstep |E|
    # deserialization a 25B-edge projection would).
    from pyspark import StorageLevel

    edges = edges.repartition(_edge_parts, "src").persist(
        getattr(StorageLevel, edge_storage_level)
    )
    edges.count()  # materialize the projection once

    if carry_paths:
        state = local_df(spark, [(source, 0.0, [source])], _STATE_SCHEMA)
    else:
        state = local_df(spark, [(source, 0.0, source)], _PARENT_STATE_SCHEMA)
    state = state.localCheckpoint(eager=True)
    frontier = state
    small = broadcast_frontier_rows >= 1  # the 1-row seed frontier
    n_frontier = 1
    # Per-THIS-step candidate gating (r9): the improvement join's
    # build side is the CANDIDATE set, whose size is bounded by
    # |frontier| × max out-degree — computable before the join from a
    # one-time degree pass, so a hub fan-out can never broadcast a
    # megabyte build side. The frontier gate alone (last step's
    # improved count) under-predicts exactly that fan-out.
    max_deg = 1
    if broadcast_frontier_rows >= 1:
        _d = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_d")).agg(F.max("_d")).head()
        max_deg = int(_d[0]) if _d and _d[0] is not None else 1
    # Settled-base + pending-frontier decomposition (r9): `base` is the
    # last flat checkpoint of the state, `pending` the materialized
    # improvement frontiers since. The broadcast improvement test reads
    # base ∪ pending directly, so the per-superstep state LINEAGE
    # (anti-join ∪ union per step) is only ever evaluated at its
    # periodic checkpoint — not replayed every superstep.
    base, pending = state, []
    _settled = 1
    best_target = float("inf")

    _dirty = False
    step = 0
    for step in range(1, max_supersteps + 1):
        carried = (
            F.concat(F.col("f.path"), F.array(F.col("e.dst"))).alias("path")
            if carry_paths
            else F.col("f.node").alias("parent")
        )
        ccol = "path" if carry_paths else "parent"
        fr = F.broadcast(frontier.alias("f")) if small else frontier.alias("f")
        if not use_heuristic and 0 < n_frontier <= prune_edge_probe:
            # FRONTIER-PRUNED EDGE PROBE (r9 — r8 verdict task 4): read
            # this superstep's out-edges from the ORIGINAL input with a
            # literal ``src IN (frontier)`` filter instead of scanning
            # the full cached projection. On a src-bucketed table Spark
            # prunes whole BUCKET FILES from the scan (and on plain
            # parquet the IN predicate still prunes row groups via
            # min/max stats), so the probe cost tracks the FRONTIER,
            # not |E| — at 25B edges a per-superstep full scan is not
            # viable and this is the shape that survives. Costs one
            # tiny driver collect of the already-materialized frontier
            # ids plus a per-superstep min-cost re-aggregation over the
            # pruned rows (frontier-sized). Results identical: the same
            # (src, dst, min cost) rows reach the same candidate join.
            ids = [r["node"] for r in frontier.select("node").collect()]
            probe = (
                roads.filter(F.col("src").isin(ids))
                .groupBy("src", "dst")
                .agg(F.min("cost").alias("cost"))
                .withColumn("h", F.lit(0.0))
            )
            cand = (
                F.broadcast(frontier.alias("f"))
                .join(probe.alias("e"), F.col("f.node") == F.col("e.src"))
                .select(
                    F.col("e.dst").alias("node"),
                    (F.col("f.dist") + F.col("e.cost")).alias("dist"),
                    carried,
                    F.col("e.h").alias("h"),
                )
            )
        else:
            cand = (
                fr
                .join(edges.alias("e"), F.col("f.node") == F.col("e.src"))
                .select(
                    F.col("e.dst").alias("node"),
                    (F.col("f.dist") + F.col("e.cost")).alias("dist"),
                    carried,
                    F.col("e.h").alias("h"),
                )
            )
        if target is not None and best_target < float("inf"):
            # Goal-directed pruning: a candidate whose admissible lower
            # bound already exceeds the best known target distance can
            # never improve the answer.
            cand = cand.filter(F.col("dist") + F.col("h") < F.lit(best_target))

        best_cand = (
            cand.groupBy("node")
            .agg(F.min(F.struct("dist", ccol)).alias("m"))
            .select("node", F.col("m.dist").alias("dist"), F.col(f"m.{ccol}").alias(ccol))
        )
        if small and n_frontier * max_deg <= broadcast_candidate_rows:
            # Supported broadcast shapes (r9, advisor finding): a
            # BroadcastHashJoin cannot BUILD the right side of a
            # right-outer join, so the r8 "flipped right-outer" hint was
            # inert — Spark logged it unsupported and planned a
            # SortMergeJoin exchanging BOTH sides. Decompose the
            # improvement test into two joins that each broadcast the
            # small candidate side while the big state only STREAMS:
            #   defeated = candidate nodes some known (base ∪ pending)
            #              row already reaches at dist <= cand.dist
            #              (inner join, build-right: supported);
            #   improved = candidates anti-joined against defeated
            #              (left-anti, build-right: supported).
            # EXISTS semantics make base ∪ pending safe without a
            # per-node min merge: if ANY version defeats the candidate,
            # the current (minimal) version does too; new nodes match
            # nothing and survive the anti. best_cand is materialized
            # once so its edge probe is not recomputed by its two
            # consumers.
            best_cand = best_cand.coalesce(1).localCheckpoint(eager=True)
            known = base.select("node", "dist")
            for p in pending:
                known = known.unionByName(p.select("node", "dist"))
            defeated = (
                known.alias("s")
                .join(F.broadcast(best_cand.alias("c")), "node", "inner")
                .filter(F.col("s.dist") <= F.col("c.dist"))
                .select("node")
            )
            improved = (
                best_cand.join(F.broadcast(defeated), "node", "left_anti")
                .localCheckpoint(eager=True)
            )
        else:
            improved = (
                best_cand.alias("c")
                .join(state.alias("s"), "node", "left")
                .filter(F.col("s.dist").isNull() | (F.col("c.dist") < F.col("s.dist")))
                .select("node", F.col("c.dist").alias("dist"), F.col(f"c.{ccol}").alias(ccol))
                .localCheckpoint(eager=True)
            )
        n_improved = improved.count()
        n_frontier = n_improved
        if n_improved == 0:
            break
        small = n_improved <= broadcast_frontier_rows
        _settled += n_improved

        imp = F.broadcast(improved.alias("i")) if small else improved.alias("i")
        state = state.alias("s").join(imp, "node", "left_anti").unionByName(improved)
        _dirty = True
        if step % checkpoint_state_every == 0:
            # coalesce (narrow) before materializing: the broadcast
            # anti-join passes partitions THROUGH, so each union would
            # otherwise add one partition to the state forever (+8 per
            # checkpoint — ~1000 scheduled tasks/superstep by the end
            # of a high-diameter run). Width tracks the settled-row
            # upper bound (~128k rows/partition, floor 8).
            _state_parts = min(_shuffle_parts, max(8, _settled // 131_072))
            state = _checkpoint_union_state(state.coalesce(_state_parts))
            _dirty = False
            base, pending = state, []
        else:
            pending.append(improved)
        frontier = improved

        if target is not None:
            trow = improved.filter(F.col("node") == target).select("dist").head()
            if trow is not None:
                best_target = min(best_target, float(trow[0]))

    edges.unpersist()
    if _dirty:
        state = _checkpoint_union_state(
            state.coalesce(min(_shuffle_parts, max(8, _settled // 131_072)))
        )
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
    checkpoint_state_every: int = 8,
    edges_pre_aggregated: DataFrame | None = None,
    stats: dict | None = None,
    broadcast_frontier_rows: int = 0,
    broadcast_candidate_rows: int = 65_536,
) -> DataFrame:
    """Distance-only SSSP from MANY sources in one BSP run: state is
    ``(source, node, dist)`` keyed by source, so every superstep
    relaxes all sources' frontiers in the same join — the wave-batched
    G3 kernel for graphs past the broadcast limit. Memory per wave is
    |sources| × |reachable| rows, which the caller bounds by batching
    sources into waves (SURVEY.md §4.3 hard-part 5).

    Paths are not carried (the APSP post-pipeline needs distances
    only), so the shuffled state row is 3 narrow columns.

    ``edges_pre_aggregated`` lets the caller pass an already-cached
    min-cost (src, dst, cost) projection shared across waves.

    Supersteps whose combined frontier holds ≤
    ``broadcast_frontier_rows`` rows AND whose candidate bound
    |frontier| × max-out-degree stays ≤ ``broadcast_candidate_rows``
    run the adaptive BROADCAST shapes (see :func:`bsp_sssp` —
    frontier→edges hash probe, two-join EXISTS improvement test,
    broadcast anti-join; distances bit-identical). The DEFAULT here is
    0 (shuffle only), the opposite of ``bsp_sssp`` — and r9's A/B
    shows WHY, beyond r8's late-threshold hypothesis: even with exact
    per-THIS-step candidate gating the adaptive arm loses on the
    64-source 1M-edge expander wave (243 s shuffle-only vs 308 s,
    bit-exact; KERNEL_BENCH §r9).

    MECHANISM CORRECTION (r10): the r9 note attributed the loss to
    "partitioning reuse through localCheckpoint" — plan inspection in
    this Spark build REFUTES that specific attribution: a
    ``localCheckpoint`` taken immediately after ``repartition(P,
    key)`` plans as a bare ``Scan ExistingRDD`` and a later
    equi-join re-adds ``Exchange ENSURE_REQUIREMENTS`` over it, i.e.
    the checkpoint does NOT carry partitioning metadata forward, so
    no logical-level Exchange elision distinguishes the arms. The
    MEASURED result stands; the surviving cost asymmetry is
    mechanical: a broadcast superstep runs TWO extra eager
    materializations (``best_cand.coalesce(1).localCheckpoint`` and
    the defeated/improved pipeline) plus their driver round-trips
    per step, and its 1-partition ``improved`` rows enter the state
    union unpartitioned — while a shuffle superstep is one eager job
    whose SMJ work rides the session's full width. Expander waves
    spend almost all their rows in wide supersteps, so the few cheap
    broadcast steps cannot buy back their fixed overhead. Pass a
    positive threshold only for high-diameter many-source waves whose
    frontiers stay small for MOST of the run (where the single-source
    win profile applies).
    """
    _shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if edges_pre_aggregated is not None:
        edges = edges_pre_aggregated
    else:
        # FULL shuffle width here, unlike bsp_sssp's adaptive floor-8
        # projection: multi-source waves run WIDE frontiers (|sources| ×
        # wavefront — the whole point is batching), so the per-superstep
        # join is compute-bound and wants every core; the narrow
        # projection was measured 34% SLOWER on the 64-source 1M-edge
        # wave (254 vs 190 s) before this revert.
        edges = (
            roads.groupBy("src", "dst")
            .agg(F.min("cost").alias("cost"))
            .repartition("src")
            .cache()
        )
        edges.count()
    e = edges.select(
        F.col("src").alias("_u"), F.col("dst").alias("_v"), F.col("cost").alias("_w")
    )

    state = local_df(
        spark, [(s, s, 0.0) for s in sources], _MULTI_STATE_SCHEMA
    ).localCheckpoint(eager=True)
    frontier = state
    small = len(sources) <= broadcast_frontier_rows
    n_frontier = len(sources)
    # One-time degree bound for the per-THIS-step candidate gate (r9):
    # each frontier row fans out to at most max-out-degree candidates,
    # so |frontier| × max_deg bounds the improvement join's broadcast
    # build side BEFORE the join runs — the fix for the r8 negative
    # result where the frontier-count gate fired one step late on
    # |sources|-multiplied candidate sets.
    max_deg = 1
    if broadcast_frontier_rows >= 1:
        _d = e.groupBy("_u").agg(F.count(F.lit(1)).alias("_d")).agg(F.max("_d")).head()
        max_deg = int(_d[0]) if _d and _d[0] is not None else 1
    base, pending = state, []
    _settled = len(sources)

    _dirty = False
    step = 0
    for step in range(1, max_supersteps + 1):
        fr = F.broadcast(frontier.alias("f")) if small else frontier.alias("f")
        cand = (
            fr
            .join(e.alias("e2"), F.col("f.node") == F.col("e2._u"))
            .select(
                F.col("f.source").alias("source"),
                F.col("e2._v").alias("node"),
                (F.col("f.dist") + F.col("e2._w")).alias("dist"),
            )
        )
        best_cand = cand.groupBy("source", "node").agg(F.min("dist").alias("dist"))
        on = (F.col("c.source") == F.col("s.source")) & (F.col("c.node") == F.col("s.node"))
        sel = (
            F.col("c.source").alias("source"),
            F.col("c.node").alias("node"),
            F.col("c.dist").alias("dist"),
        )
        if small and n_frontier * max_deg <= broadcast_candidate_rows:
            # Supported two-join broadcast decomposition — see bsp_sssp
            # (the r8 right-outer hint was an unsupported build side and
            # fell back to a both-sides SortMergeJoin; advisor finding).
            best_cand = best_cand.coalesce(1).localCheckpoint(eager=True)
            known = base.select("source", "node", "dist")
            for p in pending:
                known = known.unionByName(p.select("source", "node", "dist"))
            defeated = (
                known.alias("s")
                .join(F.broadcast(best_cand.alias("c")), ["source", "node"], "inner")
                .filter(F.col("s.dist") <= F.col("c.dist"))
                .select("source", "node")
            )
            improved = (
                best_cand.join(F.broadcast(defeated), ["source", "node"], "left_anti")
                .localCheckpoint(eager=True)
            )
        else:
            improved = (
                best_cand.alias("c")
                .join(state.alias("s"), on, "left")
                .filter(F.col("s.dist").isNull() | (F.col("c.dist") < F.col("s.dist")))
                .select(*sel)
                .localCheckpoint(eager=True)
            )
        n_improved = improved.count()
        if n_improved == 0:
            break
        small = n_improved <= broadcast_frontier_rows
        n_frontier = n_improved
        _settled += n_improved
        anti = (F.col("s.source") == F.col("i.source")) & (F.col("s.node") == F.col("i.node"))
        imp = F.broadcast(improved.alias("i")) if small else improved.alias("i")
        state = (
            state.alias("s")
            .join(imp, anti, "left_anti")
            .unionByName(improved)
        )
        _dirty = True
        if step % checkpoint_state_every == 0:
            # coalesce before materializing — see bsp_sssp: broadcast
            # anti-joins pass partitions through, so unions would grow
            # the state's partition count forever; width tracks the
            # settled-row upper bound.
            state = _checkpoint_union_state(
                state.coalesce(min(_shuffle_parts, max(8, _settled // 131_072)))
            )
            _dirty = False
            base, pending = state, []
        else:
            pending.append(improved)
        frontier = improved

    if edges_pre_aggregated is None:
        edges.unpersist()
    if _dirty:
        state = _checkpoint_union_state(
            state.coalesce(min(_shuffle_parts, max(8, _settled // 131_072)))
        )
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
    checkpoint_state_every: int = 8,
    stats: dict | None = None,
    hops_per_superstep: int = 1,
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
    state = local_df(
        spark,
        [(pid, spur, 0.0, [spur], [], []) for pid, spur, _me, _mn in probes],
        _PROBE_STATE_SCHEMA,
    ).localCheckpoint(eager=True)
    frontier = state
    best: dict[int, float] = {}
    _dirty = False

    def _relax(fr):
        """One Bellman-Ford hop from frontier ``fr``: masked edge
        expansion + h restriction + bound prune, pre-reduced to the
        best candidate per (pid, node) under the (dist, path...) struct
        order."""
        cand = (
            fr.alias("f")
            .join(e.alias("e"), F.col("f.node") == F.col("e.src"))
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
            bt = F.broadcast(
                local_df(
                    spark,
                    list(best.items()),
                    T.StructType(
                        [
                            T.StructField("pid", T.IntegerType(), True),
                            T.StructField("_bt", T.DoubleType(), True),
                        ]
                    ),
                )
            )
            cand = (
                cand.join(bt, "pid", "left")
                .filter(F.col("_bt").isNull() | (F.col("dist") + F.col("_h") < F.col("_bt")))
                .drop("_bt")
            )
        cand = cand.drop("_h")
        return (
            cand.groupBy("pid", "node")
            .agg(F.min(F.struct("dist", "path", "cpath", "epath")).alias("m"))
            .select(
                "pid",
                "node",
                F.col("m.dist").alias("dist"),
                F.col("m.path").alias("path"),
                F.col("m.cpath").alias("cpath"),
                F.col("m.epath").alias("epath"),
            )
        )

    for step in range(1, max_supersteps + 1):
        # hops_per_superstep Bellman-Ford hops inside ONE scheduled
        # materialization. MEASURED r7 at 1M edges: 2 hops halves the
        # superstep count (73 -> 39 across the Yen waves) but raises
        # wall time (211 -> 241s) - these waves are COMPUTE-bound (a
        # full edge join per hop), so doubling work per materialization
        # buys nothing; the default stays 1. The knob exists for the
        # opposite regime - high-diameter graphs with small frontiers,
        # where the scheduling floor dominates (the 520x520 grid pays
        # 1039 diameter-bound supersteps). Same fixpoint either way
        # (Bellman-Ford is indifferent to how many relaxations happen
        # between materializations); the hop-1 layer rejoins the union
        # so a 1-hop improvement is never lost.
        layers = []
        fr = frontier
        for _hop in range(max(1, int(hops_per_superstep))):
            fr = _relax(fr)
            layers.append(fr)
        if len(layers) > 1:
            multi = layers[0]
            for extra in layers[1:]:
                multi = multi.unionByName(extra)
            best_cand = (
                multi.groupBy("pid", "node")
                .agg(F.min(F.struct("dist", "path", "cpath", "epath")).alias("m"))
                .select(
                    "pid",
                    "node",
                    F.col("m.dist").alias("dist"),
                    F.col("m.path").alias("path"),
                    F.col("m.cpath").alias("cpath"),
                    F.col("m.epath").alias("epath"),
                )
            )
        else:
            best_cand = layers[0]
        on = (F.col("c.pid") == F.col("s.pid")) & (F.col("c.node") == F.col("s.node"))
        improved = (
            best_cand.alias("c")
            .join(state.alias("s"), on, "left")
            .filter(F.col("s.dist").isNull() | (F.col("c.dist") < F.col("s.dist")))
            .select(
                F.col("c.pid").alias("pid"),
                F.col("c.node").alias("node"),
                F.col("c.dist").alias("dist"),
                F.col("c.path").alias("path"),
                F.col("c.cpath").alias("cpath"),
                F.col("c.epath").alias("epath"),
            )
            .localCheckpoint(eager=True)
        )
        if improved.isEmpty():
            break
        for r in improved.filter(F.col("node") == target).select("pid", "dist").collect():
            pid, d = int(r[0]), float(r[1])
            if d < best.get(pid, float("inf")):
                best[pid] = d
        anti = (F.col("s.pid") == F.col("i.pid")) & (F.col("s.node") == F.col("i.node"))
        state = (
            state.alias("s").join(improved.alias("i"), anti, "left_anti").unionByName(improved)
        )
        _dirty = True
        if step % checkpoint_state_every == 0:
            state = _checkpoint_union_state(state)
            _dirty = False
        frontier = improved

    if _dirty:
        state = _checkpoint_union_state(state)
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
                    8,
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
