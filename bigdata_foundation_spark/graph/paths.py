"""Public path-algorithm API (reference operators G1–G5) and the graph
layer's one tier decision.

Every algorithm runs against one projection of the road table, as in
the reference, where a query runs inside one JVM against the in-memory
projection (SURVEY.md §3.2 step 3, §4.2). Where that projection lives
is the tier:

* ``broadcast`` — the projection (min ~16 B/edge) fits in one
  process's memory, so it is collected once to the driver. Every
  single-call kernel runs right there, in the calling process, with no
  Spark job: the point queries (Dijkstra, bidirectional Dijkstra, A*,
  Yen) and the |V|- or |E|-row ones (SSSP, the `etl.py` analytics),
  whose rows reach Spark as one Arrow table. Only the multi-source
  fan-outs (APSP, the sampled centralities) run in executor tasks,
  against a broadcast of the projection.
* ``file`` — SSSP and APSP only: the CSR is spilled to files that each
  executor task mmap-loads, so the resident cost is one page-cache
  copy per host instead of one pickle per worker process.
* ``bsp`` — the graph is too big for either: distributed supersteps
  (`bsp.py`, or the superstep loops in `etl.py`).

:func:`_tier` is the one decision for every strategy-taking function
here and in `etl.py`; :func:`_run_kernel` is the one way a kernel's
rows become a DataFrame. The resolver's contract: ``strategy`` must be
``auto`` or a tier the function implements, else ``ValueError`` before
any dispatch; an explicit tier wins (``bsp`` with a projection warns
that the projection is unused); ``auto`` with a projection is
``broadcast``; ``auto`` without one picks by edge count
(`BROADCAST_EDGE_LIMIT`, then `FILE_KERNEL_EDGE_LIMIT`).

Output shapes replicate the reference's YIELD streams:
G1/G4 stream one row per path node with *cumulative* cost in path
order (MAIN:310–326); G5 yields (index, nodeIds, costs, totalCost)
(neo4j-code.txt:127–145); G3 applies the finite / self-pair / 3-key
top-k post-pipeline (neo4j-code.txt:56–77).
"""

from __future__ import annotations

import warnings
import weakref
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_foundation_spark._local import local_df
from bigdata_foundation_spark.graph import bsp as _bsp
from bigdata_foundation_spark.graph import kernel as _k

# Broadcast-projection ceiling. Cost model (measured, see
# tests/test_paths.py::test_projection_million_edges_compact):
# the driver holds the numpy CSR at ~16 B/edge (int32 neighbor +
# float64 weight + int32 edge-id) plus ~60 B/node for the string id
# list/index — 25M edges ≈ 400 MB arrays + id overhead, comfortably
# inside a 4 GB driver. The list-view kernel working set (~90 B/edge,
# Projection.hot()) is paid once in the driver's Python process, where
# every single-call kernel runs (≈ 2.3 GB at the limit, on top of the
# numpy CSR). A |V|- or |E|-row result (SSSP, the analytics) then sits
# in the driver JVM as a local relation, no larger than the id list and
# CSR already held there. Only the APSP and centrality fan-outs ship a
# broadcast pickle, and pay the working set again, in each executor
# Python worker that serves one of their tasks — the realistic
# per-process ceiling. Past this, paths.py dispatches to the BSP
# kernels instead.
BROADCAST_EDGE_LIMIT = 25_000_000

# Ceiling of the r12 file-spilled kernel tier (apsp_topk strategy
# 'file'): the CSR arrays are mmap-loaded from shared storage and the
# pages are shared host-wide through the page cache, so the per-HOST
# resident cost is ONE ~16 B/edge copy instead of broadcast's
# per-worker-PROCESS pickles — 500M edges ≈ 8 GB of shared pages, a
# mid-size executor host. Past this the superstep BSP tier is
# terminal (KERNEL_BENCH §r12 records both crossover sides).
FILE_KERNEL_EDGE_LIMIT = 500_000_000

_PATH_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("NodeId", T.StringType(), False),
        T.StructField("cost", T.DoubleType(), False),
    ]
)

_SSSP_SCHEMA = T.StructType(
    [
        T.StructField("NodeId", T.StringType(), False),
        T.StructField("distance", T.DoubleType(), False),
    ]
)

_YENS_SCHEMA = T.StructType(
    [
        T.StructField("index", T.IntegerType(), False),
        T.StructField("nodeIds", T.ArrayType(T.StringType()), False),
        T.StructField("costs", T.ArrayType(T.DoubleType()), False),
        T.StructField("totalCost", T.DoubleType(), False),
    ]
)

_APSP_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("target", T.StringType(), False),
        T.StructField("distance", T.DoubleType(), False),
    ]
)


# auto-strategy edge counts, memoized per roads-plan: counting a 100k-
# row frame is cheap but it is one whole extra job per query — repeated
# point queries against the same roads table shouldn't re-pay it.
# CONTRACT: the memo assumes a plan's cardinality is stable for the
# session (true for immutable snapshots; a source that grows in place
# mid-session should pass an explicit strategy).
# Bounded so a plan-churning session can't grow it without limit.
_COUNT_MEMO: dict[str, int] = {}
_COUNT_MEMO_MAX = 256


def _resolve_edge_count(roads: DataFrame) -> int:
    """Edge count for auto-strategy dispatch, memoized on the logical
    plan (see _COUNT_MEMO contract above)."""
    try:
        key = roads._jdf.queryExecution().logical().semanticHash()
        key = f"{roads.sparkSession.sparkContext.applicationId}:{key}"
    except Exception:
        # semanticHash is a stable but semi-internal JVM surface;
        # if it's ever unavailable, fall back to counting each time
        # rather than failing the query.
        key = None
    edge_count = _COUNT_MEMO.get(key) if key is not None else None
    if edge_count is None:
        edge_count = roads.count()
        if key is not None:
            if len(_COUNT_MEMO) >= _COUNT_MEMO_MAX:
                _COUNT_MEMO.clear()
            _COUNT_MEMO[key] = edge_count
    return edge_count


def build_projection(roads: DataFrame, nodes: DataFrame | None = None) -> _k.Projection:
    """Collect the column-pruned edge projection for broadcast use —
    the analog of GDS's graph projection load (neo4j-code.txt:3–15).
    Only (src, dst, cost) [+ coords for A*] leave the executors, and
    they arrive as Arrow columns feeding the vectorized CSR build
    (`Projection.from_columns`): at no point does the driver hold
    per-edge Python Rows/tuples, so the resident cost is the ~16 B/edge
    numpy form that BROADCAST_EDGE_LIMIT is sized against."""
    tbl = roads.select("src", "dst", "cost").toArrow()
    src = tbl.column("src").to_numpy(zero_copy_only=False)
    dst = tbl.column("dst").to_numpy(zero_copy_only=False)
    cost = tbl.column("cost").to_numpy(zero_copy_only=False)
    # Every shortest-path kernel here (heap Dijkstra, numpy
    # delta-stepping, A*, the ALT bounds) assumes non-negative
    # weights; a single negative cost silently corrupts distances.
    # The check is vectorized over the already-materialized column —
    # effectively free next to the collect itself.
    if len(cost) and float(cost.min()) < 0:
        raise ValueError(
            "build_projection: negative edge cost "
            f"{float(cost.min())!r} — shortest-path kernels require "
            "non-negative weights (use Bellman-Ford-style relaxation "
            "for negative edges; not part of the reference surface)"
        )
    coords = None
    if nodes is not None:
        nt = nodes.select("NodeId", "XCoord", "YCoord").dropna().toArrow()
        coords = dict(
            zip(
                nt.column("NodeId").to_pylist(),
                zip(
                    nt.column("XCoord").to_numpy(zero_copy_only=False).tolist(),
                    nt.column("YCoord").to_numpy(zero_copy_only=False).tolist(),
                ),
            )
        )
    return _k.Projection.from_columns(src, dst, cost, coords)


# One broadcast per projection per session — repeated queries against
# the same projection reuse it (the reference's projection-load cost is
# paid once, SURVEY.md §3.2 step 2).
_BC_CACHE: "weakref.WeakKeyDictionary[_k.Projection, object]" = weakref.WeakKeyDictionary()


def _get_broadcast(spark: SparkSession, proj: _k.Projection):
    bc = _BC_CACHE.get(proj)
    if bc is None:
        bc = spark.sparkContext.broadcast(proj)
        _BC_CACHE[proj] = bc
    return bc


# One spill per (projection, destination) per session, mirroring
# _BC_CACHE: repeated file-tier queries against the same projection
# AND the same spill_dir reuse the .npy files instead of rewriting
# gigabytes per call. The cache is keyed on the caller's spill_dir
# too (r12 advice): a projection first spilled to the default LOCAL
# tempdir must re-spill when the caller later supplies shared
# storage, or the multi-host failure mode the shared dir exists to
# fix silently returns. Each spill lands in a UNIQUE subdir (uuid)
# of the caller's spill_dir — a reused shared directory therefore
# never aliases two different graphs under one path, which would
# poison the executors' per-path mmap cache (r12 review findings).
# Default-tempdir spills are removed at interpreter EXIT, not at
# projection GC: file-tier queries can return LAZY DataFrames that
# read the spill long after the driver-side projection object goes
# out of scope.
_SPILL_DIRS: "weakref.WeakKeyDictionary[_k.Projection, dict[str | None, str]]" = (
    weakref.WeakKeyDictionary()
)


def _get_spill_dir(proj: _k.Projection, spill_dir: str | None) -> str:
    per_dest = _SPILL_DIRS.setdefault(proj, {})
    spill = per_dest.get(spill_dir)
    if spill is not None:
        return spill
    import os
    import shutil
    import tempfile
    import uuid

    own_tmp = spill_dir is None
    base = spill_dir or tempfile.mkdtemp(prefix="apsp_spill_")
    spill = _k.spill_projection(proj, os.path.join(base, f"g{uuid.uuid4().hex[:12]}"))
    per_dest[spill_dir] = spill
    if own_tmp:
        import atexit

        atexit.register(shutil.rmtree, base, True)
    return spill


def _file_tier_available(spark: SparkSession, spill_dir: str | None) -> bool:
    """Whether 'auto' may route to the file-spilled kernel tier.

    The file tier mmaps the spilled CSR from EVERY executor; with the
    default driver-local tempdir that only works when driver and
    executors share a filesystem — i.e. a local[*] master. On any
    other master a caller-provided ``spill_dir`` (shared storage) is
    required; without one 'auto' falls back to the BSP superstep tier
    instead of dispatching to a tier that would fail at task time
    (r12 advice). Explicit strategy='file' raises instead — the
    caller asked for a tier that cannot work there."""
    if spill_dir is not None:
        return True
    master = spark.sparkContext.master or ""
    return master.startswith("local")


def _require_file_tier(spark: SparkSession, spill_dir: str | None) -> None:
    if not _file_tier_available(spark, spill_dir):
        raise ValueError(
            "strategy='file' on a non-local master requires spill_dir "
            "on SHARED storage (executors mmap the spilled CSR; the "
            f"default local tempdir is unreadable from executors on "
            f"master {spark.sparkContext.master!r})"
        )


# The tier sets a strategy-taking function can implement (see _tier).
# Only the pure-numpy distance kernels (SSSP, APSP) run mmap-backed, so
# only they have a file tier; Louvain has no superstep twin.
_ALL_TIERS = ("broadcast", "file", "bsp")
_TWO_TIERS = ("broadcast", "bsp")
_KERNEL_ONLY = ("broadcast",)


def _tier(
    roads: DataFrame,
    strategy: str,
    projection: _k.Projection | None,
    tiers: tuple[str, ...],
    spill_dir: str | None = None,
) -> str:
    """The graph layer's one tier decision: 'broadcast', 'file' or
    'bsp', out of the ``tiers`` the calling function implements.

    * ``strategy`` must be 'auto' or one of ``tiers``; anything else
      raises ``ValueError`` before any dispatch, with or without a
      projection, so a typo cannot silently run some other tier.
    * An explicit tier wins. 'bsp' with a projection warns that the
      projection goes unused and runs the superstep tier (a benchmark
      must never believe it measured BSP while the kernel ran); 'file'
      needs a spill location the executors can read
      (:func:`_require_file_tier`).
    * 'auto' with a projection is 'broadcast': the caller already paid
      the CSR build, so there is no count job.
    * 'auto' without one picks by the memoized edge count: 'broadcast'
      up to BROADCAST_EDGE_LIMIT, then 'file' up to
      FILE_KERNEL_EDGE_LIMIT when the function has that tier and the
      executors can read the spill (:func:`_file_tier_available`),
      else 'bsp'. A kernel-only function never counts."""
    if strategy != "auto" and strategy not in tiers:
        raise ValueError(
            f"unknown strategy {strategy!r}: expected 'auto' or one of "
            + ", ".join(map(repr, tiers))
        )
    if strategy == "file":
        _require_file_tier(roads.sparkSession, spill_dir)
    elif strategy == "bsp" and projection is not None:
        warnings.warn(
            "strategy='bsp' runs the distributed superstep tier; the "
            "passed projection is unused there",
            stacklevel=3,
        )
    if strategy != "auto":
        return strategy
    if projection is not None or tiers == _KERNEL_ONLY:
        return "broadcast"
    n_edges = _resolve_edge_count(roads)
    if n_edges <= BROADCAST_EDGE_LIMIT:
        return "broadcast"
    if (
        "file" in tiers
        and n_edges <= FILE_KERNEL_EDGE_LIMIT
        and _file_tier_available(roads.sparkSession, spill_dir)
    ):
        # the file tier still builds the projection DRIVER-side
        # (~16 B/edge resident while spilling), hence its own cap
        return "file"
    return "bsp"


def _task_projection(
    spark: SparkSession, proj: _k.Projection, tier: str, spill_dir: str | None = None
):
    """Executor-side loader of ``proj`` on a kernel tier: the session's
    broadcast of it, or (tier 'file') its file spill, mmap-loaded in
    the task. The loader closes over the broadcast handle or the spill
    path only, never the projection, so it ships to tasks cheaply."""
    if tier == "file":
        spill = _get_spill_dir(proj, spill_dir)
        return lambda: _k.load_spilled_projection(spill)
    proj_b = _get_broadcast(spark, proj)
    return lambda: proj_b.value


def _run_kernel(
    roads: DataFrame,
    projection: _k.Projection | None,
    fn,
    schema,
    tier: str = "broadcast",
    spill_dir: str | None = None,
    sources: list[str] | None = None,
) -> DataFrame:
    """Run a kernel against the projection (``projection``, or built
    from ``roads`` when None) and return its rows as a DataFrame typed
    by ``schema``.

    With ``sources=None`` the kernel is one call, ``fn(proj) -> rows``.
    On the broadcast tier that call runs in the calling process, where
    the projection already lives, and the rows reach Spark as one
    Arrow table (:func:`local_df`): a ``LocalTableScan``, so neither
    the call nor a later action starts a Spark job. A Python executor
    task per call costs more than most of these kernels take, and
    would pickle SSSP's |V| rows one by one (KERNEL_BENCH.md). On the
    file tier the call runs in one executor task that mmap-loads the
    spill.

    Otherwise the sources fan out over :func:`_source_slices` executor
    tasks, each loading the broadcast (or the spill) once, and each
    source contributes ``fn(proj, source) -> rows`` (APSP and the
    sampled centralities)."""
    spark = roads.sparkSession
    proj = projection or build_projection(roads)
    if sources is None and tier == "broadcast":
        return local_df(spark, fn(proj), schema)
    sc = spark.sparkContext
    load = _task_projection(spark, proj, tier, spill_dir)
    if sources is None:
        rdd = sc.parallelize([0], 1).mapPartitions(lambda _it: iter(fn(load())))
    else:

        def _task(it: Iterator[str]):
            p = load()
            for s in it:
                yield from fn(p, s)

        rdd = sc.parallelize(sources, _source_slices(sc, len(sources))).mapPartitions(_task)
    return spark.createDataFrame(rdd, schema)


def _cumulative_stream(nodes_seq: list[str], hop_costs: list[float]) -> list[tuple[str, float]]:
    """(node sequence, per-hop costs) → GDS-style stream rows of
    (NodeId, cumulative cost), cost monotone (MAIN:310–326)."""
    rows = [(nodes_seq[0], 0.0)]
    acc = 0.0
    for node, w in zip(nodes_seq[1:], hop_costs):
        acc += w
        rows.append((node, acc))
    return rows


# ---------------------------------------------------------------------------
# G2: delta-stepping SSSP (single source, all destinations)
# ---------------------------------------------------------------------------

def sssp(
    spark: SparkSession,
    roads: DataFrame,
    source: str,
    strategy: str = "auto",
    projection: _k.Projection | None = None,
    delta: float | None = None,
    spill_dir: str | None = None,
) -> DataFrame:
    """All shortest distances from ``source`` (G2, neo4j-code.txt:39–54).

    Unreachable nodes are absent rows (the reference filters them with
    gds.util.isFinite, G8). ``delta`` is accepted for parity with
    gds.alpha.shortestPath.deltaStepping (neo4j-code.txt:51) and
    ignored: it is a bucket-scheduling knob with no effect on results
    (SURVEY.md §2.2 G2) — the BSP strategy already relaxes the whole
    frontier per superstep, and the exact kernel needs no buckets.

    Tiers (:func:`_tier`) mirror :func:`apsp_topk`: 'broadcast' below
    BROADCAST_EDGE_LIMIT, 'file' (mmap file-spilled CSR — the
    distance kernel is pure numpy, so it runs mmap-backed; 27.6×
    the superstep tier on the r9 expander, KERNEL_BENCH §r12) up to
    FILE_KERNEL_EDGE_LIMIT, 'bsp' supersteps past that (terminal).
    The broadcast tier runs the kernel in the calling process and
    hands its rows to Spark as one Arrow table, with no Spark job; the
    file tier runs it in one executor task (:func:`_run_kernel`).
    Point-to-point :func:`dijkstra`/:func:`astar` do NOT get a file
    tier: their parent-tracking heap kernel needs the per-process
    list views (~90 B/edge), which defeats mmap sharing at exactly
    the scale the tier exists for."""
    tier = _tier(roads, strategy, projection, _ALL_TIERS, spill_dir)
    if tier == "bsp":
        res = _bsp.bsp_sssp(spark, roads, source, carry_paths=False)
        return res.select(F.col("node").alias("NodeId"), F.col("dist").alias("distance"))
    return _run_kernel(
        roads,
        projection,
        lambda p: sorted(_k.sssp(p, source).items()),
        _SSSP_SCHEMA,
        tier,
        spill_dir,
    )


# ---------------------------------------------------------------------------
# G1 / G4: point-to-point Dijkstra and A*
# ---------------------------------------------------------------------------

def dijkstra(
    spark: SparkSession,
    roads: DataFrame,
    source: str,
    target: str,
    strategy: str = "auto",
    projection: _k.Projection | None = None,
    bidirectional: bool = False,
) -> DataFrame:
    """Point-to-point shortest path, streamed as (NodeId, cumulative
    cost) rows in path order (G1, neo4j-code.txt:1–17). Empty frame if
    unreachable.

    ``bidirectional=True`` runs the Pohl-style two-ended search
    (``kernel.bidirectional_shortest_path``): exact same cost, path
    identical up to equal-cost tie-breaks, measured ~1.2× faster than
    single-sided p2p at 1M edges (the gap grows with graph radius and
    on asymmetric digraphs; prefer :func:`astar` when planar
    coordinates exist — its goal-direction beats both). The two-ended
    heap search is a broadcast-kernel algorithm, so the flag FORCES
    the broadcast tier in place of 'auto' or 'bsp' — it is consulted
    before the tier decision rather than silently ignored past the
    edge limit.

    On the broadcast tier the kernel runs in the calling process
    against the driver-held projection: no Spark job."""
    if bidirectional and strategy in ("auto", "bsp"):
        strategy = "broadcast"
    if _tier(roads, strategy, projection, _TWO_TIERS) == "bsp":
        res = _bsp.bsp_sssp(spark, roads, source, target=target)
        return _bsp_path_stream(spark, res, target)
    proj = projection or build_projection(roads)
    if bidirectional:
        r = _k.bidirectional_shortest_path(proj, source, target)
    else:
        r = _k.shortest_path(proj, source, target)
    return local_df(spark, _cumulative_stream(*r) if r else [], _PATH_STREAM_SCHEMA)


def astar(
    spark: SparkSession,
    roads: DataFrame,
    nodes: DataFrame,
    source: str,
    target: str,
    strategy: str = "auto",
    projection: _k.Projection | None = None,
) -> DataFrame:
    """Goal-directed point-to-point search (G4, neo4j-code.txt:79–101).

    Heuristic contract: admissible planar Euclidean distance on
    (XCoord, YCoord) — returns *optimal* costs (equal to Dijkstra),
    deliberately deviating from the reference's inadmissible
    meters-into-haversine heuristic and its suboptimal 54140.0 result
    (MAIN:480–487; SURVEY.md §2.2 G4). The broadcast tier runs in the
    calling process, like :func:`dijkstra`."""
    if _tier(roads, strategy, projection, _TWO_TIERS) == "bsp":
        res = _bsp.bsp_sssp(spark, roads, source, target=target, nodes=nodes, use_heuristic=True)
        return _bsp_path_stream(spark, res, target)
    proj = projection or build_projection(roads, nodes)
    r = _k.shortest_path(proj, source, target, use_heuristic=True)
    return local_df(spark, _cumulative_stream(*r) if r else [], _PATH_STREAM_SCHEMA)


def _bsp_path_stream(spark: SparkSession, state: DataFrame, target: str) -> DataFrame:
    """Explode the BSP state row for ``target`` into the cumulative
    (NodeId, cost) stream shape."""
    row = state.filter(F.col("node") == target).select("dist", "path").head()
    if row is None:
        return local_df(spark, [], _PATH_STREAM_SCHEMA)
    # Re-derive cumulative costs from the per-node dists recorded in
    # state (each prefix of an optimal path is optimal).
    path = list(row[1])
    dists = {
        r[0]: float(r[1])
        for r in state.filter(F.col("node").isin(path)).select("node", "dist").collect()
    }
    return local_df(spark, [(n, dists[n]) for n in path], _PATH_STREAM_SCHEMA)


def path_summary(path_stream: DataFrame) -> DataFrame:
    """The reference's aggregate variant: RETURN count(nodeId) AS
    PathNodeNumber, Max(cost) AS totalcost (neo4j-code.txt:19–36,
    operator R5)."""
    return path_stream.agg(
        F.count("NodeId").alias("PathNodeNumber"),
        F.max("cost").alias("totalcost"),
    )


def write_back(nodes: DataFrame, result: DataFrame, property_name: str = "sssp") -> DataFrame:
    """Operator I12 (writeProperty, neo4j-code.txt:33): join the
    per-node result back onto the nodes table as a new column."""
    res = result.withColumnRenamed("distance", property_name)
    return nodes.join(res, "NodeId", "left")


# ---------------------------------------------------------------------------
# G5: Yen's K shortest paths
# ---------------------------------------------------------------------------

def yens_k(
    spark: SparkSession,
    roads: DataFrame,
    source: str,
    target: str,
    k: int = 3,
    strategy: str = "auto",
    projection: _k.Projection | None = None,
) -> DataFrame:
    """K loopless shortest paths (G5, neo4j-code.txt:127–165), yielding
    (index, nodeIds, costs, totalCost) ordered by total cost; path #0
    equals Dijkstra's (the reference's own consistency oracle,
    MAIN:703).

    Yen's is inherently sequential in k (SURVEY.md §3.3). Its ~|path|
    spur probes per iteration are independent masked point-to-point
    searches, each goal-directed by one reverse-distance landmark, so
    they take milliseconds; they run back to back in the calling
    process (``kernel.yens_k``) against the driver-held projection,
    with no Spark job. Fanning them out as executor tasks cost more in
    scheduling than it saved, up to a 250k-node grid (KERNEL_BENCH.md).

    ``strategy`` semantics (:func:`_tier`): below
    ``BROADCAST_EDGE_LIMIT`` Yen runs on the driver-held projection.
    ``k < 1`` raises ``ValueError`` on every tier. Past the limit,
    ``auto`` (or explicit ``'bsp'``) dispatches to ``bsp.bsp_yens_k``:
    each iteration's ~|path| masked probes share ONE probe-keyed BSP
    relaxation (wave-bounded state, no driver-side per-node
    structures), goal-directed by a single
    reverse BSP SSSP from the target. Results are identical up to
    equal-cost tie-breaks (the BSP kernel orders ties by (dist, path
    node-id strings), the broadcast kernel by node index — both pick
    valid shortest paths, but a graph with equal-cost alternatives can
    see them select/order those alternatives differently); latency
    is ~(1 + k·ceil(|path|/wave)) BSP runs, so broadcast is always
    preferred when the projection fits."""
    if k < 1:
        raise ValueError(f"yens_k needs k >= 1, got {k!r}")
    if _tier(roads, strategy, projection, _TWO_TIERS) == "bsp":
        paths = _bsp.bsp_yens_k(spark, roads, source, target, k=k)
        rows = [
            (i, nodes_i, costs_i, total_i)
            for i, (nodes_i, costs_i, total_i) in enumerate(paths)
        ]
        return local_df(spark, rows, _YENS_SCHEMA)
    proj = projection or build_projection(roads)
    rows = [
        (i, nodes_i, hop_costs, float(sum(hop_costs)))
        for i, (nodes_i, hop_costs) in enumerate(_k.yens_k(proj, source, target, k))
    ]
    return local_df(spark, rows, _YENS_SCHEMA)


# ---------------------------------------------------------------------------
# G3: all-pairs shortest paths, top-k post-pipeline
# ---------------------------------------------------------------------------

def apsp_topk(
    spark: SparkSession,
    roads: DataFrame,
    k: int = 10,
    projection: _k.Projection | None = None,
    sources_per_task: int = 64,
    landmark_pruning: bool = True,
    strategy: str = "auto",
    bsp_wave_size: int = 256,
    spill_dir: str | None = None,
) -> DataFrame:
    """The 10 longest finite shortest paths (G3, neo4j-code.txt:56–77):
    finite only, source <> target, ORDER BY distance DESC, source ASC,
    target ASC LIMIT k. Exact — pruning never changes the answer.

    ``strategy``: 'broadcast' (default resolution below the edge
    limit) distributes exact per-source heap SSSP over the broadcast
    projection; 'file' (r12 — default resolution between
    BROADCAST_EDGE_LIMIT and FILE_KERNEL_EDGE_LIMIT) runs the SAME
    per-source kernel waves against an mmap-loaded file-spilled CSR
    (``kernel.spill_projection``): broadcast ships one pickle per
    Python worker PROCESS, so its ceiling is host-memory/n_workers,
    while page-cache-shared mmap raises the kernel tier's ceiling to
    ~host memory — measured against the superstep tier on the r9
    64-source expander (KERNEL_BENCH §r12); 'bsp' survives past
    executor memory by wave-batched BSP relaxation
    (``bsp.bsp_multi_sssp``: state keyed by (source, node)) — the
    superstep tier is TERMINAL there (both crossover sides measured,
    KERNEL_BENCH §r9/r12). 'auto' picks by edge count (:func:`_tier`;
    without a shared ``spill_dir`` on a non-local master it skips
    'file', which executors could not read, for 'bsp'). ``spill_dir``
    overrides where the file tier writes the CSR (REQUIRED to be
    shared storage on a multi-host cluster; defaults to a local temp
    dir, correct for local mode).

    Distribution: sources are partitioned into waves across all
    executors; each task runs exact SSSP per source over the broadcast
    projection and emits only its per-source top-k (map-side top-k —
    the global top-k is a subset of the union), so the shuffle is
    |sources| × k rows instead of the O(V²) pair matrix.

    Landmark pruning (ALT-style, public technique): one forward and
    one reverse SSSP from a hub h give the triangle-inequality bound
    ecc(s) ≤ d(s,h) + ecc(h) for every source. Sources are processed
    in waves of descending bound; once the running k-th best distance
    T exceeds a wave's best bound, every remaining source is provably
    unable to contribute and is skipped. On road-network-like graphs
    this turns |V| SSSP runs into a few thousand. Sources that cannot
    reach the hub get an infinite bound (never pruned) — correctness
    does not depend on connectivity."""
    tier = _tier(roads, strategy, projection, _ALL_TIERS, spill_dir)
    if tier == "bsp":
        return _apsp_topk_bsp(spark, roads, k, wave_size=bsp_wave_size)
    proj = projection or build_projection(roads)
    sc = spark.sparkContext
    _task_proj = _task_projection(spark, proj, tier, spill_dir)
    sources = sorted(
        proj.ids[i] for i in range(len(proj.ids)) if proj.indptr[i + 1] > proj.indptr[i]
    )

    inf = float("inf")
    index = proj.index_map()
    bounds: dict[str, float] = {}
    if landmark_pruning and sources:
        # Multi-landmark ALT bounds: for each hub h, ecc(s) <= d(s,h) +
        # ecc(h) — valid exactly when s is in h's strongly-connected
        # component (then reach(s) == reach(h); membership = finite
        # forward AND reverse distance). Sources outside every hub's
        # SCC keep an infinite bound and are never pruned, so pruning
        # is provably exact on any digraph.
        n_src = len(sources)
        # Spaced positional hub POOL, min-folded: upper bounds want
        # CENTRAL hubs (small ecc), but no positional pick can
        # guarantee centrality on an unknown id ordering — so take a
        # pool of spread positions and min-fold the bound over ALL of
        # them: each source's bound rides whichever pool hub happens
        # to be central for it, and a peripheral hub only ever loosens
        # its own term, never the fold. Hub searches run as parallel
        # tasks (below), so the pool costs one scheduling round
        # regardless of size. Pool size follows graph size: on graphs
        # small enough that the first wave covers most sources anyway,
        # extra hub SSSPs are pure overhead (r4 measured pool size
        # {3,6,11} within 0.1s at 70k edges — the pool is NOT the
        # lever there; the wave ramp below is); on mid-scale graphs
        # the wider pool provably prunes more (csv2: 5418 -> 4153 of
        # 7272 must-process sources).
        # Positions mix three coprime stride families (quarters,
        # sevenths, ninths) — measured on csv2 (7,272 sources): the
        # quarter+ninth pool alone left 3,606 must-process sources
        # because none of its 11 positions landed near the network's
        # center (best ecc 25.7km on a ~35km-diameter graph), while
        # adding the sevenths caught a 15.7km-ecc hub and cut
        # must-process to 539. No single family is reliable on an
        # unknown id ordering; three interleaved families make a
        # central landing overwhelmingly likely, and the min-fold
        # ignores the peripheral rest.
        positions = [j * n_src // 4 for j in (1, 2, 3)]
        if n_src > 2048:
            positions += [j * n_src // 9 for j in range(1, 9)]
            positions += [j * n_src // 7 for j in range(1, 7)]
        hubs = list(dict.fromkeys([sources[p] for p in positions]))
        # Hub SSSPs fan out as one executor task per (hub, direction) —
        # 2·|hubs| independent searches run concurrently instead of
        # serialized in a single task (measured 2.5s → 0.5s at 70k
        # edges); only |V| floats per task come back.
        hub_idxs = [index[h] for h in hubs]
        hub_tasks = [(hi, d) for hi in hub_idxs for d in (0, 1)]

        def _hub_task(it):
            p = _task_proj()
            for hi, d in it:
                arr = _k._dijkstra_dist(p, hi) if d == 0 else _k.reverse_dist_to(p, hi)
                yield (hi, d, list(arr))

        import numpy as _np

        by_hub: dict[int, dict[int, _np.ndarray]] = {}
        for hi, d, arr in (
            sc.parallelize(hub_tasks, len(hub_tasks)).mapPartitions(_hub_task).collect()
        ):
            by_hub.setdefault(hi, {})[d] = _np.asarray(arr)
        per_hub = []
        for hi in hub_idxs:
            fwd, rev = by_hub[hi][0], by_hub[hi][1]
            finite = fwd[_np.isfinite(fwd)]
            per_hub.append((fwd, rev, float(finite.max()) if finite.size else inf))
        # Vectorized bound fold: min over hubs of rev(s,h)+ecc(h) where
        # s is in h's SCC (finite fwd AND rev) — numpy over |V| instead
        # of a Python |V|×|hubs| loop (driver cost matters at 10^7+
        # sources).
        bvec = _np.full(len(proj.ids), inf)
        for fwd, rev, ecc_h in per_hub:
            cand = _np.where(_np.isfinite(fwd) & _np.isfinite(rev), rev + ecc_h, inf)
            _np.minimum(bvec, cand, out=bvec)
        # Bounds stay a numpy vector ALIGNED to the sorted source list
        # (no per-source Python dict — ~1 GB of dict overhead at the
        # 10^7-source broadcast ceiling); stable argsort keeps the
        # id-order tie-break the goldens were minted under. inf-bound
        # sources (outside every hub's SCC) sort first: never pruned.
        src_bounds = bvec[
            _np.fromiter((index[s] for s in sources), dtype=_np.int64, count=len(sources))
        ]
        order = _np.argsort(-src_bounds, kind="stable")
        sources = [sources[j] for j in order]
        bnd = src_bounds[order]

    par = max(sc.defaultParallelism, 1)

    def _wave(batch: list[str]) -> list[tuple[str, str, float]]:
        # Small (ramp) waves still spread across every core — capping
        # slices at len//sources_per_task would run a 256-source wave
        # as 4 fat tasks on a 32-core cluster. Source indices ride
        # along from the driver's index so a file-tier task never has
        # to build the spilled projection's string→int dict.
        n_slices = min(len(batch), max(len(batch) // sources_per_task, min(par, len(batch))))
        pairs = [(s, index[s]) for s in batch]

        def _task(it: "Iterator[tuple[str, int]]"):
            b = list(it)
            if not b:
                return iter(())
            p = _task_proj()
            return iter(
                _k.per_source_longest(
                    p, [s for s, _ in b], k, indices=[i for _, i in b]
                )
            )

        return sc.parallelize(pairs, n_slices).mapPartitions(_task).collect()

    # Driver state is a running top-k under the output's total order
    # (distance DESC, source, target) — NEVER the |sources|×k union
    # (same bounded-driver contract as the BSP fallback): each wave's
    # collect is ≤ |wave|×k transient rows, folded immediately.
    best_rows: list[tuple[str, str, float]] = []

    def _fold(new_rows: list[tuple[str, str, float]]) -> None:
        nonlocal best_rows
        merged = best_rows + new_rows
        merged.sort(key=lambda r: (-r[2], r[0], r[1]))
        best_rows = merged[:k]

    # Wave-size RAMP (pruning runs only): the top-k cutoff T exists
    # only after the first fold, so a full-width first wave runs
    # wave_cap SSSPs before pruning can fire — with k tiny and sources
    # bound-sorted descending, the k-th best from the first few
    # hundred sources already prunes most of the rest. Start at 256
    # and grow 4× per wave up to the cap: measured at 70k edges this
    # cut processed sources 2048 -> 1280 (theoretical minimum for the
    # final cutoff: 993) and wave time 3.8s -> 2.3s. Geometric growth
    # bounds the extra scheduling rounds at O(log(cap/256)) when early
    # cutoffs are too weak to prune. Without pruning there is no
    # cutoff to establish, so ramping would only add rounds.
    wave_cap = max(sources_per_task * par, 512)
    wave_size = min(256, wave_cap) if landmark_pruning else wave_cap
    i = 0
    while i < len(sources):
        hi_end = min(i + wave_size, len(sources))
        if landmark_pruning and len(best_rows) >= k:
            kth = best_rows[-1][2]
            # every remaining source (bound-sorted) bounded strictly
            # below the current k-th best → done.
            if bnd[i] < kth:
                break
            # Mid-wave cutoff: within the wave, bisect to the first
            # source with bound < kth and process only the prefix —
            # wave-granular breaking would run up to wave_size-1
            # provably-useless SSSPs on the boundary wave (a bound
            # < kth caps every distance that source can produce
            # strictly below the k-th best, so it cannot even tie).
            lo, hi2 = i, hi_end
            while lo < hi2:
                mid = (lo + hi2) // 2
                if bnd[mid] >= kth:
                    lo = mid + 1
                else:
                    hi2 = mid
            hi_end = max(lo, i + 1)
        _fold(_wave(sources[i:hi_end]))
        i = hi_end
        wave_size = min(wave_size * 4, wave_cap)

    df = local_df(spark, best_rows, _APSP_SCHEMA)
    return df.orderBy(F.desc("distance"), F.asc("source"), F.asc("target")).limit(k)


def _apsp_topk_bsp(
    spark: SparkSession, roads: DataFrame, k: int, wave_size: int = 256
) -> DataFrame:
    """G3 past broadcast scale: sources in waves of ``wave_size``
    through the multi-source BSP kernel.

    Scale contract (the whole reason this fallback exists): driver
    state is bounded by O(wave_size + k) at every point —

    * sources are NEVER collected as one list; each source gets a
      deterministic wave id (``pmod(xxhash64(src), n_waves)``) and only
      the CURRENT wave's ids (≈ ``wave_size``, hash-spread) are
      materialized on the driver; each multi-SSSP kernel call is then
      seeded with a strict ≤ ``wave_size`` chunk of that list;
    * per-wave winners stay IN SPARK: each wave reduces to its global
      top-k rows (the overall top-k is contained in the union of
      per-wave top-k, since waves partition the sources), and a
      running k-row best is folded via union → orderBy → limit(k) →
      ``localCheckpoint`` (truncates lineage; keeps every wave's fold
      a k-row frame). No Python list ever holds |sources| × k rows.

    Ordering/tie-breaks are the G3 contract (distance DESC, source ASC,
    target ASC) at every fold, so the result is deterministic and
    identical to the one-shot sort."""
    edges = roads.groupBy("src", "dst").agg(F.min("cost").alias("cost")).cache()
    src_df = edges.select("src").distinct()
    n_sources = src_df.count()
    if n_sources == 0:
        edges.unpersist()
        return local_df(spark, [], _APSP_SCHEMA)
    n_waves = -(-n_sources // wave_size)
    waved = src_df.withColumn(
        "_wave", F.pmod(F.xxhash64("src"), F.lit(n_waves))
    ).localCheckpoint(eager=True)

    best: DataFrame | None = None
    for wave_i in range(n_waves):
        wave = sorted(
            r[0] for r in waved.filter(F.col("_wave") == wave_i).select("src").collect()
        )
        for lo in range(0, len(wave), wave_size):
            chunk = wave[lo : lo + wave_size]
            state = _bsp.bsp_multi_sssp(spark, roads, chunk, edges_pre_aggregated=edges)
            wave_top = (
                state.filter(F.col("node") != F.col("source"))
                .select("source", F.col("node").alias("target"), F.col("dist").alias("distance"))
                .orderBy(F.desc("distance"), F.asc("source"), F.asc("target"))
                .limit(k)
            )
            folded = wave_top if best is None else best.unionByName(wave_top)
            best = (
                folded.orderBy(F.desc("distance"), F.asc("source"), F.asc("target"))
                .limit(k)
                .localCheckpoint(eager=True)
            )
    edges.unpersist()
    if best is None:
        return local_df(spark, [], _APSP_SCHEMA)
    return best.orderBy(F.desc("distance"), F.asc("source"), F.asc("target"))


def _source_slices(sc, n_sources: int) -> int:
    """Task count for per-source centrality fan-out: one task per
    source is right for the default 16-sample estimate, but an exact
    run (n_samples ≥ |V|) would schedule |V| tiny tasks — pure
    scheduling floor. Cap at 4 tasks per core (enough slices for
    stragglers, bounded overhead)."""
    return max(1, min(n_sources, sc.defaultParallelism * 4))


def _reject_zero_weight_edges(proj: _k.Projection, op: str) -> None:
    """The Brandes kernel settles strictly by increasing distance and
    skips settled nodes during relaxation — a zero-cost edge lets a
    successor settle at the SAME distance as its predecessor, silently
    dropping that edge's sigma/pred contribution (and a zero-cost cycle
    makes path counts infinite, so Brandes is ill-defined outright).
    Harmonic's ``d > 0`` reachability filter has the mirror problem: a
    0-distance reachable node would count as unreachable. Both
    centralities therefore reject zero-weight edges up front instead of
    returning subtly wrong statistics; the plain path algorithms
    (Dijkstra/SSSP/A*/Yen) remain exact with zero weights and keep
    accepting them."""
    if len(proj.adj_w) and float(proj.adj_w.min()) == 0.0:
        raise ValueError(
            f"{op}: zero-cost edge present — Brandes sigma counting and "
            "the harmonic d>0 reachability filter both assume strictly "
            "positive weights (see _reject_zero_weight_edges)"
        )


def _node_ids(roads: DataFrame, name: str = "id") -> DataFrame:
    """Every edge endpoint once, as column ``name``: the node set of a
    graph known only by its edge table."""
    return (
        roads.select(F.col("src").alias(name))
        .union(roads.select(F.col("dst").alias(name)))
        .distinct()
    )


def _sampled_sources(roads: DataFrame, n_sources: int | None) -> list[str]:
    """Deterministic hash-spread source sample for the centrality
    family: the ``n_sources`` node ids with smallest
    ``(xxhash64(id), id)`` — replayable by the golden generator.
    ``n_sources=None`` selects EVERY node (r6 verdict item 6): the
    exact all-source tier — on the kernel tier the CSR is already
    broadcast, so exact centrality is |V| parallel per-source executor
    tasks (CSV1-scale graphs finish in seconds), and the id-list
    collect is bounded by the same driver footprint the broadcast
    projection already paid. The hash ordering is kept either way so
    task batches are deterministic."""
    q = _node_ids(roads).orderBy(F.xxhash64("id").asc(), F.col("id").asc())
    if n_sources is not None:
        q = q.limit(n_sources)
    return [r["id"] for r in q.collect()]


_HARMONIC_SCHEMA = T.StructType(
    [
        T.StructField("NodeId", T.StringType(), False),
        T.StructField("harmonic", T.DoubleType(), False),
        T.StructField("n_reachable", T.LongType(), False),
    ]
)


def harmonic_centrality(
    spark: SparkSession,
    roads: DataFrame,
    n_sources: int | None = 16,
    projection: _k.Projection | None = None,
) -> DataFrame:
    """Outbound harmonic centrality H(s) = Σ_{t reachable, t≠s} 1/d(s,t)
    for a deterministic HASH-SPREAD sample of ``n_sources`` nodes (the
    GDS closeness/harmonic family; harmonic handles disconnected
    graphs gracefully — unreachable targets contribute 0, so no
    infinite-distance special case).

    Sampling: the ``n_sources`` node ids with smallest
    ``(xxhash64(id), id)`` — the same uniform deterministic selection
    as the IVF centroid seeds, replayable by the golden generator.
    Exact-centrality-for-all-nodes is an |V|-SSSP job (the APSP
    machinery); the sampled report is the standard estimator shape.

    Distribution: one executor task per sampled source over the
    broadcast projection (exact kernel SSSP per task, the APSP wave
    idiom); only (NodeId, harmonic, n_reachable) rows return — never
    per-target distances. DETERMINISM: per-target distances replay
    exactly (path sums are left-to-right in both the kernel and the
    pure-Python oracle); the harmonic SUM's float order differs, so
    the result is rounded to 6 dp — wobble ~1e-16, quantum 1e-6 (same
    contract as IVF Lloyd / PageRank). Rounding happens DataFrame-side
    via ``F.round`` (HALF_UP on the double's shortest decimal repr) so
    a sum landing exactly on a 6-dp halfway point rounds the same way
    the golden generator's ``r6`` does — Python's ``round`` half-evens
    the binary double and diverges on those boundaries.

    Zero-weight edges are rejected (``d > 0`` is the reachability
    filter here, so a 0-distance reachable node would silently count
    as unreachable).

    SAMPLING contract: unlike sampled betweenness there is NO
    estimation error in the values — H(s) is computed exactly for each
    sampled node; ``n_sources`` only selects WHICH nodes are reported
    (pinned by ``test_harmonic_sampled_values_are_exact``). Pass
    ``n_sources=None`` for the exact all-source report (r7)."""
    proj = projection or build_projection(roads)
    _reject_zero_weight_edges(proj, "harmonic_centrality")

    def _harmonic(p: _k.Projection, s: str) -> list[tuple[str, float, int]]:
        dist = _k.sssp(p, s)
        # start=0.0 keeps the empty case a float (an isolated or
        # sink-only source reaches nothing)
        h = sum((1.0 / d for d in dist.values() if d > 0.0), 0.0)
        return [(s, h, sum(1 for d in dist.values() if d > 0.0))]

    srcs = _sampled_sources(roads, n_sources)
    return (
        _run_kernel(roads, proj, _harmonic, _HARMONIC_SCHEMA, sources=srcs)
        .select(
            "NodeId",
            F.round("harmonic", 6).alias("harmonic"),
            "n_reachable",
        )
        .orderBy("NodeId")
    )


_ECCENTRICITY_SCHEMA = T.StructType(
    [
        T.StructField("NodeId", T.StringType(), False),
        T.StructField("eccentricity", T.DoubleType(), False),
        T.StructField("n_reachable", T.LongType(), False),
    ]
)


def eccentricity(
    spark: SparkSession,
    roads: DataFrame,
    n_sources: int | None = 16,
    projection: _k.Projection | None = None,
) -> DataFrame:
    """Outbound eccentricity ecc(s) = max_{t reachable} d(s,t) (Hage &
    Harary 1995) for the same deterministic hash-spread sample of
    ``n_sources`` nodes as the closeness/harmonic family — max over
    the sampled rows lower-bounds the directed diameter, the standard
    sampled-diameter estimate. Sources reaching nothing report 0.0.

    Same execution and determinism contract as closeness: one executor
    task per sampled source over the broadcast projection (exact
    kernel SSSP), values EXACT per sampled node. The max of exactly
    replayed distances needs NO rounding contract (no float-sum order
    dependence), but the 6-dp F.round is applied anyway so the column
    matches the family's golden convention. Zero-weight edges are
    accepted here (max is monotone): reachability counts every node
    the kernel reached EXCEPT the source itself — a node at exactly
    distance 0 via a zero-cost path is reachable (r6 advice; the old
    ``d > 0`` filter silently understated n_reachable on zero-weight
    graphs — on positive-weight graphs like the reference's the two
    definitions coincide). Returns (NodeId, eccentricity, n_reachable)
    sorted by NodeId."""

    def _ecc(p: _k.Projection, s: str) -> list[tuple[str, float, int]]:
        pos = [d for node, d in _k.sssp(p, s).items() if node != s]
        return [(s, max(pos, default=0.0), len(pos))]

    srcs = _sampled_sources(roads, n_sources)
    return (
        _run_kernel(roads, projection, _ecc, _ECCENTRICITY_SCHEMA, sources=srcs)
        .select(
            "NodeId",
            F.round("eccentricity", 6).alias("eccentricity"),
            "n_reachable",
        )
        .orderBy("NodeId")
    )


_CLOSENESS_SCHEMA = T.StructType(
    [
        T.StructField("NodeId", T.StringType(), False),
        T.StructField("closeness", T.DoubleType(), False),
        T.StructField("n_reachable", T.LongType(), False),
    ]
)


def closeness_centrality(
    spark: SparkSession,
    roads: DataFrame,
    n_sources: int | None = 16,
    wf_correction: bool = False,
    projection: _k.Projection | None = None,
) -> DataFrame:
    """Outbound closeness centrality C(s) = r / Σ_{t reachable} d(s,t)
    (r = #reachable targets) for the same deterministic hash-spread
    sample of ``n_sources`` nodes as ``harmonic_centrality`` — the
    remaining member of the GDS closeness family. With
    ``wf_correction=True`` applies the Wasserman–Faust component
    scaling C·(r / (|V|−1)), the standard disconnected-graph
    correction (GDS ``useWassermanFaust``); sources reaching nothing
    report 0.0.

    Same execution and determinism contract as harmonic: one executor
    task per sampled source over the broadcast projection (exact
    kernel SSSP), values computed EXACTLY for each sampled node
    (``n_sources`` only selects which nodes are reported), distance
    sum rounded to 6 dp DataFrame-side via ``F.round`` (HALF_UP —
    see harmonic's rounding note), zero-weight edges rejected (the
    ``d > 0`` reachability filter). Returns (NodeId, closeness,
    n_reachable) sorted by NodeId."""
    proj = projection or build_projection(roads)
    _reject_zero_weight_edges(proj, "closeness_centrality")
    n_nodes = _node_ids(roads).count()
    wf = bool(wf_correction)
    denom = max(n_nodes - 1, 1)

    def _closeness(p: _k.Projection, s: str) -> list[tuple[str, float, int]]:
        dist = _k.sssp(p, s)
        tot = sum((d for d in dist.values() if d > 0.0), 0.0)
        r = sum(1 for d in dist.values() if d > 0.0)
        c = (r / tot) if tot > 0.0 else 0.0
        if wf:
            c *= r / denom
        return [(s, c, r)]

    srcs = _sampled_sources(roads, n_sources)
    return (
        _run_kernel(roads, proj, _closeness, _CLOSENESS_SCHEMA, sources=srcs)
        .select(
            "NodeId",
            F.round("closeness", 6).alias("closeness"),
            "n_reachable",
        )
        .orderBy("NodeId")
    )


_BETWEENNESS_SCHEMA = T.StructType(
    [
        T.StructField("NodeId", T.StringType(), False),
        T.StructField("betweenness", T.DoubleType(), False),
    ]
)


def _brandes_from(proj: _k.Projection, source: str) -> list[tuple[str, float]]:
    """Single-source Brandes dependency accumulation (Brandes 2001) on
    the weighted digraph: Dijkstra with shortest-path counts (sigma)
    and predecessor lists, then delta accumulation processing nodes in
    the EXPLICIT total order (-dist, NodeId-string) — the order pin
    that makes the float accumulation bit-identical between this
    kernel and the pure-Python oracle replay. Returns (NodeId, delta)
    for nodes with nonzero dependency (endpoints excluded, standard
    convention)."""
    import heapq

    s = proj.index.get(source)
    if s is None:
        return []
    n = len(proj.ids)
    indptr, adj_v, adj_w, _adj_e = proj.hot()
    inf = float("inf")
    dist = [inf] * n
    sigma = [0] * n
    preds: list[list[int]] = [[] for _ in range(n)]
    settled = bytearray(n)
    dist[s] = 0.0
    sigma[s] = 1
    pq = [(0.0, s)]
    while pq:
        d, u = heapq.heappop(pq)
        if settled[u]:
            continue
        settled[u] = 1
        du = dist[u]
        for i in range(indptr[u], indptr[u + 1]):
            v = adj_v[i]
            if settled[v]:
                continue
            nd = du + adj_w[i]
            if nd < dist[v]:
                dist[v] = nd
                sigma[v] = sigma[u]
                preds[v] = [u]
                heapq.heappush(pq, (nd, v))
            elif nd == dist[v]:
                sigma[v] += sigma[u]
                preds[v].append(u)
    ids = proj.ids
    order = sorted(
        (i for i in range(n) if dist[i] != inf and i != s),
        key=lambda i: (-dist[i], ids[i]),
    )
    delta = [0.0] * n
    for v in order:
        coef = (1.0 + delta[v]) / sigma[v]
        for u in preds[v]:
            delta[u] += sigma[u] * coef
    return [(ids[i], delta[i]) for i in range(n) if delta[i] > 0.0 and i != s]


def betweenness_centrality(
    spark: SparkSession,
    roads: DataFrame,
    n_sources: int | None = 16,
    k: int = 50,
    projection: _k.Projection | None = None,
) -> DataFrame:
    """Sampled betweenness centrality (Brandes 2001, source-sampled
    estimator): dependency contributions from a deterministic
    hash-spread sample of ``n_sources`` sources, summed per node,
    top-``k`` by (betweenness DESC, NodeId). The GDS betweenness
    family's standard sampled form — exact betweenness is the same
    computation over ALL sources (the APSP-scale job).

    Distribution: one executor task per sampled source over the
    broadcast projection; each task returns only its nonzero
    (NodeId, delta) rows and the cross-source sum is one keyed
    aggregate. DETERMINISM: within one source the accumulation order
    is pinned to (-dist, NodeId), making per-source deltas
    bit-identical to the pure-Python replay; only the cross-source
    sum's float order varies (~1e-15), absorbed by the 6-dp rounding
    (the IVF-Lloyd/PageRank contract). Zero-weight edges are rejected
    (they break the Brandes settled-skip sigma accounting — see
    ``_reject_zero_weight_edges``).

    ESTIMATOR contract: the reported value is the raw dependency sum
    over the ``n_sources`` sample; multiply by |V|/n_sources for an
    unbiased estimate of the all-sources betweenness (uniform source
    sampling, Brandes & Pich 2007). Estimate quality versus the exact
    statistic is pinned on CSV1 by
    ``test_betweenness_sampled_error_bound_vs_exact`` (top-10 rank
    recall and scaled-value relative error); exact = call with
    ``n_sources=None`` (every node becomes a source, as parallel
    per-source executor tasks over the broadcast CSR — r7)."""
    proj = projection or build_projection(roads)
    _reject_zero_weight_edges(proj, "betweenness_centrality")
    srcs = _sampled_sources(roads, n_sources)
    contrib = _run_kernel(roads, proj, _brandes_from, _BETWEENNESS_SCHEMA, sources=srcs)
    return (
        contrib.groupBy("NodeId")
        .agg(F.round(F.sum("betweenness"), 6).alias("betweenness"))
        .orderBy(F.desc("betweenness"), F.asc("NodeId"))
        .limit(k)
    )
