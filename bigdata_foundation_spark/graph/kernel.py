"""Exact in-memory path kernels (no Spark imports).

This module is the compute core behind the kernel tiers of
``paths.py``. It mirrors the reference's execution model: GDS
materializes an in-memory projection and runs the algorithm
single-machine even in cluster mode (neo4j-code.txt:3–15; SURVEY.md
§4.2). Single-call work (Dijkstra, A*, Yen, SSSP, the analytics)
calls it in the driver against the driver-held projection;
multi-source work (APSP waves, the centralities) calls it inside
executor tasks over the broadcast projection, one task per source
batch. The per-query kernel is the same binary-heap Dijkstra family
either way.

Node ids are dictionary-encoded to dense ints and adjacency is stored
CSR-style (flat indptr / neighbor / weight arrays) at projection
build — the same compressed form GDS projects into, and the layout
that makes the Python inner loop competitive (no per-edge tuples, no
dict lookups on the hot path).

For graphs too large to broadcast, ``bsp.py`` provides the distributed
whole-frontier relaxation kernel; ``paths.py`` dispatches.

The graph is a directed weighted **multigraph**: parallel edges with
distinct road ids / costs are preserved (MAIN:221–227), and Yen's
masking is per physical edge, so a same-node-sequence path over a
costlier parallel edge is a distinct path — matching GDS's
relationship-sequence path identity (neo4j-code.txt:127–145).
"""

from __future__ import annotations

import heapq
from typing import Iterable, Sequence

import numpy as np

_INF = float("inf")


class Projection:
    """Dictionary-encoded CSR adjacency built from (src, dst, cost)
    rows. Picklable/broadcastable.

    ``indptr[u]:indptr[u+1]`` slices ``adj_v`` (neighbor int id),
    ``adj_w`` (edge cost) and ``adj_e`` (original edge index, the
    multigraph edge identity used by Yen masking). ``ids`` maps
    int → original string id; ``coords`` (parallel to ``ids``)
    optionally carries (x, y) for the A* heuristic.

    Storage is NUMPY CSR arrays (int32 neighbors/edge-ids, float64
    weights): ~16 B/edge resident on the driver and in the broadcast
    pickle — the form a 50M-edge projection actually fits in. The
    pure-Python heap kernels index Python lists ~3× faster than numpy
    scalars, so compute sites call :meth:`hot` for lazily-converted,
    per-process-cached list views (~90 B/edge, never shipped). They are
    paid once in the driver, where the point queries run, and once in
    each executor Python worker that runs a broadcast-tier task.
    """

    __slots__ = (
        "ids", "index", "indptr", "adj_v", "adj_w", "adj_e", "coords",
        "n_edges", "_hot", "_rhot", "_rnp", "_esrc", "__weakref__",
    )

    def __init__(
        self,
        edges: Iterable[tuple[str, str, float]],
        coords: dict[str, tuple[float, float]] | None = None,
    ):
        """Row-iterable constructor (tests / small graphs). Large
        builds should use :meth:`from_columns`, which never
        materializes per-edge Python objects."""
        srcs, dsts, costs = [], [], []
        for src, dst, cost in edges:
            srcs.append(src)
            dsts.append(dst)
            costs.append(float(cost))
        self._build(
            np.asarray(srcs, dtype=object),
            np.asarray(dsts, dtype=object),
            np.asarray(costs, dtype=np.float64),
            coords,
        )

    @classmethod
    def from_columns(
        cls,
        src: np.ndarray,
        dst: np.ndarray,
        cost: np.ndarray,
        coords: dict[str, tuple[float, float]] | None = None,
    ) -> "Projection":
        """Vectorized CSR build from columnar arrays (the Arrow path —
        no per-edge tuples/Rows ever exist on the driver)."""
        self = cls.__new__(cls)
        self._build(
            np.asarray(src, dtype=object),
            np.asarray(dst, dtype=object),
            np.asarray(cost, dtype=np.float64),
            coords,
        )
        return self

    def _build(
        self,
        src: np.ndarray,
        dst: np.ndarray,
        cost: np.ndarray,
        coords: dict[str, tuple[float, float]] | None,
    ) -> None:
        import pandas as pd

        m = len(src)
        # Interleave (src0, dst0, src1, dst1, ...) so factorize assigns
        # dense ids in exactly the first-appearance order the original
        # row-wise encoder used — id order is tie-break-visible in the
        # heap kernels, and the pinned goldens were minted under it.
        inter = np.empty(2 * m, dtype=object)
        inter[0::2] = src
        inter[1::2] = dst
        codes, uniques = pd.factorize(inter, use_na_sentinel=False)
        src_c = codes[0::2].astype(np.int32, copy=False)
        dst_c = codes[1::2].astype(np.int32, copy=False)
        ids = uniques.tolist()
        n = len(ids)

        # stable sort by src == the cursor-scatter CSR layout
        perm = np.argsort(src_c, kind="stable")
        counts = np.bincount(src_c, minlength=n)
        indptr = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=indptr[1:])

        self.ids = ids
        self.index = {s: i for i, s in enumerate(ids)}
        self.indptr = indptr
        self.adj_v = dst_c[perm]
        self.adj_w = cost[perm]
        self.adj_e = perm.astype(np.int32, copy=False)
        self.n_edges = m
        self._hot = None
        self._rhot = None
        self._rnp = None
        self._esrc = None
        if coords:
            self.coords: list[tuple[float, float] | None] | None = [coords.get(s) for s in ids]
        else:
            self.coords = None

    def index_map(self) -> dict:
        """string→int node map, built on demand: a spilled projection
        loads with ``index = None`` (the one structure mmap cannot
        share across processes), and callers that cannot pass
        precomputed indices build it here exactly once per process
        (r12 review finding: the previous 'lazy' index was never
        built at all, so such callers crashed on None)."""
        if self.index is None:
            self.index = {str(s): i for i, s in enumerate(self.ids)}
        return self.index

    def hot(self) -> tuple[list, list, list, list]:
        """(indptr, adj_v, adj_w, adj_e) as Python lists — cached per
        process; the heap kernels' fast path."""
        h = self._hot
        if h is None:
            h = self._hot = (
                self.indptr.tolist(),
                self.adj_v.tolist(),
                self.adj_w.tolist(),
                self.adj_e.tolist(),
            )
        return h

    def rhot(self) -> tuple[list, list, list, list]:
        """(rptr, r_v, r_w, r_e) list views of the REVERSED CSR —
        built once per process (argsort + scatter over the edge
        arrays), then cached like :meth:`hot`; backward searches
        (bidirectional Dijkstra, reverse_dist_to) pay the transpose
        once per projection instead of per query."""
        h = self._rhot
        if h is None:
            rptr, r_v, r_w, r_e = self.rnp()
            h = self._rhot = (
                rptr.tolist(),
                r_v.tolist(),
                r_w.tolist(),
                r_e.tolist(),
            )
        return h

    def rnp(self) -> "tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]":
        """The reversed CSR as numpy arrays, cached per process (the
        transpose argsort runs once per projection, not per query —
        Yen calls ``reverse_dist_to`` every query and APSP once per
        hub/direction)."""
        r = self._rnp
        if r is None:
            r = self._rnp = _reverse_csr(self)
        return r

    def esrc(self) -> np.ndarray:
        """Source node index of each CSR slot (parallel to ``adj_v``) —
        the per-edge gather array the vectorized analytics kernels
        (WCC / PageRank / LPA) index with. Built once per process
        (searchsorted over indptr), cached like :meth:`rnp`."""
        e = self._esrc
        if e is None:
            e = self._esrc = (
                np.searchsorted(self.indptr, np.arange(self.n_edges), side="right") - 1
            ).astype(np.int64)
        return e

    def __getstate__(self):
        # never ship the hot/rhot list views — each process rebuilds lazily
        return {
            s: getattr(self, s)
            for s in self.__slots__
            if s not in ("_hot", "_rhot", "_rnp", "_esrc", "__weakref__")
        }

    def __setstate__(self, state):
        for k, v in state.items():
            setattr(self, k, v)
        self._hot = None
        self._rhot = None
        self._rnp = None
        self._esrc = None


# ---------------------------------------------------------------------------
# File-spilled projection (r12) — the past-broadcast multi-source tier
# ---------------------------------------------------------------------------
#
# Spark broadcast ships ONE pickle per Python worker PROCESS: at
# local[32] (or 32 worker processes per executor host anywhere), a
# 25M-edge / 400 MB projection becomes 32 resident copies — that
# per-process multiplication, not the 8 GB broadcast cap, is what
# BROADCAST_EDGE_LIMIT is actually sized against. Spilling the CSR
# arrays to .npy files on shared storage and mmap-loading them in the
# task turns per-PROCESS copies into per-HOST page-cache pages: all
# workers on a host share one resident copy, so the same kernel-tier
# per-source search (the shape GDS runs) survives to CSRs the size of
# host memory instead of host-memory/32. This is the r12 answer to
# the standing "multi-source past broadcast scale" gap — measured
# against the superstep tier in KERNEL_BENCH §r12.

_SPILL_CACHE: dict[str, Projection] = {}


def spill_projection(proj: Projection, out_dir: str) -> str:
    """Write ``proj``'s CSR arrays as individually mmap-loadable .npy
    files under ``out_dir`` (driver-side, once per projection). node
    ids are stored as a fixed-width unicode array — also mmap-able,
    so executor tasks emitting string ids never materialize the id
    list either. coords are intentionally NOT spilled: the file tier
    serves the distance kernels (multi-source SSSP / APSP); A* stays
    on the broadcast tier."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    if os.path.exists(os.path.join(out_dir, "indptr.npy")):
        # Overwriting a live spill in place would poison the
        # executors' per-path mmap cache (long-lived workers keep
        # serving the OLD graph) and corrupt in-flight mmap reads —
        # every spill gets its own directory (r12 review finding;
        # apsp_topk already allocates a unique subdir per projection).
        raise FileExistsError(
            f"spill_projection: {out_dir!r} already holds a spilled "
            "projection — spill each projection into its own directory"
        )
    np.save(os.path.join(out_dir, "indptr.npy"), np.asarray(proj.indptr, dtype=np.int64))
    np.save(os.path.join(out_dir, "adj_v.npy"), np.asarray(proj.adj_v, dtype=np.int32))
    np.save(os.path.join(out_dir, "adj_w.npy"), np.asarray(proj.adj_w, dtype=np.float64))
    np.save(os.path.join(out_dir, "adj_e.npy"), np.asarray(proj.adj_e, dtype=np.int32))
    np.save(os.path.join(out_dir, "ids.npy"), np.asarray(proj.ids, dtype=np.str_))
    return out_dir


def load_spilled_projection(path: str) -> Projection:
    """mmap-load a spilled projection, cached per process. The
    returned object carries numpy (memory-mapped) CSR arrays and a
    LAZY index: ``index`` loads as None and is built on first
    ``index_map()`` call (the wave drivers pass precomputed int
    indices instead, so the per-process dict — the one structure
    mmap cannot share — is never built on the hot path)."""
    proj = _SPILL_CACHE.get(path)
    if proj is not None:
        return proj
    import os

    proj = Projection.__new__(Projection)
    proj.indptr = np.load(os.path.join(path, "indptr.npy"), mmap_mode="r")
    proj.adj_v = np.load(os.path.join(path, "adj_v.npy"), mmap_mode="r")
    proj.adj_w = np.load(os.path.join(path, "adj_w.npy"), mmap_mode="r")
    proj.ids = np.load(os.path.join(path, "ids.npy"), mmap_mode="r")
    proj.index = None
    proj.adj_e = np.load(os.path.join(path, "adj_e.npy"), mmap_mode="r")
    proj.coords = None
    proj.n_edges = int(len(proj.adj_v))
    proj._hot = None
    proj._rhot = None
    proj._rnp = None
    proj._esrc = None
    _SPILL_CACHE[path] = proj
    return proj


def _heuristic_array(proj: Projection, t: int) -> list[float] | None:
    """Admissible Euclidean heuristic on the planar projected-meter
    coordinates, precomputed per node. NOTE semantic contract
    (SURVEY.md §2.2 G4): the reference feeds projected meters into
    GDS's haversine heuristic, making it inadmissible (its A* returns
    cost 54140.0 vs Dijkstra's 48175.55, MAIN:480–487). We implement
    the *admissible* planar heuristic, so our A* returns optimal costs
    equal to Dijkstra; the deviation is deliberate and documented."""
    if proj.coords is None or proj.coords[t] is None:
        return None
    tx, ty = proj.coords[t]
    out = []
    for c in proj.coords:
        if c is None:
            out.append(0.0)
        else:
            dx, dy = c[0] - tx, c[1] - ty
            out.append((dx * dx + dy * dy) ** 0.5)
    return out


# Distance-only SSSP dispatch: below this edge count the pure-Python
# binary-heap loop wins (no per-round numpy call overhead); above it
# the vectorized delta-stepping kernel takes over. Crossover measured
# with tools/kernel_bench.py (see KERNEL_BENCH.md): at 69k edges heap
# ≈ numpy; at 1M+ edges numpy is >5× faster and the gap widens with
# density. Kept below the bench/golden graphs' size so every pinned
# golden still runs the kernel it was minted under.
_NUMPY_DIST_EDGE_THRESHOLD = 150_000


def _dijkstra_dist(proj: Projection, s: int) -> list[float]:
    """Distance-only shortest distances — the APSP/SSSP hot loop.

    Dispatches between the binary-heap Dijkstra (small graphs: lower
    constant) and the numpy bucketed delta-stepping kernel
    (``_delta_dist_numpy``) whose per-edge work is vectorized — the
    scale answer to "CPython seconds per source" at the 25M-edge
    broadcast ceiling. Both are exact; identical results (min over the
    same candidate float sums)."""
    if proj.n_edges >= _NUMPY_DIST_EDGE_THRESHOLD:
        return _delta_dist_numpy(proj, s).tolist()
    n = len(proj.ids)
    dist = [_INF] * n
    settled = bytearray(n)
    indptr, adj_v, adj_w, _adj_e = proj.hot()
    dist[s] = 0.0
    pq = [(0.0, s)]
    push, pop = heapq.heappush, heapq.heappop
    while pq:
        d, u = pop(pq)
        if settled[u]:
            continue
        settled[u] = 1
        for i in range(indptr[u], indptr[u + 1]):
            v = adj_v[i]
            if settled[v]:
                continue
            nd = d + adj_w[i]
            if nd < dist[v]:
                dist[v] = nd
                push(pq, (nd, v))
    return dist


def _expand_csr(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Edge indices of a node frontier: for each node j, the range
    ``starts[j] .. starts[j]+counts[j]`` — flattened, fully vectorized
    (the repeat/arange trick; no Python per-node loop)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(counts[:-1])))
    return np.arange(total, dtype=np.int64) - np.repeat(offsets, counts) + np.repeat(starts, counts)


def _delta_dist_numpy(proj: Projection, s: int, delta: float | None = None) -> np.ndarray:
    """Exact single-source distances by bucketed delta-stepping with
    vectorized frontier relaxation (Meyer & Sanders 2003, numpy form).

    Nodes are settled in distance buckets of width ``delta`` (default:
    mean edge weight — the classic choice). Within a bucket, the
    request set's out-edges are relaxed in ONE vectorized pass
    (gather → add → ``np.minimum.at`` scatter-min), and only nodes
    whose tentative distance improved into the open bucket re-enter
    the request set — convergence per bucket, then the bucket settles.
    Heavy edges are relaxed eagerly with the light ones (a constant-
    factor trade that keeps the kernel to one relaxation primitive).

    The bucket width ADAPTS to the graph's shape at runtime: it starts
    at the mean edge weight (best on low-diameter graphs — random/
    dense shapes finish in a handful of buckets) and quadruples every
    16 buckets while the search is still running. A high round count
    IS the high-diameter signal: on a 1M-edge road-like grid,
    delta = mean needs ~1000 rounds of numpy fixed overhead (ties the
    heap kernel), 16× mean is 3.5× faster than the heap, and no static
    choice serves both regimes (degree does not discriminate: a 4-
    neighbour grid and a degree-4 random graph want opposite deltas).
    Adaptation is exact because each round's bucket ceiling is derived
    from the CURRENT open minimum and whatever delta is in force —
    the settle step never depends on deltas of earlier rounds.

    Exactness: with non-negative weights, a settled node's distance
    can never improve (any later candidate path enters through a node
    with tentative distance ≥ the bucket floor), so this computes the
    same min-over-candidate-sums as the heap kernel."""
    return _delta_dist_arrays(proj.indptr, proj.adj_v, proj.adj_w, len(proj.ids), s, delta)


def _delta_dist_arrays(
    indptr: np.ndarray,
    adj_v: np.ndarray,
    adj_w: np.ndarray,
    n: int,
    s: int,
    delta: float | None = None,
) -> np.ndarray:
    """Array-core of :func:`_delta_dist_numpy` — also runs on the
    reversed CSR (``reverse_dist_to``)."""
    dist = np.full(n, np.inf)
    dist[s] = 0.0
    if len(adj_w) == 0:
        return dist
    if delta is None:
        delta = float(np.nanmean(adj_w))
        if not np.isfinite(delta) or delta <= 0.0:
            delta = 1.0
    settled = np.zeros(n, dtype=bool)

    rounds = 0
    while True:
        open_d = dist[~settled]
        m = open_d.min() if open_d.size else np.inf
        if not np.isfinite(m):
            break
        # Adaptive widening (see _delta_dist_numpy docstring): many
        # rounds ⇒ high-diameter shape ⇒ wider buckets amortize the
        # per-round numpy overhead. Low-diameter graphs finish before
        # the first widening and keep the classic mean-weight delta.
        rounds += 1
        if rounds % 16 == 0:
            delta *= 4.0
        hi = (np.floor(m / delta) + 1.0) * delta
        req = np.flatnonzero(~settled & (dist < hi))
        while req.size:
            starts = indptr[req]
            counts = indptr[req + 1] - starts
            eidx = _expand_csr(starts, counts)
            if eidx.size == 0:
                break
            tgt = adj_v[eidx]
            nd = np.repeat(dist[req], counts) + adj_w[eidx]
            # NaN costs never relax in the heap kernel (nd < dist is
            # false); mask them here too — np.minimum would propagate
            # the NaN into dist otherwise.
            bad = np.isnan(nd)
            if bad.any():
                keep = ~bad
                tgt = tgt[keep]
                nd = nd[keep]
            old = dist[tgt]
            np.minimum.at(dist, tgt, nd)
            imp = np.unique(tgt[dist[tgt] < old])
            # only improvements that land inside the open bucket need
            # re-relaxation now; the rest wait for their own bucket
            req = imp[dist[imp] < hi]
        settled |= dist < hi
    return dist


def _dijkstra_idx(
    proj: Projection,
    s: int,
    t: int = -1,
    use_heuristic: bool = False,
    excluded_edges: set[int] | frozenset[int] | None = None,
    excluded_nodes: set[int] | frozenset[int] | None = None,
    h_array: Sequence[float] | None = None,
) -> tuple[list[float], list]:
    """Full Dijkstra with parent tracking and optional edge/node masks;
    with ``use_heuristic`` it is A*. Returns (dist array, parent array
    of (u, edge_cost, edge_idx)). With a target, stops as soon as the
    target is settled (the point-to-point early-termination the
    reference gets from gds.alpha.shortestPath vs the full SSSP,
    neo4j-code.txt:1–17).

    ``h_array`` supplies a precomputed consistent heuristic (e.g. the
    exact unmasked distance-to-target from one reverse Dijkstra — the
    landmark trick Yen's spur probes use). An infinite h means the
    node provably cannot reach the target and is pruned outright."""
    n = len(proj.ids)
    h = h_array if h_array is not None else (
        _heuristic_array(proj, t) if (use_heuristic and t >= 0) else None
    )
    dist: list[float] = [_INF] * n
    parent: list = [None] * n
    settled = bytearray(n)
    indptr, adj_v, adj_w, adj_e = proj.hot()
    dist[s] = 0.0
    pq: list[tuple[float, int]] = [((h[s] if h else 0.0), s)]
    push, pop = heapq.heappush, heapq.heappop
    ee, en = excluded_edges, excluded_nodes

    while pq:
        _f, u = pop(pq)
        if settled[u]:
            continue
        settled[u] = 1
        if u == t:
            break
        du = dist[u]
        for i in range(indptr[u], indptr[u + 1]):
            v = adj_v[i]
            if settled[v]:
                continue
            if ee is not None and adj_e[i] in ee:
                continue
            if en is not None and v in en:
                continue
            nd = du + adj_w[i]
            if nd < dist[v]:
                dist[v] = nd
                parent[v] = (u, adj_w[i], adj_e[i])
                push(pq, (nd + (h[v] if h else 0.0), v))
    return dist, parent


def dijkstra(
    proj: Projection,
    source: str,
    target: str | None = None,
    use_heuristic: bool = False,
) -> tuple[dict[str, float], dict[str, tuple[str, float, int]]]:
    """String-id wrapper: returns (dist, parent) dicts over reachable
    nodes; parent[v] = (u, edge_cost, edge_idx)."""
    s = proj.index.get(source)
    if s is None:
        # Unknown source → empty result, matching the reference's
        # MATCH-then-CALL shape (an unmatched start node yields no
        # rows, neo4j-code.txt:2).
        return ({}, {})
    t = proj.index.get(target, -1) if target is not None else -1
    dist, parent = _dijkstra_idx(proj, s, t, use_heuristic)
    ids = proj.ids
    ddist = {ids[i]: d for i, d in enumerate(dist) if d != _INF}
    dparent = {ids[i]: (ids[p[0]], p[1], p[2]) for i, p in enumerate(parent) if p is not None}
    return ddist, dparent


def _reconstruct_idx(parent: list, s: int, t: int):
    if t != s and parent[t] is None:
        return None
    nodes = [t]
    costs: list[float] = []
    eidxs: list[int] = []
    cur = t
    while cur != s:
        u, w, eidx = parent[cur]
        nodes.append(u)
        costs.append(w)
        eidxs.append(eidx)
        cur = u
    nodes.reverse()
    costs.reverse()
    eidxs.reverse()
    return nodes, costs, eidxs


def shortest_path(
    proj: Projection,
    source: str,
    target: str,
    use_heuristic: bool = False,
) -> tuple[list[str], list[float]] | None:
    """Point-to-point path as (node-id sequence, per-hop costs)."""
    s, t = proj.index.get(source), proj.index.get(target)
    if s is None or t is None:
        return None
    _dist, parent = _dijkstra_idx(proj, s, t, use_heuristic)
    r = _reconstruct_idx(parent, s, t)
    if r is None:
        return None
    return [proj.ids[i] for i in r[0]], r[1]


def sssp(proj: Projection, source: str) -> dict[str, float]:
    """Single-source distances to every reachable node (G2 semantics;
    delta-stepping's ``delta`` is a scheduling knob with no effect on
    results — SURVEY.md §2.2 G2)."""
    s = proj.index_map().get(source)
    if s is None:
        return {}
    dist = _dijkstra_dist(proj, s)
    ids = proj.ids
    # str() coerces the spilled projection's numpy unicode ids to
    # plain str (JVM-side unpickling rejects numpy scalars); no-op
    # for the broadcast tier's Python-list ids
    return {str(ids[i]): d for i, d in enumerate(dist) if d != _INF}


def yens_k(proj: Projection, source: str, target: str, k: int) -> list[tuple[list[str], list[float]]]:
    """Yen's K loopless shortest paths (G5, neo4j-code.txt:127–165).

    Path identity is the physical-edge sequence (multigraph-aware).
    Returns up to k (nodes, hop_costs) pairs ordered by total cost."""
    s, t = proj.index.get(source), proj.index.get(target)
    if s is None or t is None:
        return []
    _d, parent = _dijkstra_idx(proj, s, t)
    r = _reconstruct_idx(parent, s, t)
    if r is None:
        return []
    a_paths: list[tuple[list[int], list[float], list[int]]] = [r]
    candidates: list[tuple[float, list[int], list[float], list[int]]] = []
    seen: set[tuple[int, ...]] = {tuple(r[2])}
    # Landmark heuristic for the spur probes: the exact unmasked
    # distance-to-target. Masking only removes edges, so it stays
    # admissible and consistent, and every probe is goal-directed.
    h = reverse_dist_to(proj, t)

    while len(a_paths) < k:
        prev_nodes, prev_costs, prev_eidxs = a_paths[-1]
        for i in range(len(prev_nodes) - 1):
            spur = prev_nodes[i]
            root_nodes = prev_nodes[: i + 1]
            root_costs = prev_costs[:i]
            root_eidxs = prev_eidxs[:i]
            # Mask the outgoing edge each accepted path with this root
            # prefix takes from the spur node.
            masked_edges: set[int] = set()
            for p_nodes, _pc, p_eidxs in a_paths:
                if p_nodes[: i + 1] == root_nodes and len(p_eidxs) > i:
                    masked_edges.add(p_eidxs[i])
            masked_nodes = set(root_nodes[:-1])
            _d2, par = _dijkstra_idx(
                proj, spur, t, excluded_edges=masked_edges, excluded_nodes=masked_nodes, h_array=h
            )
            sp = _reconstruct_idx(par, spur, t)
            if sp is None:
                continue
            nodes = root_nodes[:-1] + sp[0]
            costs = root_costs + sp[1]
            eidxs = root_eidxs + sp[2]
            key = tuple(eidxs)
            if key in seen:
                continue
            seen.add(key)
            heapq.heappush(candidates, (sum(costs), nodes, costs, eidxs))
        if not candidates:
            break
        _total, nodes, costs, eidxs = heapq.heappop(candidates)
        a_paths.append((nodes, costs, eidxs))

    ids = proj.ids
    return [([ids[i] for i in n], c) for n, c, _e in a_paths]


def per_source_longest(
    proj: Projection,
    sources: Sequence[str],
    topk: int,
    indices: Sequence[int] | None = None,
) -> list[tuple[str, str, float]]:
    """For each source, the ``topk`` largest finite shortest-path
    distances (self-pairs excluded). Used by the distributed APSP:
    the global top-k over all pairs is contained in the union of
    per-source top-k, so each task emits only ``topk`` rows per source
    (map-side top-k; neo4j-code.txt:56–77 post-pipeline).

    Tie-break matches the global ORDER BY distance DESC, source ASC,
    target ASC — among equal distances keep smallest target ids.

    ``indices`` optionally supplies the int node index of each source
    (parallel to ``sources``): the file-spilled tier's wave drivers
    precompute them so a spilled projection never has to build its
    per-process string→int dict (``load_spilled_projection``)."""
    ids = proj.ids
    out: list[tuple[str, str, float]] = []
    use_np = proj.n_edges >= _NUMPY_DIST_EDGE_THRESHOLD
    idx_map = None if indices is not None else proj.index_map()
    for j, src in enumerate(sources):
        s = indices[j] if indices is not None else idx_map.get(src)
        if s is None:
            continue
        if use_np:
            dist_np = _delta_dist_numpy(proj, s)
            dist_np[s] = np.inf  # self-pair excluded
            finite = np.flatnonzero(np.isfinite(dist_np))
            if finite.size == 0:
                continue
            if finite.size > topk:
                d = dist_np[finite]
                # np.partition boundary ties are arbitrary, so keep ALL
                # candidates >= the k-th largest value and let the final
                # (-d, id) sort apply the deterministic tie-break.
                kth = np.partition(d, finite.size - topk)[finite.size - topk]
                finite = finite[d >= kth]
            best = sorted((-float(dist_np[i]), str(ids[i])) for i in finite)[:topk]
        else:
            dist = _dijkstra_dist(proj, s)
            # k-heap instead of a full sort: O(V log k) per source.
            best = heapq.nsmallest(
                topk, ((-d, str(ids[i])) for i, d in enumerate(dist) if d != _INF and i != s)
            )
        out.extend((src, t, -negd) for negd, t in best)
    return out


def _reverse_csr(
    proj: Projection,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(rptr, r_v, r_w, r_e) — the reversed graph's CSR, built
    vectorized (stable argsort by destination). ``r_e`` carries the
    ORIGINAL edge index of each reversed slot so backward searches can
    reconstruct paths with edge identity."""
    n = len(proj.ids)
    perm = np.argsort(proj.adj_v, kind="stable")
    rcounts = np.bincount(proj.adj_v, minlength=n)
    rptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(rcounts, out=rptr[1:])
    # source node of CSR slot i is searchsorted over indptr
    srcs = np.searchsorted(proj.indptr, np.arange(proj.n_edges), side="right") - 1
    return rptr, srcs[perm].astype(np.int32, copy=False), proj.adj_w[perm], perm


def bidirectional_shortest_path(
    proj: Projection, source: str, target: str
) -> tuple[list[str], list[float]] | None:
    """Point-to-point path by BIDIRECTIONAL Dijkstra (Pohl 1971; the
    standard p2p accelerator): a forward search from the source and a
    backward search from the target (over the reversed CSR) advance
    alternately — always the side with the smaller heap minimum — and
    stop once ``top_f + top_b >= mu``, the best meeting cost seen.
    Each frontier only grows to roughly the ~half-radius ball, so on
    large diameter graphs the two searches settle a small fraction of
    what single-sided Dijkstra would.

    Exact for non-negative weights (the classic stopping criterion);
    the RETURNED PATH may differ from forward Dijkstra's on equal-cost
    ties (both are valid shortest paths — same caveat as the BSP/
    broadcast Yen pair). Returns (node ids, per-hop costs) or None."""
    s, t = proj.index.get(source), proj.index.get(target)
    if s is None or t is None:
        return None
    if s == t:
        return [proj.ids[s]], []
    n = len(proj.ids)
    indptr, adj_v, adj_w, adj_e = proj.hot()
    rptr, r_v, r_w, r_e = proj.rhot()

    inf = _INF
    dist_f: list[float] = [inf] * n
    dist_b: list[float] = [inf] * n
    par_f: list = [None] * n  # (pred, w, eidx) toward source
    par_b: list = [None] * n  # (succ, w, eidx) toward target
    set_f, set_b = bytearray(n), bytearray(n)
    dist_f[s] = 0.0
    dist_b[t] = 0.0
    pq_f: list[tuple[float, int]] = [(0.0, s)]
    pq_b: list[tuple[float, int]] = [(0.0, t)]
    push, pop = heapq.heappush, heapq.heappop
    mu = inf
    meet = -1

    while pq_f and pq_b:
        if pq_f[0][0] + pq_b[0][0] >= mu:
            break
        forward = pq_f[0][0] <= pq_b[0][0]
        if forward:
            d, u = pop(pq_f)
            if set_f[u]:
                continue
            set_f[u] = 1
            du = dist_f[u]
            for i in range(indptr[u], indptr[u + 1]):
                v = adj_v[i]
                if set_f[v]:
                    continue
                nd = du + adj_w[i]
                if nd < dist_f[v]:
                    dist_f[v] = nd
                    par_f[v] = (u, adj_w[i], adj_e[i])
                    push(pq_f, (nd, v))
                if dist_b[v] != inf and nd + dist_b[v] < mu:
                    mu = nd + dist_b[v]
                    meet = v
        else:
            d, u = pop(pq_b)
            if set_b[u]:
                continue
            set_b[u] = 1
            du = dist_b[u]
            for i in range(rptr[u], rptr[u + 1]):
                v = r_v[i]
                if set_b[v]:
                    continue
                nd = du + r_w[i]
                if nd < dist_b[v]:
                    dist_b[v] = nd
                    par_b[v] = (u, r_w[i], r_e[i])
                    push(pq_b, (nd, v))
                if dist_f[v] != inf and nd + dist_f[v] < mu:
                    mu = nd + dist_f[v]
                    meet = v
    if meet < 0:
        return None
    # forward half: source → meet
    nodes = [meet]
    costs: list[float] = []
    cur = meet
    while cur != s:
        u, w, _e = par_f[cur]
        nodes.append(u)
        costs.append(w)
        cur = u
    nodes.reverse()
    costs.reverse()
    # backward half: meet → target
    cur = meet
    while cur != t:
        u, w, _e = par_b[cur]
        nodes.append(u)
        costs.append(w)
        cur = u
    return [proj.ids[i] for i in nodes], costs


def reverse_dist_to(proj: Projection, t: int) -> list[float]:
    """d(v, t) for every v: one SSSP on the reversed graph. Small
    graphs run the list-indexed heap loop; past the numpy threshold
    the reverse CSR feeds the vectorized delta-stepping kernel (same
    dispatch rationale as ``_dijkstra_dist``)."""
    n = len(proj.ids)
    rptr_np, rv_np, rw_np, _re_np = proj.rnp()
    if proj.n_edges >= _NUMPY_DIST_EDGE_THRESHOLD:
        return _delta_dist_arrays(rptr_np, rv_np, rw_np, n, t).tolist()
    rptr = rptr_np.tolist()
    r_v = rv_np.tolist()
    r_w = rw_np.tolist()
    dist = [_INF] * n
    settled = bytearray(n)
    dist[t] = 0.0
    pq = [(0.0, t)]
    push, pop = heapq.heappush, heapq.heappop
    while pq:
        d, u = pop(pq)
        if settled[u]:
            continue
        settled[u] = 1
        for i in range(rptr[u], rptr[u + 1]):
            v = r_v[i]
            if settled[v]:
                continue
            nd = d + r_w[i]
            if nd < dist[v]:
                dist[v] = nd
                push(pq, (nd, v))
    return dist


# ---------------------------------------------------------------------------
# Analytics kernels on the broadcast projection
# ---------------------------------------------------------------------------
# The small-graph tier of the analytics family (graph/etl.py dispatches):
# below BROADCAST_EDGE_LIMIT these run in the driver over the
# driver-held CSR instead of a multi-superstep DataFrame loop whose
# per-superstep scheduling floor dwarfs the actual work (measured at 70k
# edges: WCC 29.6s / PageRank 12.8s as superstep loops — milliseconds
# here). Each kernel replicates its DataFrame twin's pinned contract
# exactly (WCC min-STRING-label, PageRank power-iteration math with
# uniform dangling redistribution, LPA integer votes with
# smallest-STRING-label ties); etl.py keeps the superstep loops as the
# past-broadcast strategy.


def wcc_kernel(proj: Projection):
    """Weakly connected components: (node id, min STRING id in its
    component) for every node, matching ``dedup.duplicate_clusters``'s
    min-label contract (and the recursive-CTE + MIN(varchar) oracle).

    Vectorized min-hooking + full pointer jumping (the Shiloach–Vishkin
    / FastSV family): each round hooks every edge's larger root onto
    the smaller via one scatter-min over the edge arrays, then
    compresses all trees to stars — O(log n) rounds, every step a
    whole-array numpy op (no Python per-edge loop, so a 25M-edge
    projection stays in the hundreds of ms)."""
    import pandas as pd

    n = len(proj.ids)
    if n == 0:
        return []
    u = proj.esrc()
    v = proj.adj_v.astype(np.int64)
    parent = np.arange(n, dtype=np.int64)
    while True:
        pu = parent[u]
        pv = parent[v]
        hi = np.maximum(pu, pv)
        lo = np.minimum(pu, pv)
        old = parent.copy()
        np.minimum.at(parent, hi, lo)
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
        if np.array_equal(parent, old):
            break
    # Roots are min-INDEX per component (first-appearance order);
    # relabel to min-STRING id — the pinned contract of the DataFrame
    # twin and its SQL oracle.
    ids = pd.Series(np.asarray(proj.ids, dtype=object))
    labels = ids.groupby(parent).transform("min")
    return list(zip(proj.ids, labels.tolist()))


def lpa_kernel(proj: Projection, iters: int = 10):
    """Synchronous label propagation — the exact integer-vote contract
    of ``etl.label_propagation``: undirected (each directed edge votes
    both ways, parallel edges each count), every node starts as its own
    label, each round relabels to the most frequent neighbor label with
    ties to the lexicographically smallest STRING label, no-neighbor
    nodes keep theirs. All-integer, so bit-identical to the superstep
    twin by construction.

    Vectorized round: encode (voter, label) pairs as one int64 key,
    ``np.unique`` counts them, and a lexsort by (voter, -count,
    string-rank of label) makes the first row per voter the winner —
    no Python per-node loop."""
    n = len(proj.ids)
    if n == 0:
        return []
    srcs = proj.esrc()
    dsts = proj.adj_v.astype(np.int64)
    ua = np.concatenate([srcs, dsts])
    ub = np.concatenate([dsts, srcs])
    # str_rank[i] = position of ids[i] in sorted-string order — the
    # tie-break comparator (labels are node-id STRINGS in the
    # DataFrame twin; index order is first-appearance, not string
    # order, so comparing raw indices would break ties differently).
    order = sorted(range(n), key=proj.ids.__getitem__)
    str_rank = np.empty(n, dtype=np.int64)
    str_rank[np.asarray(order, dtype=np.int64)] = np.arange(n, dtype=np.int64)
    labels = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        keys = ua * n + labels[ub]
        uk, counts = np.unique(keys, return_counts=True)
        ka = uk // n
        kl = uk % n
        sel = np.lexsort((str_rank[kl], -counts, ka))
        ka_s = ka[sel]
        first = np.ones(len(ka_s), dtype=bool)
        first[1:] = ka_s[1:] != ka_s[:-1]
        new_labels = labels.copy()
        new_labels[ka_s[first]] = kl[sel][first]
        labels = new_labels
    ids = proj.ids
    return [(ids[i], ids[labels[i]]) for i in range(n)]


def scc_kernel(proj: Projection):
    """Strongly connected components: (node id, min STRING id in its
    SCC) for every node — the directed counterpart of
    :func:`wcc_kernel`'s min-label contract. Iterative Tarjan (Tarjan
    1972) with an explicit work stack (no recursion — CPython's
    recursion limit dies on road-network path depths), one pass over
    the CSR. Self-loops and parallel edges are harmless (they never
    change SCC membership)."""
    n = len(proj.ids)
    if n == 0:
        return []
    indptr, adj_v, _adj_w, _adj_e = proj.hot()
    UNVISITED = -1
    idx = [UNVISITED] * n
    low = [0] * n
    on = bytearray(n)
    stack: list[int] = []
    comp = [-1] * n
    counter = 0
    ncomp = 0
    for root in range(n):
        if idx[root] != UNVISITED:
            continue
        idx[root] = low[root] = counter
        counter += 1
        stack.append(root)
        on[root] = 1
        work = [(root, indptr[root])]
        while work:
            v, ptr = work[-1]
            if ptr < indptr[v + 1]:
                work[-1] = (v, ptr + 1)
                w = adj_v[ptr]
                if idx[w] == UNVISITED:
                    idx[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on[w] = 1
                    work.append((w, indptr[w]))
                elif on[w] and idx[w] < low[v]:
                    low[v] = idx[w]
            else:
                work.pop()
                if work and low[v] < low[work[-1][0]]:
                    low[work[-1][0]] = low[v]
                if low[v] == idx[v]:
                    while True:
                        w = stack.pop()
                        on[w] = 0
                        comp[w] = ncomp
                        if w == v:
                            break
                    ncomp += 1
    ids = proj.ids
    best: list[str | None] = [None] * ncomp
    for i in range(n):
        c = comp[i]
        if best[c] is None or ids[i] < best[c]:
            best[c] = ids[i]
    return [(ids[i], best[comp[i]]) for i in range(n)]


def kcore_kernel(proj: Projection):
    """k-core decomposition of the UNDIRECTED SIMPLE graph underlying
    the multigraph (direction and parallel edges collapsed, self-loops
    dropped — the standard convention): (node id, core number) for
    every node. Batagelj–Zaveršnik 2003 bucket peeling — O(E) after
    the numpy simple-graph build; the per-edge peel loop is pure
    Python over list-indexed arrays (same trade as the heap kernels:
    lists beat numpy scalars on pointer-chasing loops)."""
    n = len(proj.ids)
    if n == 0:
        return []
    u = proj.esrc()
    v = proj.adj_v.astype(np.int64)
    a = np.minimum(u, v)
    b = np.maximum(u, v)
    keep = a != b
    uniq = np.unique(a[keep] * n + b[keep])
    ua, ub = uniq // n, uniq % n
    s = np.concatenate([ua, ub])
    t = np.concatenate([ub, ua])
    order = np.argsort(s, kind="stable")
    tt = t[order].tolist()
    counts = np.bincount(s, minlength=n)
    ptr_np = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=ptr_np[1:])
    ptr = ptr_np.tolist()

    core = counts.tolist()
    md = max(core) if n else 0
    bin_start = [0] * (md + 2)
    for d in core:
        bin_start[d + 1] += 1
    for d in range(1, md + 2):
        bin_start[d] += bin_start[d - 1]
    start = bin_start[:-1]
    pos = [0] * n
    vert = [0] * n
    cnt = start[:]
    for vv in range(n):
        pos[vv] = cnt[core[vv]]
        vert[pos[vv]] = vv
        cnt[core[vv]] += 1
    for i in range(n):
        vv = vert[i]
        cv = core[vv]
        for j in range(ptr[vv], ptr[vv + 1]):
            uu = tt[j]
            cu = core[uu]
            if cu > cv:
                pu = pos[uu]
                pw = start[cu]
                w = vert[pw]
                if uu != w:
                    pos[uu] = pw
                    vert[pu] = w
                    pos[w] = pu
                    vert[pw] = uu
                start[cu] += 1
                core[uu] = cu - 1
    ids = proj.ids
    return [(ids[i], core[i]) for i in range(n)]


def biconnectivity_kernel(proj: Projection, parallel_pairs: set | None = None):
    """Bridges and articulation points of the UNDIRECTED graph
    underlying the multigraph (Tarjan 1974 low-link, iterative DFS —
    same no-recursion discipline as :func:`scc_kernel`). Direction is
    collapsed; self-loops are dropped; parallel physical edges change
    bridge-ness (a pair joined by >= 2 physical roads can never be a
    bridge: cutting one leaves the other) but not articulation-ness
    (removing a NODE severs every parallel edge at once).

    ``parallel_pairs`` is the set of (min_id, max_id) node pairs
    joined by >= 2 DISTINCT physical edge ids. It cannot be derived
    from the projection: the reference data stores a two-way road as
    two directed rows sharing one EDGE id (CSV1: 4,825 of 5,046 edge
    ids appear in both directions), so row-counting would brand every
    two-way road "parallel" and empty the bridge set. The caller
    (``etl.bridge_edges``) computes it DataFrame-side from the road
    ids — only 60 pairs in CSV1 — and hands the small set in.

    Returns (bridges, articulation): bridges as (min_id, max_id)
    string-canonical pairs — tree edges with low[child] > disc[parent]
    not in ``parallel_pairs`` — and articulation node ids — DFS roots
    with >= 2 tree children, or non-roots with a child where
    low[child] >= disc[parent]."""
    n = len(proj.ids)
    if n == 0:
        return [], []
    parallel_pairs = parallel_pairs or set()
    u = proj.esrc()
    v = proj.adj_v.astype(np.int64)
    a = np.minimum(u, v)
    b = np.maximum(u, v)
    keep = a != b
    uniq = np.unique(a[keep] * n + b[keep])
    ua, ub = uniq // n, uniq % n
    m = len(uniq)
    # symmetrized CSR over the simple graph; each undirected edge gets
    # one id so the DFS can skip exactly the parent EDGE (not every
    # edge to the parent); physical parallelism is filtered at the end
    # via parallel_pairs instead of inflating the structure
    s = np.concatenate([ua, ub])
    t = np.concatenate([ub, ua])
    eid = np.concatenate([np.arange(m), np.arange(m)])
    order = np.argsort(s, kind="stable")
    tt = t[order].tolist()
    ee = eid[order].tolist()
    counts = np.bincount(s, minlength=n)
    ptr_np = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=ptr_np[1:])
    ptr = ptr_np.tolist()
    ea, eb = ua.tolist(), ub.tolist()

    UNVISITED = -1
    disc = [UNVISITED] * n
    low = [0] * n
    counter = 0
    bridges_idx: list[int] = []
    artic = bytearray(n)
    for root in range(n):
        if disc[root] != UNVISITED:
            continue
        disc[root] = low[root] = counter
        counter += 1
        root_children = 0
        # work frames: (node, next CSR ptr, parent edge id, parent node)
        work = [(root, ptr[root], -1, -1)]
        while work:
            x, p, pe, parent = work[-1]
            if p < ptr[x + 1]:
                work[-1] = (x, p + 1, pe, parent)
                y = tt[p]
                e = ee[p]
                if disc[y] == UNVISITED:
                    disc[y] = low[y] = counter
                    counter += 1
                    if x == root:
                        root_children += 1
                    work.append((y, ptr[y], e, x))
                elif e != pe and disc[y] < low[x]:
                    low[x] = disc[y]
            else:
                work.pop()
                if work:
                    px = work[-1][0]
                    if low[x] < low[px]:
                        low[px] = low[x]
                    if low[x] > disc[px]:
                        bridges_idx.append(pe)
                    if px != root and low[x] >= disc[px]:
                        artic[px] = 1
        if root_children >= 2:
            artic[root] = 1
    ids = proj.ids
    bridges = sorted(
        pair
        for e in bridges_idx
        for pair in ((min(ids[ea[e]], ids[eb[e]]), max(ids[ea[e]], ids[eb[e]])),)
        if pair not in parallel_pairs
    )
    articulation = sorted(ids[i] for i in range(n) if artic[i])
    return bridges, articulation


def restart_seeds(sources: Iterable[str], present) -> list[str]:
    """Personalized PageRank's restart set, one contract for both
    tiers: the distinct ``sources`` that are nodes of the graph
    (``present`` answers ``in``), sorted. The restart vector is
    uniform over them, so a repeated or absent source id changes
    nothing. ``ValueError`` when none is present."""
    seeds = sorted({s for s in sources if s in present})
    if not seeds:
        raise ValueError("personalized_pagerank: no source is present in the graph")
    return seeds


def ppr_kernel(
    proj: Projection,
    sources: Sequence[str] | None,
    damping: float = 0.85,
    iters: int = 20,
):
    """(Personalized) PageRank / random walk with restart (Haveliwala
    2002; GDS pageRank, with sourceNodes when ``sources`` is given):
    power iteration over the directed multigraph (parallel edges each
    carry mass), fixed ``iters`` iterations, no convergence test.
    Restart mass (1 - damping) AND dangling mass both return along the
    restart vector: uniform over the distinct ``sources`` present
    (:func:`restart_seeds`), so rank concentrates
    around the seeds (the recommendation / local-relevance primitive),
    or uniform over every node when ``sources`` is None (plain
    PageRank). r0 is the restart vector; nodes unreachable from the
    sources stay exactly 0.0. Vectorized: per iteration one gather
    (r/deg over edge sources) + one ``np.bincount`` scatter-add onto
    destinations. Returns RAW (node id, rank) — the caller applies the
    6-dp F.round determinism contract DataFrame-side, same as the
    superstep twin (summation-order wobble ~1e-13 vs the 1e-6
    quantum)."""
    n = len(proj.ids)
    if n == 0:
        return []
    if sources is None:
        restart = np.full(n, 1.0 / n)
    else:
        idx = [proj.index[s] for s in restart_seeds(sources, proj.index)]
        restart = np.zeros(n)
        restart[idx] = 1.0 / len(idx)
    deg = np.diff(proj.indptr).astype(np.float64)
    srcs = proj.esrc()
    dangling_mask = deg == 0.0
    safe_deg = np.where(dangling_mask, 1.0, deg)
    r = restart.copy()
    for _ in range(iters):
        dangling = float(r[dangling_mask].sum())
        share = (r / safe_deg)[srcs]
        contrib = np.bincount(proj.adj_v, weights=share, minlength=n)
        r = (1.0 - damping + damping * dangling) * restart + damping * contrib
    return list(zip(proj.ids, r.tolist()))


def _half(gather: np.ndarray, scatter: np.ndarray, mass: np.ndarray) -> np.ndarray:
    """One power-iteration half-step over the edge arrays: gather
    ``mass`` at each edge's ``gather`` end, scatter-add it onto the
    ``scatter`` end, L2-normalise — zeros when the mass died (no
    divide-by-zero), and zeros stay zeros. HITS takes two per
    iteration, eigenvector centrality one. DataFrame twin:
    ``etl._half``."""
    c = np.bincount(scatter, weights=mass[gather], minlength=len(mass))
    norm = float(np.sqrt((c * c).sum()))
    return c / norm if norm > 0.0 else np.zeros(len(mass))


def eigenvector_kernel(proj: Projection, iters: int = 20):
    """Eigenvector centrality by power iteration (Bonacich 1987; the
    GDS eigenvector contract): x ← normalize2(Aᵀ x) from a uniform
    start, fixed ``iters`` iterations — one :func:`_half` each, so
    centrality flows along edge direction onto targets, parallel edges
    each carry mass (multigraph convention, same as
    :func:`ppr_kernel`). If the in-mass dies (no edges, or a DAG where
    everything drains), the zero vector is returned rather than
    dividing by zero. Raw floats out — caller applies the 6-dp F.round
    contract (summation-order wobble through the normalization ~1e-13
    vs the 1e-6 quantum)."""
    n = len(proj.ids)
    if n == 0:
        return []
    srcs = proj.esrc()
    x = np.full(n, 1.0 / n)
    for _ in range(iters):
        x = _half(srcs, proj.adj_v, x)
    return list(zip(proj.ids, x.tolist()))


def msf_kernel(proj: Projection):
    """Minimum spanning forest (Borůvka 1926) of the undirected simple
    weighted graph underlying the road multigraph — parallel edges and
    direction collapse to one undirected pair carrying the MIN cost
    (a road network's cheapest physical link between two junctions).

    Uniqueness contract: edges are compared under the strict total
    order ``(cost, a, b)`` with ``a < b`` the STRING-lexicographic
    endpoint naming — distinct keys make the spanning forest unique,
    so Borůvka here, the DataFrame superstep twin, and the
    independent KRUSKAL replay oracle all provably return the same
    edge set (the classic distinct-weights MST uniqueness argument).

    Vectorized rounds, no per-edge Python loop: each round (1) fully
    pointer-jumps components, (2) picks every component's first
    cross-component edge in the global total order via one lexsort +
    first-occurrence ``np.unique``, (3) min-hooks the chosen roots
    (scatter-min, same shape as :func:`wcc_kernel`) — O(log n) rounds,
    so a 25M-edge broadcast projection stays in whole-array numpy.

    Returns sorted (a, b, cost) rows, |V| - |components| of them.
    """
    n = len(proj.ids)
    if n == 0:
        return []
    u = proj.esrc()
    v = proj.adj_v.astype(np.int64)
    w = proj.adj_w
    lo = np.minimum(u, v)
    hi = np.maximum(u, v)
    keep = lo != hi
    lo, hi, w = lo[keep], hi[keep], w[keep]
    if len(lo) == 0:
        return []
    # collapse parallel edges: min cost per unordered index pair
    key = lo * n + hi
    order = np.argsort(key, kind="stable")
    key_s = key[order]
    first = np.ones(len(key_s), dtype=bool)
    first[1:] = key_s[1:] != key_s[:-1]
    # min w within each key group (w order inside group is arbitrary —
    # reduceat over the stably-sorted groups)
    starts = np.flatnonzero(first)
    w_min = np.minimum.reduceat(w[order], starts)
    lo_p = lo[order][first]
    hi_p = hi[order][first]
    # endpoint naming by STRING id, a < b lexicographically
    ids = np.asarray(proj.ids, dtype=object)
    a = ids[lo_p]
    b = ids[hi_p]
    swap = a > b
    a, b = np.where(swap, b, a), np.where(swap, a, b)
    # global strict total order (cost, a, b): rank 0 = cheapest edge
    rank = np.lexsort((b, a, w_min))
    lo_p, hi_p, a, b, w_min = lo_p[rank], hi_p[rank], a[rank], b[rank], w_min[rank]
    m = len(lo_p)
    pos = np.arange(m, dtype=np.int64)

    parent = np.arange(n, dtype=np.int64)
    chosen = np.zeros(m, dtype=bool)
    while True:
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
        rl = parent[lo_p]
        rh = parent[hi_p]
        cross = rl != rh
        if not cross.any():
            break
        cpos = pos[cross]
        # each endpoint root is a candidate owner of the edge; first
        # occurrence per root in (root, total-order-position) order is
        # that component's Borůvka pick
        roots = np.concatenate([rl[cross], rh[cross]])
        epos = np.concatenate([cpos, cpos])
        sel = np.lexsort((epos, roots))
        roots_s = roots[sel]
        keep_first = np.ones(len(roots_s), dtype=bool)
        keep_first[1:] = roots_s[1:] != roots_s[:-1]
        picked = np.unique(epos[sel][keep_first])
        chosen[picked] = True
        # min-hook the picked edges' roots, then the outer loop re-jumps
        prl = parent[lo_p[picked]]
        prh = parent[hi_p[picked]]
        rhi = np.maximum(prl, prh)
        rlo = np.minimum(prl, prh)
        np.minimum.at(parent, rhi, rlo)
    out = sorted(zip(a[chosen], b[chosen], w_min[chosen]))
    return [(str(x), str(y), float(c)) for x, y, c in out]


def louvain_kernel(proj: Projection, max_sweeps: int = 100, max_levels: int = 32):
    """Louvain community detection (Blondel et al. 2008) over the
    UNWEIGHTED undirected simple graph underlying the road multigraph
    (parallel edges and direction collapsed to one unit-weight pair,
    self-loops dropped — community structure of the physical network,
    not of its cost annotations).

    DETERMINISM CONTRACT (what the replay oracle pins):

    * local-moving sweeps visit nodes in ascending community-label
      order of their CURRENT graph's node naming (level 0: the string
      node ids; coarser levels: the min original-member id), repeating
      until a full sweep moves nothing;
    * a node is first removed from its community, then joins the
      candidate community maximizing ΔQ = k_in/m − Σtot·k_v/(2m²)
      over its neighbour communities plus its own; ties break to the
      SMALLEST community label (a node never opens a fresh singleton —
      the python-louvain convention);
    * coarsening relabels each community to its min original-member
      string id and sums pair weights (intra-community weight becomes
      the supernode's self-loop); levels repeat until a level moves
      nothing.

    Sequential-sweep algorithm → kernel tier only, like
    ``biconnectivity_kernel``: one call over the driver-held CSR
    (Python dict sweeps, O(E) per sweep). Past the broadcast limit
    the order-dependent sweep has no faithful superstep twin —
    ``etl.label_propagation`` is the documented distributed
    community-detection path (a dispatch `louvain` refuses).

    Returns sorted (NodeId, community) rows, community = min member id.
    """
    n = len(proj.ids)
    if n == 0:
        return []
    # unit-weight undirected simple pairs on original string ids
    u = proj.esrc()
    v = proj.adj_v.astype(np.int64)
    lo = np.minimum(u, v)
    hi = np.maximum(u, v)
    keep = lo != hi
    pair_keys = np.unique(lo[keep] * n + hi[keep])
    ids = proj.ids
    # adjacency as {node: {nbr: weight}}; node naming = original ids
    adj: dict = {s: {} for s in ids}
    loops: dict = {s: 0.0 for s in ids}
    for kk in pair_keys.tolist():
        a, b = ids[kk // n], ids[kk % n]
        adj[a][b] = adj[a].get(b, 0.0) + 1.0
        adj[b][a] = adj[b].get(a, 0.0) + 1.0

    membership = {s: s for s in ids}  # original node -> community label

    for _level in range(max_levels):
        nodes = sorted(adj)
        m = sum(w for nb in adj.values() for w in nb.values()) / 2.0 + sum(
            loops.values()
        )
        if m == 0.0:
            break
        k = {
            vv: sum(adj[vv].values()) + 2.0 * loops[vv] for vv in nodes
        }  # weighted degree
        comm = {vv: vv for vv in nodes}
        tot = dict(k)  # Σtot per community (label == some node id)
        moved_any_level = False
        for _sweep in range(max_sweeps):
            moved = False
            for vv in nodes:
                cur = comm[vv]
                # weights to neighbouring communities (loop excluded)
                w_to: dict = {}
                for nb, w in adj[vv].items():
                    c = comm[nb]
                    w_to[c] = w_to.get(c, 0.0) + w
                tot[cur] -= k[vv]
                best_c, best_gain = cur, None
                for c in sorted(w_to.keys() | {cur}):
                    gain = w_to.get(c, 0.0) / m - tot.get(c, 0.0) * k[vv] / (
                        2.0 * m * m
                    )
                    if best_gain is None or gain > best_gain:
                        best_c, best_gain = c, gain
                tot[best_c] = tot.get(best_c, 0.0) + k[vv]
                if best_c != cur:
                    comm[vv] = best_c
                    moved = True
            if not moved:
                break
            moved_any_level = True
        else:
            raise RuntimeError("louvain_kernel: local moving did not converge")
        if not moved_any_level:
            break
        # relabel communities to min member id (members are current-
        # level node names == min original members from prior levels)
        members: dict = {}
        for vv, c in comm.items():
            members.setdefault(c, []).append(vv)
        relabel = {c: min(ms) for c, ms in members.items()}
        comm = {vv: relabel[c] for vv, c in comm.items()}
        for orig, cc in membership.items():
            membership[orig] = comm[cc]
        # coarsen
        nadj: dict = {}
        nloops: dict = {}
        for vv in nodes:
            cv = comm[vv]
            nadj.setdefault(cv, {})
            nloops[cv] = nloops.get(cv, 0.0) + loops[vv]
        for vv in nodes:
            cv = comm[vv]
            for nb, w in adj[vv].items():
                cn = comm[nb]
                if cv == cn:
                    if vv < nb:  # count each intra pair once
                        nloops[cv] += w
                elif True:
                    nadj[cv][cn] = nadj[cv].get(cn, 0.0) + w
        if len(nadj) == len(adj):
            break
        adj, loops = nadj, nloops
    return sorted(membership.items())


def _hll_rho(h2: int) -> int:
    """Leading-zero rank of a signed-64 hash under the pinned
    HyperBall register contract: negative (top bit set) → 1, zero →
    65, else 65 − bit_length — engine-replayable in SQL via
    length(bin(x))."""
    if h2 < 0:
        return 1
    if h2 == 0:
        return 65
    return 65 - h2.bit_length()


def _hll_alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_estimate_rows(regs: "np.ndarray", m: int) -> float:
    """Σ over rows of the Flajolet-et-al HLL estimate (small-range
    linear-counting correction; no large-range correction — 64-bit
    hashes never saturate it), vectorized over the whole (n × m)
    register matrix. Exactly the arithmetic the DataFrame tier and
    the replay oracle pin — the per-register summation order differs
    between numpy, Spark partial aggs, and the replay's Python loop
    by ~1e-15 relative, far below the 6-dp output rounding."""
    p2 = np.power(2.0, -regs.astype(np.float64))
    s = p2.sum(axis=1)
    z = (regs == 0).sum(axis=1)
    raw = _hll_alpha(m) * m * m / s
    small = (raw <= 2.5 * m) & (z > 0)
    with np.errstate(divide="ignore"):
        lin = m * np.log(np.where(z > 0, m / np.maximum(z, 1), 1.0))
    return float(np.where(small, lin, raw).sum())


def hyperball_kernel(proj: Projection, init, t_max: int = 8, m: int = 64):
    """HyperBall (Boldi & Vigna 2013): the neighborhood function
    N(t) = Σ_v |{u : dist(v→u) ≤ t}| estimated with one HyperLogLog
    register set per node, advanced by t_max rounds of elementwise
    register max over OUT-neighbors (ball(v) = nodes v reaches within
    t hops; edges directed). The register contract is fully
    DETERMINISTIC (xxhash64-derived bucket and rank, fixed round
    count), so the output is exact-value-gateable even though the
    estimate approximates the true ball sizes — the classic way to
    get distance analytics (effective diameter, average distance) on
    graphs where even one BSP SSSP per source is unaffordable.

    ``init`` is [(NodeId, bucket, rho)] computed ONCE by the
    dispatcher with JVM xxhash64 (the engine never re-implements the
    hash; the golden generator replays it via the ported
    tools/spark_hashes). Merge = elementwise max; estimate =
    alpha_m·m²/Σ2^(−M_j) with linear counting below 2.5m; per-node
    estimates summed and rounded to 6 dp per round — identical
    arithmetic in the DataFrame twin and the replay oracle.

    Returns [(t, nf_est)] for t = 0..t_max. Vectorized: one
    np.maximum.at scatter per round over the (n × m) uint8 register
    matrix (~64 B/node at the m=64 default)."""
    n = len(proj.ids)
    if n == 0:
        return []
    regs = np.zeros((n, m), dtype=np.uint8)
    for node, bucket, rho in init:
        i = proj.index.get(node)
        if i is not None:
            regs[i, int(bucket)] = max(regs[i, int(bucket)], min(int(rho), 255))
    u = proj.esrc()
    v = proj.adj_v.astype(np.int64)
    out = [(0, round(_hll_estimate_rows(regs, m), 6))]
    for t in range(1, t_max + 1):
        new = regs.copy()
        # v's ball grows by u's ball for every edge v→u (out-neighbor
        # merge): scatter-max the edge-destination rows into the
        # edge-source rows.
        np.maximum.at(new, u, regs[v])
        regs = new
        out.append((t, round(_hll_estimate_rows(regs, m), 6)))
    return out


def ktruss_kernel(proj: Projection):
    """Truss decomposition (Cohen 2008): for every edge of the
    undirected simple graph underlying the road multigraph, the truss
    number — the largest k such that the edge survives in the k-truss
    (the maximal subgraph where every edge closes ≥ k−2 triangles
    within the subgraph). The edge-strength analog of coreness:
    k-core bounds neighborhoods, k-truss certifies them with
    triangles, the standard cohesive-subgraph ladder.

    Classic incremental peeling: initial support by sorted-adjacency
    intersection, then repeatedly delete the minimum-support edge
    (ties → smallest (a, b)), decrementing the support of the two
    companion edges of every triangle it closed. Deterministic;
    O(E^1.5) intersections total; one call over the driver-held
    CSR (the sequential-peel tier, like
    ``biconnectivity_kernel`` — the superstep twin peels
    level-synchronously instead and is proven equal in tests).

    Returns sorted (a, b, truss) rows with a < b string-wise.
    """
    import heapq as _hq

    n = len(proj.ids)
    if n == 0:
        return []
    u = proj.esrc()
    v = proj.adj_v.astype(np.int64)
    lo = np.minimum(u, v)
    hi = np.maximum(u, v)
    keep = lo != hi
    pair_keys = np.unique(lo[keep] * n + hi[keep])
    adj: dict[int, set[int]] = {}
    edges: set[tuple[int, int]] = set()
    for kk in pair_keys.tolist():
        a, b = kk // n, kk % n
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
        edges.add((a, b))
    ids = proj.ids
    sup: dict[tuple[int, int], int] = {}
    for a, b in edges:
        sup[(a, b)] = len(adj[a] & adj[b])

    def ekey(e: tuple[int, int]) -> tuple[str, str]:
        x, y = ids[e[0]], ids[e[1]]
        return (x, y) if x < y else (y, x)

    heap = [(s, ekey(e), e) for e, s in sup.items()]
    _hq.heapify(heap)
    k = 2
    truss: dict[tuple[int, int], int] = {}
    alive = set(edges)
    while alive:
        while heap:
            s, _nm, e = heap[0]
            if e not in alive or s != sup[e]:
                _hq.heappop(heap)
                continue
            break
        if not heap:
            break
        s, _nm, e = heap[0]
        if s >= k - 1:
            k += 1
            continue
        _hq.heappop(heap)
        a, b = e
        alive.discard(e)
        truss[e] = k
        adj[a].discard(b)
        adj[b].discard(a)
        for c in adj[a] & adj[b]:
            for other in ((min(a, c), max(a, c)), (min(b, c), max(b, c))):
                if other in alive:
                    sup[other] -= 1
                    _hq.heappush(heap, (sup[other], ekey(other), other))
    rows = sorted((*ekey(e), t) for e, t in truss.items())
    return [(x, y, int(t)) for x, y, t in rows]


def hits_kernel(proj: Projection, iters: int = 20):
    """HITS hubs & authorities (Kleinberg 1999, the classic mutual-
    reinforcement pair): a ← normalize2(Aᵀ h), h ← normalize2(A a)
    from the all-ones start, fixed ``iters`` full update pairs — a
    node is a good AUTHORITY when good hubs point at it, a good HUB
    when it points at good authorities. Parallel edges each carry
    mass (the family's multigraph convention, same as
    :func:`ppr_kernel` / :func:`eigenvector_kernel`).

    Each :func:`_half` step is one gather + one bincount scatter-add
    over the edge arrays — O(E) per iteration, whole-array numpy, no per-node
    Python. If a side's mass dies (no edges, or every edge leaves a
    side empty) that vector is returned as zeros rather than dividing
    by zero — and once one side is zero the other goes zero on the
    next half-step, matching the superstep tier exactly. Raw floats
    out; the caller applies the 6-dp rounding contract (summation-
    order wobble ~1e-13 through the normalization vs the 1e-6
    quantum)."""
    n = len(proj.ids)
    if n == 0:
        return []
    srcs = proj.esrc()
    dsts = proj.adj_v
    a = np.full(n, 1.0)
    h = np.full(n, 1.0)
    for _ in range(iters):
        a = _half(srcs, dsts, h)
        h = _half(dsts, srcs, a)
    return list(zip(proj.ids, a.tolist(), h.tolist()))
