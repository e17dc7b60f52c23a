"""Seeded Shenzhen-schema road-graph generator.

Writes an edge-list CSV with the reference's header
(``XCoord,YCoord,START_NODE,END_NODE,EDGE,LENGTH``) over a perturbed
planar grid, and plants every rule ``graph/etl.py`` implements:

* blank ``,,,,,`` padding rows (dropped by the scan);
* rows whose ``END_NODE`` never appears as a ``START_NODE`` (the edge
  is dropped by the node-existence join);
* exact-duplicate quadruples (collapsed by the quadruple dedup);
* parallel edges with a distinct road id or a distinct cost (kept:
  the graph is a multigraph).

The expected node and edge counts, and the edge list the ETL should
produce, are computed here in pure Python so a run can check
``load_graph`` against them.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

HEADER = "XCoord,YCoord,START_NODE,END_NODE,EDGE,LENGTH"
KEEP = 0.75  # chance a grid link is a road
TWO_WAY = 0.8  # chance a road runs both ways
DANGLING = 0.01  # share of rows that get a copy pointing at an unknown END_NODE
DUPLICATES = 0.01  # ... an exact-duplicate copy
PARALLEL = 0.01  # ... a parallel copy with a new road id (half) or cost (half)
PADDING = 300  # blank rows appended to the file


@dataclass
class RoadGraph:
    rows: list  # CSV data rows, blank padding included, in file order
    n_nodes: int  # expected load_graph node count
    n_roads: int  # expected load_graph road count
    roads: list  # expected (src, dst, road_id, cost) multigraph edges
    coords: dict  # node id -> (x, y)
    planted: dict  # how many rows of each planted kind

    def write_csv(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(HEADER + "\n")
            for r in self.rows:
                f.write(r + "\n")


def _fmt(v: float) -> str:
    return f"{v:.3f}"


def generate(seed: int, side: int = 160) -> RoadGraph:
    """A ``side``×``side`` grid (≈25k nodes, ≈70k rows at the default
    size — the reference's CSV7 scale). Each grid link is kept with
    probability ``KEEP`` and is two-way with probability ``TWO_WAY``;
    lengths are the Euclidean distance of the jittered coordinates
    times a detour factor, so they are positive and A*'s planar
    heuristic stays admissible."""
    rng = random.Random(seed)
    n = side * side
    ids = rng.sample(range(1, 10 * n), n)
    spacing = 100.0
    xy = [
        (
            (i % side) * spacing + rng.uniform(-30, 30) + 800_000.0,
            (i // side) * spacing + rng.uniform(-30, 30) + 2_500_000.0,
        )
        for i in range(n)
    ]
    name = [str(v) for v in ids]

    def length(a: int, b: int) -> float:
        (x1, y1), (x2, y2) = xy[a], xy[b]
        return round(math.hypot(x1 - x2, y1 - y2) * rng.uniform(1.0, 1.4), 3)

    road_seq = [0]

    def road_id() -> str:
        road_seq[0] += 1
        return str(road_seq[0])

    edges: list[tuple[int, int, str, float]] = []
    for i in range(n):
        r, c = divmod(i, side)
        for j in ((i + 1) if c + 1 < side else None, (i + side) if r + 1 < side else None):
            if j is None or rng.random() >= KEEP:
                continue
            if rng.random() < TWO_WAY:
                pairs = ((i, j), (j, i))
            else:
                pairs = ((i, j),) if rng.random() < 0.5 else ((j, i),)
            for a, b in pairs:
                edges.append((a, b, road_id(), length(a, b)))

    rows_q: list[tuple[str, str, str, float, tuple]] = []  # start, end, edge, len, coords
    for a, b, rid, w in edges:
        rows_q.append((name[a], name[b], rid, w, xy[a]))

    planted = {"dangling": 0, "duplicate": 0, "parallel_road": 0, "parallel_cost": 0, "padding": PADDING}
    base = list(rows_q)
    for a_name, b_name, rid, w, pxy in base:
        u = rng.random()
        if u < DANGLING:
            rows_q.append((a_name, f"X{rid}", road_id(), round(w * 1.1, 3), pxy))
            planted["dangling"] += 1
        elif u < DANGLING + DUPLICATES:
            rows_q.append((a_name, b_name, rid, w, pxy))
            planted["duplicate"] += 1
        elif u < DANGLING + DUPLICATES + PARALLEL / 2:
            rows_q.append((a_name, b_name, road_id(), w, pxy))
            planted["parallel_road"] += 1
        elif u < DANGLING + DUPLICATES + PARALLEL:
            rows_q.append((a_name, b_name, rid, round(w * rng.uniform(1.05, 1.5), 3), pxy))
            planted["parallel_cost"] += 1
    rng.shuffle(rows_q)

    rows = [f"{_fmt(p[0])},{_fmt(p[1])},{s},{e},{rid},{_fmt(w)}" for s, e, rid, w, p in rows_q]
    rows.extend([",,,,,"] * PADDING)

    # Expected ETL output, straight from the contract in graph/etl.py.
    coords = {s: (float(_fmt(p[0])), float(_fmt(p[1]))) for s, _e, _r, _w, p in rows_q}
    quads = {(s, e, rid, w) for s, e, rid, w, _p in rows_q}
    roads = sorted(q for q in quads if q[0] in coords and q[1] in coords)
    return RoadGraph(rows, len(coords), len(roads), roads, coords, planted)
