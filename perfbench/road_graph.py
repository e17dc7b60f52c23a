"""road_graph: the paper's workload — ingest a Shenzhen-schema edge
list, build the broadcast projection, then serve a seeded stream of
point path queries. Bypasses parquet scans, snapshots and the
curation operators.

Checks (outside the timed region): the ingest reproduces the
generator's node/road counts and edge list; every path cost equals
networkx Dijkstra on the generator's edge list; A* equals Dijkstra;
Yen's path #0 is the Dijkstra path; ``sssp[target]`` is the Dijkstra
distance and covers exactly the reachable set.
"""

from __future__ import annotations

import math
import os
import pickle
import random
import statistics
import time

import networkx as nx

import graphgen
from harness import Run, median, traced_common

KINDS = ("dijkstra", "astar", "sssp", "yens_k")
YEN_K = 3
APSP_K = 10
# Untimed ingests after the cold one and the primed queries. The ETL
# keeps speeding up over the first few ingests of a session: 6.1,
# 3.3-3.9, 2.7-2.9, 2.0-2.8, then 1.8-2.3 s. (Priming the queries
# after these ingests instead makes the first timed ingest slower.)
WARM_INGESTS = 3
# Query endpoints lie this far apart, as a share of the grid's width,
# so every seed asks for paths of comparable length and work.
BAND = (0.35, 0.4)


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class Graph:
    """One generated graph: its CSV, its networkx oracle (cheapest
    parallel edge per node pair), and the tables and projection of its
    latest ingest."""

    def __init__(self, g: graphgen.RoadGraph, csv: str):
        g.write_csv(csv)
        self.g, self.csv = g, csv
        self.G = nx.DiGraph()
        for s, d, _rid, c in g.roads:
            if not self.G.has_edge(s, d) or c < self.G[s][d]["w"]:
                self.G.add_edge(s, d, w=c)
        self.pool = sorted(max(nx.strongly_connected_components(self.G), key=len))
        self.nodes = self.roads = self.proj = None

    def pair(self, rng: random.Random) -> tuple[str, str]:
        """A source and a target in the largest strongly connected
        component, ``BAND`` of the grid's width apart."""
        xs = [x for x, _y in self.g.coords.values()]
        lo, hi = (f * (max(xs) - min(xs)) for f in BAND)
        s = rng.choice(self.pool)
        while True:
            t = rng.choice(self.pool)
            if lo <= math.dist(self.g.coords[s], self.g.coords[t]) <= hi:
                return s, t

    def path(self, s: str, t: str):
        return nx.bidirectional_dijkstra(self.G, s, t, weight="w")

    def walk_error(self, nodes: list[str], cum: list[float]) -> str | None:
        """A returned path must follow edges, with cumulative costs
        growing by the cheapest parallel edge at each hop."""
        for i in range(1, len(nodes)):
            a, b = nodes[i - 1], nodes[i]
            if not self.G.has_edge(a, b):
                return f"hop {a}->{b} is not an edge"
            if not _close(cum[i] - cum[i - 1], self.G[a][b]["w"]):
                return f"hop {a}->{b} costs {cum[i] - cum[i - 1]}, cheapest edge {self.G[a][b]['w']}"
        return None

    def check(self, kind: str, s: str, t: str, rows) -> str | None:
        dist, path = self.path(s, t)
        if kind in ("dijkstra", "astar"):
            nodes, cum = [x[0] for x in rows], [x[1] for x in rows]
            if not rows or nodes[0] != s or nodes[-1] != t:
                return f"{kind} {s}->{t}: path endpoints {nodes[:1]}..{nodes[-1:]}"
            if not _close(cum[-1], dist):
                return f"{kind} {s}->{t}: cost {cum[-1]} != networkx {dist}"
            return self.walk_error(nodes, cum)
        if kind == "sssp":
            got = {x[0]: x[1] for x in rows}
            if t not in got or not _close(got[t], dist):
                return f"sssp {s}: distance to {t} {got.get(t)} != networkx {dist}"
            reach = len(nx.descendants(self.G, s)) + 1
            return None if len(got) == reach else f"sssp {s}: {len(got)} rows, {reach} reachable"
        rows = sorted(rows, key=lambda x: x[0])
        if [x[0] for x in rows] != list(range(len(rows))) or not 1 <= len(rows) <= YEN_K:
            return f"yens_k {s}->{t}: indexes {[x[0] for x in rows]}"
        totals = [x[3] for x in rows]
        if totals != sorted(totals) or not _close(totals[0], dist):
            return f"yens_k {s}->{t}: totals {totals}, networkx {dist}"
        if list(rows[0][1]) != path:
            return f"yens_k {s}->{t}: path #0 differs from the Dijkstra path"
        return None


def run(r: Run) -> dict:
    from bigdata_foundation_spark.graph import astar, dijkstra, load_graph, sssp, yens_k
    from bigdata_foundation_spark.graph.paths import build_projection

    big = Graph(graphgen.generate(r.seed), os.path.join(r.work, "edges.csv"))
    rng = random.Random(r.seed)
    r.context["input"] = {
        "csv_rows": len(big.g.rows),
        "csv_bytes": os.path.getsize(big.csv),
        "nodes": big.g.n_nodes,
        "roads": big.g.n_roads,
        "planted": big.g.planted,
    }
    r.mark("inputs")

    r.setup()
    spark, tr = r.spark, r.tracer

    def ingest(gr: Graph, timed: bool = True, full_check: bool = False):
        """CSV -> cached (nodes, roads) -> broadcast projection. Timed
        ingests run inside the stream, one per round of queries, so they
        sample the host over the whole run. Every ingest's counts are
        checked; ``full_check`` also compares the whole edge list."""

        def fn():
            spark.catalog.clearCache()
            with tr.span("graph.etl.load_graph"):
                nodes, roads = load_graph(spark, gr.csv)
            with tr.span("graph.paths.build_projection"):
                proj = build_projection(roads, nodes)
            gr.nodes, gr.roads, gr.proj = nodes, roads, proj
            return nodes, roads

        def check(res):
            nodes, roads = res
            if gr.proj.n_edges != gr.g.n_roads:
                return f"projection has {gr.proj.n_edges} edges, expected {gr.g.n_roads}"
            counts = (nodes.count(), roads.count())
            if counts != (gr.g.n_nodes, gr.g.n_roads):
                return f"counts {counts} != expected {(gr.g.n_nodes, gr.g.n_roads)}"
            if not full_check:
                return None
            tbl = roads.select("src", "dst", "road_id", "cost").toArrow()
            got = sorted(zip(*(tbl.column(c).to_pylist() for c in tbl.column_names)))
            return None if got == gr.g.roads else "road table differs from the generator's edge list"

        _res, dt = r.op("ingest", fn, check, record=False)
        if dt is not None and timed:
            ingest_s.append(dt)

    def call(gr: Graph, kind: str, s: str, t: str):
        with tr.span(f"graph.paths.{kind}"):
            if kind == "dijkstra":
                df = dijkstra(spark, gr.roads, s, t, projection=gr.proj)
            elif kind == "astar":
                df = astar(spark, gr.roads, gr.nodes, s, t, projection=gr.proj)
            elif kind == "sssp":
                df = sssp(spark, gr.roads, s, projection=gr.proj)
            else:
                df = yens_k(spark, gr.roads, s, t, k=YEN_K, projection=gr.proj)
        with tr.span("spark.collect"):
            rows = df.collect()
        tr.catalyst(df)
        return rows

    replay: dict[str, list] = {}  # kind -> [(s, t, call seconds)], traced run only

    def query(gr: Graph, kind: str, record: bool = True):
        s, t = gr.pair(rng)
        _rows, dt = r.op(kind, lambda: call(gr, kind, s, t), lambda rows: gr.check(kind, s, t, rows), record)
        if dt is not None and record and tr.enabled:
            replay.setdefault(kind, []).append((s, t, dt))

    ingest_s: list[float] = []
    ingest(big, timed=False, full_check=True)  # cold: JIT and codegen of the CSV and ETL paths
    if big.proj is None:
        raise RuntimeError("no ingest succeeded; nothing to query")
    for kind in KINDS:  # prime each kind once: JIT, Python workers, the broadcast
        query(big, kind, record=False)
    r.mark("prime")
    for _ in range(WARM_INGESTS):
        ingest(big, timed=False)
    r.mark("ingest")

    def steps():
        while True:
            yield "ingest", lambda: ingest(big)
            for kind in rng.sample(KINDS, len(KINDS)):
                yield kind, lambda kind=kind: query(big, kind)

    lat = r.stream(KINDS, steps())
    metrics = r.end_to_end(ingest_s, lat)
    return traced(r, big, replay, metrics) if tr.enabled else metrics


def traced(r: Run, big: Graph, replay: dict, e2e: dict) -> dict:
    """Per-layer metrics: the ingest's Spark counters, the projection's
    two halves timed apart, in-process kernel replays of every stream
    query, and APSP top-k once."""
    from bigdata_foundation_spark.graph import apsp_topk
    from bigdata_foundation_spark.graph import kernel as K

    tr, spark, proj = r.tracer, r.spark, big.proj
    ops = list(tr.ops.values())
    out = traced_common(r, e2e)

    n = r.context["samples"]["ingest"]  # the stream's timed ingests are the last n

    def last(xs):
        return xs[-n:] if n else []

    ingests = last([o for o in ops if o["kind"] == "ingest"])
    out["graph.etl.load_graph_ms"] = (median(last(tr.durations("graph.etl.load_graph"))), "ms")
    out["graph.etl.jobs"] = (median([o["jobs"] for o in ingests]), "count")
    out["graph.etl.shuffle_write_bytes"] = (median([o["shuffle_write_bytes"] for o in ingests]), "B")
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    out["graph.etl.cached_bytes"] = (sum(i.memSize() + i.diskSize() for i in infos), "B")

    # build_projection's two halves, timed apart on the same tables.
    t0 = time.perf_counter()
    tbl = big.roads.select("src", "dst", "cost").toArrow()
    t1 = time.perf_counter()
    nt = big.nodes.select("NodeId", "XCoord", "YCoord").dropna().toArrow()
    xy = zip(nt.column("XCoord").to_pylist(), nt.column("YCoord").to_pylist())
    coords = dict(zip(nt.column("NodeId").to_pylist(), xy))
    t2 = time.perf_counter()
    K.Projection.from_columns(*(tbl.column(c).to_numpy(zero_copy_only=False) for c in ("src", "dst", "cost")), coords)
    t3 = time.perf_counter()
    out["graph.paths.build_projection_ms"] = (median(last(tr.durations("graph.paths.build_projection"))), "ms")
    out["graph.paths.collect_arrow_ms"] = ((t1 - t0) * 1e3, "ms")
    out["graph.kernel.csr_build_ms"] = ((t3 - t2) * 1e3, "ms")
    out["graph.paths.broadcast_bytes"] = (len(pickle.dumps(proj, protocol=pickle.HIGHEST_PROTOCOL)), "B")

    # The same queries replayed in this process against the same projection.
    runners = {
        "dijkstra": lambda s, t: K.shortest_path(proj, s, t),
        "astar": lambda s, t: K.shortest_path(proj, s, t, use_heuristic=True),
        "sssp": lambda s, t: K.sssp(proj, s),
        "yens_k": lambda s, t: K.yens_k(proj, s, t, YEN_K),
    }
    runners["dijkstra"](*big.pool[:2])  # build the list views in this process once
    for kind in KINDS:
        calls, kernels, dispatch = [], [], []
        for s, t, call_s in replay.get(kind, []):
            t0 = time.perf_counter()
            with tr.span(f"graph.kernel.{kind}"):
                runners[kind](s, t)
            k_s = time.perf_counter() - t0
            calls.append(call_s * 1e3)
            kernels.append(k_s * 1e3)
            dispatch.append((call_s - k_s) * 1e3)
        out[f"graph.paths.{kind}_call_ms"] = (median(calls), "ms")
        out[f"graph.kernel.{kind}_ms"] = (median(kernels), "ms")
        out[f"graph.paths.{kind}_dispatch_ms"] = (median(dispatch), "ms")
    queries = [o for o in ops if o["kind"] in KINDS and o["recorded"]]
    out["graph.paths.jobs_per_query"] = (statistics.mean(o["jobs"] for o in queries), "count")
    out["graph.paths.tasks_per_query"] = (statistics.mean(o["tasks"] for o in queries), "count")

    def apsp():
        with tr.span("graph.paths.apsp_topk"):
            df = apsp_topk(spark, big.roads, k=APSP_K, projection=proj)
        with tr.span("spark.collect"):
            return df.collect()

    def check_apsp(rows):
        d = [x[2] for x in rows]
        if len(rows) != APSP_K or d != sorted(d, reverse=True):
            return f"apsp_topk: {len(rows)} rows, distances {d}"
        bad = [(s, t) for s, t, dist in rows if not _close(dist, big.path(s, t)[0])]
        return f"apsp_topk distances differ from networkx for {bad}" if bad else None

    _rows, dt = r.op("apsp_topk", apsp, check_apsp, record=False)
    out["graph.paths.apsp_topk_call_ms"] = (dt * 1e3 if dt else 0.0, "ms")
    return out
