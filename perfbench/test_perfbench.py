"""Tests of the benchmark's own pieces. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

import graphgen
import metrics
import whgen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_generator_plants_every_etl_rule(seed):
    g = graphgen.generate(seed, side=60)
    for kind in ("dangling", "duplicate", "parallel_road", "parallel_cost", "padding"):
        assert g.planted[kind] > 0, kind
    assert sum(r == ",,,,," for r in g.rows) == g.planted["padding"]
    assert g.n_roads == len(g.roads) and g.n_nodes == len(g.coords)
    # Every expected road joins two nodes, and no dangling END_NODE survives.
    assert all(s in g.coords and d in g.coords for s, d, _r, _c in g.roads)
    assert all(c > 0 for *_x, c in g.roads)


def test_generator_is_seeded():
    assert graphgen.generate(5, side=30).rows == graphgen.generate(5, side=30).rows
    assert graphgen.generate(5, side=30).rows != graphgen.generate(6, side=30).rows


def test_reference_scale():
    g = graphgen.generate(7)
    assert 24_000 <= g.n_nodes <= 26_000 and 65_000 <= len(g.rows) <= 75_000


@pytest.fixture(scope="module")
def spark():
    from bigdata_foundation_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests")
    yield s
    s.stop()


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_load_graph_reproduces_generator_counts(spark, tmp_path, seed):
    from bigdata_foundation_spark.graph import load_graph

    g = graphgen.generate(seed, side=60)
    path = str(tmp_path / "edges.csv")
    g.write_csv(path)
    nodes, roads = load_graph(spark, path)
    assert (nodes.count(), roads.count()) == (g.n_nodes, g.n_roads)
    got = sorted(tuple(r) for r in roads.select("src", "dst", "road_id", "cost").collect())
    assert got == g.roads
    spark.catalog.clearCache()


def test_corpus_plants_duplicates():
    docs, exact, near = whgen.corpus(3, 400)
    texts = docs.set_index("doc_id")["text"]
    norm = lambda t: " ".join(t.lower().split())  # noqa: E731
    assert exact and near
    assert all(norm(texts[c]) == norm(texts[o]) and texts[c] != texts[o] for c, o in exact.items())
    assert all(norm(texts[a]) != norm(texts[b]) for a, b in near)


def test_order_batches_are_seeded_and_unbounded():
    orders = whgen.tables(4, 0.001)["orders"]
    kinds = ("append", "merge", "delete") * 20  # more commits than any run makes

    def draw():
        b = whgen.OrderBatches(4, orders)
        return [b.next(k) for k in kinds]

    one, two = draw(), draw()
    for kind, x, y in zip(kinds, one, two):
        if kind == "delete":
            assert x == y and x[0] < x[1]
        else:
            assert x.equals(y) and len(x) == whgen.BATCH_ROWS
    appended = [x["o_orderkey"] for k, x in zip(kinds, one) if k == "append"]
    assert len(set().union(*map(set, appended))) == whgen.BATCH_ROWS * len(appended)


def test_benchmark_json_matches_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == metrics.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    assert [w["name"] for w in b["workloads"]] == ["road_graph", "warehouse_mixed"]
