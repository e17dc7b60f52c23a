import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_foundation_spark.session import get_spark

REFERENCE_DIR = "/root/reference"
TESTDATA = "/root/testdata"
SF_TINY = f"{TESTDATA}/sf0.001"
SF_SMALL = f"{TESTDATA}/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="bigdata-foundation-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s


def reference_csv(n: int) -> str:
    """Path of the reference's ``Shenzhen_Edgelist_{n}.csv``; skips the
    calling test, naming the missing path, when it is absent."""
    path = f"{REFERENCE_DIR}/Shenzhen_Edgelist_{n}.csv"
    if not os.path.exists(path):
        pytest.skip(f"reference CSV missing: {path}")
    return path


@pytest.fixture(scope="session")
def csv1():
    return reference_csv(1)


def graphgen():
    """perfbench's seeded Shenzhen-schema road-graph generator, loaded
    from its file so the rest of perfbench stays off ``sys.path``."""
    import importlib.util

    if "graphgen" not in sys.modules:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "graphgen", os.path.join(root, "perfbench", "graphgen.py")
        )
        mod = importlib.util.module_from_spec(spec)
        sys.modules["graphgen"] = mod  # dataclasses resolve their module by name
        spec.loader.exec_module(mod)
    return sys.modules["graphgen"]


@pytest.fixture(scope="session")
def generated40(spark, tmp_path_factory):
    """(generator output, nodes, roads) for ``graphgen.generate(1,
    side=40)`` written as CSV and read back through ``load_graph``:
    1,600 nodes of the reference schema, present in every checkout."""
    from bigdata_foundation_spark.graph import load_graph

    g = graphgen().generate(1, side=40)
    path = str(tmp_path_factory.mktemp("graphgen") / "edges.csv")
    g.write_csv(path)
    nodes, roads = load_graph(spark, path)
    yield g, nodes, roads
    nodes.unpersist()
    roads.unpersist()


@pytest.fixture(scope="session")
def graph1(spark, csv1):
    """(nodes, roads) for the 9,999-row reference subset, cached."""
    from bigdata_foundation_spark.graph import load_graph

    nodes, roads = load_graph(spark, csv1)
    yield nodes, roads
    nodes.unpersist()
    roads.unpersist()
