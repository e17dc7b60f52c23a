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


@pytest.fixture(scope="session")
def csv1():
    path = f"{REFERENCE_DIR}/Shenzhen_Edgelist_1.csv"
    if not os.path.exists(path):
        pytest.skip(f"reference CSV missing: {path}")
    return path


@pytest.fixture(scope="session")
def graph1(spark, csv1):
    """(nodes, roads) for the 9,999-row reference subset, cached."""
    from bigdata_foundation_spark.graph import load_graph

    nodes, roads = load_graph(spark, csv1)
    yield nodes, roads
    nodes.unpersist()
    roads.unpersist()
