from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mirrorofmapgraph_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    ckpt = tmp_path_factory.mktemp("spark-ckpt")
    s = get_spark(
        app_name="momg-tests",
        master="local[8]",
        shuffle_partitions=8,
        checkpoint_dir=str(ckpt),
        extra_confs={"spark.driver.memory": "8g"},
    )
    yield s
    s.stop()


def edges_df(spark, edges):
    return spark.createDataFrame(
        [(int(s), int(d), float(w)) for s, d, w in edges], "src long, dst long, w double"
    )


def vertices_df(spark, n):
    return spark.range(n).select("id")


@pytest.fixture(scope="session")
def make_edges(spark):
    return lambda edges: edges_df(spark, edges)


@pytest.fixture(scope="session")
def make_vertices(spark):
    return lambda n: vertices_df(spark, n)


@pytest.fixture(scope="session")
def stored_rdds(spark):
    """Ids of the RDDs with stored blocks. Count growth as new ids: a plain
    count can drop when the context cleaner frees an unreferenced RDD of an
    earlier call."""
    jsc = spark.sparkContext._jsc
    return lambda: {int(i.id()) for i in jsc.sc().getRDDStorageInfo()}
