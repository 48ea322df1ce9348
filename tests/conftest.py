import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from cugraph_spark.session import CODEGEN_CACHE_ENTRIES


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("cugraph_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        # static: the engine's codegen cache size, not Spark's 100 default
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# karate club graph edge list (Zachary 1977, public domain; same 78
# undirected pairs as the reference's datasets/karate.csv — 34 vertices).
KARATE_EDGES = [
    (1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4), (1, 5), (1, 6), (1, 7),
    (5, 7), (6, 7), (1, 8), (2, 8), (3, 8), (4, 8), (1, 9), (3, 9), (3, 10),
    (1, 11), (5, 11), (6, 11), (1, 12), (1, 13), (4, 13), (1, 14), (2, 14),
    (3, 14), (4, 14), (6, 17), (7, 17), (1, 18), (2, 18), (1, 20), (2, 20),
    (1, 22), (2, 22), (24, 26), (25, 26), (3, 28), (24, 28), (25, 28),
    (3, 29), (24, 30), (27, 30), (2, 31), (9, 31), (1, 32), (25, 32),
    (26, 32), (29, 32), (3, 33), (9, 33), (15, 33), (16, 33), (19, 33),
    (21, 33), (23, 33), (24, 33), (30, 33), (31, 33), (32, 33), (9, 34),
    (10, 34), (14, 34), (15, 34), (16, 34), (19, 34), (20, 34), (21, 34),
    (23, 34), (24, 34), (27, 34), (28, 34), (29, 34), (30, 34), (31, 34),
    (32, 34), (33, 34),
]


@pytest.fixture(scope="session")
def karate_df(spark):
    # zero-based like the reference's karate.csv
    rows = [(a - 1, b - 1, 1.0) for a, b in KARATE_EDGES]
    return spark.createDataFrame(rows, ["src", "dst", "weight"])


@pytest.fixture(scope="session")
def karate(karate_df):
    from cugraph_spark import Graph

    g = Graph(directed=False)
    g.from_edgelist(karate_df, source="src", destination="dst", weight="weight")
    return g


def karate_adj():
    """Adjacency dict of the undirected karate graph (0-based)."""
    adj = {}
    for a, b in KARATE_EDGES:
        adj.setdefault(a - 1, set()).add(b - 1)
        adj.setdefault(b - 1, set()).add(a - 1)
    return adj
