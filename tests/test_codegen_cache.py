"""One compile per plan shape: warm loops compile no new code.

Catalyst compiles every whole-stage codegen class with Janino on the
driver and keeps them in a JVM-wide LRU cache. The counter below is the
number of classes compiled so far; a warm call that compiles none reuses
every class it needs. Two things break that: a cache smaller than the
working set of one pass (Spark's 100-entry default thrashes; the session
sizes it), and a per-round literal in a loop body (each new level's
value is inlined into fresh generated code).

The measured calls run with AQE off. Under AQE a query's codegen stage
ids, which are part of each class's cache key, follow the order in which
its shuffle stages finish, so a query with two independent stages
(force_atlas2's attraction and repulsion aggregates) now and then
recompiles the same code under new ids. That is timing, not plan shape.
"""

from contextlib import contextmanager

import numpy as np

from cugraph_spark import (
    Graph,
    betweenness_centrality,
    bfs,
    force_atlas2,
    multi_source_bfs,
    weakly_connected_components,
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@contextmanager
def _aqe_off(spark):
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _path(spark, n):
    g = Graph(directed=False)
    rows = [(i, i + 1) for i in range(n - 1)]
    g.from_edgelist(spark.createDataFrame(rows, ["src", "dst"]), "src", "dst")
    return g


def test_second_pass_compiles_nothing(spark, karate):
    def one_pass():
        bfs(karate, 0).collect()
        weakly_connected_components(karate).collect()
        betweenness_centrality(karate, k=4, seed=1).collect()
        force_atlas2(karate, max_iter=1).collect()

    with _aqe_off(spark):
        one_pass()
        before = _compiles(spark)
        one_pass()
        assert _compiles(spark) - before == 0


def _frontier_loops(g, n):
    # sources in the middle: n / 2 levels, still 8 more at n = 32 than at 16
    bfs(g, n // 2).collect()
    multi_source_bfs(g, [n // 2 - 1, n // 2]).collect()
    return betweenness_centrality(g, normalized=False).toPandas()


def test_deeper_graph_compiles_nothing(spark):
    """Level bodies are depth-invariant: after one run on a 16-vertex
    path, the same calls on a 32-vertex path (8 to 16 levels deeper)
    compile no new class. Exact Brandes there also checks the 4-level
    cut of its visited union against the closed form
    bc(i) = i * (n - 1 - i)."""
    n = 32
    with _aqe_off(spark):
        _frontier_loops(_path(spark, 16), 16)
        g = _path(spark, n)
        before = _compiles(spark)
        bc = _frontier_loops(g, n)
        assert _compiles(spark) - before == 0
    got = bc.sort_values("vertex")["betweenness_centrality"].to_numpy()
    i = np.arange(n)
    np.testing.assert_allclose(got, i * (n - 1 - i), rtol=0, atol=1e-9)
