"""Driver-built tables are Arrow ``LocalRelation``s.

A table built with ``spark.createDataFrame(<python list>, ddl)`` plans as
a ``LogicalRDD`` over a pickled ``PythonRDD``, so every scan of it starts
Python workers. ``iterloop.local_table`` hands the rows over as a
``pyarrow.Table`` instead, which plans as a JVM ``LocalRelation``. These
tests pin that property for the helper itself, for the loop state of the
operators that seed from driver rows, and for the package as a whole.
"""

import ast
import os

import pandas as pd
import pytest

from cugraph_spark import Graph, bfs, sssp
from cugraph_spark.community.louvain import _apply_tail
from cugraph_spark.plans import iterloop
from cugraph_spark.traversal.k_hop import od_shortest_distances

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "cugraph_spark")

DDL = "vertex long, distance int, predecessor long"


def _root_class(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def _python_rdd_leaves(df) -> list:
    """``LogicalRDD`` leaves of the optimized plan whose RDD lineage runs
    through a ``PythonRDD``. Checkpoint leaves have truncated lineage and
    never match; a list-built ``createDataFrame`` leaf always does."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    found = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (
            leaf.getClass().getSimpleName() == "LogicalRDD"
            and "PythonRDD" in leaf.rdd().toDebugString()
        ):
            found.append(leaf.toString())
    return found


@pytest.fixture
def no_arrow_session(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    return s


@pytest.mark.parametrize("arrow_conf", [True, False])
def test_local_table_plans_as_local_relation(spark, no_arrow_session, arrow_conf):
    s = spark if arrow_conf else no_arrow_session
    assert s.conf.get("spark.sql.execution.arrow.pyspark.enabled") == str(arrow_conf).lower()

    df = iterloop.local_table(s, [(3, 0, -1), (5, 0, -1)], DDL)
    assert _root_class(df) == "LocalRelation"
    assert df.schema.simpleString() == "struct<vertex:bigint,distance:int,predecessor:bigint>"
    assert sorted(df.collect()) == [(3, 0, -1), (5, 0, -1)]

    empty = iterloop.local_table(s, [], DDL)
    assert _root_class(empty) == "LocalRelation"
    assert empty.schema == df.schema and empty.count() == 0

    nested = iterloop.local_table(s, [(0, [1.0, 2.0])], "list_id int, _c array<double>")
    assert nested.collect()[0]["_c"] == [1.0, 2.0]

    pdf = iterloop.local_table(s, pd.DataFrame({"src": [0, 1], "dst": ["a", "b"]}))
    assert _root_class(pdf) == "LocalRelation"
    assert pdf.dtypes == [("src", "bigint"), ("dst", "string")]


@pytest.fixture
def loop_inputs(monkeypatch):
    """Record every frame handed to the loop primitives, so a test can
    check the state a loop builds and not only its checkpointed result."""
    seen = []
    materialize, swap = iterloop.materialize, iterloop.FusedSwap.swap

    def rec_materialize(df, seq=None):
        seen.append(df)
        return materialize(df, seq)

    def rec_swap(self, df, exprs, scalar_view=None):
        seen.append(df)
        return swap(self, df, exprs, scalar_view)

    monkeypatch.setattr(iterloop, "materialize", rec_materialize)
    monkeypatch.setattr(iterloop.FusedSwap, "swap", rec_swap)
    return seen


@pytest.fixture(scope="module")
def path_graph(spark):
    # 0-1-2-3-4 path plus a 1-5 branch: bfs from 0 runs 4 levels, and
    # the levels before its every-4-levels cut carry the seed rows
    edges = iterloop.local_table(
        spark,
        [(0, 1, 1.0), (1, 2, 2.0), (2, 3, 1.0), (3, 4, 1.0), (1, 5, 4.0)],
        "src long, dst long, weight double",
    )
    g = Graph(directed=False)
    g.from_edgelist(edges, source="src", destination="dst", weight="weight")
    return g


@pytest.mark.parametrize("op", ["bfs", "sssp", "od_shortest_distances"])
def test_seeded_loops_scan_no_python_rdd(path_graph, loop_inputs, op):
    if op == "bfs":
        out = bfs(path_graph, 0)
        expect = {0: 0, 1: 1, 2: 2, 5: 2, 3: 3, 4: 4}
        got = {r["vertex"]: r["distance"] for r in out.collect()}
    elif op == "sssp":
        out = sssp(path_graph, 0)
        expect = {0: 0.0, 1: 1.0, 2: 3.0, 3: 4.0, 4: 5.0, 5: 5.0}
        got = {r["vertex"]: r["distance"] for r in out.collect()}
    else:
        out = od_shortest_distances(path_graph, [0, 4], [3, 5])
        expect = {(0, 3): 4.0, (0, 5): 5.0, (4, 3): 1.0, (4, 5): 8.0}
        got = {(r["origin"], r["destination"]): r["distance"] for r in out.collect()}
    assert got == expect
    assert loop_inputs, f"{op} handed no state to the loop primitives"
    for df in [out, *loop_inputs]:
        assert _python_rdd_leaves(df) == []


def test_louvain_tail_scans_no_python_rdd(spark, loop_inputs):
    mapping = iterloop.local_table(
        spark, [(0, 10), (1, 10), (2, 11), (3, 12)], "vertex long, community long"
    )
    out = _apply_tail(mapping, {10: 7, 11: 7})
    assert sorted(out.collect()) == [(0, 7), (1, 7), (2, 7), (3, 12)]
    assert loop_inputs, "_apply_tail handed no frame to materialize"
    for df in [out, *loop_inputs]:
        assert _python_rdd_leaves(df) == []


class _CreateDataFrameCalls(ast.NodeVisitor):
    """``createDataFrame(...)`` calls, each with its innermost enclosing function."""

    def __init__(self):
        self.scope = ["<module>"]
        self.found = []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            self.found.append((self.scope[-1], node.lineno))
        self.generic_visit(node)


def test_no_create_dataframe_outside_local_table():
    """Every driver-built table in the package goes through
    ``iterloop.local_table``: no other ``createDataFrame(`` call."""
    inside, outside = [], []
    for root, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                calls = _CreateDataFrameCalls()
                calls.visit(ast.parse(f.read()))
            rel = os.path.relpath(path, PKG)
            for fn, line in calls.found:
                home = (rel, fn) == (os.path.join("plans", "iterloop.py"), "local_table")
                (inside if home else outside).append(f"{rel}:{line} in {fn}")
    assert outside == [], f"createDataFrame outside iterloop.local_table: {outside}"
    assert inside, "the scan found no createDataFrame call in local_table"
