"""Topological sort (Kahn, layered).

Reference: C++ only — cpp/src/dag/topological_sort_impl.cuh (SURVEY §2.A:
"IterLoop Kahn: repeatedly emit in-degree-0"). Returns (vertex, level)
where level is the Kahn layer; (level, vertex) gives a deterministic
total topological order. Raises on cycles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST
from ..plans import iterloop
from ..structure.graph import Graph


def topological_sort(G: Graph) -> DataFrame:
    if not G.is_directed():
        raise ValueError("topological sort requires a directed graph")
    edges = iterloop.materialize(G.edgelist.select(SRC, DST))
    remaining = iterloop.materialize(G.vertices_internal.select("vertex"))
    spark = edges.sparkSession
    out = None
    level = 0
    while True:
        n_rem = remaining.count()
        if n_rem == 0:
            break
        with_in = edges.select(F.col(DST).alias("vertex")).distinct()
        zero = iterloop.materialize(remaining.join(with_in, "vertex", "left_anti"))
        if zero.count() == 0:
            raise ValueError("graph contains a cycle; topological sort undefined")
        layer = zero.select("vertex", F.lit(level).cast("int").alias("level"))
        out = layer if out is None else out.unionByName(layer)
        out = iterloop.materialize(out)
        remaining = iterloop.materialize(remaining.join(zero, "vertex", "left_anti"))
        edges = iterloop.materialize(
            edges.join(zero.withColumnRenamed("vertex", SRC), SRC, "left_anti")
        )
        level += 1
    if out is None:
        out = iterloop.local_table(spark, [], "vertex long, level int")
    return G.unrenumber(out, "vertex")
