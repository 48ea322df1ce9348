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
    # each remaining vertex carries the layer it would join next; the
    # layer number comes from data (level + 1 per round), not from a
    # per-round literal, so the loop body compiles once
    remaining = iterloop.materialize(
        G.vertices_internal.select("vertex", F.lit(0).cast("int").alias("level"))
    )
    spark = edges.sparkSession
    out = None
    while True:
        n_rem = remaining.count()
        if n_rem == 0:
            break
        with_in = edges.select(F.col(DST).alias("vertex")).distinct()
        zero = iterloop.materialize(remaining.join(with_in, "vertex", "left_anti"))
        if zero.count() == 0:
            raise ValueError("graph contains a cycle; topological sort undefined")
        out = zero if out is None else out.unionByName(zero)
        out = iterloop.materialize(out)
        remaining = iterloop.materialize(
            remaining.join(zero, "vertex", "left_anti")
            .select("vertex", (F.col("level") + 1).alias("level"))
        )
        edges = iterloop.materialize(
            edges.join(zero.withColumnRenamed("vertex", SRC), SRC, "left_anti")
        )
    if out is None:
        out = iterloop.local_table(spark, [], "vertex long, level int")
    return G.unrenumber(out, "vertex")
