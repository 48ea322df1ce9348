"""Approximate weighted matching (handshaking).

Reference: C++ only — cpp/src/community/approx_weighted_matching_impl.cuh
(SURVEY §2.A: "IterLoop: mutual-best-edge handshaking"): each vertex
points at its heaviest incident edge; mutual pointers become matched
pairs; matched vertices drop out; repeat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST, WEIGHT
from ..plans import iterloop
from ..structure.graph import Graph


def approximate_weighted_matching(G: Graph) -> DataFrame:
    """Returns (vertex, match) for matched vertices (external ids); 1/2-
    approximation of maximum weight matching."""
    if G.is_directed():
        raise ValueError("input graph must be undirected")
    if not G.is_weighted():
        raise ValueError("input graph must be weighted")
    edges = iterloop.materialize(
        G.edgelist.select(SRC, DST, WEIGHT).filter(F.col(SRC) != F.col(DST))
    )
    matched = None

    # Two fused jobs per round (was five): mutual-swap + its count, then
    # edge-shrink-swap + its count; the matched union is a lazy leaf.
    # The best-pointer self-join is broadcast-hinted (V-bounded side) so
    # it never plans as a sort-merge join under the stats-less leaves.
    n_v = G.number_of_vertices()
    fs = iterloop.FusedSwap()
    (n_e,) = iterloop.collect_scalars(edges, [F.count(F.lit(1))])
    with iterloop.small_plan(edges.sparkSession, n_v):
      while True:
        if n_e == 0:
            break
        best = (
            edges.groupBy(SRC)
            .agg(F.max(F.struct(F.col(WEIGHT), F.col(DST))).alias("_b"))
            .select(F.col(SRC).alias("a"), F.col("_b.dst").alias("b"))
        )
        mutual = (
            best.alias("x")
            .join(
                iterloop.hint_state_join(best.alias("y"), n_v),
                (F.col("x.a") == F.col("y.b")) & (F.col("x.b") == F.col("y.a")),
            )
            .select(F.col("x.a").alias("a"), F.col("x.b").alias("b"))
            .filter(F.col("a") < F.col("b"))
        )
        mutual, (n_mutual,) = fs.swap(mutual, [F.count(F.lit(1))])
        if n_mutual == 0:
            break
        pairs = mutual.select(F.col("a").alias("vertex"), F.col("b").alias("match")).unionByName(
            mutual.select(F.col("b").alias("vertex"), F.col("a").alias("match"))
        )
        matched = pairs if matched is None else matched.unionByName(pairs)
        matched = fs.defer(matched)
        gone = matched.select("vertex")
        edges, (n_e,) = fs.swap(
            edges.join(
                iterloop.hint_state_join(gone.withColumnRenamed("vertex", SRC), n_v),
                SRC,
                "left_anti",
            ).join(
                iterloop.hint_state_join(gone.withColumnRenamed("vertex", DST), n_v),
                DST,
                "left_anti",
            ),
            [F.count(F.lit(1))],
        )

    if matched is None:
        matched = iterloop.local_table(G.edgelist.sparkSession, [], "vertex long, match long")
    out = G.unrenumber(matched, "vertex")
    return G.unrenumber(out, "match")
