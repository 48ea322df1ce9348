"""k-hop neighborhoods and origin-destination shortest distances.

Reference: C++ traversal/k_hop_nbrs_impl.cuh (230 LoC) and
traversal/od_shortest_distances_impl.cuh (1121 LoC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST, WEIGHT
from ..plans import iterloop
from ..structure.graph import Graph


def k_hop_nbrs(G: Graph, start_vertices, k: int) -> DataFrame:
    """Vertices reachable within k hops of each start vertex (excluding
    the start itself): returns (start, vertex)."""
    from .bfs import multi_source_bfs

    if not isinstance(start_vertices, list):
        start_vertices = [start_vertices]
    reach = multi_source_bfs(G, start_vertices, depth_limit=k)
    return reach.filter(F.col("distance") > 0).select(
        F.col("source").alias("start"), "vertex"
    )


def od_shortest_distances(G: Graph, origins, destinations) -> DataFrame:
    """Origin-destination shortest weighted distances: returns
    (origin, destination, distance) for reachable pairs. Batched
    Bellman-Ford keyed by origin — one driver loop for ALL origins."""
    if not isinstance(origins, list):
        origins = list(origins)
    if not isinstance(destinations, list):
        destinations = list(destinations)
    o_ids = G.lookup_internal_vertex_id(origins)
    d_ids = G.lookup_internal_vertex_id(destinations)
    spark = G.edgelist.sparkSession
    w = F.col(WEIGHT).cast("double") if G.is_weighted() else F.lit(1.0)
    edges = iterloop.persist(G.edgelist.select(SRC, DST, w.alias("_w")))

    dist = iterloop.local_table(
        spark, [(int(o), int(o), 0.0) for o in o_ids], "origin long, vertex long, distance double"
    )
    dist = iterloop.materialize(dist)
    frontier = dist
    it = 0
    while True:
        cand = (
            edges.join(
                frontier.select("origin", F.col("vertex").alias(SRC), F.col("distance").alias("_d")),
                SRC,
            )
            .groupBy("origin", F.col(DST).alias("vertex"))
            .agg(F.min(F.col("_d") + F.col("_w")).alias("distance"))
        )
        improved = (
            cand.join(
                dist.select("origin", "vertex", F.col("distance").alias("_old")),
                ["origin", "vertex"],
                "left",
            )
            .filter(F.col("_old").isNull() | (F.col("distance") < F.col("_old")))
            .select("origin", "vertex", "distance")
        )
        improved = iterloop.materialize(improved)
        if improved.count() == 0:
            break
        dist = iterloop.materialize(
            dist.join(improved.select("origin", "vertex"), ["origin", "vertex"], "left_anti")
            .unionByName(improved)
        )
        it += 1
        frontier = improved

    edges.unpersist()
    ddf = iterloop.local_table(spark, [(int(d),) for d in d_ids], "vertex long")
    out = dist.join(ddf, "vertex").select(
        "origin", F.col("vertex").alias("destination"), "distance"
    )
    out = G.unrenumber(out, "origin")
    return G.unrenumber(out, "destination")
