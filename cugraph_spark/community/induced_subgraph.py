"""Induced subgraph.

Reference: community/induced_subgraph.py:33 (returns the subgraph edge
list on the given vertex set) / cpp/src/structure/induced_subgraph_impl.cuh.
Spark: two semi-joins against the vertex set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST, WEIGHT
from ..plans import iterloop
from ..structure.graph import Graph


def _vertex_type(edges: DataFrame) -> str:
    """DDL type of the external vertex ids in ``edges`` (``G.edges()``)."""
    return edges.schema[SRC].dataType.simpleString()


def _vertex_frame(edges: DataFrame, vertices) -> DataFrame:
    """The selected vertices as a one-column ``_v`` frame of external ids."""
    if isinstance(vertices, DataFrame):
        return vertices.select(F.col(vertices.columns[0]).alias("_v"))
    return iterloop.local_table(
        edges.sparkSession, [(v,) for v in vertices], f"_v {_vertex_type(edges)}"
    )


def induced_subgraph(G: Graph, vertices, offsets=None):
    """Returns the induced subgraph as a new Graph (external ids).
    ``vertices``: list or single-column DataFrame of external ids.

    ``offsets`` (reference induced_subgraph.py:36,57-60) batches the
    flat vertex list: batch b = vertices[offsets[b]:offsets[b+1]], each
    batch inducing its own subgraph. In that case the return is
    ``(edges DataFrame (batch, src, dst[, weight]), offsets)`` — the
    DataFrame-native form of the reference's (Graph, seeds_offsets)
    pair (a batch column replaces offset bookkeeping). Without
    ``offsets`` a Graph is returned."""
    edges = G.edges()
    if offsets is not None:
        if isinstance(vertices, DataFrame):
            raise ValueError("offsets requires a flat vertex list")
        offs = list(offsets)
        rows = [
            (b, v)
            for b in range(len(offs) - 1)
            for v in vertices[offs[b]:offs[b + 1]]
        ]
        bdf = iterloop.local_table(
            edges.sparkSession, rows, f"batch long, _v {_vertex_type(edges)}"
        )
        cols = [c for c in (SRC, DST, WEIGHT) if c in edges.columns]
        out = (
            edges.join(bdf.withColumnRenamed("_v", SRC), SRC)
            .join(
                bdf.select(F.col("batch").alias("_b2"), F.col("_v").alias(DST)),
                [DST],
            )
            .filter(F.col("batch") == F.col("_b2"))
            .select("batch", *cols)
        )
        return out, offs
    vdf = _vertex_frame(edges, vertices)
    edges = edges.join(vdf.withColumnRenamed("_v", SRC), SRC, "left_semi")
    edges = edges.join(vdf.withColumnRenamed("_v", DST), DST, "left_semi")

    out = Graph(directed=G.is_directed())
    weight = WEIGHT if WEIGHT in edges.columns else None
    out.from_edgelist(
        edges, SRC, DST, weight=weight, symmetrize=False if not G.is_directed() else None
    )
    return out


def subgraph(G: Graph, vertices) -> Graph:
    """Alias kept for the reference's older name."""
    return induced_subgraph(G, vertices)


def induced_subgraph_edges(G: Graph, vertices) -> DataFrame:
    """Unique (src < dst) external-id pairs of the induced subgraph —
    the edge-list query surface, skipping the Graph rebuild the Graph
    surface pays around rows that are immediately flattened back."""
    edges = G.edges()
    vdf = _vertex_frame(edges, vertices)
    edges = edges.join(vdf.withColumnRenamed("_v", SRC), SRC, "left_semi")
    edges = edges.join(vdf.withColumnRenamed("_v", DST), DST, "left_semi")
    return edges.filter(F.col(SRC) < F.col(DST)).select(SRC, DST)
