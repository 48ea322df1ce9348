"""Breadth-first search (single- and multi-source).

Reference: /root/reference/python/cugraph/cugraph/traversal/bfs.py:69
(API, output columns ``vertex, distance, predecessor``; unreached vertices
get distance = int-max sentinel, predecessor = -1) and
cpp/src/traversal/bfs_impl.cuh (direction-optimizing frontier kernel).

Spark mapping (SURVEY §2.B): level-synchronous IterLoop. The frontier is a
small vertex DataFrame; expansion joins it against the ``src``-partitioned
edge table (only the frontier shuffles; AQE broadcasts it when small —
the Spark analog of the reference's top-down/bottom-up switch). New
vertices take the MINIMUM predecessor for determinism.

Scale note: ``visited`` grows to V rows; the anti-join per level is a
shuffle of at most V rows. Each level's frontier is a checkpoint leaf
(``FusedSwap``) and the ``visited`` union is cut by localCheckpoint every
4 levels, so 1000-level graphs don't blow up the plan. The seed row is an
Arrow ``LocalRelation`` (``iterloop.local_table``), so levels before the
first cut scan no Python-built RDD.
"""

from __future__ import annotations

from typing import Iterable, Optional, Union

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST
from ..plans import iterloop
from ..structure.graph import Graph

INT_MAX = 2147483647


def bfs(
    G: Graph,
    start: Union[int, str, list, DataFrame, None] = None,
    depth_limit: Optional[int] = None,
    return_predecessors: bool = True,
    i_start=None,
    directed: Optional[bool] = None,
) -> DataFrame:
    """Returns (vertex, distance, predecessor) over ALL graph vertices;
    unreached: distance = 2147483647, predecessor = -1 (bfs.py:69
    docstring semantics). ``i_start`` is identical to ``start`` (API
    compat, bfs.py:97); ``directed`` is only valid for matrix inputs in
    the reference (bfs.py:35 _ensure_args) and rejected here the same."""
    if (start is not None) and (i_start is not None):
        raise TypeError("cannot specify both 'start' and 'i_start'")
    if (start is None) and (i_start is None):
        raise TypeError("must specify 'start' or 'i_start', but not both")
    if directed is not None:
        raise TypeError(
            "'directed' is only valid for matrix inputs; a Graph carries "
            "its own directedness"
        )
    start = start if start is not None else i_start
    starts = start if isinstance(start, list) else [start]
    ids = G.lookup_internal_vertex_id(starts)
    spark = G.edgelist.sparkSession
    edges = G.edgelist.select(SRC, DST)

    visited = iterloop.local_table(
        spark, [(i, 0, -1) for i in ids], "vertex long, distance int, predecessor long"
    )
    frontier = visited.select("vertex")
    depth = 0
    # Per-level checkpoint + frontier count fused into ONE job
    # (iterloop.FusedSwap): the new frontier is lazily checkpointed and
    # the count agg materializes it, instead of an eager-checkpoint job
    # followed by a count job. Reliable mode keeps the eager cadence.
    #
    # Message direction (iterloop.sym_aligned_agg): on a symmetrized edge
    # list join the frontier on DST and aggregate by SRC so the level's
    # groupBy reuses the cached edge partitioning (no Exchange). The
    # frontier neighbors then sit in the join-key column, so min(join
    # key) is the same deterministic min-predecessor either way.
    jk, gk = (
        (DST, SRC) if iterloop.sym_aligned_agg(G, G.number_of_vertices()) else (SRC, DST)
    )
    fs = iterloop.FusedSwap()
    with iterloop.small_plan(spark, G.number_of_vertices()):
        while depth_limit is None or depth < depth_limit:
            nxt = (
                edges.join(
                    iterloop.hint_state_join(
                        frontier.withColumnRenamed("vertex", jk), G.number_of_vertices()
                    ),
                    jk,
                )
                .groupBy(F.col(gk).alias("vertex"))
                .agg(F.min(jk).alias("predecessor"), iterloop.next_distance(frontier))
                .join(
                    iterloop.hint_state_join(
                        visited.select("vertex"), G.number_of_vertices()
                    ),
                    "vertex",
                    "left_anti",
                )
            )
            depth += 1
            nxt, (n_new,) = fs.swap(
                nxt.select("vertex", "distance", "predecessor"), [F.count(F.lit(1))]
            )
            if n_new == 0:
                break
            visited = iterloop.truncate_lineage(visited.unionByName(nxt), depth, 4)
            frontier = nxt.select("vertex", "distance")

    out = (
        G.vertices_internal.join(visited, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("distance", F.lit(INT_MAX)).cast("int").alias("distance"),
            F.coalesce("predecessor", F.lit(-1)).cast("long").alias("predecessor"),
        )
    )
    out = G.unrenumber(out, "vertex")
    if G.is_renumbered():
        out = _unrenumber_pred(G, out)
    if not return_predecessors:
        out = out.drop("predecessor")
    return out


def _unrenumber_pred(G: Graph, df: DataFrame) -> DataFrame:
    """Predecessors are vertex ids too; map back preserving the -1
    sentinel (reference unrenumbers the predecessor column likewise)."""
    mapped = G.unrenumber(
        df.filter(F.col("predecessor") >= 0), "predecessor"
    )
    sent = df.filter(F.col("predecessor") < 0)
    # sentinel rows keep -1; align types by casting to string when external
    # ids are strings is avoided: keep internal -1 as NULL-safe literal
    if dict(mapped.dtypes).get("predecessor") != dict(sent.dtypes).get("predecessor"):
        sent = sent.withColumn(
            "predecessor", F.lit(None).cast(dict(mapped.dtypes)["predecessor"])
        )
    return mapped.unionByName(sent)


def bfs_edges(G: Graph, source, reverse: bool = False,
              depth_limit: Optional[int] = None, sort_neighbors=None):
    """NetworkX-compat wrapper (traversal/bfs.py:199). ``sort_neighbors``
    is accepted for compatibility and not implemented — the reference
    (bfs.py:221) documents the same."""
    if sort_neighbors is not None:
        raise NotImplementedError("sort_neighbors is not implemented (reference parity)")
    if reverse and G.is_directed():
        G = _transposed(G)
    return bfs(G, source, depth_limit=depth_limit)


def _transposed(G: Graph) -> Graph:
    g = Graph(directed=True)
    g._edges = G.edgelist.select(
        F.col(DST).alias(SRC), F.col(SRC).alias(DST),
        *[c for c in G.edgelist.columns if c not in (SRC, DST)],
    )
    g._nm, g._vertices, g._spark = G._nm, G._vertices, G._spark
    g.properties.renumbered = G.properties.renumbered
    g.properties.weighted = G.properties.weighted
    return g


def multi_source_bfs(
    G: Graph, sources: Iterable, components=None,
    depth_limit: Optional[int] = None, offload: bool = False,
) -> DataFrame:
    """Concurrent BFS from many sources (traversal/ms_bfs.py:172).

    ``components`` (optional (vertex, color) DataFrame, ms_bfs.py:191) is
    a GPU-memory planning hint in the reference — a BFS can never leave
    its source's component, so it does not change results and is accepted
    and ignored here. ``offload`` (spill-to-disk) likewise: Spark
    DataFrames are lazy and never driver-materialized by this function.

    Returns (source, vertex, distance, predecessor) for REACHED vertices —
    the frontier carries a ``source`` key column; otherwise identical to
    the single-source loop. Unreached (source, vertex) pairs are omitted
    (the full cross product is O(S·V)).
    """
    src_list = list(sources)
    ids = G.lookup_internal_vertex_id(src_list)
    spark = G.edgelist.sparkSession
    edges = G.edgelist.select(SRC, DST)

    visited = iterloop.local_table(
        spark,
        [(i, i, 0, -1) for i in ids],
        "source long, vertex long, distance int, predecessor long",
    )
    frontier = visited.select("source", "vertex")
    depth = 0
    fs = iterloop.FusedSwap()  # fused checkpoint+count, as in bfs()
    # same aligned-aggregation flip as bfs(): frontier joins on DST,
    # levels aggregate by (source, SRC) inside the cached partitioning
    jk, gk = (
        (DST, SRC)
        if iterloop.sym_aligned_agg(G, G.number_of_vertices() * max(len(ids), 1))
        else (SRC, DST)
    )
    with iterloop.small_plan(spark, G.number_of_vertices() * max(len(ids), 1)):
        while depth_limit is None or depth < depth_limit:
            nxt = (
                edges.join(
                    iterloop.hint_state_join(
                        frontier.withColumnRenamed("vertex", jk),
                        G.number_of_vertices() * max(len(ids), 1),
                    ),
                    jk,
                )
                .groupBy("source", F.col(gk).alias("vertex"))
                .agg(F.min(jk).alias("predecessor"), iterloop.next_distance(frontier))
                .join(
                    iterloop.hint_state_join(
                        visited.select("source", "vertex"),
                        G.number_of_vertices() * max(len(ids), 1),
                    ),
                    ["source", "vertex"],
                    "left_anti",
                )
            )
            depth += 1
            nxt, (n_new,) = fs.swap(
                nxt.select("source", "vertex", "distance", "predecessor"),
                [F.count(F.lit(1))],
            )
            if n_new == 0:
                break
            visited = iterloop.truncate_lineage(visited.unionByName(nxt), depth, 4)
            frontier = nxt.select("source", "vertex", "distance")

    out = visited
    out = G.unrenumber(out, "vertex")
    out = G.unrenumber(out, "source")
    if G.is_renumbered():
        out = _unrenumber_pred(G, out)
    return out


def concurrent_bfs(Graphs, sources, depth_limit: Optional[int] = None,
                   offload: bool = False) -> DataFrame:
    """BFS over multiple graphs with multiple sources each
    (traversal/ms_bfs.py:97). ``Graphs``: a Graph or list of Graphs;
    ``sources``: per-graph source list (or one list for a single graph).
    Returns one DataFrame (graph_id, source, vertex, distance,
    predecessor) — the DataFrame-native form of the reference's
    edge-list + offsets pair. ``offload`` (reference: spill results to
    csv when they exceed GPU memory) is accepted and ignored: Spark
    DataFrames are lazy and never driver-materialized here, so the
    out-of-memory case the flag exists for does not arise."""
    if isinstance(Graphs, Graph):
        Graphs = [Graphs]
        sources = [sources]
    if len(Graphs) != len(sources):
        raise ValueError("need one source list per graph")
    out = None
    for i, (g, srcs) in enumerate(zip(Graphs, sources)):
        part = multi_source_bfs(g, list(srcs), depth_limit=depth_limit).select(
            F.lit(i).alias("graph_id"), "*"
        )
        out = part if out is None else out.unionByName(part)
    return out
