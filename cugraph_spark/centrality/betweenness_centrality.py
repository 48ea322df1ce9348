"""Betweenness centrality (vertex and edge), exact or k-sampled Brandes.

Reference: centrality/betweenness_centrality.py:16,178 and
cpp/src/centrality/betweenness_centrality_impl.cuh (1677 LoC): BFS
forward sweep counting shortest paths (sigma), then reverse-level
dependency accumulation (delta). Unweighted shortest paths (the
reference ignores weights for BFS-based betweenness).

Spark mapping (SURVEY §2.C): ALL sources run concurrently — the state
DataFrames carry a ``source`` key column (same trick as
multi_source_bfs), so the driver loop is over BFS *levels*, not over
sources: O(diameter) rounds of join+agg regardless of how many sources
are sampled. Rescaling follows the public Brandes/NetworkX rules
(factor n/k for sampling, 1/((n-1)(n-2)) directed, 2/((n-1)(n-2))
undirected, x0.5 for undirected unnormalized).
"""

from __future__ import annotations

import warnings
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST
from ..plans import iterloop
from ..structure.graph import Graph

#: Exact Brandes materializes O(|sources| x |V|) state; above this vertex
#: count a k=None call is warned about (use k-sampling at scale).
EXACT_BC_WARN_VERTICES = 50_000


def _forward(edges, seeds_df, jk=SRC, gk=DST, state_rows=None):
    """Level-synchronous sigma-counting BFS from all seeds at once.
    Returns (levels, visited, max_depth) where ``levels[d]`` is the
    materialized (source, vertex, distance, sigma) frontier at distance
    d — each one a checkpoint leaf, so the backward sweep reads its two
    per-level slices directly instead of filtering a persisted
    |levels|-sized union twice per level (r7, guide §1/§2: one
    cached-scan per level). The running ``visited`` union of those
    leaves feeds the anti-join; it is cut every 4 levels
    (``truncate_lineage``, as in bfs), so the anti-join plans at most 5
    leaves however deep the graph, and the backward sweep seeds its
    delta table from it. Each level's distance is
    ``iterloop.next_distance`` over the frontier, not a per-level
    literal, so the level body compiles once.

    ``jk``/``gk``: join/aggregation key — callers flip them to DST/SRC on
    symmetrized graphs (iterloop.sym_aligned_agg) so the per-level sigma
    groupBy runs inside the cached edge partitioning with no Exchange.
    ``state_rows``: |sources|x|V| bound for broadcast-hinting the
    frontier and visited sides (checkpoint leaves carry no stats, so the
    planner would otherwise sort-merge them against the edge table)."""
    frontier = iterloop.materialize(
        seeds_df.select(
            "source", F.col("source").alias("vertex"), F.lit(0).alias("distance"),
            F.lit(1.0).alias("sigma"),
        )
    )
    levels = [frontier]
    visited = frontier
    depth = 0
    fs = iterloop.FusedSwap()  # swap + frontier count fused into one job
    while True:
        nxt = (
            edges.join(
                iterloop.hint_state_join(
                    frontier.select("source", F.col("vertex").alias(jk), "distance", "sigma"),
                    state_rows,
                ),
                jk,
            )
            .groupBy("source", F.col(gk).alias("vertex"))
            .agg(F.sum("sigma").alias("sigma"), iterloop.next_distance(frontier))
            .join(
                iterloop.hint_state_join(
                    visited.select("source", "vertex"), state_rows
                ),
                ["source", "vertex"],
                "left_anti",
            )
        )
        depth += 1
        nxt, (n_new,) = fs.swap(
            nxt.select("source", "vertex", "distance", "sigma"), [F.count(F.lit(1))]
        )
        if n_new == 0:
            return levels, visited, depth - 1
        levels.append(nxt)
        visited = iterloop.truncate_lineage(visited.unionByName(nxt), depth, 4)
        frontier = nxt


def _brandes(G: Graph, k, seed, want_edges: bool, endpoints: bool = False):
    edges = iterloop.persist(G.edgelist.select(SRC, DST).distinct())
    verts = G.vertices_internal
    n = G.number_of_vertices()

    if k is None:
        if n > EXACT_BC_WARN_VERTICES:
            warnings.warn(
                f"exact betweenness materializes |V|^2 = {n}^2 (source, vertex) "
                f"state; pass k= to sample sources at this scale",
                RuntimeWarning,
                stacklevel=3,
            )
        seeds = verts.select(F.col("vertex").alias("source"))
        n_sources = n
    else:
        seeds = (
            verts.orderBy(F.xxhash64("vertex", F.lit(seed or 42)))
            .limit(k)
            .select(F.col("vertex").alias("source"))
        )
        n_sources = k
    seeds = iterloop.materialize(seeds)

    # per-iteration state is (source, vertex) pairs — small-plan while
    # n_sources * |V| stays in the broadcast regime
    with iterloop.small_plan(edges.sparkSession, n * n_sources):
        return _brandes_run(G, edges, seeds, n, n_sources, want_edges, endpoints)


def _brandes_run(G: Graph, edges, seeds, n, n_sources, want_edges: bool,
                 endpoints: bool = False):
    state_rows = n * n_sources
    jk, gk = (
        (DST, SRC) if iterloop.sym_aligned_agg(G, state_rows) else (SRC, DST)
    )
    levels, visited, dmax = _forward(edges, seeds, jk, gk, state_rows)

    # backward accumulation, level by level: each level reads its own
    # checkpointed forward slice (levels[d]) — previously both slices
    # were distance-filters over one persisted union, i.e. two full
    # cached scans of the |reached| table per level (r6 verdict #5).
    # delta starts from the forward's bounded visited union, not from a
    # fresh union of all dmax + 1 levels: each leaf of such a union is
    # its own codegen stage, so a deeper graph compiled new classes.
    delta = iterloop.materialize(
        visited.select("source", "vertex", F.lit(0.0).alias("delta"))
    )
    vertex_acc = None
    edge_acc = None
    # per-level states are lazy leaf-swaps (defer): plans stay bounded
    # (each level starts from a LogicalRDD leaf) but no per-level job is
    # paid — the final bc aggregation executes the whole chain once
    fs = iterloop.FusedSwap()
    for d in range(dmax, 0, -1):
        # every non-edge side below is bounded by |sources|x|V| rows —
        # broadcast-hint them (stats-stripped defer leaves would plan as
        # per-level sort-merge joins otherwise); the delta/edge-bc
        # groupBys are keyed on SRC, so with broadcast joins the whole
        # level runs inside the cached edge partitioning, Exchange-free
        wlev = (
            levels[d]
            .join(iterloop.hint_state_join(delta, state_rows), ["source", "vertex"])
            .select("source", F.col("vertex").alias(DST), F.col("sigma").alias("_sw"),
                    F.col("delta").alias("_dw"))
        )
        # edges (v -> w) with dist(v) = d-1: contribution sigma_v/sigma_w*(1+delta_w)
        contrib = (
            edges.join(iterloop.hint_state_join(wlev, state_rows), DST)
            .join(
                iterloop.hint_state_join(
                    levels[d - 1]
                    .select("source", F.col("vertex").alias(SRC), F.col("sigma").alias("_sv")),
                    state_rows,
                ),
                ["source", SRC],
            )
            .withColumn("_c", F.col("_sv") / F.col("_sw") * (1.0 + F.col("_dw")))
        )
        if want_edges:
            elev = contrib.groupBy(SRC, DST).agg(F.sum("_c").alias("_bc"))
            edge_acc = elev if edge_acc is None else edge_acc.unionByName(elev)
            edge_acc = fs.defer(
                edge_acc.groupBy(SRC, DST).agg(F.sum("_bc").alias("_bc"))
            )
        lev_delta = contrib.groupBy("source", F.col(SRC).alias("vertex")).agg(
            F.sum("_c").alias("_nd")
        )
        delta = fs.defer(
            delta.join(
                iterloop.hint_state_join(lev_delta, state_rows),
                ["source", "vertex"],
                "left",
            )
            .select("source", "vertex",
                    (F.col("delta") + F.coalesce("_nd", F.lit(0.0))).alias("delta"))
        )
        # vertices at level d-1 are finalized after this step; accumulate at end
    # bc(v) = sum over sources of delta(v), excluding v == source
    reached = delta.filter(F.col("vertex") != F.col("source"))
    if endpoints:
        # reference betweenness_centrality_impl.cuh:1226-1288: each reached
        # (s, t) pair adds 1 to bc(t) (dest endpoint) and 1 to bc(s)
        # (source endpoint: #reachable-from-s excluding s itself)
        dest = reached.groupBy("vertex").agg(
            (F.sum("delta") + F.count(F.lit(1))).alias("_bc")
        )
        srcc = reached.groupBy(F.col("source").alias("vertex")).agg(
            F.count(F.lit(1)).cast("double").alias("_bc")
        )
        bc = dest.unionByName(srcc).groupBy("vertex").agg(F.sum("_bc").alias("_bc"))
    else:
        bc = reached.groupBy("vertex").agg(F.sum("delta").alias("_bc"))
    edges.unpersist()
    return bc, edge_acc, n, n_sources


def _rescale(n: int, n_sources: int, normalized: bool, directed: bool, for_edges: bool,
             endpoints: bool = False):
    scale = n / n_sources if n_sources else 1.0
    if normalized:
        if for_edges or endpoints:
            denom = n * (n - 1)
        else:
            denom = (n - 1) * (n - 2)
        if denom > 0:
            scale *= (1.0 if directed else 2.0) / denom
        else:
            scale *= 0.0
    elif not directed:
        scale *= 0.5
    return scale


def betweenness_centrality(
    G: Graph,
    k: Optional[int] = None,
    normalized: bool = True,
    weight=None,
    endpoints: bool = False,
    seed: Optional[int] = None,
    result_dtype=None,
    random_state: Optional[int] = None,
) -> DataFrame:
    """Returns (vertex, betweenness_centrality). Unweighted-BFS Brandes,
    exact (k=None) or k-sampled sources.

    ``endpoints=True`` adds each reached (s, t) pair to both endpoints'
    counts (reference betweenness_centrality.py:72 ``include_endpoints``)
    and normalizes by n(n-1) instead of (n-1)(n-2).

    Exact mode (k=None) materializes O(|V|^2) (source, vertex) state; a
    RuntimeWarning fires above ``EXACT_BC_WARN_VERTICES`` — pass ``k`` to
    sample sources at scale (estimate quality grows with k)."""
    if weight is not None:
        raise NotImplementedError("weighted betweenness is not supported (reference parity)")
    out_type = _validate_result_dtype(result_dtype)
    bc, _, n, n_sources = _brandes(
        G, k, seed if seed is not None else random_state, False, endpoints
    )
    scale = _rescale(n, n_sources, normalized, G.is_directed(), False, endpoints)
    out = (
        G.vertices_internal.join(bc, "vertex", "left")
        .select(
            "vertex",
            (F.coalesce("_bc", F.lit(0.0)) * F.lit(scale))
            .cast(out_type)
            .alias("betweenness_centrality"),
        )
    )
    return G.unrenumber(out, "vertex")


def _validate_result_dtype(result_dtype) -> str:
    """Reference: betweenness_centrality.py:135 — result_dtype must be
    np.float32 or np.float64 (default). Maps to the Spark column type."""
    import numpy as np

    if result_dtype in (None, np.float64, "float64", float):
        return "double"
    if result_dtype in (np.float32, "float32"):
        return "float"
    raise TypeError("result type can only be np.float32 or np.float64")


def edge_betweenness_centrality(
    G: Graph,
    k: Optional[int] = None,
    normalized: bool = True,
    weight=None,
    seed: Optional[int] = None,
    result_dtype=None,
) -> DataFrame:
    """Returns (src, dst, betweenness_centrality) per directed edge row
    (symmetrized rows for undirected graphs, as the reference does)."""
    if weight is not None:
        raise NotImplementedError("weighted betweenness is not supported (reference parity)")
    out_type = _validate_result_dtype(result_dtype)
    _, ebc, n, n_sources = _brandes(G, k, seed, True)
    base = G.edgelist.select(SRC, DST).distinct()
    if not G.is_directed():
        # combine both directed rows of each undirected edge; report the
        # full undirected value on both rows (reference's symmetrized shape)
        ebc = (
            ebc.unionByName(
                ebc.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), "_bc")
            )
            .groupBy(SRC, DST)
            .agg(F.sum("_bc").alias("_bc"))
        )
        scale = (n / n_sources if n_sources else 1.0) * 0.5
        if normalized:
            denom = n * (n - 1)
            scale *= (2.0 / denom) if denom else 0.0
    else:
        scale = _rescale(n, n_sources, normalized, True, True)
    out = base.join(ebc, [SRC, DST], "left").select(
        SRC, DST,
        (F.coalesce("_bc", F.lit(0.0)) * F.lit(scale))
        .cast(out_type)
        .alias("betweenness_centrality"),
    )
    out = G.unrenumber(out, SRC)
    return G.unrenumber(out, DST)
