"""Single-source shortest paths (non-negative weights).

Reference: /root/reference/python/cugraph/cugraph/traversal/sssp.py:108
(output ``vertex, distance, predecessor``; unreached = inf/-1) and
cpp/src/traversal/sssp_impl.cuh (near-far bucket delta-stepping).

Spark mapping (SURVEY §2.B): frontier-driven Bellman-Ford. Buckets don't
pay off on a synchronous BSP engine; instead each round relaxes only
edges out of vertices whose distance improved last round (the frontier),
converging in O(longest shortest-path hop count) rounds. Deterministic
predecessors via min-(distance, predecessor) struct aggregation.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST, WEIGHT
from ..plans import iterloop
from ..structure.graph import Graph

#: Bellman-Ford relaxations fused into each materialize+convergence cycle.
#: Measured at sf0.1 (160k-edge part-supp graph): 1 beats 2 and 3 (the
#: fused frontier feeds two consumers in the next pass, and the repeated
#: subtree's shuffle work outweighs the saved per-round fixed cost), so
#: the sync-every-pass regime stays the default.
RELAX_PASSES_PER_SYNC = 1


def sssp(
    G: Graph,
    source: Union[int, str, None] = None,
    cutoff: Optional[float] = None,
    edge_attr: str = WEIGHT,
    method=None,
    directed=None,
    return_predecessors=None,
    unweighted=None,
    overwrite=None,
    indices=None,
) -> DataFrame:
    """Returns (vertex, distance, predecessor) over all vertices;
    unweighted graphs fall back to hop counts (weight 1.0, as the
    reference warns-and-does, sssp.py:108 docstring).

    The SciPy-compat kwargs follow the reference's validation
    (sssp.py:19-65 _ensure_args): ``method`` only accepts "auto",
    ``indices`` is an alias for ``source`` (not both), and
    ``directed``/``unweighted``/``overwrite`` are only valid for matrix
    inputs, so they are rejected for Graph inputs the same way."""
    if (method is not None) and (method != "auto"):
        raise ValueError("only 'auto' is currently accepted for method")
    if (indices is not None) and (type(indices) is list):
        raise ValueError("indices currently cannot be a list-like type")
    if (indices is not None) and (source is not None):
        raise TypeError("cannot specify both 'source' and 'indices'")
    if (indices is None) and (source is None):
        raise TypeError("must specify 'source' or 'indices', but not both")
    for argname, val in (("directed", directed),
                         ("return_predecessors", return_predecessors),
                         ("unweighted", unweighted), ("overwrite", overwrite)):
        if val is not None:
            raise TypeError(f"'{argname}' cannot be specified for a Graph-type input")
    source = source if source is not None else indices
    [sid] = G.lookup_internal_vertex_id([source])
    spark = G.edgelist.sparkSession
    edges = G.edgelist
    w = F.col(edge_attr).cast("double") if edge_attr in edges.columns else F.lit(1.0)
    edges = edges.select(SRC, DST, w.alias("_w"))

    dist = iterloop.local_table(
        spark,
        [(sid, 0.0, -1, True)],
        "vertex long, distance double, predecessor long, _impr boolean",
    )
    # Aligned-aggregation flip (iterloop.sym_aligned_agg): the frontier
    # joins on DST and candidates aggregate by SRC inside the cached edge
    # partitioning — no per-round Exchange. Valid because symmetrized
    # storage keeps w(u,v) == w(v,u) (min-collapse sees both directions'
    # multiset), so row (s,d) carries the d->s relaxation exactly.
    jk, gk = (
        (DST, SRC)
        if iterloop.sym_aligned_agg(G, G.number_of_vertices())
        else (SRC, DST)
    )

    def relax(state: DataFrame) -> DataFrame:
        # relax edges out of the state's improved vertices (the frontier)
        cand = (
            edges.join(
                iterloop.hint_state_join(
                    state.filter(F.col("_impr")).select(
                        F.col("vertex").alias(jk), F.col("distance").alias("_d")
                    ),
                    G.number_of_vertices(),
                ),
                jk,
            )
            .select(
                F.col(gk).alias("vertex"),
                (F.col("_d") + F.col("_w")).alias("_nd"),
                F.col(jk).alias("_np"),
            )
        )
        if cutoff is not None:
            cand = cand.filter(F.col("_nd") <= cutoff)
        cand = (
            cand.groupBy("vertex")
            .agg(F.min(F.struct(F.col("_nd"), F.col("_np"))).alias("_best"))
            .select("vertex", F.col("_best._nd").alias("_nd"), F.col("_best._np").alias("_np"))
        )
        # fused update+improved-flag pass: state comes back from the
        # checkpoint hash-partitioned on vertex and cand leaves its groupBy
        # likewise, so this full-outer join adds no exchange
        better = F.col("_nd").isNotNull() & (
            F.col("distance").isNull() | (F.col("_nd") < F.col("distance"))
        )
        return state.join(cand, "vertex", "full_outer").select(
            "vertex",
            F.when(better, F.col("_nd")).otherwise(F.col("distance")).alias("distance"),
            F.when(better, F.col("_np")).otherwise(F.col("predecessor")).alias("predecessor"),
            better.alias("_impr"),
        )

    # Per-round swap + convergence scalar fused into ONE job
    # (iterloop.FusedSwap, guide §2: fewer fixed-cost driver rounds): the
    # relaxed state is local-checkpointed lazily and the improved-count
    # agg is the action that materializes it. The state's two consumers
    # next round (frontier filter + full-outer update) then read the
    # checkpoint blocks. Reliable mode keeps the eager cadence.
    fs = iterloop.FusedSwap()
    with iterloop.small_plan(spark, G.number_of_vertices()):
        while True:
            # RELAX_PASSES_PER_SYNC Bellman-Ford relaxations per
            # swap+convergence cycle: relaxations are confluent
            # min-plus updates, so the fixpoint is unchanged while the
            # fixed per-round cost is paid 1/k as often. The check stays
            # sound: final pass's _impr empty => its frontier relaxed to
            # nothing new => fixpoint.
            step = dist
            for _ in range(RELAX_PASSES_PER_SYNC):
                step = relax(step)
            dist, (n_improved,) = fs.swap(
                step, [F.sum(F.col("_impr").cast("long"))]
            )
            if not n_improved:
                break
    dist = dist.drop("_impr")

    # deterministic predecessors: recompute globally as the MIN u with
    # dist(u) + w(u,v) == dist(v). The in-loop predecessor depends on
    # which round last improved v; this post-pass makes the output a
    # pure function of the graph (and lets the SQL oracle replicate it).
    n_v = G.number_of_vertices()
    # same jk/gk flip as the loop: in the flipped case the predecessor
    # candidates sit in the join-key column and the aggregation runs
    # inside the cached partitioning (du + w == dv is direction-symmetric
    # on a symmetrized weighted list)
    preds = (
        edges.join(
            iterloop.hint_state_join(
                dist.select(F.col("vertex").alias(jk), F.col("distance").alias("_du")), n_v
            ),
            jk,
        )
        .join(
            iterloop.hint_state_join(
                dist.select(F.col("vertex").alias(gk), F.col("distance").alias("_dv")), n_v
            ),
            gk,
        )
        .filter(F.col("_du") + F.col("_w") == F.col("_dv"))
        .groupBy(F.col(gk).alias("vertex"))
        .agg(F.min(jk).alias("_pred"))
    )
    dist = dist.join(preds, "vertex", "left").select(
        "vertex",
        "distance",
        F.when(F.col("distance") == 0.0, F.lit(-1))
        .otherwise(F.coalesce("_pred", F.lit(-1)))
        .cast("long")
        .alias("predecessor"),
    )

    out = (
        G.vertices_internal.join(dist, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("distance", F.lit(float("inf"))).alias("distance"),
            F.coalesce("predecessor", F.lit(-1)).cast("long").alias("predecessor"),
        )
    )
    out = G.unrenumber(out, "vertex")
    if G.is_renumbered():
        from .bfs import _unrenumber_pred

        out = _unrenumber_pred(G, out)
    return out


def shortest_path(G: Graph, source=None, **kwargs) -> DataFrame:
    """Alias (sssp.py:263); accepts the same SciPy-compat kwargs."""
    return sssp(G, source, **kwargs)


def shortest_path_length(G: Graph, source, target=None):
    """sssp.py:289 — distances only; scalar when target given."""
    df = sssp(G, source).select("vertex", "distance")
    if target is None:
        return df
    rows = df.filter(F.col("vertex") == target).collect()
    if not rows or rows[0]["distance"] == float("inf"):
        raise ValueError(f"no path to {target!r}")
    return rows[0]["distance"]


def filter_unreachable(df: DataFrame) -> DataFrame:
    """Drop rows with infinite/sentinel distance (sssp.py:233)."""
    c = F.col("distance")
    return df.filter(c.isNotNull() & (c != float("inf")) & (c != 2147483647))
