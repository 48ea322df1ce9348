"""Greedy vertex coloring (rank-based speculative, conflict-corrected).

Reference: C++ only — cpp/src/components/vertex_coloring_impl.cuh
(SURVEY §2.A), which colors by repeated MIS extraction. That scheme —
like Jones-Plassmann — colors at most one vertex per clique per round, so
on clique-heavy graphs (every supplier's customers in the co-purchase
fixtures form a clique) it needs O(max-clique) driver rounds. This module
uses the speculative family instead (Gebremedhin & Manne, "Scalable
parallel graph coloring algorithms", Concurrency P&E 2000 — public
algorithm), with a rank-based tentative choice that colors a whole clique
in ONE round:

    rank(v) = #{u in N(v) uncolored : (p_u, u) > (p_v, v)}   (random p)
    cand(v) = (rank(v)+1)-th smallest color not used by v's colored nbrs

Within a clique every uncolored member has a distinct rank, so all
candidates are distinct immediately; collisions can only come from
vertices adjacent across different cliques, and are resolved by keeping
the higher-(p, id) endpoint and retrying the rest next round. The
max-priority uncolored vertex always survives, so termination is
guaranteed; in practice rounds ~ a small constant (3-6 on the co-purchase
fixtures vs ~96 for Jones-Plassmann).

cand(v) is the (rank+1)-th color unused by v's already-colored neighbors,
so a candidate can never collide with a colored neighbor and within a
clique all candidates are distinct; color count stays near the sequential
greedy bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST
from ..plans import iterloop
from ..structure.graph import Graph
from ..structure.symmetrize import add_reverse_edges


def vertex_coloring(G: Graph, seed: int = 42, max_colors: int = 1 << 20) -> DataFrame:
    """Returns (vertex, color) — adjacent vertices get different colors."""
    # vertex-sized loop state -> small-plan regime for the whole run
    with iterloop.small_plan(G.edgelist.sparkSession, G.number_of_vertices()):
        return _vertex_coloring_impl(G, seed, max_colors)


def _vertex_coloring_impl(G: Graph, seed: int, max_colors: int) -> DataFrame:
    base_edges = G.edgelist.select(SRC, DST).filter(F.col(SRC) != F.col(DST))
    if G.is_directed():
        base_edges = add_reverse_edges(base_edges).distinct()
    edges = iterloop.persist(base_edges)
    # every non-edge join side below is V-bounded (uncolored/cand/colored
    # vertex state) — broadcast-hint them so the edge table never shuffles
    # (checkpoint leaves carry no stats, so the planner cannot see this)
    hint = lambda df: iterloop.hint_state_join(df, G.number_of_vertices())

    # Aggregation orientation (r6 verdict #8, settled r7): the coloring
    # edge view is always symmetric, so every per-round aggregation keys
    # on SRC and runs inside the cached hash(src) partitioning
    # (exchange-free, like iterloop.sym_aligned_agg). The dst-keyed form
    # paid a per-round exchange; at R-MAT scale-20 (31.4M cached rows,
    # 646k vertices, warm interleaved runs, 32c) it lost the median by
    # ~30% (117.2 vs 82.5 s) and tied the min. The collect_set('used')
    # aggregation is the decider: its partial buffers are NOT V-bounded
    # (one color-set per key per partition), so a dst-keyed exchange
    # carries fat set buffers. Outputs were identical either way.
    # "DST endpoint beats the aggregated SRC endpoint" by (priority, id)
    beat = (F.col("_pd") > F.col("_ps")) | (
        (F.col("_pd") == F.col("_ps")) & (F.col(DST) > F.col(SRC))
    )

    uncolored = iterloop.materialize(
        G.vertices_internal.select(
            "vertex", F.xxhash64("vertex", F.lit(seed)).alias("_p")
        )
    )
    colored = None  # (vertex, color)

    # One fused job per round (FusedSwap): the intra-round intermediates
    # (cand, newly, colored-union) are lazily leaf-swapped (defer — no job
    # of their own) and the round's single action is the uncolored swap's
    # fused count agg, which materializes the whole chain's blocks.
    fs = iterloop.FusedSwap()
    (n_uncolored,) = iterloop.collect_scalars(uncolored, [F.count("*")])
    while True:
        if not n_uncolored:
            break

        u_src = uncolored.select(
            F.col("vertex").alias(SRC), F.col("_p").alias("_ps")
        )
        u_dst = uncolored.select(
            F.col("vertex").alias(DST), F.col("_p").alias("_pd")
        )
        # rank among uncolored neighbors by (priority, id) descending
        rank = (
            edges.join(hint(u_src), SRC)
            .join(hint(u_dst), DST)
            .filter(beat)
            .groupBy(F.col(SRC).alias("vertex"))
            .agg(F.count("*").alias("_rank"))
        )
        if colored is not None:
            used = (
                edges.join(hint(colored.select(F.col("vertex").alias(DST), "color")), DST)
                .join(hint(uncolored.withColumnRenamed("vertex", SRC)), SRC, "left_semi")
                .groupBy(F.col(SRC).alias("vertex"))
                .agg(F.sort_array(F.collect_set("color")).alias("_used"))
            )
        else:
            used = None

        cand = uncolored.join(hint(rank), "vertex", "left").withColumn(
            "_rank", F.coalesce("_rank", F.lit(0))
        )
        if used is not None:
            cand = cand.join(hint(used), "vertex", "left").withColumn(
                "_used", F.coalesce("_used", F.expr("array()"))
            )
        else:
            cand = cand.withColumn("_used", F.expr("array()"))
        # (rank+1)-th free color: sequence has |used|+rank+1 values, at most
        # |used| are excluded, so index `rank` always exists
        cand = cand.select(
            "vertex", "_p",
            F.expr(
                "filter(sequence(0, size(_used) + _rank),"
                " x -> NOT array_contains(_used, x))[_rank]"
            ).cast("int").alias("color"),
        )
        cand = fs.defer(cand)

        # conflicts: adjacent candidates with equal color — keep the
        # higher-(p, id) endpoint, the other retries next round
        c_src = cand.select(
            F.col("vertex").alias(SRC), F.col("_p").alias("_ps"),
            F.col("color").alias("_cs"),
        )
        c_dst = cand.select(
            F.col("vertex").alias(DST), F.col("_p").alias("_pd"),
            F.col("color").alias("_cd"),
        )
        losers = (
            edges.join(hint(c_src), SRC)
            .join(hint(c_dst), DST)
            .filter((F.col("_cs") == F.col("_cd")) & beat)
            .select(F.col(SRC).alias("vertex"))
            .distinct()
        )
        newly = fs.defer(
            cand.join(hint(losers), "vertex", "left_anti").select("vertex", "color")
        )

        colored = (
            newly if colored is None
            else fs.defer(colored.unionByName(newly))
        )
        uncolored, (n_uncolored,) = fs.swap(
            uncolored.join(hint(newly.select("vertex")), "vertex", "left_anti"),
            [F.count(F.lit(1))],
        )

    if colored is None:
        edges.unpersist()
        return G.unrenumber(
            G.vertices_internal.select("vertex", F.lit(0).cast("int").alias("color")),
            "vertex",
        )

    # compaction sweeps: speculation over clique unions over-provisions
    # colors (degree-bound, not clique-bound); each sweep lets every vertex
    # drop to the mex of its neighborhood if that strictly decreases its
    # color, conflicts resolved by (p, id) as above. 3 fixed sweeps recover
    # most of the sequential-greedy color count at ~3 jobs each.
    pri = G.vertices_internal.select(
        "vertex", F.xxhash64("vertex", F.lit(seed)).alias("_p")
    )
    colored = iterloop.materialize(colored.join(hint(pri), "vertex"))
    for _ in range(3):
        used = (
            edges.join(hint(colored.select(F.col("vertex").alias(DST), "color")), DST)
            .groupBy(F.col(SRC).alias("vertex"))
            .agg(F.sort_array(F.collect_set("color")).alias("_used"))
        )
        prop = (
            colored.join(hint(used), "vertex", "left")
            .withColumn("_used", F.coalesce("_used", F.expr("array()")))
            .withColumn(
                "_mex",
                F.coalesce(
                    F.expr(
                        "filter(sequence(0, size(_used)),"
                        " x -> NOT array_contains(_used, x))[0]"
                    ).cast("int"),
                    F.lit(0),
                ),
            )
            .withColumn("_want", F.col("_mex") < F.col("color"))
        )
        w_src = prop.select(
            F.col("vertex").alias(SRC), F.col("_p").alias("_ps"),
            F.col("_mex").alias("_ms"), F.col("_want").alias("_ws"),
        )
        w_dst = prop.select(
            F.col("vertex").alias(DST), F.col("_p").alias("_pd"),
            F.col("_mex").alias("_md"), F.col("_want").alias("_wd"),
        )
        losers = (
            edges.join(hint(w_src), SRC)
            .join(hint(w_dst), DST)
            .filter(
                F.col("_ws") & F.col("_wd") & (F.col("_ms") == F.col("_md")) & beat
            )
            .select(F.col(SRC).alias("vertex"))
            .distinct()
        )
        colored = iterloop.materialize(
            prop.join(hint(losers.withColumn("_lose", F.lit(True))), "vertex", "left")
            .select(
                "vertex",
                F.when(
                    F.col("_want") & F.col("_lose").isNull(), F.col("_mex")
                ).otherwise(F.col("color")).alias("color"),
                "_p",
            )
        )

    edges.unpersist()
    return G.unrenumber(colored.select("vertex", "color"), "vertex")
