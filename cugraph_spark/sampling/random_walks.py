"""Random walks (uniform / biased / node2vec).

Reference: sampling/uniform_random_walks.py:15, biased_random_walks.py:15,
node2vec_random_walks.py:34; C++ sampling/random_walks_impl.cuh.

Spark mapping (SURVEY §2.G): walkers DataFrame (walk_id, step, cur[,prev]);
per step join the frontier against the src-partitioned edge table and pick
ONE neighbor per walker with a window over a deterministic per-(walker,
step) hash — seeded xxhash64, so results are reproducible without any
driver-side randomness. Dead-ended walks simply stop extending.

Output shape: the reference returns flattened padded arrays
(uniform_random_walks.py:47-59); the DataFrame-native equivalent here is
one row per walk: (walk_id, start, vertex_path array<long>,
weight_path array<double>, max_path_length) with external vertex ids
inside the arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..constants import SRC, DST, WEIGHT
from ..plans import iterloop
from ..structure.graph import Graph


def _walk(
    G: Graph,
    start_vertices,
    max_depth: int,
    mode: str,
    p: float = 1.0,
    q: float = 1.0,
    random_state: int = 42,
) -> DataFrame:
    if not isinstance(start_vertices, list):
        start_vertices = [start_vertices]
    ids = G.lookup_internal_vertex_id(start_vertices)
    spark = G.edgelist.sparkSession
    w = F.col(WEIGHT) if G.is_weighted() else F.lit(1.0)
    edges = iterloop.persist(G.edgelist.select(SRC, DST, w.alias("_w")))

    walkers = iterloop.local_table(
        spark,
        [(i, int(v), int(v)) for i, v in enumerate(ids)],
        "walk_id long, start long, cur long",
    ).withColumn("prev", F.lit(None).cast("long"))
    # trace rows: (walk_id, step, vertex, in_weight)
    trace = walkers.select(
        "walk_id", F.lit(0).alias("step"), F.col("cur").alias("vertex"),
        F.lit(None).cast("double").alias("in_w"),
    )
    trace = iterloop.materialize(trace)

    # One fused job per step: the chosen-step swap carries the walker
    # count and the trace union is a lazy leaf (defer) materialized by
    # the same action.
    fs = iterloop.FusedSwap()
    with iterloop.small_plan(spark, len(ids)):
      for step in range(1, max_depth + 1):
        cand = edges.join(
            walkers.select("walk_id", "start", F.col("cur").alias(SRC), "prev"), SRC
        )
        if mode == "uniform":
            # seeded hash, not F.rand: rand's per-partition seeding makes
            # results depend on physical layout; xxhash64 is pure
            score = F.xxhash64("walk_id", F.lit(step), DST, F.lit(random_state))
            wsel = Window.partitionBy("walk_id").orderBy(F.asc(score), F.asc(DST))
            chosen = cand.withColumn("_rn", F.row_number().over(wsel)).filter(F.col("_rn") == 1)
        else:
            if mode == "node2vec":
                # reweight by (prev, cur, dst) relation: return / in-out
                prev_edges = edges.select(
                    F.col(SRC).alias("prev"), F.col(DST).alias(DST), F.lit(1).alias("_adj")
                )
                cand = cand.join(prev_edges, ["prev", DST], "left")
                factor = (
                    F.when(F.col(DST) == F.col("prev"), 1.0 / p)
                    .when(F.col("_adj").isNotNull(), 1.0)
                    .otherwise(1.0 / q)
                )
                cand = cand.withColumn("_w", F.col("_w") * factor).drop("_adj")
            # weighted pick: r*total against running cumulative weight
            wsum = Window.partitionBy("walk_id")
            wcum = Window.partitionBy("walk_id").orderBy(F.asc(DST)).rowsBetween(
                Window.unboundedPreceding, 0
            )
            r = (
                F.pmod(F.xxhash64("walk_id", F.lit(step), F.lit(random_state)), F.lit(1 << 30))
                / float(1 << 30)
            )
            cand = (
                cand.withColumn("_tot", F.sum("_w").over(wsum))
                .withColumn("_cum", F.sum("_w").over(wcum))
                .withColumn("_r", r)
            )
            eligible = cand.filter(F.col("_cum") >= F.col("_r") * F.col("_tot"))
            wsel = Window.partitionBy("walk_id").orderBy(F.asc("_cum"), F.asc(DST))
            chosen = eligible.withColumn("_rn", F.row_number().over(wsel)).filter(
                F.col("_rn") == 1
            )
        chosen, (n_alive,) = fs.swap(
            chosen.select(
                "walk_id", "start", F.col(SRC).alias("prev"), F.col(DST).alias("cur"),
                F.col("_w").alias("_step_w"),
            ),
            [F.count(F.lit(1))],
        )
        if n_alive == 0:
            break
        trace = fs.defer(
            trace.unionByName(
                chosen.select(
                    "walk_id", F.lit(step).alias("step"), F.col("cur").alias("vertex"),
                    F.col("_step_w").cast("double").alias("in_w"),
                )
            )
        )
        walkers = chosen.select("walk_id", "start", "cur", "prev")

    edges.unpersist()
    trace = G.unrenumber(trace, "vertex")
    paths = (
        trace.groupBy("walk_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("step", "vertex", "in_w"))).alias("_s"),
        )
        .select(
            "walk_id",
            F.expr("transform(_s, x -> x.vertex)").alias("vertex_path"),
            F.expr("filter(transform(_s, x -> x.in_w), x -> x is not null)").alias(
                "weight_path"
            ),
            (F.size("_s") - 1).alias("path_length"),
        )
    )
    return paths.withColumn("max_path_length", F.lit(max_depth))


def uniform_random_walks(G: Graph, start_vertices, max_depth: int, random_state: int = 42):
    return _walk(G, start_vertices, max_depth, "uniform", random_state=random_state)


def biased_random_walks(G: Graph, start_vertices, max_depth: int, random_state: int = 42):
    if not G.is_weighted():
        raise ValueError("biased random walks require a weighted graph")
    return _walk(G, start_vertices, max_depth, "biased", random_state=random_state)


def node2vec_random_walks(
    G: Graph, start_vertices, max_depth: int, p: float = 1.0, q: float = 1.0,
    random_state: int = 42,
):
    if p <= 0 or q <= 0:
        raise ValueError("p and q must be positive")
    return _walk(G, start_vertices, max_depth, "node2vec", p=p, q=q, random_state=random_state)


def random_walks(G: Graph, random_walks_type: str = "uniform", start_vertices=None,
                 max_depth: int = 1, **kwargs):
    """Legacy dispatcher kept for API parity."""
    fn = {
        "uniform": uniform_random_walks,
        "biased": biased_random_walks,
        "node2vec": node2vec_random_walks,
    }[random_walks_type]
    return fn(G, start_vertices, max_depth, **kwargs)
