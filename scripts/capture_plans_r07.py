"""Capture .explain("formatted") for the operators touched in round 7
into plans/r07/<name>_<tag>.txt (judge evidence, guide §1.2/§7.2).

Runs against whichever tree it lives in, so the *before* captures come
from a plain `git worktree` of the pre-round HEAD and the *after*
captures from the working tree — the script adapts to either version of
the internals (signature probes below).

Usage: python scripts/capture_plans_r07.py <tag>     # tag = before | after
Env:   SPARK_GRAFT_PLANS_OUT overrides the output dir.
"""

from __future__ import annotations

import inspect
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT_DIR = os.environ.get(
    "SPARK_GRAFT_PLANS_OUT",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r07"),
)


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def save(name: str, tag: str, *sections: tuple[str, str]) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
    with open(path, "w") as f:
        for title, body in sections:
            f.write(f"=== {title} ===\n{body}\n")
    print(f"wrote {path}", flush=True)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    from cugraph_spark.session import get_spark
    from cugraph_spark.constants import SRC, DST
    from cugraph_spark.plans import iterloop

    spark = get_spark("capture_plans_r07")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- ivf_topk / semantic_duplicates (full query plans) -----------------
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    from cugraph_spark.pipelines.similarity_search import ivf_topk, semantic_duplicates

    out = ivf_topk(emb, q, k=5, n_lists=8, n_probe=3, kmeans_iters=3)
    save("ivf_topk", tag, ("full ivf_topk plan (contract parameters)", explain_str(out)))
    sd = semantic_duplicates(emb, threshold=0.95, n_lists=4, kmeans_iters=2)
    save("semantic_duplicates", tag, ("full semantic_duplicates plan", explain_str(sd)))

    # ---- shared fixtures for the graph loops --------------------------------
    from queries_registry import copurchase_sparse_graph

    g = copurchase_sparse_graph(spark, SF_DIR)
    n = g.number_of_vertices()
    edges = g.edgelist.select(SRC, DST)
    jk, gk = (DST, SRC) if iterloop.sym_aligned_agg(g, n) else (SRC, DST)

    # ---- ecg member degree (shared-degree ensemble) -------------------------
    from cugraph_spark.community.louvain import _one_level

    base = g.edgelist.select(SRC, DST, F.lit(1.0).alias("_w"))
    jitter = F.pmod(F.xxhash64(SRC, F.lit(43)), F.lit(1000)).cast("double") / 1e9
    jittered = base.select(SRC, DST, (F.col("_w") * (1.0 + jitter)).alias("_w"))
    if "precomputed_deg" in inspect.signature(_one_level).parameters:
        deg0 = iterloop.persist(
            base.groupBy(F.col(SRC).alias("vertex")).agg(
                F.sum("_w").alias("_k0"),
                F.max((F.col(SRC) != F.col(DST)).cast("int")).alias("_nl"),
            )
        )
        deg0.count()
        jv = F.pmod(F.xxhash64("vertex", F.lit(43)), F.lit(1000)).cast("double") / 1e9
        member_deg = deg0.select("vertex", (F.col("_k0") * (1.0 + jv)).alias("_k"), "_nl")
        title = "per-member degree = V-sized projection over ONE shared persisted aggregate"
    else:
        member_deg = jittered.groupBy(F.col(SRC).alias("vertex")).agg(
            F.sum("_w").alias("_k"),
            F.max((F.col(SRC) != F.col(DST)).cast("int")).alias("_nl"),
        )
        title = "per-member degree = its own E-sized groupBy aggregate (per ensemble member)"
    save("ecg_member_deg", tag, (title, explain_str(member_deg)))

    # ---- wcc round body ------------------------------------------------
    import cugraph_spark.components.connectivity as conn

    labels = iterloop.materialize(g.vertices_internal.select("vertex", F.col("vertex").alias("label")))

    def prop_round(cur):
        nbr_min = (
            edges.join(iterloop.hint_state_join(cur.select(F.col("vertex").alias(jk), "label"), n), jk)
            .groupBy(F.col(gk).alias("vertex"))
            .agg(F.min("label").alias("_nbr"))
        )
        prop = cur.join(iterloop.hint_state_join(nbr_min, n), "vertex", "left").select(
            "vertex",
            F.least(F.col("label"), F.coalesce("_nbr", F.col("label"))).alias("label"),
            F.col("label").alias("_old"),
        )
        lab_min = prop.groupBy(F.col("label").alias("_lab")).agg(F.min("vertex").alias("_root"))
        lab_min = conn._skew_safe_hint(lab_min, n)
        return prop.join(lab_min, prop["label"] == lab_min["_lab"], "left").select(
            "vertex",
            F.least(F.col("label"), F.coalesce("_root", F.col("label"))).alias("label"),
            "_old",
        )

    with iterloop.small_plan(spark, n):
        body = prop_round(labels)
        save(
            "wcc_sync_body",
            tag,
            ("one swap+convergence job = one propagation pass", explain_str(body)),
        )

    # ---- betweenness backward level body ------------------------------------
    from cugraph_spark.centrality import betweenness_centrality as bcmod

    seeds = iterloop.materialize(
        g.vertices_internal.orderBy(F.xxhash64("vertex", F.lit(42))).limit(8)
        .select(F.col("vertex").alias("source"))
    )
    state_rows = n * 8
    with iterloop.small_plan(spark, state_rows):
        res, *_, dmax = bcmod._forward(edges, seeds, jk, gk, state_rows)
        d = max(dmax, 1)
        if isinstance(res, list):
            levels = res
            visited_all = levels[0]
            for lv in levels[1:]:
                visited_all = visited_all.unionByName(lv)
            delta = iterloop.materialize(
                visited_all.select("source", "vertex", F.lit(0.0).alias("delta"))
            )
            wlev = (
                levels[d]
                .join(iterloop.hint_state_join(delta, state_rows), ["source", "vertex"])
                .select("source", F.col("vertex").alias(DST), F.col("sigma").alias("_sw"),
                        F.col("delta").alias("_dw"))
            )
            d1 = levels[d - 1].select(
                "source", F.col("vertex").alias(SRC), F.col("sigma").alias("_sv")
            )
            title = "backward level reads its two per-level checkpoint slices directly"
        else:
            visited = iterloop.persist(res)
            visited.count()
            delta = iterloop.materialize(
                visited.select("source", "vertex", F.lit(0.0).alias("delta"))
            )
            wlev = (
                visited.filter(F.col("distance") == d)
                .join(iterloop.hint_state_join(delta, state_rows), ["source", "vertex"])
                .select("source", F.col("vertex").alias(DST), F.col("sigma").alias("_sw"),
                        F.col("delta").alias("_dw"))
            )
            d1 = (
                visited.filter(F.col("distance") == d - 1)
                .select("source", F.col("vertex").alias(SRC), F.col("sigma").alias("_sv"))
            )
            title = "backward level = two distance-filters over the persisted forward union"
        contrib = (
            edges.join(iterloop.hint_state_join(wlev, state_rows), DST)
            .join(iterloop.hint_state_join(d1, state_rows), ["source", SRC])
            .withColumn("_c", F.col("_sv") / F.col("_sw") * (1.0 + F.col("_dw")))
        )
        lev_delta = contrib.groupBy("source", F.col(SRC).alias("vertex")).agg(
            F.sum("_c").alias("_nd")
        )
        save("betweenness_backward_level", tag, (title, explain_str(lev_delta)))

    # ---- vertex_coloring 'used' aggregation orientation ----------------------
    # The decider agg of the r7 orientation A/B: collect_set partial
    # buffers are not V-bounded, so a dst-keyed exchange carries fat set
    # buffers while the src-keyed form (the implementation's only
    # orientation since the A/B settled) stays inside the cached
    # partitioning.
    colored = iterloop.materialize(
        g.vertices_internal.select("vertex", (F.col("vertex") % 7).cast("int").alias("color"))
    )
    with iterloop.small_plan(spark, n):
        used = (
            edges.join(
                iterloop.hint_state_join(
                    colored.select(F.col("vertex").alias(DST), "color"), n
                ),
                DST,
            )
            .groupBy(F.col(SRC).alias("vertex"))
            .agg(F.sort_array(F.collect_set("color")).alias("_used"))
        )
        save(
            "vertex_coloring_used_agg",
            tag,
            ("'used' collect_set aggregation keyed on src", explain_str(used)),
        )

    spark.stop()


if __name__ == "__main__":
    main()
