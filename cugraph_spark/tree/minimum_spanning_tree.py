"""Minimum / maximum spanning tree (forest) — Borůvka.

Reference: tree/minimum_spanning_tree.py:67,106 (returns a Graph), legacy
cpp/src/tree/legacy/mst.cu.

Spark mapping (SURVEY §2.A): IterLoop Borůvka — per component pick the
minimum outgoing edge (``groupBy(component).min(struct(w, least(src,dst),
greatest(src,dst)))`` — the tie-break key must identify the UNDIRECTED
edge so equal-weight picks cannot cycle), add to forest, merge
components by propagating min labels over the chosen merge edges until
stable (the merge graph has <= one edge per component, so this inner
fixpoint is tiny). O(log V) outer rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST, WEIGHT
from ..plans import iterloop
from ..structure.graph import Graph


def _boruvka(G: Graph, sign: float) -> DataFrame:
    if G.is_directed():
        raise ValueError("input graph must be undirected")
    if not G.is_weighted():
        raise ValueError("input graph must be weighted")
    edges = G.edgelist.select(SRC, DST, (F.col(WEIGHT) * sign).alias("_w")).filter(
        F.col(SRC) != F.col(DST)
    )
    edges = iterloop.persist(edges)
    comp = G.vertices_internal.select("vertex", F.col("vertex").alias("comp"))
    comp = iterloop.materialize(comp)
    chosen = None

    n_v = G.number_of_vertices()
    # One fused job for the pick+count; the other per-round intermediates
    # (chosen forest, merge pairs, comp relabel) are lazy leaf-swaps
    # materialized by the next action that consumes them.
    fs_outer = iterloop.FusedSwap()
    with iterloop.small_plan(edges.sparkSession, n_v):
      while True:
        e = (
            edges.join(
                iterloop.hint_state_join(
                    comp.select(F.col("vertex").alias(SRC), F.col("comp").alias("_cs")), n_v
                ),
                SRC,
            )
            .join(
                iterloop.hint_state_join(
                    comp.select(F.col("vertex").alias(DST), F.col("comp").alias("_cd")), n_v
                ),
                DST,
            )
            .filter(F.col("_cs") != F.col("_cd"))
        )
        # Tie-break on (weight, least, greatest): the key must identify the
        # UNDIRECTED edge, independent of orientation. The previous
        # (weight, src, dst) key gave each undirected edge two different
        # keys (one per direction in the symmetrized table), so three
        # components with equal-weight edges could pick A->B->C->A and add
        # a cycle to the forest — first observed at sf0.1 where the
        # integer quantity weights tie heavily. With an orientation-free
        # globally-unique key the classic Boruvka argument holds: a pick
        # cycle's keys are non-increasing around the cycle, so all equal,
        # so it is the same edge picked mutually (merged by the dedup).
        pick = (
            e.groupBy("_cs")
            .agg(
                F.min(
                    F.struct(
                        F.col("_w"),
                        F.least(SRC, DST).alias("_lo"),
                        F.greatest(SRC, DST).alias("_hi"),
                        F.col(SRC),
                        F.col(DST),
                        F.col("_cd"),
                    )
                ).alias("_m")
            )
            .select(
                F.col("_cs"),
                F.col("_m._w").alias("_w"),
                F.col("_m.src").alias(SRC),
                F.col("_m.dst").alias(DST),
                F.col("_m._cd").alias("_cd"),
            )
        )
        pick, (n_pick,) = fs_outer.swap(pick, [F.count(F.lit(1))])
        if n_pick == 0:
            break
        # dedup the (u,v)/(v,u) double-pick of the same undirected edge
        new_edges = pick.select(
            F.least(SRC, DST).alias(SRC), F.greatest(SRC, DST).alias(DST), F.abs("_w").alias(WEIGHT)
        ).distinct()
        chosen = new_edges if chosen is None else chosen.unionByName(new_edges).distinct()
        chosen = fs_outer.defer(chosen)

        # merge components: min-label propagation over the merge pairs
        merge = pick.select(F.col("_cs").alias("a"), F.col("_cd").alias("b"))
        merge = merge.unionByName(merge.select(F.col("b").alias("a"), F.col("a").alias("b")))
        merge = fs_outer.defer(merge.distinct())
        labels = merge.select(F.col("a").alias("node")).distinct().select(
            "node", F.col("node").alias("lab")
        )
        labels = iterloop.materialize(labels)
        fs = iterloop.FusedSwap()  # swap + changed-count fused into one job
        while True:
            nbr = (
                merge.join(
                    iterloop.hint_state_join(
                        labels.select(F.col("node").alias("a"), "lab"), n_v
                    ),
                    "a",
                )
                .groupBy(F.col("b").alias("node"))
                .agg(F.min("lab").alias("_n"))
            )
            upd = labels.join(
                iterloop.hint_state_join(nbr, n_v), "node", "left"
            ).select(
                "node",
                F.least(F.col("lab"), F.coalesce("_n", F.col("lab"))).alias("lab"),
                F.col("lab").alias("_o"),
            )
            upd, (ch,) = fs.swap(upd, [F.sum((F.col("lab") != F.col("_o")).cast("long"))])
            labels = upd.select("node", "lab")
            if not ch:
                break
        comp = fs_outer.defer(
            comp.join(
                iterloop.hint_state_join(labels.withColumnRenamed("node", "comp"), n_v),
                "comp",
                "left",
            )
            .select("vertex", F.coalesce("lab", F.col("comp")).alias("comp"))
        )

    edges.unpersist()
    if chosen is None:
        return iterloop.local_table(
            G.edgelist.sparkSession, [], f"{SRC} long, {DST} long, {WEIGHT} double"
        )
    return chosen


def minimum_spanning_tree(G: Graph, weight=None, algorithm="boruvka", ignore_nan=False) -> Graph:
    """Returns the MSF as a Graph (reference returns a Graph too)."""
    mst_edges = _boruvka(G, 1.0)
    ext = G.unrenumber(G.unrenumber(mst_edges, SRC), DST)
    out = Graph(directed=False)
    out.from_edgelist(ext, SRC, DST, weight=WEIGHT)
    return out


def minimum_spanning_tree_edges(G: Graph) -> DataFrame:
    """Unique (src < dst, weight) external-id rows of the MSF — the
    edge-list query surface. Skips the Graph rebuild that
    ``minimum_spanning_tree().edges()`` pays (repartition + persist +
    count + vertex set around a result that is immediately flattened)."""
    mst_edges = _boruvka(G, 1.0)
    out = G.unrenumber(G.unrenumber(mst_edges, SRC), DST)
    # canonicalize on EXTERNAL ids — _boruvka's least/greatest ran on
    # internal ids, whose order need not survive unrenumbering
    return out.select(
        F.least(SRC, DST).alias(SRC), F.greatest(SRC, DST).alias(DST), WEIGHT
    )


def maximum_spanning_tree(G: Graph, weight=None, algorithm="boruvka", ignore_nan=False) -> Graph:
    mst_edges = _boruvka(G, -1.0)
    ext = G.unrenumber(G.unrenumber(mst_edges, SRC), DST)
    out = Graph(directed=False)
    out.from_edgelist(ext, SRC, DST, weight=WEIGHT)
    return out
