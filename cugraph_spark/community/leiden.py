"""Leiden community detection.

Reference: community/leiden.py:11 and cpp/src/community/leiden_impl.cuh
(731 LoC) — Louvain plus a refinement phase that guarantees communities
are internally connected.

Spark mapping (SURVEY §2.D): the louvain level machinery plus the key
Leiden property enforced between levels: after each local-move phase,
every community is split into its connected components (WCC restricted
to intra-community edges) before contraction — a disconnected "community"
can never survive a level, which is the defect of plain Louvain that
Leiden fixes (Traag et al. 2019, public algorithm). The stochastic
theta-refinement of the paper is replaced by this deterministic variant;
validation is by modularity + connectivity invariants, as for louvain.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST, WEIGHT
from ..plans import iterloop
from ..structure.graph import Graph
from ._local_tail import LOCAL_TAIL_MAX_EDGES, local_tail
from .louvain import _apply_tail, _driver_contract_tail, _one_level, modularity_of


def _split_disconnected(
    edges: DataFrame,
    assign: DataFrame,
    n_hint: int | None = None,
    n_level_edges: int | None = None,
) -> DataFrame:
    """Refinement: relabel each community to its connected components
    (labels become min member vertex of each connected piece).

    Same hash-min + two-hop label shortcut as WCC (labels also propagate
    label->min(member), squaring the radius per round — O(log d) rounds
    instead of O(d); components/connectivity.py:114). ``n_hint`` is an
    upper bound on the vertex count for the broadcast-hint decision.

    When the level's edge list fits the driver tail
    (``n_level_edges <= LOCAL_TAIL_MAX_EDGES`` — the same size policy as
    the dendrogram tail), the intra-community edges are collected and
    split by union-find locally: one broadcast relabel join replaces the
    O(log d) shuffle rounds. Coarsened levels shrink geometrically, so
    at 100-TB scale only level 0 (and maybe 1) takes the distributed
    loop; small levels stop paying ~10 fixed-cost Spark jobs each."""
    from ..components.connectivity import _skew_safe_hint

    hint = lambda df: iterloop.hint_state_join(df, n_hint)
    intra = (
        edges.join(hint(assign.select(F.col("vertex").alias(SRC), F.col("community").alias("_cs"))), SRC)
        .join(hint(assign.select(F.col("vertex").alias(DST), F.col("community").alias("_cd"))), DST)
        .filter(F.col("_cs") == F.col("_cd"))
        .select(SRC, DST)
    )
    if n_level_edges is not None and n_level_edges <= LOCAL_TAIL_MAX_EDGES:
        pairs = [(r[0], r[1]) for r in intra.collect()]
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for s, d in pairs:
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                # unions always point max -> min, so every root is the
                # min member of its piece (as in _split_connected_seq)
                parent[max(rs, rd)] = min(rs, rd)
        spark = assign.sparkSession
        if not parent:
            # no intra edges: every vertex is its own component
            return assign.select("vertex", F.col("vertex").alias("community"))
        lab_df = iterloop.local_table(
            spark, [(int(v), int(find(v))) for v in parent], "vertex long, _lab long"
        )
        return assign.join(F.broadcast(lab_df), "vertex", "left").select(
            "vertex", F.coalesce("_lab", F.col("vertex")).alias("community")
        )
    labels = assign.select("vertex", F.col("vertex").alias("label"))
    labels = iterloop.materialize(labels)
    fs = iterloop.FusedSwap()  # swap + changed-count fused into one job
    while True:
        nbr = (
            intra.join(hint(labels.select(F.col("vertex").alias(SRC), "label")), SRC)
            .groupBy(F.col(DST).alias("vertex"))
            .agg(F.min("label").alias("_n"))
        )
        prop = labels.join(hint(nbr), "vertex", "left").select(
            "vertex",
            F.least(F.col("label"), F.coalesce("_n", F.col("label"))).alias("label"),
            F.col("label").alias("_o"),
        )
        # two-hop shortcut: label -> min vertex currently holding it
        # (skew-safe hint: labels consolidate toward one value per piece)
        lab_min = prop.groupBy(F.col("label").alias("_lab")).agg(
            F.min("vertex").alias("_root")
        )
        upd = (
            prop.join(_skew_safe_hint(lab_min, n_hint), prop["label"] == lab_min["_lab"], "left")
            .select(
                "vertex",
                F.least(F.col("label"), F.coalesce("_root", F.col("label"))).alias("label"),
                "_o",
            )
        )
        upd, (ch,) = fs.swap(upd, [F.sum((F.col("label") != F.col("_o")).cast("long"))])
        labels = upd.select("vertex", "label")
        if not ch:
            break
    return labels.withColumnRenamed("label", "community")


def leiden(
    G: Graph,
    max_iter: int = 100,
    resolution: float = 1.0,
    random_state: Optional[int] = None,
    theta: float = 1.0,
    max_level: int = 10,
    threshold: float = 1e-7,
) -> tuple[DataFrame, float]:
    """Returns ((vertex, partition), modularity_score)."""
    if G.is_directed():
        raise ValueError("input graph must be undirected")
    w = F.col(WEIGHT) if G.is_weighted() else F.lit(1.0)
    edges = iterloop.materialize(G.edgelist.select(SRC, DST, w.alias("_w")))
    mapping = G.vertices_internal.select("vertex", F.col("vertex").alias("community"))
    q_final = 0.0

    # vertex/community-sized state throughout -> small-state loop regime
    # (AQE off, few shuffle partitions) for the whole dendrogram walk
    n_level_edges = G.number_of_edges(directed_edges=True)
    # total edge weight is contraction-invariant: one job serves every
    # level's modularity computation
    (two_m,) = iterloop.collect_scalars(edges, [F.sum("_w")])
    # Per-level swaps: mapping is a lazy leaf (defer — the next level's
    # join materializes it) and the contracted edge table's swap fuses
    # with its row-count job.
    fs_lvl = iterloop.FusedSwap()
    with iterloop.small_plan(
        G.edgelist.sparkSession,
        G.number_of_vertices(),
        shuffled_rows=n_level_edges,
    ):
        n_hint = G.number_of_vertices()
        for level in range(max_level):
            if level > 0 and n_level_edges <= LOCAL_TAIL_MAX_EDGES:
                # a distributed contraction brought the level graph under
                # the driver-tail cap: finish every remaining level locally
                rows = [(r[0], r[1], r[2]) for r in edges.collect()]
                comm, q_final = local_tail(
                    rows, resolution, max_level - level, min(max_iter, 20),
                    threshold, leiden_split=True,
                )
                mapping = _apply_tail(mapping, comm)
                break
            # skip _one_level's modularity pass: the split below changes
            # the partition, so Q is only meaningful post-refinement;
            # skip its canonicalization too — the split relabels every
            # community to its min member anyway
            assign, _ = _one_level(
                edges,
                resolution,
                min(max_iter, 20),
                threshold,
                compute_q=False,
                n_edges=n_level_edges,
                canonical=False,
            )
            # the Leiden guarantee
            assign = _split_disconnected(
                edges, assign, n_hint=n_hint, n_level_edges=n_level_edges
            )
            mapping = fs_lvl.defer(
                mapping.join(
                    iterloop.hint_state_join(
                        assign.select(
                            F.col("vertex").alias("community"),
                            F.col("community").alias("_n"),
                        ),
                        n_hint,
                    ),
                    "community",
                ).select("vertex", F.col("_n").alias("community"))
            )
            n_comms, n_verts = iterloop.collect_scalars(
                assign, [F.countDistinct("community"), F.count("*")]
            )
            if n_comms == n_verts or level == max_level - 1:
                # only the exit level's modularity is reported — skip
                # the two-job Q pass on intermediate levels (the local
                # tail below reports its own Q when it takes over)
                q_final = modularity_of(
                    edges, assign, resolution, two_m=two_m, n_verts=n_hint
                )
                break
            # dendrogram tail (see louvain.py): driver-sized coarsened
            # levels finish locally, with the Leiden connectivity split
            # applied after each local level. A level that already fits
            # also contracts on the driver (two collects instead of a
            # shuffle + checkpoint + count)
            if n_level_edges <= LOCAL_TAIL_MAX_EDGES:
                comm, q_final = _driver_contract_tail(
                    edges, assign, resolution, max_level - level - 1,
                    min(max_iter, 20), threshold, leiden_split=True,
                )
                mapping = _apply_tail(mapping, comm)
                break
            edges, (n_level_edges,) = fs_lvl.swap(
                edges.join(
                    iterloop.hint_state_join(
                        assign.select(F.col("vertex").alias(SRC), F.col("community").alias("_cs")),
                        n_hint,
                    ),
                    SRC,
                )
                .join(
                    iterloop.hint_state_join(
                        assign.select(F.col("vertex").alias(DST), F.col("community").alias("_cd")),
                        n_hint,
                    ),
                    DST,
                )
                .groupBy(F.col("_cs").alias(SRC), F.col("_cd").alias(DST))
                .agg(F.sum("_w").alias("_w")),
                [F.count(F.lit(1))],
            )

    out = mapping.select("vertex", F.col("community").alias("partition"))
    return G.unrenumber(out, "vertex"), q_final
