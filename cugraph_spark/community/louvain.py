"""Louvain community detection.

Reference: community/louvain.py:17 (API: ``louvain(G, max_level, max_iter,
resolution, threshold)`` → ((vertex, partition), modularity_score),
undirected only) and cpp/src/community/louvain_impl.cuh: outer dendrogram
levels (:74), inner delta-modularity passes (:191), ``compute_modularity``
(:175), contraction via ``graph_contraction`` (:267).

Spark mapping (SURVEY §2.D): synchronous parallel local-move variant —
the sequential visit order of classic Louvain has no BSP equivalent, so
each inner pass computes every vertex's best neighbor community from the
*previous* pass's assignment and applies all improving moves at once.
Two standard distributed-Louvain safeguards (both public knowledge from
the distributed-Louvain literature):

- oscillation damping: on odd passes only vertices moving to a *smaller*
  community id may move, on even passes only to a larger one — a 2-vertex
  swap cycle cannot persist;
- moves require strictly positive modularity gain.

Validation is by modularity score, not exact labels (the reference's own
tests do the same: tests/community/test_louvain.py:39-40 asserts
``modularity > 0``; label sets differ run-to-run even on GPU).

Scale: every pass is join + groupBy (struct-max argmax, map-side
partial aggregation) on the edge list;
contraction shrinks the graph geometrically between levels.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST, WEIGHT
from ..plans import iterloop
from ..structure.graph import Graph
from ._local_tail import LOCAL_TAIL_MAX_EDGES, local_tail


def _apply_tail(mapping: DataFrame, comm: dict) -> DataFrame:
    """Compose a driver-side tail assignment (level-node -> label) onto
    the original-vertex mapping; level-nodes absent from the tail (edge-
    free communities) keep their current label."""
    if not comm:
        return mapping
    spark = mapping.sparkSession
    tail_df = iterloop.local_table(
        spark, [(int(a), int(b)) for a, b in comm.items()], "community long, _next long"
    )
    return iterloop.materialize(
        mapping.join(F.broadcast(tail_df), "community", "left").select(
            "vertex", F.coalesce("_next", F.col("community")).alias("community")
        )
    )


def _driver_contract_tail(
    edges: DataFrame,
    assign: DataFrame,
    resolution: float,
    max_levels: int,
    max_iter: int,
    threshold: float,
    leiden_split: bool = False,
):
    """Contract a driver-sized level locally and run the dendrogram tail.

    When the current level's edge list is already under
    ``LOCAL_TAIL_MAX_EDGES``, two small collects (edges + assignment)
    replace the distributed contraction's shuffle + checkpoint + count
    jobs. Returns ``(comm dict, modularity)`` from ``local_tail``."""
    a = {r[0]: r[1] for r in assign.collect()}
    contracted: dict = {}
    for r in edges.collect():
        key = (a[r[0]], a[r[1]])
        contracted[key] = contracted.get(key, 0.0) + r[2]
    rows = [(s, d, w) for (s, d), w in contracted.items()]
    return local_tail(
        rows, resolution, max_levels, max_iter, threshold,
        leiden_split=leiden_split,
    )


# Frontier engages when movers * factor < |V| (tail passes); early
# whole-graph passes recompute everyone. A huge factor disables the
# frontier entirely (every pass recomputes every vertex).
_FRONTIER_BYPASS_FACTOR = 4

# The frontier trades extra per-pass jobs (affected-set materialize, semi
# joins, carried-row union) for smaller shuffles, which only pays when
# the per-pass w_iC shuffle is actually big: measured at sf0.01 (54k
# edges) frontier-on runs 1.5-2x SLOWER (21-34s vs 15-16s leiden) with
# identical output, so it stays off below this edge count and engages
# where the shuffle volume dominates fixed job cost.
_FRONTIER_MIN_EDGES = 5_000_000

# Tail cutoff: stop local-move passes once the movers fall below this
# fraction of vertices. The move tail decays geometrically — the last
# passes each relocate a handful of vertices for ΔQ ~ 1e-4 at ~4 jobs
# per pass; standard Louvain practice stops at ~1% movers. Measured on
# the sf0.01 copurchase fixture (1,133 vertices): leiden 15.5s/Q=0.3672
# at 0.2%, 11.2s/Q=0.3639 at 1%, 8.2s/Q=0.3547 at 3%. Round 3 moved the
# bar to 2%: the r03 pass trace plateaus at 18-31 movers for the last 3
# passes with summed gain/2m under 0.13% of Q — 2% trims those passes
# (measured Q 0.3639 -> 0.3627 at sf0.01) while 3% already forfeits
# whole consolidation passes. Inert on graphs under ~100/_frac vertices
# (n_moves >= 1 never undercuts the bar), so tiny-fixture tests see
# exact fixpoints.
_TAIL_MOVE_FRACTION = 0.02


def modularity_of(
    edges: DataFrame,
    assign: DataFrame,
    resolution: float = 1.0,
    two_m: float | None = None,
    n_verts: int | None = None,
) -> float:
    """Q over a symmetrized weighted edge list and (vertex, community).

    Q = Σ_C [ Σ_in(C)/2m − γ·(σ_C/2m)² ] with Σ_in counting both
    directions of each intra-community edge (edges are symmetrized).
    Pass ``two_m`` (total edge weight) when the caller already knows it
    to skip one aggregation job, and ``n_verts`` (an upper bound on the
    assignment's row count) so the two V-bounded join sides are
    broadcast-hinted instead of planning as sort-merge joins that
    shuffle the edge table twice (stats-less leaves, r6 sweep).
    """
    a_src = assign.select(F.col("vertex").alias(SRC), F.col("community").alias("_cs"))
    a_dst = assign.select(F.col("vertex").alias(DST), F.col("community").alias("_cd"))
    e = edges.join(iterloop.hint_state_join(a_src, n_verts), SRC)
    e = e.join(iterloop.hint_state_join(a_dst, n_verts), DST)
    if two_m is None:
        two_m = e.agg(F.sum("_w")).collect()[0][0]
    if not two_m:
        return 0.0
    internal = (
        e.filter(F.col("_cs") == F.col("_cd"))
        .groupBy("_cs")
        .agg(F.sum("_w").alias("_in"))
    )
    sigma = (
        e.groupBy(F.col(SRC).alias("_v"), F.col("_cs").alias("_c"))
        .agg(F.sum("_w").alias("_k"))
        .groupBy("_c")
        .agg(F.sum("_k").alias("_sig"))
    )
    row = (
        sigma.join(internal, sigma["_c"] == internal["_cs"], "left")
        .select(
            (
                F.coalesce("_in", F.lit(0.0)) / two_m
                - F.lit(resolution) * F.pow(F.col("_sig") / two_m, 2)
            ).alias("_q")
        )
        .agg(F.sum("_q"))
        .collect()[0][0]
    )
    return float(row or 0.0)


def _one_level(
    edges: DataFrame,
    resolution: float,
    max_iter: int,
    threshold: float,
    compute_q: bool = True,
    n_edges: int | None = None,
    canonical: bool = True,
    precomputed_iso: "DataFrame | None | bool" = None,
    precomputed_deg: "tuple | None" = None,
):
    """Local-move passes on one graph level.

    edges: symmetrized (src, dst, _w). Returns (assign DF (vertex,
    community), modularity — None when ``compute_q=False``). Communities
    are labeled by min member vertex unless ``canonical=False`` (leiden
    relabels via its connectivity split anyway — the caller only needs
    community EQUALITY, so the canon groupBy+join jobs are skipped).

    Frontier-ized inner loop: a vertex's candidate gains change only if
    it moved, a candidate community's membership changed (its sigma or
    the vertex's own-community term shifts), or a neighbor moved (its
    w_iC buckets shift). After the first full pass, gains are recomputed
    only for that affected set — members of changed communities plus
    in-neighbors of those members — while every other vertex carries its
    cached ``best`` row forward (the damping parity filter is re-applied
    each pass, so a previously parity-blocked move still fires). Tail
    passes that move a handful of vertices then shuffle a handful of
    rows instead of the whole edge list.
    """
    spark = edges.sparkSession
    if precomputed_deg is not None:
        # Ensemble callers (ecg) share ONE topology-only E-sized degree
        # aggregate across all members and pass each member's degree table
        # as a V-sized projection over it (deg_i = deg_0 * (1 + jitter_i);
        # the jitter factor is per-vertex, so it distributes out of the
        # per-vertex weight sum). Saves an E-sized groupBy + persist +
        # E-scan scalar job PER MEMBER; only two_m (jitter-dependent)
        # still needs a job here, and it is V-sized.
        deg, n_verts_hint, n_iso = precomputed_deg
        (two_m,) = iterloop.collect_scalars(deg, [F.sum("_k")])
    else:
        # _nl marks vertices with at least one non-loop edge: the iso set
        # (self-loop-only vertices) falls out of the same aggregation instead
        # of costing its own anti-join materialize + count (two jobs/level)
        deg = edges.groupBy(F.col(SRC).alias("vertex")).agg(
            F.sum("_w").alias("_k"),
            F.max((F.col(SRC) != F.col(DST)).cast("int")).alias("_nl"),
        )
        deg = iterloop.persist(deg)
        # deg sums == edge-weight sum on a symmetrized list: one job for all
        n_verts_hint, two_m, n_iso = iterloop.collect_scalars(
            deg, [F.count("*"), F.sum("_k"), F.count(F.when(F.col("_nl") == 0, 1))]
        )

    assign = deg.select("vertex", F.col("vertex").alias("community"))
    assign = iterloop.materialize(assign)
    hint = lambda df: iterloop.hint_state_join(df, n_verts_hint)

    # Vertices with no non-loop edge never appear in `best` (no w_iC rows)
    # and never move; carrying them statically lets each pass derive the
    # next assignment as a pure projection of the checkpointed `best`
    # instead of paying a second checkpoint job per pass. The set is
    # topology-only, so ensemble callers (ecg) pass it in once:
    # ``precomputed_iso=False`` means "known empty", a DataFrame is the
    # (vertex,) set itself.
    if precomputed_iso is None:
        iso_assign = (
            deg.filter(F.col("_nl") == 0).select(
                "vertex", F.col("vertex").alias("community")
            )
            if n_iso
            else None
        )
    elif precomputed_iso is False:
        iso_assign = None
    else:
        iso_assign = precomputed_iso.select(
            "vertex", F.col("vertex").alias("community")
        )

    frontier_ok = n_edges is not None and n_edges > _FRONTIER_MIN_EDGES
    best_prev = None  # cached (vertex, community, _best, _gain, _curgain)
    affected = None  # None = recompute everyone (first pass)
    # per-pass state swap rides the moves/gain agg: ONE Spark job per
    # pass instead of checkpoint + agg (A/B'd neutral-to-positive here —
    # the pass job is compute-dominated at fixture scale — and ~12% on
    # the auction loop, whose sweeps are fixed-cost-bound)
    swapper = iterloop.FusedSwap()
    for it in range(max_iter):
        if it == 0:
            # identity assignment: sigma == deg and community(v) == v, so
            # the sigma groupBy and both assignment joins are no-ops —
            # elide them from the (most expensive, whole-graph) first pass
            sigma = deg.select(F.col("vertex").alias("_cj"), F.col("_k").alias("_sig"))
            wic = (
                edges.filter(F.col(SRC) != F.col(DST))
                .groupBy(F.col(SRC).alias("vertex"), F.col(DST).alias("_cj"))
                .agg(F.sum("_w").alias("_wic"))
            )
            pre_cand = wic.withColumn("community", F.col("vertex"))
        else:
            a_dst = assign.select(F.col("vertex").alias(DST), F.col("community").alias("_cj"))
            sigma = (
                assign.join(hint(deg), "vertex")
                .groupBy(F.col("community").alias("_cj"))
                .agg(F.sum("_k").alias("_sig"))
            )
            # w_iC: weight from vertex i to each neighbor community C —
            # restricted to the affected frontier after the first pass
            wic_edges = edges.filter(F.col(SRC) != F.col(DST))
            if affected is not None:
                wic_edges = wic_edges.join(
                    hint(affected.withColumnRenamed("vertex", SRC)), SRC, "semi"
                )
            wic = (
                wic_edges.join(iterloop.hint_state_join(a_dst, n_verts_hint), DST)
                .groupBy(F.col(SRC).alias("vertex"), "_cj")
                .agg(F.sum("_w").alias("_wic"))
            )
            pre_cand = wic.join(hint(assign), "vertex")
        cand = (
            pre_cand.join(hint(deg.select("vertex", "_k")), "vertex")
            .join(hint(sigma), "_cj")
            .select(
                "vertex",
                "community",
                "_cj",
                (
                    F.col("_wic")
                    - F.lit(resolution)
                    * F.col("_k")
                    * (F.col("_sig") - F.when(F.col("_cj") == F.col("community"), F.col("_k")).otherwise(0.0))
                    / F.lit(two_m)
                ).alias("_gain"),
            )
        )
        # argmax(gain, tie: smallest community) + current-community gain in
        # ONE partial-aggregated groupBy — replaces the window sort (full
        # shuffle + per-partition sort) and the separate `cur` self-join
        best = (
            cand.groupBy("vertex", "community")
            .agg(
                F.max(
                    F.struct(F.col("_gain"), (-F.col("_cj")).alias("_ncj"))
                ).alias("_bp"),
                F.max(
                    F.when(F.col("_cj") == F.col("community"), F.col("_gain"))
                ).alias("_curgain"),
            )
            .select(
                "vertex", "community",
                (-F.col("_bp._ncj")).alias("_best"),
                F.col("_bp._gain").alias("_gain"),
                "_curgain",
            )
        )
        if best_prev is not None:
            best = best.unionByName(
                best_prev.join(hint(affected), "vertex", "left_anti")
            )

        mv = (F.col("_best") != F.col("community")) & (
            F.col("_gain") > F.coalesce("_curgain", F.lit(0.0)) + 1e-12
        )
        # oscillation damping: alternate move direction by pass parity
        if it % 2 == 0:
            mv = mv & (F.col("_best") < F.col("community"))
        else:
            mv = mv & (F.col("_best") > F.col("community"))
        # gain-based stop (cheap agg on the small moves set) replaces the
        # 2-extra-jobs-per-pass full modularity recomputation; ΔQ of the
        # applied moves upper-bounds the modularity improvement scale.
        # The agg doubles as the state-swap materializer (FusedSwap).
        best, (n_moves, gain_sum) = swapper.swap(
            best,
            [
                F.count("*"),
                F.coalesce(
                    F.sum(F.col("_gain") - F.coalesce("_curgain", F.lit(0.0))),
                    F.lit(0.0),
                ),
            ],
            scalar_view=lambda d: d.filter(mv),
        )
        best_prev = best
        moved = best.filter(mv)
        if not n_moves or (gain_sum or 0.0) / two_m < threshold:
            break
        if it > 0 and n_moves <= n_verts_hint * _TAIL_MOVE_FRACTION:
            # apply this pass's few moves, then stop (assign stays lazy —
            # the end-of-level materialize below checkpoints it once)
            assign = best.select(
                "vertex",
                F.when(mv, F.col("_best")).otherwise(F.col("community")).alias("community"),
            )
            if iso_assign is not None:
                assign = assign.unionByName(iso_assign)
            break
        # next assignment = join-free projection over the checkpointed
        # best (the old path joined assign with the moved set). It stays
        # LAZY: every consumer next pass re-scans the checkpointed best
        # through a narrow projection (V rows, no shuffle) — cheaper than
        # paying a localCheckpoint job per pass, and lineage stays flat
        # because best is checkpointed.
        assign = best.select(
            "vertex", F.when(mv, F.col("_best")).otherwise(F.col("community")).alias("community")
        )
        if iso_assign is not None:
            assign = assign.unionByName(iso_assign)
        if not frontier_ok or n_moves * _FRONTIER_BYPASS_FACTOR >= n_verts_hint:
            # most of the graph is in motion (early passes): the frontier
            # bookkeeping costs more than it saves — full recompute
            affected = None
            best_prev = None
            continue
        # next pass's frontier: communities touched by a move (old or new
        # side) have stale sigma; their members' own/candidate gains and
        # the w_iC buckets of anyone pointing AT those members are stale.
        # movers are members of a changed community under the new assign,
        # and leavers are movers, so members(changed) covers both.
        changed = (
            moved.select(F.col("community").alias("_cc"))
            .unionByName(moved.select(F.col("_best").alias("_cc")))
            .distinct()
        )
        members = assign.join(
            hint(changed.withColumnRenamed("_cc", "community")), "community", "semi"
        ).select("vertex")
        in_nbrs = (
            edges.join(
                hint(members.withColumnRenamed("vertex", DST)), DST, "semi"
            )
            .select(F.col(SRC).alias("vertex"))
        )
        affected = iterloop.materialize(members.unionByName(in_nbrs).distinct())

    if canonical:
        # canonical community ids: min member vertex
        canon = assign.groupBy("community").agg(F.min("vertex").alias("_canon"))
        assign = assign.join(
            iterloop.hint_state_join(canon, n_verts_hint), "community"
        ).select("vertex", F.col("_canon").alias("community"))
    assign = iterloop.materialize(assign)
    swapper.close()  # assign is materialized; drop the best-state window
    q_final = (
        modularity_of(edges, assign, resolution, two_m=two_m, n_verts=n_verts_hint)
        if compute_q
        else None
    )
    if precomputed_deg is None:
        deg.unpersist()
    return assign, q_final


def louvain(
    G: Graph,
    max_level: Optional[int] = None,
    max_iter: Optional[int] = None,
    resolution: float = 1.0,
    threshold: float = 1e-7,
) -> tuple[DataFrame, float]:
    """Returns ((vertex, partition) DataFrame, modularity_score)."""
    if G.is_directed():
        raise ValueError("input graph must be undirected")
    max_level = max_level if max_level is not None else 10
    max_iter = max_iter if max_iter is not None else 20

    w = F.col(WEIGHT) if G.is_weighted() else F.lit(1.0)
    edges = G.edgelist.select(SRC, DST, w.alias("_w"))
    edges = iterloop.materialize(edges)

    # overall mapping: original vertex -> current-level vertex
    mapping = G.vertices_internal.select("vertex", F.col("vertex").alias("community"))
    q_final = 0.0

    # every table in the level loop is vertex- or community-sized (the
    # coarsened edge list shrinks level over level), so the small-state
    # loop regime (AQE off, few shuffle partitions, broadcast hints)
    # applies to the whole dendrogram walk
    n_level_edges = G.number_of_edges(directed_edges=True)
    # Per-level swaps: mapping is a lazy leaf (defer — the next level's
    # join materializes it) and the contracted edge table's swap fuses
    # with its row-count job.
    fs_lvl = iterloop.FusedSwap()
    with iterloop.small_plan(
        G.edgelist.sparkSession,
        G.number_of_vertices(),
        shuffled_rows=n_level_edges,
    ):
        for level in range(max_level):
            if level > 0 and n_level_edges <= LOCAL_TAIL_MAX_EDGES:
                # a distributed contraction brought the level graph under
                # the driver-tail cap: finish every remaining level locally
                rows = [(r[0], r[1], r[2]) for r in edges.collect()]
                comm, q_final = local_tail(
                    rows, resolution, max_level - level, max_iter, threshold
                )
                mapping = _apply_tail(mapping, comm)
                break
            # compute_q=False: only the EXIT level's modularity is
            # reported, so intermediate levels skip the two-job Q pass
            # and Q is computed once at each break point below
            assign, _ = _one_level(
                edges, resolution, max_iter, threshold,
                compute_q=False, n_edges=n_level_edges,
            )
            mapping = fs_lvl.defer(
                mapping.join(
                    iterloop.hint_state_join(
                        assign.select(
                            F.col("vertex").alias("community"),
                            F.col("community").alias("_next"),
                        ),
                        G.number_of_vertices(),
                    ),
                    "community",
                ).select("vertex", F.col("_next").alias("community"))
            )
            n_comms, n_verts = iterloop.collect_scalars(
                assign, [F.countDistinct("community"), F.count("*")]
            )
            if n_comms == n_verts or level == max_level - 1:
                q_final = modularity_of(
                    edges, assign, resolution, n_verts=G.number_of_vertices()
                )
                break
            # dendrogram tail: coarsened levels shrink geometrically — once
            # a level graph fits on the driver, finish the remaining levels
            # with sequential Louvain locally instead of paying dozens of
            # fixed-cost Spark jobs over a few thousand rows. When THIS
            # level already fits, the contraction itself moves to the
            # driver too (two collects replace a shuffle+checkpoint job)
            if n_level_edges <= LOCAL_TAIL_MAX_EDGES:
                comm, q_final = _driver_contract_tail(
                    edges, assign, resolution,
                    max_level - level - 1, max_iter, threshold,
                )
                mapping = _apply_tail(mapping, comm)
                break
            # coarsen: contract communities (cpp graph_contraction :267)
            edges, (n_level_edges,) = fs_lvl.swap(
                edges.join(
                    iterloop.hint_state_join(
                        assign.select(F.col("vertex").alias(SRC), F.col("community").alias("_cs")),
                        G.number_of_vertices(),
                    ),
                    SRC,
                )
                .join(
                    iterloop.hint_state_join(
                        assign.select(F.col("vertex").alias(DST), F.col("community").alias("_cd")),
                        G.number_of_vertices(),
                    ),
                    DST,
                )
                .groupBy(F.col("_cs").alias(SRC), F.col("_cd").alias(DST))
                .agg(F.sum("_w").alias("_w")),
                [F.count(F.lit(1))],
            )

    out = mapping.select("vertex", F.col("community").alias("partition"))
    return G.unrenumber(out, "vertex"), q_final
