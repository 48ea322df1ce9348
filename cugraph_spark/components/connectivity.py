"""Connected components.

Reference: /root/reference/python/cugraph/cugraph/components/connectivity.py:86
(``weakly_connected_components`` → (vertex, labels)), :185 (scc), :283
(dispatcher). C++: components/weakly_connected_components_impl.cuh.

Spark mapping (SURVEY §2.E):

- WCC: hash-min label propagation with the *two-hop shortcut* from the
  HashToMin / large-star-small-star family (Rastogi et al., "Finding
  Connected Components in MapReduce", ICDE 2013 — public algorithm): each
  round every vertex adopts the min label in its closed neighborhood, and
  labels also propagate label->label, which squares the propagation radius
  and converges in O(log d) rounds instead of O(d). Labels are the MIN
  vertex id in the component — deterministic, unlike the reference's
  arbitrary representative, and SQL-checkable.

- SCC: multi-pivot forward-backward *coloring* (Orzan 2004 / Slota et
  al. "BFS and Coloring-Based Parallel Algorithms for Strongly
  Connected Components", IPDPS 2014 — public algorithms), with
  pointer-doubled propagation. Per outer round: (1) forward coloring
  cf(v) = max-priority vertex that reaches v — propagated along edges
  AND via label→label pointer jumps, which squares the radius per pass
  so the inner loop is O(log longest-path); (2) cut every edge whose
  endpoints disagree on cf (an SCC never spans cf classes — any v→root
  path stays inside the class); (3) backward coloring d on the
  restricted edges; v belongs to its class root's SCC iff d(v) is the
  root; (4) emit those SCCs (relabelled min-vertex-id for determinism),
  drop their vertices, and cut edges whose endpoints disagree on d
  (sound for the same reason). EVERY class root's SCC completes each
  round — no driver-side per-pivot sequencing — and the d-based edge
  cut shatters path-shaped condensations so adversarial many-SCC chains
  finish in a handful of rounds (see tests/test_components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST
from ..plans import iterloop
from ..structure.graph import Graph
from ..structure.symmetrize import add_reverse_edges


# Broadcast cap for the per-round label->root map (16 bytes/row).
# Distinct from iterloop.BROADCAST_STATE_MAX_ROWS because the label-keyed
# join it protects is SKEWED (giant component): below the cap broadcast
# is the skew-immune plan (scale-22, 2.4M labels, AQE-off small-plan
# regime: 237s shuffle-melt -> 67s broadcast). Above it the driver-side
# broadcast build becomes the serial bottleneck and the join falls back
# to sort-merge with AQE skew splitting — which is exactly the regime
# where small_plan leaves AQE ON (V above the state threshold). Measured
# at scale-23 (4.61M labels): 206.5s broadcast vs 99.4s sort-merge+AQE.
# The cap sits between the two measurements, aligned with the state
# threshold.
_LABELMAP_BROADCAST_MAX_ROWS = 3_000_000


def _skew_safe_hint(df: DataFrame, n_rows: int | None):
    """Broadcast hint for label/color-keyed join sides: these keys
    consolidate toward a handful of giant values (one per component), so
    a shuffle join funnels most rows into one task — broadcast is the
    skew-immune plan and keeps paying past the normal state threshold."""
    if n_rows is not None and n_rows <= _LABELMAP_BROADCAST_MAX_ROWS:
        return F.broadcast(df)
    return df


def _ensure_legacy_args(api_name: str, directed, connection, return_labels) -> None:
    """Reference parity (connectivity.py:18 _ensure_args): the cupy/scipy
    compat kwargs are rejected for Graph-type inputs, and ``connection``
    must name the API being called."""
    exc_value = "'%s' cannot be specified for a Graph-type input"
    if directed is not None:
        raise TypeError(exc_value % "directed")
    if return_labels is not None:
        raise TypeError(exc_value % "return_labels")
    want = api_name.split("_", 1)[0].replace("weakly", "weak").replace("strongly", "strong")
    if (connection is not None) and (connection != want):
        raise TypeError(f"'connection' must be '{want}' for {api_name}()")


def weakly_connected_components(
    G: Graph, directed=None, connection=None, return_labels=None
) -> DataFrame:
    """Returns (vertex, labels); label = min vertex id in the component."""
    _ensure_legacy_args("weakly_connected_components", directed, connection, return_labels)
    edges = G.edgelist.select(SRC, DST)
    if G.is_directed():
        edges = add_reverse_edges(edges)

    labels = G.vertices_internal.select("vertex", F.col("vertex").alias("label"))
    labels = iterloop.materialize(labels)
    # Per-round state swap + convergence scalar fused into ONE job
    # (iterloop.FusedSwap): the new label table is local-checkpointed
    # lazily (plan becomes a leaf immediately) and the changed-labels agg
    # is the action that materializes the blocks — halves the per-round
    # fixed job cost vs materialize()+collect_scalars(). Reliable-
    # checkpoint mode keeps the eager two-job cadence inside swap().
    fs = iterloop.FusedSwap()
    # Aligned-aggregation flip (iterloop.sym_aligned_agg): labels join on
    # DST, min-label aggregates by SRC inside the cached edge
    # partitioning — no per-round Exchange. Only fires for graphs whose
    # stored edge list is symmetric (directed inputs go through the
    # add_reverse_edges union above, which loses the partitioning anyway).
    jk, gk = (
        (DST, SRC)
        if iterloop.sym_aligned_agg(G, G.number_of_vertices())
        else (SRC, DST)
    )

    def _prop_round(cur: DataFrame) -> DataFrame:
        """One hash-min propagation pass: returns (vertex, label, _old)."""
        # min label over closed neighborhood (vertex itself + in-neighbors)
        nbr_min = (
            edges.join(
                iterloop.hint_state_join(
                    cur.select(F.col("vertex").alias(jk), "label"),
                    G.number_of_vertices(),
                ),
                jk,
            )
            .groupBy(F.col(gk).alias("vertex"))
            .agg(F.min("label").alias("_nbr"))
        )
        # nbr_min is V-bounded: broadcast it so the labels leaf is
        # not re-shuffled+sorted for a sort-merge join every round
        prop = (
            cur.join(
                iterloop.hint_state_join(nbr_min, G.number_of_vertices()),
                "vertex",
                "left",
            )
            .select(
                "vertex",
                F.least(F.col("label"), F.coalesce("_nbr", F.col("label"))).alias("label"),
                F.col("label").alias("_old"),
            )
        )
        # two-hop shortcut: each vertex also adopts the min label currently
        # pointing at its label (label -> min(labels that share it))
        lab_min = prop.groupBy(F.col("label").alias("_lab")).agg(F.min("vertex").alias("_root"))
        # This join is keyed on LABEL, and labels consolidate toward one
        # giant-component value — a shuffle join funnels most of V into
        # one reduce task (measured: scale-22 R-MAT wcc 237s vs 16s at
        # scale-20 purely from this skew once V left the state-broadcast
        # regime). lab_min itself is <= #distinct-labels rows and
        # shrinks geometrically, and a broadcast hash join is
        # skew-immune, so hint it with its own (higher) cap.
        lab_min = _skew_safe_hint(lab_min, G.number_of_vertices())
        return (
            prop.join(lab_min, prop["label"] == lab_min["_lab"], "left")
            .select(
                "vertex",
                F.least(F.col("label"), F.coalesce("_root", F.col("label"))).alias("label"),
                "_old",
            )
        )

    with iterloop.small_plan(edges.sparkSession, G.number_of_vertices()):
        while True:
            new_labels, (changes,) = fs.swap(
                _prop_round(labels),
                [F.sum((F.col("label") != F.col("_old")).cast("long"))],
            )
            labels = new_labels.select("vertex", "label")
            if not changes:
                break

    out = labels.withColumnRenamed("label", "labels")
    out = G.unrenumber(out, "vertex")
    if G.is_renumbered():
        # labels are internal ids of representatives; map them back too
        out = G.unrenumber(out, "labels")
    return out


# Filled in by strongly_connected_components for test introspection:
# {"outer_rounds": int, "inner_rounds": int}
_last_scc_stats: dict = {}


def _max_coloring(
    verts: DataFrame, edges: DataFrame, from_col: str, to_col: str,
    n_hint: int, seed: int,
) -> tuple[DataFrame, int]:
    """Fixpoint of c(v) = max over (priority, id) of {c(v)} ∪
    {c(u) : (u→v) ∈ edges} ∪ {c(c(v).id)} — i.e. the max-priority vertex
    with a ``from_col``→``to_col`` path to v, computed with pointer
    doubling so rounds are O(log longest-path), not O(longest-path).

    Priorities are xxhash64(vertex, seed): deterministic, but decoupled
    from id order so adversarially-ordered inputs can't force the
    one-class-per-round degeneracy of id-max coloring. Returns
    ((vertex, cp, cid), rounds)."""
    c = iterloop.materialize(
        verts.select(
            "vertex",
            F.xxhash64("vertex", F.lit(seed)).alias("cp"),
            F.col("vertex").alias("cid"),
        )
    )
    rounds = 0
    fs = iterloop.FusedSwap()  # swap + changed-count fused into one job
    while True:
        rounds += 1
        nbr = (
            edges.join(
                iterloop.hint_state_join(
                    c.select(F.col("vertex").alias(from_col), "cp", "cid"), n_hint
                ),
                from_col,
            )
            .groupBy(F.col(to_col).alias("vertex"))
            .agg(F.max(F.struct("cp", "cid")).alias("_nb"))
        )
        jump = c.select(
            F.col("vertex").alias("_jv"), F.struct("cp", "cid").alias("_jc")
        )
        own = F.struct("cp", "cid")
        new = (
            c.join(iterloop.hint_state_join(nbr, n_hint), "vertex", "left")
            .join(
                # cid-keyed: color classes consolidate -> skewed key, see
                # _skew_safe_hint (broadcast far past the state threshold)
                _skew_safe_hint(jump, n_hint),
                F.col("cid") == F.col("_jv"),
                "left",
            )
            .select(
                "vertex",
                F.greatest(own, F.coalesce("_nb", own), F.coalesce("_jc", own)).alias("_c"),
                F.col("cid").alias("_old"),
            )
            .select(
                "vertex", F.col("_c.cp").alias("cp"), F.col("_c.cid").alias("cid"), "_old"
            )
        )
        new, (changes,) = fs.swap(
            new, [F.sum((F.col("cid") != F.col("_old")).cast("long"))]
        )
        c = new.select("vertex", "cp", "cid")
        if not changes:
            return c, rounds


def strongly_connected_components(
    G: Graph, directed=None, connection=None, return_labels=None
) -> DataFrame:
    """Multi-pivot coloring SCC (SURVEY §2.E). Returns (vertex, labels),
    label = min vertex id in the SCC — same deterministic labelling the
    SQL oracle checks, independent of the internal hash priorities.

    Replaces the round-1 per-pivot FW-BW loop (one SCC per driver round,
    O(#SCCs) rounds on many-SCC digraphs — the reference handles these in
    cpp/src/components/strongly_connected_components_impl.cuh). Here ALL
    color-class roots complete per round and the cf/d edge cuts shatter
    the condensation, so a 1,000-SCC chain finishes in a few rounds; see
    the module docstring for the scheme and soundness argument.
    """
    _ensure_legacy_args(
        "strongly_connected_components", directed, connection, return_labels
    )
    if not G.is_directed():
        return weakly_connected_components(G)

    n_v = G.number_of_vertices()
    n_e = G.number_of_edges(directed_edges=True) or 0
    edges = iterloop.materialize(
        G.edgelist.select(SRC, DST).filter(F.col(SRC) != F.col(DST)).distinct()
    )
    verts = iterloop.materialize(G.vertices_internal.select("vertex"))
    pieces: list[DataFrame] = []  # one (vertex, labels) piece per outer round
    outer = 0
    inner = 0
    # Outer-round intermediates (e_cls, found, shrunken edges) are lazy
    # leaf-swaps (defer): the coloring loops / the verts swap materialize
    # their blocks as part of their own jobs. The remaining-vertices count
    # is fused with the verts swap.
    fs = iterloop.FusedSwap()
    n_rem = verts.count()
    with iterloop.small_plan(edges.sparkSession, n_v, shuffled_rows=max(n_v, n_e)):
        while True:
            if n_rem == 0:
                break
            outer += 1
            # (1) forward coloring: cf(v) = max-priority vertex reaching v
            cf, r1 = _max_coloring(verts, edges, SRC, DST, n_v, seed=42)
            inner += r1
            # (2) an SCC never spans cf classes — cut cross-class edges
            cf_s = cf.select(F.col("vertex").alias(SRC), F.col("cid").alias("_cs"))
            cf_d = cf.select(F.col("vertex").alias(DST), F.col("cid").alias("_cd"))
            e_cls = (
                edges.join(iterloop.hint_state_join(cf_s, n_v), SRC)
                .join(iterloop.hint_state_join(cf_d, n_v), DST)
                .filter(F.col("_cs") == F.col("_cd"))
                .select(SRC, DST)
            )
            e_cls = fs.defer(e_cls)
            # (3) backward coloring within classes: d(v) = max-priority
            # same-class vertex reachable FROM v. The class root is the
            # max-priority member, so v ∈ SCC(root) iff d(v) == cf(v).
            d, r2 = _max_coloring(verts, e_cls, DST, SRC, n_v, seed=42)
            inner += r2
            state = cf.select("vertex", F.col("cid").alias("_root")).join(
                iterloop.hint_state_join(
                    d.select("vertex", F.col("cid").alias("_d")), n_v
                ),
                "vertex",
            )
            member = state.filter(F.col("_root") == F.col("_d")).select("vertex", "_root")
            # (4) deterministic labels: min vertex id per found SCC
            lab = member.groupBy("_root").agg(F.min("vertex").alias("labels"))
            found = fs.defer(
                member.join(iterloop.hint_state_join(lab, n_v), "_root")
                .select("vertex", "labels")
            )
            pieces.append(found)
            # shrink: drop found vertices; keep only edges whose endpoints
            # agree on d (intra-SCC paths never leave a d class) and
            # whose endpoints both survive
            d_s = d.select(F.col("vertex").alias(SRC), F.col("cid").alias("_ds"))
            d_d = d.select(F.col("vertex").alias(DST), F.col("cid").alias("_dd"))
            edges = fs.defer(
                e_cls.join(iterloop.hint_state_join(d_s, n_v), SRC)
                .join(iterloop.hint_state_join(d_d, n_v), DST)
                .filter(F.col("_ds") == F.col("_dd"))
                .select(SRC, DST)
                .join(
                    iterloop.hint_state_join(
                        found.select(F.col("vertex").alias(SRC)), n_v
                    ),
                    SRC,
                    "left_anti",
                )
                .join(
                    iterloop.hint_state_join(
                        found.select(F.col("vertex").alias(DST)), n_v
                    ),
                    DST,
                    "left_anti",
                )
            )
            verts, (n_rem,) = fs.swap(
                verts.join(iterloop.hint_state_join(found, n_v), "vertex", "left_anti"),
                [F.count(F.lit(1))],
            )

    global _last_scc_stats
    _last_scc_stats = {"outer_rounds": outer, "inner_rounds": inner}
    out = pieces[0]
    for r in pieces[1:]:
        out = out.unionByName(r)
    out = G.unrenumber(out, "vertex")
    if G.is_renumbered():
        out = G.unrenumber(out, "labels")
    return out


def connected_components(
    G: Graph, directed=None, connection: str = "weak", return_labels=None
) -> DataFrame:
    """Dispatcher (connectivity.py:283)."""
    if connection == "weak":
        return weakly_connected_components(G, directed, None, return_labels)
    if connection == "strong":
        return strongly_connected_components(G, directed, None, return_labels)
    raise ValueError(f"unknown connection type {connection!r}")
