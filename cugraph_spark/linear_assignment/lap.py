"""Linear assignment (Hungarian) on bipartite graphs.

Reference: linear_assignment/lap.py:8 (``hungarian(G, workers)``), :79
(``dense_hungarian(costs, nr, nc)``); legacy
cpp/src/linear_assignment/legacy/hungarian.cu (raft::lap).

SURVEY §2.H: two routes, dispatched on problem size —

- small-N (reference-parity): collect the bipartite cost matrix to the
  driver and solve with a pure-python O(n^3) Jonker-Volgenant-style
  shortest augmenting path algorithm (public textbook algorithm);
- large-N (:func:`hungarian_auction`): distributed Bertsekas auction
  with ε-scaling (Bertsekas 1988, "The auction algorithm", public) as a
  small-state IterLoop — per sweep, every unassigned worker bids for
  its best task (bid = benefit − second-best value + ε, two
  partial-aggregated groupBys), the highest bid per task wins (one
  groupBy), and the (task, price, owner) state table — task-sized, not
  edge-sized — updates in one full-outer join. With integer costs and
  final ε < 1/(n+1) the assignment total is exactly optimal; float
  costs are optimal within n·ε.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import SRC, DST, WEIGHT
from ..plans import iterloop
from ..structure.graph import Graph

_INF = float("inf")

# hungarian() collects the dense matrix to the driver below this many
# workers (the reference's own route); above it the auction IterLoop runs.
_DRIVER_MAX_WORKERS = 2_000


def _solve_dense(cost: list[list[float]]) -> list[int]:
    """Min-cost assignment; returns col index per row. JV shortest
    augmenting path, O(n^3)."""
    n, m = len(cost), len(cost[0]) if cost else 0
    assert n <= m
    u = [0.0] * (n + 1)
    v = [0.0] * (m + 1)
    p = [0] * (m + 1)  # p[j] = row matched to column j (1-based)
    way = [0] * (m + 1)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = [_INF] * (m + 1)
        used = [False] * (m + 1)
        while True:
            used[j0] = True
            i0, delta, j1 = p[j0], _INF, 0
            for j in range(1, m + 1):
                if not used[j]:
                    cur = cost[i0 - 1][j - 1] - u[i0] - v[j]
                    if cur < minv[j]:
                        minv[j], way[j] = cur, j0
                    if minv[j] < delta:
                        delta, j1 = minv[j], j
            for j in range(m + 1):
                if used[j]:
                    u[p[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    out = [0] * n
    for j in range(1, m + 1):
        if p[j]:
            out[p[j] - 1] = j - 1
    return out


def dense_hungarian(costs, num_rows: int, num_columns: int, epsilon=None):
    """lap.py:79 — flattened row-major cost matrix. Returns (cost,
    assignment list). ``epsilon`` is the reference's float-comparison
    tolerance knob; the exact JV solver here has no float-threshold step,
    so it is accepted and unused."""
    num_cols = num_columns
    mat = [
        [float(costs[r * num_cols + c]) for c in range(num_cols)] for r in range(num_rows)
    ]
    assign = _solve_dense(mat)
    total = sum(mat[r][assign[r]] for r in range(num_rows))
    return total, assign


def hungarian_auction(
    G: Graph,
    workers,
    epsilon: float | None = None,
    max_sweeps: int = 100_000,
):
    """Distributed Bertsekas auction with ε-scaling. Same contract as
    :func:`hungarian` (min-cost perfect matching of ``workers`` onto the
    task side of their edges) but fully distributed: state is one
    task-sized (task, price, owner) table; per sweep the unassigned
    workers' bids are two groupBys over the candidate edge list and the
    state update is one full-outer join. Exactly optimal for integer
    costs (final ε < 1/(n+1)); within n·ε for float costs (``epsilon``
    overrides the final ε, default 1/(n+1)).

    ε-scaling (price warm start across phases) runs only on SYMMETRIC
    instances (#workers == #tasks). For asymmetric instances (m > n
    tasks) the LP dual demands that every unused task keep price 0 —
    forward auction from zero prices guarantees that in a single phase
    (a task that never receives a winning bid never moves off 0), but
    ε-scaling would carry a stale nonzero price onto an ultimately
    unused task and deflect workers (measured: 409 vs optimal 279 on a
    60×80 random instance). Single-phase asymmetric is also fast in
    practice — the slack tasks absorb price wars (7 sweeps on that
    60×80 instance vs 251 on a 60×60 one).

    Reference: linear_assignment/lap.py:8; the auction route SURVEY §2.H
    prescribes for inputs past the dense-collect guard.
    """
    if not G.is_weighted():
        raise ValueError("hungarian requires edge weights (costs)")
    spark = G.edgelist.sparkSession
    if isinstance(workers, DataFrame):
        wdf = workers.select(F.col(workers.columns[0]).alias("_worker")).distinct()
    else:
        wdf = iterloop.local_table(spark, [(int(w),) for w in workers], "_worker long")
    wdf = iterloop.persist(wdf)
    (n_workers,) = iterloop.collect_scalars(wdf, [F.count("*")])
    if not n_workers:
        return 0.0, iterloop.local_table(spark, [], "vertex long, assignment long")

    # candidate edges: worker -> task with benefit = -cost (auction
    # maximizes); parallel edges keep the cheapest
    cand = (
        G.edgelist.join(
            F.broadcast(wdf.withColumnRenamed("_worker", SRC)), SRC, "semi"
        )
        .groupBy(F.col(SRC).alias("_worker"), F.col(DST).alias("_task"))
        .agg((-F.min(F.col(WEIGHT).cast("double"))).alias("_a"))
    )
    cand = iterloop.persist(cand)
    n_tasks, n_cand_workers, a_max, a_min, frac = iterloop.collect_scalars(
        cand,
        [
            F.countDistinct("_task"),
            F.countDistinct("_worker"),
            F.max("_a"),
            F.min("_a"),
            F.max(F.abs(F.col("_a") - F.round(F.col("_a")))),
        ],
    )
    if n_workers > (n_tasks or 0):
        raise ValueError("more workers than tasks; infeasible assignment")
    if (n_cand_workers or 0) < n_workers:
        # fail fast like the dense route instead of sweeping to max_sweeps:
        # a worker with no candidate edges can never be assigned
        raise ValueError(
            f"{n_workers - (n_cand_workers or 0)} worker(s) have no candidate "
            "edges; infeasible assignment"
        )
    eps_final = (
        float(epsilon) if epsilon is not None else 1.0 / (n_workers + 1)
    )
    if frac and frac > 0 and epsilon is None:
        eps_final = 1e-6  # float costs: near-optimal, documented contract
    spread = max(float(a_max or 0.0) - float(a_min or 0.0), eps_final)
    # symmetric: ε-scaled phases; asymmetric: single phase from zero
    # prices (see docstring — unused tasks must keep price 0)
    eps = max(spread / 2.0, eps_final) if n_tasks == n_workers else eps_final

    # state: (task, price, owner) — task-sized; prices persist across
    # ε-scaling phases (the standard warm start), assignments reset
    prices = cand.select("_task").distinct().withColumn("_p", F.lit(0.0))
    # per-sweep state swap rides the convergence agg (ONE job per sweep
    # instead of checkpoint + agg): the symmetric-tight stress case is
    # sweep-latency-bound (hundreds of fixed-cost rounds over a tiny
    # task-sized state) — measured 646 -> 566 s (-12%) on a 512-worker
    # symmetric instance, identical optimum; the bid pipeline's compute
    # owns the rest of each sweep
    swapper = iterloop.FusedSwap()
    with iterloop.small_plan(spark, n_tasks, shuffled_rows=None):
        while True:  # ε-scaling phases
            state = iterloop.materialize(
                prices.select("_task", "_p", F.lit(None).cast("long").alias("_owner"))
            )
            # Feasibility bound for this phase (Bertsekas 1988, prop. 2.3):
            # starting from any price vector, a feasible forward auction
            # raises any single price by at most (2n-1)(C + ε) before
            # terminating. Anything past that means the candidate edges
            # violate Hall's condition (k workers bidding for < k reachable
            # tasks — an endless bidding war the sweep counter alone would
            # only catch after max_sweeps full Spark rounds).
            (p0_max,) = iterloop.collect_scalars(state, [F.max("_p")])
            p_bound = (
                float(p0_max or 0.0)
                + (2 * n_workers + 1) * (spread + eps)
                + 1.0
            )
            sweeps = 0
            while True:  # auction sweeps at this ε
                owners = state.filter(F.col("_owner").isNotNull()).select(
                    F.col("_owner").alias("_worker")
                )
                unassigned = wdf.join(
                    iterloop.hint_state_join(owners, n_workers), "_worker", "left_anti"
                )
                vals = (
                    cand.join(
                        iterloop.hint_state_join(unassigned, n_workers),
                        "_worker",
                        "semi",
                    )
                    .join(
                        iterloop.hint_state_join(
                            state.select("_task", "_p"), n_tasks
                        ),
                        "_task",
                    )
                    .select(
                        "_worker", "_task", "_a", (F.col("_a") - F.col("_p")).alias("_v")
                    )
                )
                best = (
                    vals.groupBy("_worker")
                    .agg(
                        F.max(
                            F.struct(F.col("_v"), (-F.col("_task")).alias("_nt"), F.col("_a"))
                        ).alias("_b")
                    )
                    .select(
                        "_worker",
                        (-F.col("_b._nt")).alias("_task"),
                        F.col("_b._v").alias("_v1"),
                        F.col("_b._a").alias("_a1"),
                    )
                )
                second = (
                    vals.join(
                        iterloop.hint_state_join(
                            best.select("_worker", F.col("_task").alias("_bt")),
                            n_workers,
                        ),
                        "_worker",
                    )
                    .filter(F.col("_task") != F.col("_bt"))
                    .groupBy("_worker")
                    .agg(F.max("_v").alias("_v2"))
                )
                # bid on the best task: price rises to a1 - v2 + eps.
                # For a >=2-candidate worker, bid - p = v1 - v2 + eps >= eps,
                # so prices are monotone. A single-candidate worker has no
                # v2; its stand-in `lo` must be clamped to <= v1, otherwise
                # the constant bid a1 - lo + eps can fall BELOW an already
                # contested price and the unconditional state update would
                # LOWER it, breaking the monotone-price/eps-CS invariant the
                # termination and optimality proofs need (r3 ADVICE).
                lo = float(a_min or 0.0) - spread - 1.0
                bids = (
                    best.join(
                        iterloop.hint_state_join(second, n_workers), "_worker", "left"
                    )
                    .select(
                        "_task",
                        "_worker",
                        (
                            F.col("_a1")
                            - F.least(
                                F.coalesce("_v2", F.lit(lo)), F.col("_v1")
                            )
                            + F.lit(eps)
                        ).alias("_bid"),
                    )
                )
                winners = (
                    bids.groupBy("_task")
                    .agg(F.max(F.struct("_bid", (-F.col("_worker")).alias("_nw"))).alias("_w"))
                    .select(
                        "_task",
                        F.col("_w._bid").alias("_newp"),
                        (-F.col("_w._nw")).alias("_neww"),
                    )
                )
                new_state = (
                    state.join(
                        iterloop.hint_state_join(winners, n_tasks), "_task", "left"
                    )
                    .select(
                        "_task",
                        F.coalesce("_newp", "_p").alias("_p"),
                        F.coalesce("_neww", "_owner").alias("_owner"),
                    )
                )
                state, (n_owned, p_max) = swapper.swap(
                    new_state, [F.count("_owner"), F.max("_p")]
                )
                sweeps += 1
                if n_owned >= n_workers:
                    break
                if float(p_max or 0.0) > p_bound:
                    raise ValueError(
                        "auction prices exceeded the feasibility bound — the "
                        "workers' candidate edges violate Hall's condition; "
                        "infeasible assignment"
                    )
                if sweeps >= max_sweeps:
                    raise RuntimeError(
                        "auction did not converge — assignment likely infeasible "
                        f"({n_workers - n_owned} workers unassigned after {sweeps} sweeps)"
                    )
            prices = state.select("_task", "_p")
            if eps <= eps_final:
                break
            eps = max(eps / 7.0, eps_final)

    assigned = state.filter(F.col("_owner").isNotNull()).select(
        F.col("_owner").alias("_worker"), "_task"
    )
    result = iterloop.hint_state_join(assigned, n_workers).join(
        cand, ["_worker", "_task"]
    ).select(
        F.col("_worker").alias("vertex"),
        F.col("_task").alias("assignment"),
        (-F.col("_a")).alias("_cost"),
    )
    result = iterloop.persist(result)
    (total,) = iterloop.collect_scalars(result, [F.sum("_cost")])
    out = result.select("vertex", "assignment")
    swapper.close()  # result is materialized; drop the final state gen
    wdf.unpersist()
    cand.unpersist()
    return float(total or 0.0), out


def hungarian(G: Graph, workers, epsilon: float | None = None):
    """lap.py:8 — workers = vertex list of the 'row' partition; the other
    endpoint set of their edges is the 'task' partition. Edge weights are
    costs (missing edges = +inf). Returns (total_cost, DataFrame (vertex,
    assignment)).

    Dispatch: dense JV on the driver below ``_DRIVER_MAX_WORKERS``
    (reference-parity small-N route); the distributed auction IterLoop
    above it. The two routes differ on float costs: the JV solver is exact
    regardless of ``epsilon`` (which it therefore ignores, matching the
    reference where epsilon is only a float-comparison tolerance), while
    the auction route is optimal within n·ε — ``epsilon`` overrides the
    auction's final ε and is forwarded when the caller sets it."""
    if not G.is_weighted():
        raise ValueError("hungarian requires edge weights (costs)")
    spark = G.edgelist.sparkSession
    workers = list(workers)
    if len(workers) > _DRIVER_MAX_WORKERS:
        return hungarian_auction(G, workers, epsilon=epsilon)
    wset = set(workers)
    widx = {w: i for i, w in enumerate(workers)}
    edges_df = G.edges()
    edges = edges_df.collect()  # small-N driver path (see module docstring)
    tasks = sorted({r[DST] for r in edges if r[SRC] in wset})
    tidx = {t: i for i, t in enumerate(tasks)}
    if len(workers) > len(tasks):
        raise ValueError("more workers than tasks; infeasible assignment")
    big = 1e18
    mat = [[big] * len(tasks) for _ in workers]
    for r in edges:
        if r[SRC] in wset and r[DST] in tidx:
            i = widx[r[SRC]]
            mat[i][tidx[r[DST]]] = min(mat[i][tidx[r[DST]]], float(r[WEIGHT]))
    assign = _solve_dense(mat)
    total = sum(mat[i][assign[i]] for i in range(len(workers)))
    rows = [(w, tasks[assign[i]]) for i, w in enumerate(workers)]
    ext = {f.name: f.dataType.simpleString() for f in edges_df.schema}
    df = iterloop.local_table(spark, rows, f"vertex {ext[SRC]}, assignment {ext[DST]}")
    return total, df
