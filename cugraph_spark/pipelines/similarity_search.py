"""Approximate-nearest-neighbor search over embedding columns.

Beyond-reference (SURVEY §7 Phase 4): brute-force cosine top-k as the
exact baseline, plus a random-hyperplane LSH-bucketed variant as the
scale path (Charikar SimHash LSH for cosine — public scheme).

Pair scoring is JVM-side (``zip_with`` + ``aggregate`` over
array<float/double> columns); the one corpus-sized matrix operation —
IVF centroid assignment — is a vectorized Arrow batch matmul in NumPy
(guide §4.2: whole batches to native code beats chains of JVM
expressions; measured 37 s -> ~1 s at 200k x 64 x 32). The brute-force
path is O(|Q|·|C|) rows with Q broadcast; the LSH path shuffles each
side once on the bucket signature.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import DataFrame, Window, functions as F

from ..plans import iterloop


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _unit(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Add ``out_col`` = vec / |vec| (one array pass per ROW). Pair
    scoring over unit vectors is a single dot — the inline
    dot/(norm*norm) form re-walks both arrays three times per PAIR,
    which at |Q|x|C| or VxL pair counts is ~3x the FLOPs of the whole
    scan (measured on the 200k x 64-dim probe, scripts/bench_pipeline.py).

    Zero-norm contract (queries, corpus rows and centroids alike): a
    zero-norm vector normalizes to nulls instead of dividing by zero
    (``[DIVIDE_BY_ZERO]`` under ANSI mode), so every cosine it takes part
    in is null and ``_top_k`` never returns it."""
    return (
        df.withColumn("_nrm", _norm(F.col(vec_col)))
        .withColumn(
            out_col,
            F.transform(F.col(vec_col), lambda x: F.when(F.col("_nrm") > 0, x / F.col("_nrm"))),
        )
        .drop("_nrm")
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The k best (query_id, vec_id, cosine) rows per query, ties broken by
    vec_id for determinism. A null cosine (a zero-norm query or corpus
    row, see ``_unit``) ranks after every real score and is dropped after
    ranking, so it is never a hit; the filter sits above the window,
    where the optimizer cannot push it down to re-score every pair."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") <= k) & F.col("cosine").isNotNull())
        .select("query_id", "vec_id", "cosine")
    )


def with_cosine(df: DataFrame, a_col: str, b_col: str, out: str = "cosine") -> DataFrame:
    a, b = F.col(a_col), F.col(b_col)
    return df.withColumn(out, _dot(a, b) / (_norm(a) * _norm(b)))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine), k rows per query.
    Ties broken by vec_id for determinism. Queries are broadcast — the
    corpus is scanned exactly once regardless of |Q|."""
    # Broadcast side: unit-normalized ONCE (projections below the
    # broadcast exchange run at build). Stream side: scalar norm inline —
    # whole-stage codegen fuses stream-side projections INTO the join, so
    # a normalized array there is re-allocated per PAIR (measured 2x
    # slower, scripts/bench_pipeline.py); dividing the dot by the norm
    # costs one extra array walk and no allocation.
    q = _unit(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        ),
        "_qv",
        "_qu",
    ).select("query_id", "_qu")
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        (_dot(F.col("_qu"), F.col("_cv")) / F.nullif(_norm(F.col("_cv")), F.lit(0.0)))
        .alias("cosine"),
    )
    return _top_k(scored, k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (driver-side,
    tiny: n_planes x dim floats, shipped as a literal)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket_signatures(
    df: DataFrame, vec_col: str, planes: list[list[float]]
) -> DataFrame:
    """Adds a ``bucket`` column: sign-bit signature of dot products with
    the hyperplanes."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in p])
        sig = sig + F.when(_dot(F.col(vec_col), arr) >= 0, F.lit(1 << i).cast("long")).otherwise(0)
    return df.withColumn("bucket", sig)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    multiprobe: int = 1,
) -> DataFrame:
    """LSH-bucketed cosine top-k: only candidates in the query's bucket
    (plus ``multiprobe`` single-bit-flip neighbor buckets) are scored.
    Approximate: recall < 1; the scale path when |Q|·|C| is infeasible."""
    dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    c = lsh_bucket_signatures(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv")), "_cv", planes
    )
    q = lsh_bucket_signatures(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")),
        "_qv",
        planes,
    )
    if multiprobe > 0:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(min(multiprobe * n_planes, n_planes))],
        )
        q = q.select("query_id", "_qv", F.explode(probes).alias("bucket"))
    scored = (
        _unit(q, "_qv", "_qu")
        .join(_unit(c, "_cv", "_cu"), "bucket")
        .select("query_id", "vec_id", _dot(F.col("_qu"), F.col("_cu")).alias("cosine"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _top_k(scored, k)


def _pair_cosine(q_col, c_col):
    """cosine(q, c) for a pair of array columns where q is already unit —
    vectorized Arrow batches into NumPy (guide §4.2): one einsum row-dot
    + row-norm per batch instead of an interpreted zip_with/aggregate
    fold per pair (measured ~7 s -> ~1 s on the 489k-pair IVF probe
    re-rank at 200k x 64-dim). Sum-order ulp drift vs the JVM fold is
    the same engine-order tolerance the cross-engine oracles already
    absorb via rounding. A zero-norm corpus row or query (nulls after
    ``_unit``) scores NaN, which Arrow hands to Spark as null."""
    import numpy as np

    @F.pandas_udf("double")
    def _cos(it: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for qs_b, cs_b in it:
            if len(qs_b) == 0:
                yield pd.Series([], dtype="float64")
                continue
            q = np.stack(qs_b.to_numpy()).astype(np.float64, copy=False)
            c = np.stack(cs_b.to_numpy()).astype(np.float64, copy=False)
            with np.errstate(divide="ignore", invalid="ignore"):
                yield pd.Series(
                    np.einsum("ij,ij->i", q, c)
                    / np.sqrt(np.einsum("ij,ij->i", c, c))
                )

    return _cos(q_col, c_col)


def _unit_centroid_rows(cent) -> list[tuple[int, list[float]]]:
    """Collect the unit-normalized centroid table to the driver —
    n_lists x dim doubles, a few KB. Normalization happens in Spark
    (``_unit``), so the collected values are bit-identical to the
    ``_cru`` column a join would see. A zero-norm centroid (a list whose
    members average to zero) normalizes to nulls instead of dividing by
    zero; ``_nearest_unit`` never picks it."""
    unit = _unit(cent, "_ctr", "_cru").select("list_id", "_cru")
    return sorted(((r[0], list(r[1])) for r in unit.collect()), key=lambda t: t[0])


def _nearest_unit(x, cu):
    """Row-wise argmax of ``x @ cu`` over the columns of a unit-centroid
    matrix ``cu`` (dim x n_lists). A zero-norm centroid normalizes to a
    NaN column, and ``np.argmax`` returns the first NaN: every row would
    land in that list. Such columns score -inf instead, so a row picks
    one only when no list has a finite centroid."""
    import numpy as np

    scores = x @ cu
    scores[:, ~np.isfinite(cu).all(axis=0)] = -np.inf
    return np.argmax(scores, axis=1)


def _assign_lists(df: DataFrame, crows: list[tuple[int, list[float]]]) -> DataFrame:
    """Corpus->list assignment as ONE shuffle-free projection (guide
    §2.3/§2.4 + §4.2): per row, argmax-cosine over the unit-normalized
    centroid matrix, computed as a vectorized Arrow batch matmul
    (|batch| x dim @ dim x n_lists in NumPy) instead of the old
    crossJoin that materialized V x n_lists rows, walked both arrays
    per pair with interpreted higher-order functions, and shuffled the
    embedding payload through a groupBy(vec_id). Measured at the 200k x
    64-dim x 32-centroid probe: crossJoin+struct-max 37 s, flattened
    literal JVM expressions 34 s (the 2k-node expression tree falls out
    of codegen), Arrow matmul ~1 s.

    Semantics: centroids are unit vectors, so argmax of the raw dot
    equals argmax of cosine (the per-row corpus norm divides every
    column equally); ``np.argmax`` takes the FIRST maximum = the lowest
    list_id, the same (desc sim, asc list_id) tie-break as before. Sum
    order inside the dot differs in ulps from the old left-fold — the
    documented tolerance of the cross-engine oracle (an assignment flip
    needs two centroids cosine-equidistant to ~1e-13; see
    ivf_topk_oracle_sql)."""
    import numpy as np

    lids = np.array([int(lid) for lid, _ in crows], dtype=np.int64)
    cmat = np.array([vec for _, vec in crows], dtype=np.float64).T  # dim x n_lists

    @F.pandas_udf("int")
    def _nearest(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            if len(s) == 0:
                yield pd.Series([], dtype="int64")
                continue
            x = np.stack(s.to_numpy()).astype(np.float64, copy=False)
            yield pd.Series(lids[_nearest_unit(x, cmat)])

    return df.select("vec_id", "_cv", _nearest("_cv").alias("list_id"))


#: Driver-side Lloyd bound: run the k-means refinement on the driver when
#: the train sample holds at most this many array cells (rows x dim) —
#: 16M doubles = 128 MB, far under driver memory. The train sample is
#: capped at max(256*n_lists, 8192) rows by design, so this only sends
#: the distributed path in when n_lists (and with it the sample) is
#: huge — e.g. the ~sqrt(N) lists of a 10^9-vector corpus.
_KMEANS_DRIVER_MAX_CELLS = 16_000_000


def _kmeans_driver(train, dim: int, n_lists: int, kmeans_iters: int, seed: int):
    """Lloyd refinement on the driver (guide §1.2: the train sample is
    driver-sized BY DESIGN — max(256*n_lists, 8192) rows — so a NumPy
    loop replaces ~6 fixed-cost Spark jobs per pass; measured 26 s -> <1 s
    for 5 passes at 32 lists. Same hybrid pattern as louvain's
    driver-contracted dendrogram tail). Init and tie-breaks replicate
    the distributed form exactly ((xxhash64(vec_id, seed), vec_id) order,
    first-max argmax = lowest list_id); mean/norm sums run in NumPy
    order, inside the cross-engine oracle's documented ulp tolerance."""
    import numpy as np

    rows = train.select(
        "vec_id", "_cv", F.xxhash64("vec_id", F.lit(seed)).alias("_h")
    ).collect()
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    order = sorted(range(len(rows)), key=lambda i: (rows[i][2], rows[i][0]))
    k_eff = min(n_lists, len(rows))
    C = X[order[:k_eff]].copy()
    for _ in range(kmeans_iters):
        with np.errstate(divide="ignore", invalid="ignore"):
            cu = C / np.sqrt((C * C).sum(axis=1, keepdims=True))
        assign = _nearest_unit(X, cu.T)
        for lid in range(k_eff):
            members = assign == lid
            if members.any():
                C[lid] = X[members].mean(axis=0)
            # empty lists keep their previous centroid (same carry-forward
            # as the distributed left-join + coalesce)
    spark = train.sparkSession
    return iterloop.local_table(
        spark,
        [(int(i), [float(x) for x in C[i]]) for i in range(k_eff)],
        "list_id int, _ctr array<double>",
    )


def _kmeans_centroids(c, dim: int, n_lists: int, kmeans_iters: int, seed: int):
    """Flat k-means coarse quantizer (shared by ivf_topk and
    semantic_duplicates): centroids initialize from the ``n_lists``
    corpus vectors minimizing (xxhash64(id, seed), id) and refine over
    fixed Lloyd passes, carrying centroids of empty lists forward.

    Lloyd refinement trains on a deterministic hash SAMPLE capped at
    max(256 * n_lists, 8192) vectors (the FAISS training default) — the
    full-corpus refinement was measured 21x SLOWER than a brute-force
    scan at 200k x 64-dim (each pass re-scores every corpus vector
    against every centroid; 5 passes did ~16x the dot-product work of
    the query itself, scripts/bench_pipeline.py). Below the cap the
    sample is the whole corpus, so small inputs — including the driver
    oracle fixtures — are identical to the unsampled build.

    The refinement itself runs on the DRIVER in NumPy whenever the
    sample fits ``_KMEANS_DRIVER_MAX_CELLS`` (it always does at sane
    n_lists — the sample is driver-sized by construction); the
    distributed DataFrame loop below remains the scale path for huge
    list counts."""
    train_cap = max(256 * n_lists, 8192)
    n = c.count()
    train = c
    sampled = n > train_cap
    if sampled and min(n, train_cap) * dim > _KMEANS_DRIVER_MAX_CELLS:
        mod = -(-n // train_cap)  # ceil: keeps the sample at <= ~train_cap
        # freeze (not bare localCheckpoint): the sample is consumed by
        # every kmeans pass, so a lost executor block must be recoverable
        # from reliable storage when the cluster knob is set
        train = iterloop.freeze(
            c.filter(F.pmod(F.xxhash64("vec_id", F.lit(seed + 1)), F.lit(mod)) == 0)
        )
    elif sampled:
        mod = -(-n // train_cap)
        train = c.filter(F.pmod(F.xxhash64("vec_id", F.lit(seed + 1)), F.lit(mod)) == 0)
    if min(n, train_cap) * dim <= _KMEANS_DRIVER_MAX_CELLS:
        return _kmeans_driver(train, dim, n_lists, kmeans_iters, seed)
    cent = (
        train.orderBy(F.xxhash64("vec_id", F.lit(seed)), "vec_id")
        .limit(n_lists)
        .select(
            (
                F.row_number().over(
                    Window.orderBy(F.xxhash64("vec_id", F.lit(seed)), "vec_id")
                )
                - 1
            ).alias("list_id"),
            F.col("_cv").alias("_ctr"),
        )
    )
    for _ in range(kmeans_iters):
        # vectorized-Arrow projection assignment (r7): per-row argmax of
        # the batch matmul, identical tie-break to the old
        # crossJoin+struct-max form; sum-order ulp drift is the
        # documented tolerance of the cross-engine oracle (see
        # ivf_topk_oracle_sql: "centroid means are summed in
        # engine-specific order; 5-dp rounding absorbs the ~1e-14
        # drift").
        assigned = _assign_lists(train, _unit_centroid_rows(cent))
        upd = assigned.groupBy("list_id").agg(
            F.array(*[F.avg(F.col("_cv")[i]) for i in range(dim)]).alias("_new")
        )
        # Left-join onto the PREVIOUS centroid table so lists that receive
        # zero members keep their old centroid instead of vanishing —
        # dropping them silently shrinks n_lists and raises the effective
        # probed fraction.
        cent = cent.join(upd, "list_id", "left").select(
            "list_id", F.coalesce("_new", "_ctr").alias("_ctr")
        )
        cent = iterloop.materialize(cent)  # tiny; keeps loop plans O(1)
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) cosine top-k — the clustered ANN scale path.

    Flat k-means coarse quantizer built with DataFrame ops only:
    centroids initialize from ``n_lists`` hash-picked corpus vectors and
    refine over ``kmeans_iters`` Lloyd passes (assignment = broadcast
    cross join against the tiny centroid table; update = one groupBy with
    per-dimension ``avg`` — no explode, one shuffle of |corpus| rows per
    pass). Queries probe the ``n_probe`` nearest lists and score only
    those lists' members: with balanced lists the scored fraction is
    ~n_probe/n_lists of the corpus, which is the whole point at 10^9+
    vectors. Deterministic given the seed (hash-picked init, fixed
    iteration count, id tie-breaks). Approximate: recall < 1 when a true
    neighbor lives in an unprobed list."""
    head = corpus.select(vec_col).first()
    if head is None:
        raise ValueError("ivf_topk: corpus is empty")
    dim = len(head[0])
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"))

    cent = _kmeans_centroids(c, dim, n_lists, kmeans_iters, seed)
    # Corpus assignment as a literal-centroid projection (r7, guide
    # §2.3/§2.4): the old ``_nearest_list(c, cent)`` materialized
    # |corpus| x n_lists crossJoin rows each carrying the embedding array
    # and shuffled the whole payload through a groupBy(vec_id) — both
    # gone; the corpus is scanned once, unshuffled.
    crows = _unit_centroid_rows(cent)
    cent_u = iterloop.local_table(c.sparkSession, crows, "list_id int, _cru array<double>")
    assigned = _assign_lists(c, crows)  # (vec_id, _cv, list_id)

    q = _unit(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        ),
        "_qv",
        "_qu",
    ).select("query_id", "_qu")
    q_probe = (
        q.crossJoin(F.broadcast(cent_u))
        .withColumn("_sim", _dot(F.col("_qu"), F.col("_cru")))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("list_id"))
            ),
        )
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "_qu", "list_id")
    )
    # Explicit broadcast of the |Q| x n_probe probe table (guide §3.1):
    # relying on AQE here cost an exchange of the corpus-sized ``assigned``
    # by ``list_id`` — a key with only n_lists distinct values, i.e. a
    # guaranteed-skewed shuffle (guide §2.5) — before the runtime rewrite
    # could kick in. The corpus side streams through unshuffled, and the
    # exact re-rank cosine runs as a vectorized Arrow batch (guide §4.2,
    # see _pair_cosine) instead of an interpreted per-pair fold.
    scored = assigned.join(F.broadcast(q_probe), "list_id").select(
        "query_id",
        "vec_id",
        _pair_cosine(F.col("_qu"), F.col("_cv")).alias("cosine"),
    )
    return _top_k(scored, k)


def semantic_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_lists: int = 16,
    kmeans_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public scheme):
    k-means-cluster the embedding space with the shared DataFrame Lloyd
    quantizer, compare cosine only WITHIN clusters, and mark every vector
    that has a lower-id same-cluster neighbor with cosine >= threshold as
    a duplicate of the smallest such id.

    Returns (vec_id, is_duplicate, dup_of). Scale: the pair join is
    bucketed by list_id — with n_lists sized ~sqrt(N) the within-cluster
    quadratic term stays bounded, which is the published SemDeDup recipe
    for web-scale corpora. Deterministic given the seed (xxhash64-picked
    init, fixed Lloyd count) -> exact cross-engine oracle."""
    head = corpus.select(vec_col).first()
    if head is None:
        raise ValueError("semantic_duplicates: corpus is empty")
    dim = len(head[0])
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"))
    cent = _kmeans_centroids(c, dim, n_lists, kmeans_iters, seed)
    # literal-centroid projection assignment (see ivf_topk): the corpus
    # self-join below consumes the assignment twice, and a shuffle-free
    # projection recomputes far cheaper than the old crossJoin+groupBy
    assigned = _assign_lists(c, _unit_centroid_rows(cent))
    assigned_u = _unit(assigned, "_cv", "_cu")
    a = assigned_u.select("list_id", "vec_id", "_cu")
    b = assigned_u.select(
        "list_id", F.col("vec_id").alias("_v2"), F.col("_cu").alias("_c2u")
    )
    dup = (
        a.join(b, "list_id")
        .filter(F.col("_v2") < F.col("vec_id"))
        .withColumn("_cos", _dot(F.col("_cu"), F.col("_c2u")))
        # rounded comparison so the threshold test is boundary-stable
        # across engines (the exact oracle rounds identically)
        .filter(F.round(F.col("_cos"), 6) >= threshold)
        .groupBy("vec_id")
        .agg(F.min("_v2").alias("dup_of"))
    )
    return (
        c.select("vec_id")
        .join(dup, "vec_id", "left")
        .select(
            "vec_id",
            F.col("dup_of").isNotNull().alias("is_duplicate"),
            "dup_of",
        )
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold, LSH-bucketed
    (pairs must agree on all hyperplane signs — high-cosine pairs almost
    always do). Returns (first, second, cosine)."""
    dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    c = lsh_bucket_signatures(
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")), "_v", planes
    )
    cu = _unit(c, "_v", "_vu")
    a = cu.select(F.col("_id").alias("first"), F.col("_vu").alias("_va"), "bucket")
    b = cu.select(F.col("_id").alias("second"), F.col("_vu").alias("_vb"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("first") < F.col("second"))
    return (
        pairs.select(
            "first",
            "second",
            _dot(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def projection_matrix(dim: int, out_dim: int, seed: int = 42) -> list[list[int]]:
    """Deterministic Rademacher (+-1) projection matrix (driver-side
    literal: out_dim x dim ints) — the sparse-JL choice of Achlioptas
    2003 (public result): x'_j = sum_i s_ji * x_i / sqrt(out_dim)
    preserves pairwise distances within (1 +- eps) w.h.p."""
    import random

    rng = random.Random(seed)
    return [[rng.choice((-1, 1)) for _ in range(dim)] for _ in range(out_dim)]


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 16,
    seed: int = 42,
    out_col: str = "projected",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction for the ANN scale
    path: project ``vec_col`` to ``out_dim`` dims with a literal
    Rademacher matrix — pure column expressions (zip_with + aggregate),
    shuffle-free, whole-stage codegen. Run LSH/IVF on the projected
    column, verify exact cosine on the originals: at 100 TB the distance
    computations in the bucketing stage drop by dim/out_dim."""
    dim = len(df.select(vec_col).first()[0])
    mat = projection_matrix(dim, out_dim, seed)
    scale = 1.0 / (out_dim ** 0.5)
    comps = [
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col).cast("array<double>"),
                    F.array(*[F.lit(float(s)) for s in row]),
                    lambda x, s: x * s,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            * scale,
            6,
        )
        for row in mat
    ]
    return df.withColumn(out_col, F.array(*comps))
