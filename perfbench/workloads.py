"""The benchmark's workloads: inputs, the ops of one pass, and the check
each op's output must pass.

``prepare`` makes a workload's inputs, ``oracles`` computes the numpy
answers once, and ``ops`` lists ``(op, call, check)`` triples for one
pass. ``call`` runs one public operator and collects its result to the
driver, so the timed section ends when the user has the answer; ``check``
compares that answer with the oracle and returns True or False.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import graphs
import oracles

# R-MAT: 2**12 vertex ids, 6 draws per id (Graph500 a/b/c), symmetrized.
RMAT_SCALE, RMAT_EDGE_FACTOR = 12, 6
PAGERANK_ALPHA, PAGERANK_ITERS = 0.85, 2
# Louvain is checked by its modularity, recomputed in numpy; at these level
# and iteration caps R-MAT-12 reaches Q ~ 0.135.
LOUVAIN_LEVELS, LOUVAIN_ITERS, LOUVAIN_MIN_Q = 1, 2, 0.1
ANN_CORPUS, ANN_DIM, ANN_QUERIES, ANN_K = 1000, 16, 8, 5

# Layered ring: exactly RING_DEPTH // 2 rounds for every traversal.
RING_DEPTH, RING_WIDTH = 6, 24
BETWEENNESS_K = 4
FA2_ITERS = 1

ATOL = 1e-6
BFS_UNREACHED = 2147483647


def _close(got, want, atol=ATOL):
    if got is None:
        return False
    got, want = np.asarray(got, dtype=float), np.asarray(want, dtype=float)
    return got.shape == want.shape and bool(np.allclose(got, want, rtol=0, atol=atol))


def _by_vertex(pdf, col, n):
    """Dense array indexed by vertex id from a (vertex, col) result, or
    None when the result does not cover the ids 0..n-1 exactly once."""
    v = pdf["vertex"].to_numpy(dtype=np.int64)
    if len(v) != n or not np.array_equal(np.sort(v), np.arange(n)):
        return None
    out = np.empty(n)
    out[v] = pdf[col].to_numpy(dtype=float)
    return out


def _same_partition(labels, want):
    """True when two label arrays group the vertices identically."""
    if labels is None:
        return False
    pairs = np.unique(np.stack([labels.astype(np.int64), want]), axis=1)
    return len(np.unique(pairs[0])) == pairs.shape[1] == len(np.unique(pairs[1]))


class GraphWorkload:
    """A generated undirected weighted graph."""

    name = ""

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.graph = None

    def generate(self):
        raise NotImplementedError

    def prepare(self):
        src, dst, self.weight = self.generate()
        # The engine sees compact ids, numbered by decreasing degree (lower
        # generated id first on ties): oracle arrays are dense, and wcc's
        # label-propagation rounds vary less with the seed (on R-MAT-12, 5
        # rounds for 170 of 200 seeds, against 6 for 146 with the
        # generated ids).
        used, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        deg = np.bincount(inv, minlength=len(used))
        rank = np.empty(len(used), dtype=np.int64)
        rank[np.argsort(-deg, kind="stable")] = np.arange(len(used))
        self.src, self.dst = rank[inv[: len(src)]], rank[inv[len(src):]]
        self.n, self.m = len(used), len(src)
        self.edges_df = self.spark.createDataFrame(
            pd.DataFrame({"src": self.src, "dst": self.dst, "weight": self.weight})
        )

    def oracles(self):
        self.want_cc = oracles.components(self.src, self.dst, self.n)

    def describe(self) -> dict:
        return {
            "vertices": self.n,
            "undirected_edges": self.m,
            "components": len(np.unique(self.want_cc)),
        }

    def build(self):
        from cugraph_spark import Graph

        g = Graph(directed=False)
        g.from_edgelist(self.edges_df, "src", "dst", weight="weight")
        self.graph = g
        return g.number_of_vertices(), g.number_of_edges(directed_edges=True)

    def check_build(self, out):
        return out == (self.n, 2 * self.m)

    def wcc(self):
        from cugraph_spark import weakly_connected_components

        return weakly_connected_components(self.graph).toPandas()

    def check_wcc(self, pdf):
        return _same_partition(_by_vertex(pdf, "labels", self.n), self.want_cc)


class RmatPowerLaw(GraphWorkload):
    """Skewed degrees, several components and about 2 MB shuffled per
    pass; the graph is rebuilt every pass. At this size most ops still
    wait on per-job fixed cost (README.md has the measured idle shares)."""

    name = "rmat_power_law"

    def generate(self):
        return graphs.rmat(RMAT_SCALE, RMAT_EDGE_FACTOR, self.seed)

    def prepare(self):
        super().prepare()
        self.corpus = np.random.default_rng(self.seed).standard_normal((ANN_CORPUS, ANN_DIM))
        self.emb = self.spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(self.corpus)],
            "vec_id long, embedding array<double>",
        )
        self.queries = self.emb.filter(F.col("vec_id") < ANN_QUERIES).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

    def oracles(self):
        super().oracles()
        self.want_pr = oracles.pagerank(
            self.src, self.dst, self.weight, self.n, PAGERANK_ALPHA, PAGERANK_ITERS
        )
        self.sims = oracles.cosine(self.corpus[:ANN_QUERIES], self.corpus)

    def reset(self):
        """Drop the pass's cached tables so the next build starts cold."""
        self.spark.catalog.clearCache()
        self.graph = None

    def describe(self) -> dict:
        return {**super().describe(), "ann_corpus": ANN_CORPUS, "ann_queries": ANN_QUERIES}

    def pagerank(self):
        from cugraph_spark import pagerank

        return pagerank(
            self.graph, alpha=PAGERANK_ALPHA, max_iter=PAGERANK_ITERS, tol=0.0,
            fail_on_nonconvergence=False,
        ).toPandas()

    def check_pagerank(self, pdf):
        return _close(_by_vertex(pdf, "pagerank", self.n), self.want_pr)

    def louvain(self):
        from cugraph_spark import louvain

        parts, q = louvain(self.graph, max_level=LOUVAIN_LEVELS, max_iter=LOUVAIN_ITERS)
        return parts.toPandas(), q

    def check_louvain(self, out):
        pdf, q = out
        comm = _by_vertex(pdf, "partition", self.n)
        if comm is None or not math.isfinite(q):
            return False
        _, comm = np.unique(comm.astype(np.int64), return_inverse=True)
        q_ind = oracles.modularity(self.src, self.dst, self.weight, comm, self.n)
        return abs(q_ind - q) < ATOL and q_ind > LOUVAIN_MIN_Q

    def ann_topk(self):
        from cugraph_spark.pipelines.similarity_search import brute_force_topk

        return brute_force_topk(self.emb, self.queries, k=ANN_K).toPandas()

    def check_ann_topk(self, pdf):
        q = pdf["query_id"].to_numpy(dtype=np.int64)
        v = pdf["vec_id"].to_numpy(dtype=np.int64)
        if pdf.duplicated(["query_id", "vec_id"]).any() or not np.array_equal(
            np.bincount(q, minlength=ANN_QUERIES), np.full(ANN_QUERIES, ANN_K)
        ):
            return False
        # every returned pair carries its true cosine, and none is below the
        # query's k-th best (the search is exact)
        kth = np.sort(self.sims, axis=1)[:, -ANN_K]
        cos = pdf["cosine"].to_numpy(dtype=float)
        return _close(cos, self.sims[q, v]) and bool((cos >= kth[q] - ATOL).all())

    def ops(self):
        return [
            ("structure.build", self.build, self.check_build),
            ("components.wcc", self.wcc, self.check_wcc),
            ("link_analysis.pagerank", self.pagerank, self.check_pagerank),
            ("community.louvain", self.louvain, self.check_louvain),
            ("pipelines.ann_topk", self.ann_topk, self.check_ann_topk),
        ]


class DeepFrontier(GraphWorkload):
    """Equal degrees, one component and a few hundred rows of state: every
    op is almost all per-job fixed cost. The graph is built once, before
    the warm-up; passes only read it."""

    name = "deep_frontier"

    def generate(self):
        return graphs.layered_ring(RING_DEPTH, RING_WIDTH, self.seed)

    def prepare(self):
        super().prepare()
        if not self.check_build(self.build()):
            raise RuntimeError("deep_frontier graph build is wrong")
        # source rule: highest degree, lowest id on ties; ids are numbered
        # by decreasing degree
        self.source = 0
        self.radii = self.graph.nodes().select("vertex", F.lit(1.0).alias("radius"))
        self.first_layout = None

    def oracles(self):
        super().oracles()
        self.want_hops = oracles.hops(self.src, self.dst, self.source, self.n)

    def reset(self):
        """The graph stays cached across passes."""

    def describe(self) -> dict:
        return {**super().describe(), "source": self.source}

    def bfs(self):
        from cugraph_spark import bfs

        return bfs(self.graph, self.source).toPandas()

    def check_bfs(self, pdf):
        got = _by_vertex(pdf, "distance", self.n)
        if got is None:
            return False
        got[got == BFS_UNREACHED] = np.inf
        return bool(np.array_equal(got, self.want_hops))

    def betweenness(self):
        from cugraph_spark import betweenness_centrality

        return betweenness_centrality(self.graph, k=BETWEENNESS_K, seed=self.seed).toPandas()

    def check_betweenness(self, pdf):
        bc = _by_vertex(pdf, "betweenness_centrality", self.n)
        return bc is not None and bool(np.isfinite(bc).all() and (bc >= 0).all()) and bc.sum() > 0

    def force_atlas2(self):
        from cugraph_spark import force_atlas2

        return force_atlas2(
            self.graph, max_iter=FA2_ITERS, barnes_hut_optimize=False,
            prevent_overlapping=True, vertex_radius=self.radii,
        ).toPandas()

    def check_force_atlas2(self, pdf):
        xy = pdf.sort_values("vertex")[["vertex", "x", "y"]].to_numpy()
        if len(xy) != self.n or not np.isfinite(xy).all():
            return False
        # the layout is seeded: every pass must reproduce the first bit for bit
        if self.first_layout is None:
            self.first_layout = xy
        return bool(np.array_equal(xy, self.first_layout))

    def ops(self):
        return [
            ("traversal.bfs", self.bfs, self.check_bfs),
            ("components.wcc", self.wcc, self.check_wcc),
            ("centrality.betweenness", self.betweenness, self.check_betweenness),
            ("layout.force_atlas2", self.force_atlas2, self.check_force_atlas2),
        ]


WORKLOADS = {w.name: w for w in (RmatPowerLaw, DeepFrontier)}

# every op either workload runs, in report order
ALL_OPS = tuple(dict.fromkeys(op for w in WORKLOADS.values() for op, _, _ in w(None, 0).ops()))
