"""Seeded input graphs for the generated workloads.

Both generators return an undirected simple graph as three numpy arrays
``(src, dst, weight)`` holding each edge once with ``src < dst``; the
engine symmetrizes it on build. Weights are integers 1..9 stored as
doubles.
"""

from __future__ import annotations

import numpy as np


def _simple(src: np.ndarray, dst: np.ndarray, rng: np.random.Generator):
    """Drop self-loops and parallel edges, orient ``src < dst`` and draw
    one weight in 1..9 per remaining edge."""
    keep = src != dst
    lo = np.minimum(src[keep], dst[keep]).astype(np.int64)
    hi = np.maximum(src[keep], dst[keep]).astype(np.int64)
    pairs = np.unique(lo << 32 | hi)
    src, dst = pairs >> 32, pairs & 0xFFFFFFFF
    weight = rng.integers(1, 10, size=len(pairs)).astype(np.float64)
    return src, dst, weight


def rmat(scale: int, edge_factor: int, seed: int, a=0.57, b=0.19, c=0.19):
    """Graph500 R-MAT: ``edge_factor * 2**scale`` draws, one quadrant per
    bit, then a seeded vertex-id permutation so hubs do not sit at the
    smallest ids."""
    rng = np.random.default_rng(seed)
    n_draws = edge_factor << scale
    src = np.zeros(n_draws, dtype=np.int64)
    dst = np.zeros(n_draws, dtype=np.int64)
    for bit in range(scale):
        r = rng.random(n_draws)
        # quadrants: a = (0,0), b = (0,1), c = (1,0), d = (1,1)
        src |= (r >= a + b).astype(np.int64) << bit
        dst |= (((r >= a) & (r < a + b)) | (r >= a + b + c)).astype(np.int64) << bit
    perm = rng.permutation(1 << scale)
    return _simple(perm[src], perm[dst], rng)


def layered_ring(depth: int, width: int, seed: int):
    """``depth`` layers of ``width`` vertices closed into a ring, every
    vertex linked to every vertex of the next layer; the seed assigns the
    vertex ids and draws the weights.

    The hop distance between two vertices is their layer distance around
    the ring (2 within a layer), so every vertex is exactly
    ``depth // 2`` hops from the farthest one: bfs, wcc and sampled
    betweenness run the same number of rounds for every seed and source.
    """
    rng = np.random.default_rng(seed)
    ids = rng.permutation(depth * width).reshape(depth, width)
    nxt = np.roll(ids, -1, axis=0)
    src = np.repeat(ids, width, axis=1).ravel()
    dst = np.tile(nxt, (1, width)).ravel()
    return _simple(src, dst, rng)
