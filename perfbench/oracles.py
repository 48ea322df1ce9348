"""Independent numpy answers and invariants for the benchmark's checks.

Graph functions take the undirected edge list the benchmark generated
(each edge once, in either direction) unless they say otherwise; none calls
the engine.
"""

from __future__ import annotations

import numpy as np


def both_ways(src, dst, weight=None):
    """The edge list with every edge in both directions."""
    s = np.concatenate([src, dst])
    d = np.concatenate([dst, src])
    if weight is None:
        return s, d
    return s, d, np.concatenate([weight, weight])


def hops(src, dst, source, n):
    """Breadth-first hop count from ``source``; unreached vertices read inf."""
    s, d = both_ways(src, dst)
    dist = np.full(n, np.inf)
    dist[source] = 0
    frontier = np.zeros(n, dtype=bool)
    frontier[source] = True
    level = 0
    while frontier.any():
        level += 1
        reached = np.zeros(n, dtype=bool)
        reached[d[frontier[s]]] = True
        frontier = reached & np.isinf(dist)
        dist[frontier] = level
    return dist


def components(src, dst, n):
    """Min-id label of each vertex's component."""
    s, d = both_ways(src, dst)
    label = np.arange(n)
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, d, label[s])
        nxt = nxt[nxt]  # pointer jump
        if np.array_equal(nxt, label):
            return label
        label = nxt


def pagerank(src, dst, weight, n, alpha, iters):
    """Weighted pagerank from the uniform vector, fixed iteration count,
    on a graph without dangling vertices."""
    s, d, w = both_ways(src, dst, weight)
    out_w = np.bincount(s, weights=w, minlength=n)
    coef = w / out_w[s]
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        rank = (1.0 - alpha) / n + alpha * np.bincount(d, weights=coef * rank[s], minlength=n)
    return rank


def modularity(src, dst, weight, community, n):
    """Newman modularity of a vertex -> community array (resolution 1)."""
    s, d, w = both_ways(src, dst, weight)
    two_m = w.sum()
    k = np.bincount(s, weights=w, minlength=n)
    inside = w[community[s] == community[d]].sum()
    sigma = np.bincount(community, weights=k)
    return inside / two_m - np.sum((sigma / two_m) ** 2)


def cosine(queries, corpus):
    """Cosine of every (query row, corpus row) pair."""
    qu = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    cu = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    return qu @ cu.T
