"""Vectorized numpy oracles for the benchmark's correctness gates.

They restate the contracts of ``pagerank_spark/oracle.py`` (PageRank power
iteration with dangling redistribution, min-id connected components,
synchronous min-tie label propagation, simple-graph triangle count) with
``bincount``/sort kernels, so checking millions of edges stays cheap.
"""

from __future__ import annotations

import numpy as np


def pagerank(src: np.ndarray, dst: np.ndarray, n: int, alpha: float = 0.85,
             tol: float | None = 1e-6, max_iter: int = 100) -> tuple[np.ndarray, int]:
    """(ranks with Σ=1, supersteps run): w = 1/out_deg(src) with edge
    multiplicity, rank' = α·contrib + α·mass/n + (1−α)/n, stop on L1 <= tol."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    w = 1.0 / out_deg[src]
    r = np.full(n, 1.0 / n)
    it = 0
    for it in range(1, max_iter + 1):
        mass = r[dangling].sum()
        contrib = np.bincount(dst, weights=r[src] * w, minlength=n)
        r_new = alpha * contrib + alpha * mass / n + (1.0 - alpha) / n
        l1 = np.abs(r_new - r).sum()
        r = r_new
        if tol is not None and l1 <= tol:
            break
    return r, it


def simple_undirected(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deduplicated (a < b) pairs, self-loops dropped."""
    keep = src != dst
    a = np.minimum(src[keep], dst[keep])
    b = np.maximum(src[keep], dst[keep])
    pairs = np.unique(np.stack([a, b], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def components(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Label = min vertex id of the component (isolated vertices: own id)."""
    a, b = simple_undirected(src, dst)
    label = np.arange(n)
    while True:
        lo = np.minimum(label[a], label[b])
        new = label.copy()
        np.minimum.at(new, a, lo)
        np.minimum.at(new, b, lo)
        new = new[new]  # pointer jumping: follow labels to their roots
        if np.array_equal(new, label):
            return label
        label = new


def label_propagation(src: np.ndarray, dst: np.ndarray, n: int,
                      max_rounds: int) -> np.ndarray:
    """Synchronous rounds: each vertex with neighbours takes the most
    frequent neighbour label, ties to the smallest; stop at a fixpoint."""
    a, b = simple_undirected(src, dst)
    v = np.concatenate([a, b])
    u = np.concatenate([b, a])
    label = np.arange(n)
    for _ in range(max_rounds):
        pairs, counts = np.unique(np.stack([v, label[u]], axis=1), axis=0,
                                  return_counts=True)
        # per vertex: highest count first, then smallest label
        order = np.lexsort((pairs[:, 1], -counts, pairs[:, 0]))
        pairs = pairs[order]
        first = np.ones(len(pairs), dtype=bool)
        first[1:] = pairs[1:, 0] != pairs[:-1, 0]
        new = label.copy()
        new[pairs[first, 0]] = pairs[first, 1]
        if np.array_equal(new, label):
            break
        label = new
    return label


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the simple undirected graph, each counted once.

    Edges are oriented from lower to higher (degree, id); every triangle is
    then exactly one wedge x->y->z closed by the oriented edge (x, z)."""
    a, b = simple_undirected(src, dst)
    if len(a) == 0:
        return 0
    n = int(max(a.max(), b.max())) + 1
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    fwd = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    x = np.where(fwd, a, b)
    y = np.where(fwd, b, a)
    order = np.argsort(x, kind="stable")
    x, y = x[order], y[order]
    start = np.searchsorted(x, np.arange(n + 1))
    # wedges (x, y, z) for every oriented edge x->y and y->z
    fan = start[y + 1] - start[y]
    wx = np.repeat(x, fan)
    first = np.repeat(start[y], fan)
    within = np.arange(len(wx)) - np.repeat(np.cumsum(fan) - fan, fan)
    wz = y[first + within]
    edge_keys = np.sort(x * n + y)
    keys = wx * n + wz
    pos = np.searchsorted(edge_keys, keys)
    pos[pos == len(edge_keys)] = 0
    return int((edge_keys[pos] == keys).sum())
