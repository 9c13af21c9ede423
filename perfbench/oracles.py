"""Reference answers built during set-up, with numpy only.

Each oracle takes the graph as numpy ``src``/``dst`` arrays and follows the
semantics the linkgraph docstrings state; none of them imports linkgraph.
"""

from __future__ import annotations

import numpy as np


def relabel(n: int, seed: int) -> tuple[int, int]:
    """(a, b) of the bijection id -> (id * a + b) mod n, gcd(a, n) = 1."""
    rng = np.random.default_rng(seed)
    while True:
        a = int(rng.integers(1, n))
        if np.gcd(a, n) == 1:
            return a, int(rng.integers(0, n))


RMAT_A1, RMAT_A2, RMAT_C, RMAT_M = 2_654_435_761, 40_503, 97, (1 << 31) - 1
RMAT_T = (5700, 7600, 9500)


def skew_graph() -> tuple[np.ndarray, np.ndarray]:
    """The planted-hub R-MAT graph of ``bench.skew_edges``: 400,000 R-MAT
    edges over 2^18 vertices plus 10^4 edges out of vertex 0."""
    i = np.arange(400_000, dtype=np.int64)
    src = np.zeros_like(i)
    dst = np.zeros_like(i)
    for lv in range(18):
        h = ((i * RMAT_A1 + RMAT_C) % RMAT_M * (lv * RMAT_A2 + 1)) % RMAT_M % 10000
        q = np.select([h < RMAT_T[0], h < RMAT_T[1], h < RMAT_T[2]], [0, 1, 2], 3)
        src += (q >> 1) << lv
        dst += (q & 1) << lv
    hub = np.arange(1, 10_001, dtype=np.int64) * 7
    src = np.concatenate([src, np.zeros_like(hub)])
    dst = np.concatenate([dst, hub])
    keep = src != dst
    n = 1 << 18
    key = np.unique(src[keep] * n + dst[keep])
    return key // n, key % n


def vertex_ids(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    return np.unique(np.concatenate([src, dst]))


def pagerank(src, dst, ids, damping=0.85, tol=1e-6, max_iter=200,
             num_iters=None) -> tuple[np.ndarray, int]:
    """Power iteration with uniform dangling redistribution over the sorted
    vertex ``ids``; stops once the L1 delta < tol unless ``num_iters`` fixes
    the count.  Returns (ranks aligned with ids, supersteps run)."""
    V = len(ids)
    si, di = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    outdeg = np.bincount(si, minlength=V).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(V, 1.0 / V)
    total = num_iters if num_iters is not None else max_iter
    it = 0
    while it < total:
        contrib = np.bincount(di, weights=r[si] / outdeg[si], minlength=V)
        new = (1.0 - damping) / V + damping * (contrib + r[dangling].sum() / V)
        delta = np.abs(new - r).sum()
        r, it = new, it + 1
        if num_iters is None and delta < tol:
            break
    return r, it


def _undirected(src, dst) -> tuple[np.ndarray, np.ndarray]:
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    key = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    return key[:, 0], key[:, 1]


def components(src, dst, ids) -> np.ndarray:
    """Min-vertex-id label of each vertex's undirected component."""
    lab = np.arange(int(ids.max()) + 1 if len(ids) else 0, dtype=np.int64)
    a, b = _undirected(src, dst)
    while True:
        new = lab.copy()
        np.minimum.at(new, a, lab[b])
        np.minimum.at(new, b, lab[a])
        new = new[new]  # pointer jump: a label is a vertex of the same component
        if np.array_equal(new, lab):
            return lab[ids]
        lab = new


def label_propagation(src, dst, ids, max_iter: int) -> np.ndarray:
    """Synchronous label propagation: each vertex takes the most frequent
    label among its undirected neighbours, ties to the smallest label; a
    vertex without neighbours keeps its label."""
    a, b = _undirected(src, dst)
    ai, bi = np.searchsorted(ids, a), np.searchsorted(ids, b)
    node = np.concatenate([ai, bi])  # receiver
    sender = np.concatenate([bi, ai])
    lab = ids.copy()
    for _ in range(max_iter):
        nl = lab[sender]
        order = np.lexsort((nl, node))
        n_s, l_s = node[order], nl[order]
        start = np.flatnonzero(np.r_[True, (n_s[1:] != n_s[:-1]) | (l_s[1:] != l_s[:-1])])
        cnt = np.diff(np.r_[start, len(n_s)])
        gn, gl = n_s[start], l_s[start]
        # per receiver: highest count, then smallest label
        best = np.lexsort((gl, -cnt, gn))
        gn, gl = gn[best], gl[best]
        first = np.r_[True, gn[1:] != gn[:-1]]
        new = lab.copy()
        new[gn[first]] = gl[first]
        if np.array_equal(new, lab):
            break
        lab = new
    return lab


def triangles(src, dst) -> int:
    """Exact undirected triangle count.  Edges are oriented from the lower
    to the higher (degree, id) rank; each triangle is found once, at its
    lowest-rank vertex u, as a pair v, w of u's out-neighbours, rank(v) <
    rank(w), closed by the oriented edge v -> w."""
    a, b = _undirected(src, dst)
    if len(a) == 0:
        return 0
    n = int(max(a.max(), b.max())) + 1
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    rank = np.empty(n, dtype=np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
    lo_first = rank[a] < rank[b]
    lo, hi = np.where(lo_first, a, b), np.where(lo_first, b, a)
    order = np.lexsort((rank[hi], lo))
    lo, hi = lo[order], hi[order]
    closing = np.sort(lo * n + hi)
    last = np.searchsorted(lo, lo, side="right")
    after = last - np.arange(len(lo)) - 1  # later out-neighbours of the same u
    by_after = np.argsort(-after, kind="stable")
    after_sorted = after[by_after]
    total = 0
    for step in range(1, int(after.max()) + 1):
        idx = by_after[: np.searchsorted(-after_sorted, -step, side="right")]
        cand = hi[idx] * n + hi[idx + step]
        pos = np.minimum(np.searchsorted(closing, cand), len(closing) - 1)
        total += int(np.count_nonzero(closing[pos] == cand))
    return total
