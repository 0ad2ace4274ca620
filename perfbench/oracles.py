"""Vectorized numpy oracles for the benchmark's answers.

``tests/oracles.py`` holds pure-Python references that are too slow at
the benchmark's 60k-150k edges; these implement the same semantics with
numpy and run outside every timed window:

- PageRank: ``rank' = (1-d)/n + d * (sum_{u->v} rank(u)/outdeg(u) +
  dangling/n)`` over the distinct directed edges, rank0 = 1/n, stop at
  the first superstep whose L-inf change is below ``tol``.
- CC: hash-min label fixpoint over the undirected closure (exact).
- LPA: synchronous mode rule over undirected neighbours, ties to the
  smallest label, stop when nothing changes (exact).
- Triangles: exact count on the undirected, self-loop-free graph.

Vertices are the ids that appear in the edge table. Every function takes
``src``/``dst`` int64 arrays and works on dense indices into the sorted id
vector, so label order equals index order.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


def _index(src: np.ndarray, dst: np.ndarray):
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def _distinct_pairs(s: np.ndarray, d: np.ndarray, n: int):
    key = np.unique(s.astype(np.int64) * n + d)
    return key // n, key % n


def _undirected(src, dst):
    ids, s, d = _index(src, dst)
    s, d = _distinct_pairs(np.concatenate([s, d]), np.concatenate([d, s]), len(ids))
    return ids, s, d


def distinct_edges(src: np.ndarray, dst: np.ndarray) -> int:
    ids, s, d = _index(src, dst)
    return len(_distinct_pairs(s, d, len(ids))[0])


@dataclass
class PageRankAnswer:
    ids: np.ndarray
    rank: np.ndarray
    supersteps: int
    deltas: list[float]


def pagerank(src, dst, damping=0.85, tol=1e-6, max_iters=100) -> PageRankAnswer:
    ids, s, d = _index(src, dst)
    n = len(ids)
    s, d = _distinct_pairs(s, d, n)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    rank = np.full(n, 1.0 / n)
    deltas: list[float] = []
    while len(deltas) < max_iters:
        contrib = np.bincount(d, weights=rank[s] / outdeg[s], minlength=n)
        new = (1.0 - damping) / n + damping * (contrib + rank[dangling].sum() / n)
        deltas.append(float(np.max(np.abs(new - rank))))
        rank = new
        if deltas[-1] < tol:
            break
    return PageRankAnswer(ids, rank, len(deltas), deltas)


def connected_components(src, dst) -> tuple[np.ndarray, np.ndarray]:
    ids, s, d = _undirected(src, dst)
    label = np.arange(len(ids))
    while True:
        new = label.copy()
        np.minimum.at(new, d, label[s])
        if np.array_equal(new, label):
            return ids, ids[label]
        label = new


def label_propagation(src, dst, max_iters=10) -> tuple[np.ndarray, np.ndarray]:
    ids, s, d = _undirected(src, dst)
    n = len(ids)
    label = np.arange(n)
    for _ in range(max_iters):
        key, cnt = np.unique(d * n + label[s], return_counts=True)
        v, lab = key // n, key % n
        order = np.lexsort((lab, -cnt, v))
        first = order[np.r_[True, v[order][1:] != v[order][:-1]]]
        new = label.copy()
        new[v[first]] = lab[first]
        if np.array_equal(new, label):
            break
        label = new
    return ids, ids[label]


def triangle_count(src, dst) -> int:
    ids, s, d = _undirected(src, dst)
    keep = s < d
    s, d = s[keep], d[keep]
    n = len(ids)
    deg = np.bincount(np.concatenate([s, d]), minlength=n)
    # Orient each edge from the lower to the higher (degree, id) end, so
    # each triangle is exactly one closed wedge x->y, x->z, y->z.
    low_first = (deg[s] < deg[d]) | ((deg[s] == deg[d]) & (s < d))
    a = np.where(low_first, s, d)
    b = np.where(low_first, d, s)
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    starts = np.searchsorted(a, np.arange(n + 1))
    group = np.diff(starts)[a]  # out-degree of each edge's tail
    # Pair every oriented edge x->y with every edge x->z of the same tail.
    rep = np.repeat(np.arange(len(a)), group)
    off = np.arange(len(rep)) - np.repeat(np.cumsum(group) - group, group)
    y = b[rep]
    z = b[starts[a[rep]] + off]
    closing = a * n + b  # sorted by construction
    wedges = y * n + z
    pos = np.minimum(np.searchsorted(closing, wedges), len(closing) - 1)
    return int(np.count_nonzero(closing[pos] == wedges))
