"""NumPy oracles for the benchmark's outputs, computed once per seed
straight from the generated input and never from the engine's output.

Each mirrors the engine's documented semantics: PageRank runs the same
synchronous power iteration with uniform dangling-mass redistribution and
the same per-vertex halt rule; LPA is synchronous with ties broken toward
the smallest label.
"""

from __future__ import annotations

import numpy as np


def _dedup(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def pagerank(src, dst, damping=0.85, tol=1e-6, max_iter=100):
    """Returns (ids, ranks, supersteps) for the directed graph."""
    src, dst = _dedup(np.asarray(src, np.int64), np.asarray(dst, np.int64))
    ids = np.unique(np.concatenate([src, dst]))
    n = len(ids)
    s, d = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    share = np.zeros(n)
    share[~dangling] = 1.0 / outdeg[~dangling]
    rank = np.full(n, 1.0 / n)
    steps = 0
    for steps in range(1, max_iter + 1):
        msg = np.bincount(d, weights=rank[s] * share[s], minlength=n)
        new = (1.0 - damping) / n + damping * (msg + rank[dangling].sum() / n)
        active = np.abs(new - rank) > tol
        rank = new
        if not active.any():
            break
    return ids, rank, steps


def label_propagation(src, dst, max_iter: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Synchronous LPA over the undirected view: every vertex adopts the
    most frequent neighbour label, ties to the smallest label, until no
    label changes or ``max_iter`` rounds.  Returns (ids, labels, rounds)."""
    src = np.asarray(src, np.int64)
    dst = np.asarray(dst, np.int64)
    keep = src != dst
    s, d = _dedup(
        np.concatenate([src[keep], dst[keep]]), np.concatenate([dst[keep], src[keep]])
    )
    ids = np.unique(np.concatenate([s, d]))
    si, di = np.searchsorted(ids, s), np.searchsorted(ids, d)
    label = ids.copy()
    rounds = 0
    for rounds in range(1, max_iter + 1):
        # votes (receiver, label) → counts; per receiver the max count wins,
        # ties to the smallest label
        votes = np.unique(np.stack([di, label[si]], axis=1), axis=0, return_counts=True)
        (recv, lbl), cnt = votes[0].T, votes[1]
        order = np.lexsort((lbl, -cnt, recv))
        recv, lbl = recv[order], lbl[order]
        first = np.ones(len(recv), bool)
        first[1:] = recv[1:] != recv[:-1]
        new = label.copy()
        new[recv[first]] = lbl[first]
        changed = np.any(new != label)
        label = new
        if not changed:
            break
    return ids, label, rounds
