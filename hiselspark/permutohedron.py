"""Permutation sampling via Haar-random rotations projected onto the
permutohedron — the search-space sampler of the greedy HSIC and
categorical searches (reference ``hisel/permutohedron.py:6-27``).

The construction: sample U ~ Haar on SO(d-1), take the columns of
[U, -U] as directions, map them through the permutohedron projection
matrix, and read the induced coordinate order (argsort) — each direction
yields a permutation of {0..d-1}; Haar-uniform directions give a
well-spread (not uniform) distribution over permutations.

Haar sampling itself uses the QR-of-Gaussian construction with the
R-diagonal sign fix (Mezzadri 2007, "How to generate random matrices
from the classical compact groups") plus a determinant fix into SO(n) —
scipy is not available in this sandbox.

``greedy_search`` is the driver loop both searches share: sample
orderings, score every try, keep the best, stop on ``im_ratio``.
"""
from __future__ import annotations

from typing import Callable, Iterable, List, Optional, Set, Tuple

import numpy as np


def haar_rotations(dim: int, size: int = 1,
                   random_state: Optional[int] = None) -> np.ndarray:
    """``(size, dim, dim)`` Haar-distributed SO(dim) matrices."""
    rng = np.random.default_rng(random_state)
    out = np.empty((size, dim, dim))
    for i in range(size):
        z = rng.standard_normal((dim, dim))
        q, r = np.linalg.qr(z)
        q = q * np.sign(np.diag(r))[None, :]
        if np.linalg.det(q) < 0:
            q[:, 0] = -q[:, 0]
        out[i] = q
    return out


def projection_matrix(d: int) -> np.ndarray:
    """``(d-1, d)`` matrix whose rows span the permutohedron hyperplane
    (same construction as the reference: lower-triangular ones with a
    ``-k`` superdiagonal, rows normalized)."""
    p = np.diag(np.arange(-1, -d, -1, dtype=float), 1)
    p += np.eye(d)
    for k in range(1, d):
        p += np.diag(np.ones(d - k), -k)
    p = p[: d - 1, :]
    return p / np.linalg.norm(p, axis=1, keepdims=True)


def sample_permutations(d: int, size: int = 1,
                        random_state: Optional[int] = None
                        ) -> Set[Tuple[int, ...]]:
    """Sample a set of permutations of ``{0..d-1}`` (2d per rotation,
    deduplicated).  ``d == 1`` degenerates to the identity."""
    if d < 2:
        return {(0,)}
    u = haar_rotations(d - 1, size, random_state)
    directions = np.concatenate((u, -u), axis=2)      # (size, d-1, 2(d-1))
    proj = projection_matrix(d).T[None, :, :]          # (1, d, d-1)
    coords = proj @ directions                        # (size, d, 2(d-1))
    orders = np.argsort(coords, axis=1)
    return {tuple(orders[s, :, j])
            for s in range(orders.shape[0])
            for j in range(orders.shape[2])}


def greedy_search(d: int,
                  score_tries: Callable[[List[np.ndarray]],
                                        Iterable[Tuple[float, np.ndarray]]],
                  num_permutations: int, im_ratio: float, max_iter: int,
                  random_state: Optional[int], stop_at: int
                  ) -> Tuple[np.ndarray, float]:
    """The driver loop shared by the greedy HSIC and categorical
    searches (reference ``hsic.py:44-117``, ``categorical.py:115-186``).
    Each round samples orderings of the active features, lets
    ``score_tries`` map them (index arrays) to one ``(score, best
    prefix)`` per try, accepts the first strictly best try, and stops
    when that score falls under ``im_ratio`` of the best so far, after
    ``max_iter`` rounds, or once at most ``stop_at`` features remain.
    Returns the accepted indices in acceptance order and the best
    score."""
    active_set = set(range(d))
    chosen = np.array([], dtype=np.int64)
    best_overall = 0.0
    it = 0
    while len(active_set) > stop_at and it < max_iter:
        active = np.array(sorted(active_set), dtype=np.int64)
        k = len(active)
        n_samples = min(max(1, num_permutations // k), 2 ** k // k)
        perms = sample_permutations(k, size=n_samples,
                                    random_state=random_state)
        im, sel = 0.0, active
        for im_, sel_ in score_tries([active[list(p)] for p in perms]):
            if im_ > im:
                im, sel = im_, sel_
        if im < im_ratio * best_overall:
            break
        if im > best_overall:
            best_overall = im
        chosen = np.concatenate((chosen, sel))
        active_set -= set(chosen.tolist())
        it += 1
    return chosen, best_overall
