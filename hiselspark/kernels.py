"""Kernel / Gram-matrix math for HSIC-Lasso, NumPy-vectorized.

This module is the numeric core that runs *inside* Arrow-batched pandas
UDFs (``applyInPandas``) on Spark executor tasks.  It computes the same
quantities as the reference implementation (transferwise/hisel,
``hisel/kernels.py:20-267``) but is written for the Spark execution
model:

* everything is expressed so that only O(d*d) sufficient statistics ever
  leave a worker (see :func:`batch_sufficient_stats`) — the full feature
  map ``(n_batches*b**2, d)`` of the reference is never materialized;
* the Gram tensor is visited in tiles, each built once, over its upper
  triangle only, so per-task memory is bounded by
  ``O(d * row_chunk * col_chunk + n**2)`` instead of ``O(d * n**2)``,
  which is what makes a 500-row minibatch with thousands of features
  safe inside an executor with a fixed memory budget.

Numeric parity notes (verified by tests/test_kernels.py against a
vendored copy of the reference math):

* RBF kernel: ``k(a, b) = exp(-(a-b)^2 / (2 l^2))`` per feature
  (reference ``kernels.py:60-76``).
* Delta kernel: ``k(a, b) = 1[a == b] / count(class(b))`` with class
  counts taken *within the minibatch* (reference ``kernels.py:79-97``) —
  batch membership therefore changes values, so batch assignment must be
  deterministic.
* Centering: subtract row means, then column means of the row-centered
  matrix (reference ``kernels.py:197-202``); equivalent to the H G H
  double-centering (:func:`batch_sufficient_stats` corrects raw sums).
* Batching: ``n // b`` equal batches, remainder rows dropped (reference
  ``kernels.py:220-225``).
"""
from __future__ import annotations

from enum import Enum
from typing import List, Optional, Tuple

import numpy as np


class KernelKind(Enum):
    RBF = "rbf"
    DELTA = "delta"
    MIXED = "mixed"  # categorical columns first, continuous after the split


# ---------------------------------------------------------------------------
# per-feature Gram matrices  (layout: samples-major (n, d) at the API level)
# ---------------------------------------------------------------------------

def rbf_gram_featurewise(x: np.ndarray, bandwidth: float) -> np.ndarray:
    """One Gaussian Gram matrix per feature.

    ``x`` is ``(n, d)`` float; returns ``(d, n, n)`` with
    ``out[f, i, j] = exp(-(x[i,f]-x[j,f])**2 / (2*bandwidth**2))``.

    Parity: reference ``kernels.py:60-76`` (same values via the expanded
    square ``a^2 + b^2 - 2ab``; we use the direct difference which is the
    numerically nicer form — allclose-equal).
    """
    if x.ndim != 2:
        raise ValueError(f"expected (n, d) matrix, got ndim={x.ndim}")
    xf = np.ascontiguousarray(x.T, dtype=np.float64)  # (d, n)
    diff = xf[:, :, None] - xf[:, None, :]
    return np.exp(diff * diff / (-2.0 * bandwidth * bandwidth))


def delta_gram_featurewise(x: np.ndarray) -> np.ndarray:
    """One normalized delta (categorical) Gram matrix per feature.

    ``x`` is ``(n, d)`` integer; returns ``(d, n, n)`` with
    ``out[f, i, j] = 1[x[i,f] == x[j,f]] / count_f(x[j,f])`` where the
    class count is taken within this sample block.

    Parity: reference ``kernels.py:79-97``.
    """
    if not np.issubdtype(x.dtype, np.integer):
        raise ValueError(f"delta kernel needs integer codes, got {x.dtype}")
    n, d = x.shape
    out = np.empty((d, n, n), dtype=np.float64)
    for f in range(d):
        col = x[:, f]
        # inverse-index trick avoids np.bincount's need for small
        # non-negative codes: works for arbitrary (even negative) ints.
        _, inv, counts = np.unique(col, return_inverse=True, return_counts=True)
        eq = inv[None, :] == inv[:, None]
        out[f] = eq / counts[inv][None, :]
    return out


def rbf_gram_joint(x: np.ndarray, bandwidth: float) -> np.ndarray:
    """Single Gaussian Gram over all features jointly: ``(n, n)``.

    ``out[i, j] = exp(-||x[i] - x[j]||^2 / (2 l^2))``.
    Parity: reference ``kernels.py:100-111``.
    """
    x = np.asarray(x, dtype=np.float64)
    sq = np.sum(x * x, axis=1)
    d2 = sq[:, None] + sq[None, :] - 2.0 * (x @ x.T)
    return np.exp(d2 / (-2.0 * bandwidth * bandwidth))


def joint_integer_codes(x: np.ndarray) -> np.ndarray:
    """Flatten integer rows to a single code per row, reference-style.

    Column ``f`` gets place value ``1 + max(column f-1)`` (column 0 gets
    1) — exactly the reference's encoding (``kernels.py:130-137``).  Note
    this is NOT a collision-free mixed-radix encoding (no cumulative
    product of the place values); we replicate it verbatim because the
    joint delta Gram — and therefore HSIC values — depends on it.
    """
    place = np.roll(1 + np.max(x, axis=0), 1)
    place[0] = 1
    return np.sum(x * place[None, :], axis=1)


def delta_gram_joint(x: np.ndarray) -> np.ndarray:
    """Joint normalized delta Gram: rows equal as whole tuples.

    Parity: reference ``kernels.py:130-146``.
    """
    if not np.issubdtype(x.dtype, np.integer):
        raise ValueError(f"delta kernel needs integer codes, got {x.dtype}")
    codes = joint_integer_codes(x)
    _, inv, counts = np.unique(codes, return_inverse=True, return_counts=True)
    eq = inv[None, :] == inv[:, None]
    return eq / counts[inv][None, :]


def gram_featurewise(
    x: np.ndarray,
    bandwidth: float,
    kind: KernelKind,
    cat_split: int = 0,
) -> np.ndarray:
    """Dispatch per-feature Grams; for MIXED, categorical columns come
    first (``x[:, :cat_split]``) then continuous.  Parity: ``kernels.py:20-37``."""
    if kind == KernelKind.RBF:
        return rbf_gram_featurewise(x, bandwidth)
    if kind == KernelKind.DELTA:
        return delta_gram_featurewise(np.asarray(x, dtype=np.int64))
    if kind == KernelKind.MIXED:
        g_cat = delta_gram_featurewise(np.asarray(x[:, :cat_split], dtype=np.int64))
        g_cont = rbf_gram_featurewise(x[:, cat_split:], bandwidth)
        return np.concatenate((g_cat, g_cont), axis=0)
    raise ValueError(kind)


def gram_joint(
    x: np.ndarray,
    bandwidth: float,
    kind: KernelKind,
    cat_split: int = 0,
) -> np.ndarray:
    """Dispatch the joint (multivariate) Gram.  Parity: ``kernels.py:40-57``.

    NOTE: the MIXED branch mirrors the reference's behavior of stacking a
    joint-categorical and a joint-continuous Gram along a leading axis.
    """
    if kind == KernelKind.RBF:
        return rbf_gram_joint(x, bandwidth)
    if kind == KernelKind.DELTA:
        return delta_gram_joint(np.asarray(x, dtype=np.int64))
    raise ValueError(kind)


def prefix_grams(x: np.ndarray, kind: KernelKind) -> np.ndarray:
    """Incremental prefix Grams for the greedy HSIC search: slice ``k``
    of the output is the joint Gram of columns ``0..k`` — RBF with
    bandwidth ``l^2 = k+1`` (so bandwidth grows with prefix dimension,
    reference ``kernels.py:114-127``) or joint delta (reference
    ``kernels.py:149-156``).

    ``x`` is ``(n, d)``; returns ``(d, n, n)``.  The RBF path reuses
    cumulative squared norms and prefix cross-products instead of
    recomputing each prefix from scratch.
    """
    n, d = x.shape
    if kind == KernelKind.DELTA:
        xi = np.asarray(x, dtype=np.int64)
        out = np.empty((d, n, n))
        for k in range(d):
            out[k] = delta_gram_joint(xi[:, : k + 1])
        return out
    xf = np.asarray(x, dtype=np.float64)
    sq = np.cumsum(xf * xf, axis=1)                  # (n, d) prefix norms
    out = np.empty((d, n, n))
    cross = np.zeros((n, n))
    for k in range(d):
        cross = cross + np.outer(xf[:, k], xf[:, k])
        d2 = sq[:, k][:, None] + sq[:, k][None, :] - 2.0 * cross
        out[k] = np.exp(d2 / (-2.0 * (k + 1)))
    return out


# ---------------------------------------------------------------------------
# centering and the flattened feature map
# ---------------------------------------------------------------------------

def double_center(g: np.ndarray) -> np.ndarray:
    """H G H double-centering via two mean subtractions, O(n^2).

    Accepts ``(n, n)`` or ``(d, n, n)``; does NOT mutate the input (the
    reference centers in place, ``kernels.py:197-202`` — same values).
    """
    g = g - np.mean(g, axis=-1, keepdims=True)
    g = g - np.mean(g, axis=-2, keepdims=True)
    return g


def feature_map_block(
    x: np.ndarray,
    bandwidth: float,
    kind: KernelKind,
    cat_split: int = 0,
    joint: bool = False,
) -> np.ndarray:
    """Centered-Gram feature map for one minibatch: ``(n*n, d)``.

    Column ``f`` is the centered Gram of feature ``f`` flattened row-major.
    Parity: reference ``kernels.py:205-217`` (``_run_batch``).
    """
    if joint:
        grams = gram_joint(x, bandwidth, kind, cat_split)[None, :, :]
    else:
        grams = gram_featurewise(x, bandwidth, kind, cat_split)
    grams = double_center(grams)
    d, n, m = grams.shape
    return grams.reshape(d, n * m).T


def batch_slices(n: int, batch_size: int) -> List[slice]:
    """Equal batches of ``min(n, batch_size)`` rows; remainder dropped.

    Parity: reference ``kernels.py:220-225`` / ``select.py:341-346``.
    """
    b = min(n, batch_size)
    num = n // b
    return [slice(i * b, (i + 1) * b) for i in range(num)]


def apply_feature_map(
    x: np.ndarray,
    bandwidth: float,
    kind: KernelKind,
    batch_size: int,
    cat_split: int = 0,
    joint: bool = False,
) -> np.ndarray:
    """Stacked feature map over minibatches: ``(num_batches * b**2, d)``.

    Used by parity tests and small-data paths.  The distributed engine
    uses :func:`batch_sufficient_stats` instead, which never materializes
    this matrix.  Parity: reference ``kernels.py:239-267`` (joblib
    parallelism replaced by Spark task parallelism upstream).
    """
    n = x.shape[0]
    blocks = [
        feature_map_block(x[sl], bandwidth, kind, cat_split, joint)
        for sl in batch_slices(n, batch_size)
    ]
    return np.vstack(blocks)


# ---------------------------------------------------------------------------
# sufficient statistics — the distribution lever
# ---------------------------------------------------------------------------

class _GramRows:
    """Computes row-slices of the per-feature Gram matrices on demand.

    Precomputes only O(d * n) state (feature values / integer codes and
    per-class counts), so a ``(d, rc, cc)`` tile can be produced without
    ever holding the full ``(d, n, n)`` tensor — this is what bounds
    executor memory when the minibatch or feature count is large.
    """

    def __init__(self, x: np.ndarray, bandwidth: float, kind: KernelKind,
                 cat_split: int = 0, dtype=np.float64):
        n, d = x.shape
        self.n, self.d = n, d
        self.cat_split = d if kind == KernelKind.DELTA else (
            cat_split if kind == KernelKind.MIXED else 0)
        self.bandwidth = bandwidth
        self.dtype = np.dtype(dtype)
        # dtype-scalar so float32 tiles stay float32 (a Python-float
        # scale would promote every product back to float64)
        self._inv_scale = self.dtype.type(-0.5 / (bandwidth * bandwidth))
        if self.cat_split > 0:
            xi = np.asarray(x[:, : self.cat_split], dtype=np.int64)
            inv = np.empty((self.cat_split, n), dtype=np.int64)
            norm = np.empty((self.cat_split, n), dtype=self.dtype)
            for f in range(self.cat_split):
                _, iv, cnt = np.unique(xi[:, f], return_inverse=True,
                                       return_counts=True)
                inv[f] = iv
                norm[f] = cnt[iv]
            self._inv, self._norm = inv, norm
        if self.cat_split < d:
            self._xf = np.ascontiguousarray(
                x[:, self.cat_split:].T.astype(self.dtype))  # (d_cont, n)

    def rows(self, sl: slice, cols: slice) -> np.ndarray:
        """Gram values ``(d, rc, cc)`` for sample rows ``sl`` x sample
        columns ``cols``, built in one fresh buffer: a tile is past
        malloc's mmap threshold, so each temporary would page-fault."""
        k, idx = self.cat_split, range(self.n)
        out = np.empty((self.d, len(idx[sl]), len(idx[cols])), self.dtype)
        if k > 0:
            np.divide(self._inv[:, sl, None] == self._inv[:, None, cols],
                      self._norm[:, None, cols], out=out[:k])
        if k < self.d:
            t = out[k:]
            np.subtract(self._xf[:, sl, None], self._xf[:, None, cols], out=t)
            np.multiply(t, t, out=t)
            if self.dtype == np.float64:
                # keep the float64 Gram bit-identical to the reference
                # form (division, not multiply-by-reciprocal)
                np.divide(t, -2.0 * self.bandwidth * self.bandwidth, out=t)
            else:
                np.multiply(t, self._inv_scale, out=t)
            np.exp(t, out=t)
        return out


def batch_sufficient_stats(
    x: np.ndarray,
    y: np.ndarray,
    x_kind: KernelKind,
    y_kind: KernelKind,
    x_bandwidth: float = 1.0,
    y_bandwidth: Optional[float] = None,
    cat_split: int = 0,
    row_chunk: int = 64,
    col_chunk: int = 64,
    dtype=np.float64,
) -> Tuple[np.ndarray, np.ndarray]:
    """Per-minibatch ``(Phi^T Phi, Phi^T psi)`` without materializing Phi.

    ``Phi`` is the ``(n*n, d)`` centered-Gram feature map of ``x`` and
    ``psi`` the ``(n*n, 1)`` map of the joint y-Gram (reference
    ``select.py:443-455``); LARS touches them only through
    ``X^T X = sum_b Phi_b^T Phi_b`` and ``X^T y = sum_b Phi_b^T psi_b``
    (reference ``lar/lar.py:21-22``), which are associative sums of these
    per-minibatch blocks — the whole reason HSIC-Lasso distributes.

    ``Phi^T Phi [f, g]`` is the Frobenius product of the centred Grams
    ``H K_f H`` and ``H K_g H``.  Every Gram here is symmetric (normalized
    delta too: equal codes share one class count), so
    ``<HAH, HBH> = <A, B> - (2/n) (A1).(B1) + (1'A1)(1'B1) / n^2`` and
    one pass over the upper-triangular (row_chunk x col_chunk) TILES of
    the Gram tensor, each entry built once, gives all of it: diagonal
    row-block tiles count once, tiles right of them twice, and row sums
    come from ``t @ 1`` (plus ``1 @ t`` into the column block off the
    diagonal).  Each Gram is first shifted by ``c_f``, the mean of its
    first tile: ``H (K - c 11') H = H K H`` exactly, and the smaller raw
    sums keep the correction's cancellation at ~1e-15 relative.  The
    one ``(n, n)`` y-Gram is centred once, so ``xty[f] = <K_f, H L H>``.

    Per-task memory is ``O(d * row_chunk * col_chunk + n^2)``; a 64 x 64
    tile is 1.25 MiB at d=40 in float64, inside a 2 MiB per-core L2.

    Returns ``(xtx (d, d), xty (d,))``.  Note ``xty[f] = n^2 *
    HSIC_b(feature f, y)`` — the HSIC scores of the north star.

    ``dtype=np.float32`` builds the tiles in float32 (about 1.9x faster
    at b=1000, d=40); the accumulators stay float64 and per-feature HSIC
    scores agree with float64 to ~1e-6 relative, far inside the
    selection margins.  Default float64 builds the reference's Gram
    values, agrees with the explicit ``Phi`` to ~1e-15 relative, and is
    what every parity test and pinned oracle runs.
    """
    n, d = x.shape
    if y.ndim == 1:
        y = y[:, None]
    dy = y.shape[1]
    if y_bandwidth is None:
        y_bandwidth = float(np.sqrt(dy))

    dt = np.dtype(dtype)
    gx = _GramRows(x, x_bandwidth, x_kind, cat_split, dtype=dt)
    # y-Gram is (n, n) — one matrix, not d of them: centre it once
    ly = double_center(gram_joint(y, y_bandwidth, y_kind)).astype(
        dt, copy=False)

    raw = np.zeros((d, d), dtype=np.float64)      # sum of w <A_f, A_g>
    rsum = np.zeros((d, n), dtype=np.float64)     # A_f 1
    xty = np.zeros(d, dtype=np.float64)
    ones = np.ones(max(row_chunk, col_chunk), dtype=dt)
    shift = None
    for start in range(0, n, row_chunk):
        sl = slice(start, start + row_chunk)
        # the diagonal tile counts once, the tiles right of it twice
        for cs in [sl] + [slice(c, c + col_chunk) for c in
                          range(start + row_chunk, n, col_chunk)]:
            t = gx.rows(sl, cs)                                 # (d,rc,cc)
            if shift is None:
                shift = np.mean(t, axis=(1, 2), dtype=dt)[:, None, None]
            t -= shift
            flat, w = t.reshape(d, -1), 1.0 if cs is sl else 2.0
            raw += w * (flat @ flat.T)
            xty += w * (flat @ ly[sl, cs].ravel())
            # BLAS products with ones: ~3x faster than short-axis sums
            rsum[:, sl] += t @ ones[: t.shape[2]]
            if cs is not sl:
                rsum[:, cs] += ones[: t.shape[1]] @ t
    # <HAH, HBH> = <A, B> - (2/n) (A1).(B1) + (1'A1)(1'B1) / n^2
    tot = rsum.sum(axis=1)
    xtx = raw - (2.0 / n) * (rsum @ rsum.T) + np.outer(tot, tot) / (n * n)
    return xtx, xty
