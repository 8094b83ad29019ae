"""Information-theoretic statistics used by the categorical search.

Implements adjusted mutual information (AMI) from first principles
(sklearn is not available in this sandbox): MI from the contingency
table, exact expected MI under the permutation (hypergeometric) model
via log-gamma (Vinh, Epps & Bailey 2010, "Information Theoretic
Measures for Clusterings Comparison"), and the arithmetic-mean
normalization that matches sklearn's default ``average_method``.

Also the quantile discretiser the reference applies to continuous
targets before categorical search (``hisel/categorical.py:13-38``).
"""
from __future__ import annotations

from math import lgamma

import numpy as np


def contingency(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Dense contingency table of two integer label vectors."""
    _, ai = np.unique(a, return_inverse=True)
    _, bi = np.unique(b, return_inverse=True)
    r, c = ai.max() + 1, bi.max() + 1
    table = np.zeros((r, c), dtype=np.int64)
    np.add.at(table, (ai, bi), 1)
    return table


def mutual_info_from_table(table: np.ndarray) -> float:
    n = table.sum()
    if n == 0:
        return 0.0
    nz = table > 0
    pij = table[nz] / n
    outer = (table.sum(axis=1)[:, None] * table.sum(axis=0)[None, :])[nz]
    return float(np.sum(pij * (np.log(table[nz] * n) - np.log(outer))))


def entropy_of_counts(counts: np.ndarray) -> float:
    n = counts.sum()
    p = counts[counts > 0] / n
    return float(-np.sum(p * np.log(p)))


def expected_mutual_info(row_sums: np.ndarray, col_sums: np.ndarray,
                         n: int) -> float:
    """Exact EMI under the hypergeometric model: every (row, column,
    n_ij) term of the support in one vectorized pass over a
    log-factorial table ``lgamma(k + 1)``, ``k = 0..n``.  The support
    has at most ``n * min(r, c)`` terms, one float each.  Terms are
    summed per (row, column) pair, then the pairs in row-major order:
    ``mi - emi`` cancels for small AMI, so another order would move
    such AMIs by up to ~1e-9 relative."""
    n = int(n)
    lgf = np.array([lgamma(k + 1) for k in range(n + 1)])
    a, b = (v.ravel() for v in np.broadcast_arrays(
        np.asarray(row_sums, dtype=np.int64)[:, None],
        np.asarray(col_sums, dtype=np.int64)[None, :]))
    lo = np.maximum(a + b - n, 1)
    size = np.maximum(np.minimum(a, b) - lo + 1, 0)
    pair = np.repeat(np.arange(len(a)), size)
    start = np.cumsum(size) - size
    nij = lo[pair] + np.arange(int(size.sum())) - start[pair]
    a, b = a[pair], b[pair]
    term_mi = (nij / n) * (np.log(nij) + np.log(n) - np.log(a) - np.log(b))
    lg = (lgf[a] + lgf[b] + lgf[n - a] + lgf[n - b] - lgf[n]
          - lgf[nij] - lgf[a - nij] - lgf[b - nij] - lgf[n - a - b + nij])
    per_pair = np.add.reduceat(term_mi * np.exp(lg), start[size > 0])
    return float(np.cumsum(per_pair)[-1]) if per_pair.size else 0.0


def ami_from_table(table: np.ndarray) -> float:
    """AMI of a contingency table with arithmetic normalization; 1.0
    for a single cell (two trivial single-cluster labelings)."""
    n = int(table.sum())
    r, c = table.shape
    if (r == 1 and c == 1) or n == 0:
        return 1.0
    row_sums = table.sum(axis=1)
    col_sums = table.sum(axis=0)
    mi = mutual_info_from_table(table)
    emi = expected_mutual_info(row_sums, col_sums, n)
    h = 0.5 * (entropy_of_counts(row_sums) + entropy_of_counts(col_sums))
    denom = h - emi
    if denom < 0:
        denom = min(denom, -np.finfo(float).eps)
    else:
        denom = max(denom, np.finfo(float).eps)
    return float((mi - emi) / denom)


def adjusted_mutual_info(a: np.ndarray, b: np.ndarray) -> float:
    """AMI(a, b) with arithmetic normalization; 1.0 for two trivial
    single-cluster labelings, 0-centered under independence (matches
    sklearn's ``adjusted_mutual_info_score`` semantics)."""
    return ami_from_table(contingency(np.asarray(a).ravel(),
                                      np.asarray(b).ravel()))


def quantile_discretise(y: np.ndarray, num_quantiles: int = 10) -> np.ndarray:
    """Bin continuous values into at most ``num_quantiles`` integer
    levels by interior quantiles, replicating the reference's procedure
    (``categorical.py:13-38``): thresholds are the strictly-increasing
    interior quantiles; each exceeded threshold increments the level."""
    y = np.asarray(y)
    qs = np.linspace(1.0 / num_quantiles, 1 - 1.0 / num_quantiles,
                     num=num_quantiles)

    def one(col: np.ndarray) -> np.ndarray:
        out = np.zeros(col.shape, dtype=np.int64)
        threshold = np.min(col)
        for q in qs:
            quant = np.quantile(col, q)
            if quant > threshold:
                threshold = quant
                out += (col > threshold).astype(np.int64)
        return out

    if y.ndim == 2:
        res = np.zeros(y.shape, dtype=np.int64)
        for j in range(y.shape[1]):
            res[:, j] = one(y[:, j])
        return res
    return one(y)


def prefix_encode(x: np.ndarray) -> np.ndarray:
    """Cumulative mixed-radix encoding: column i jointly encodes
    features 0..i (reference ``categorical.py:202-210``) — column-wise
    ``cumsum(cumprod(cardinality_prev) * x)``."""
    cards = 1 + np.max(x, axis=0, keepdims=True)
    place = np.roll(cards, 1, axis=1)
    place[0, 0] = 1
    place = np.cumprod(place, axis=1)
    return np.cumsum(place * x, axis=1)
