"""Mutual-information preselection (distributed stand-in for the
reference's ``ksgmi``, ``/root/reference/hisel/select.py:45-75``).

The reference calls sklearn's ``mutual_info_{classif,regression}``
(KSG k-NN estimator) per feature, normalizes by the max MI, and keeps
features with normalized MI above a threshold — a cheap pre-filter that
shrinks ``d`` before the expensive Gram stage.  sklearn is unavailable
here and a k-NN estimator is the wrong shape for Spark anyway, so this
module estimates MI with the classic **equal-frequency histogram
plug-in estimator**: quantile-bin every continuous column (discrete
columns keep their codes), count the joint (feature_bin, target_bin)
contingency in ONE aggregation for all features, and compute MI from
the counts on the driver (d x bins^2 numbers — tiny).

Scale shape: one pass to get approximate quantiles, one shuffle of
(feature_idx, xbin, ybin) counts — both map-side combined.  No UDFs.
"""
from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from .stats import mutual_info_from_table


def _bin_expr(df: DataFrame, col: str, edges: List[float]):
    """Column expression assigning ``col`` to its histogram bin id via
    chained whens over the interior edges (built-ins only)."""
    expr = F.lit(len(edges))
    for i in range(len(edges) - 1, -1, -1):
        expr = F.when(F.col(col) <= F.lit(edges[i]), F.lit(i)).otherwise(expr)
    return expr.cast("int")


def _quantile_edges(df: DataFrame, cols: Sequence[str],
                    n_bins: int, exact: bool = False) -> Dict[str, List[float]]:
    probs = [i / n_bins for i in range(1, n_bins)]
    if exact:
        # exact interpolated percentiles: deterministic across partition
        # layouts (approxQuantile's GK-sketch merge is not), at the cost
        # of an exact percentile aggregate — fine up to moderate n
        row = df.agg(*[
            F.expr(f"percentile({c}, {p})").alias(f"{c}__{i}")
            for c in cols for i, p in enumerate(probs)
        ]).collect()[0].asDict()
        qs = [[float(row[f"{c}__{i}"]) for i in range(len(probs))]
              for c in cols]
    else:
        qs = df.approxQuantile(list(cols), probs, 0.001)
    out = {}
    for c, edges in zip(cols, qs):
        uniq = sorted(set(edges))
        out[c] = uniq
    return out


def mutual_info(
    df: DataFrame,
    feature_cols: Sequence[str],
    target_col: str,
    n_bins: int = 10,
    discrete_features: Sequence[str] = (),
    discrete_target: bool = False,
    exact_edges: bool = False,
) -> pd.Series:
    """Histogram MI (nats) of each feature with the target, all features
    in one aggregation pass."""
    cont_feats = [c for c in feature_cols if c not in set(discrete_features)]
    to_edge = list(cont_feats) + ([] if discrete_target else [target_col])
    edges = (_quantile_edges(df, to_edge, n_bins, exact=exact_edges)
             if to_edge else {})

    ybin = (F.col(target_col).cast("long") if discrete_target
            else _bin_expr(df, target_col, edges[target_col]))
    fbins = [
        (F.col(c).cast("long") if c in set(discrete_features)
         else _bin_expr(df, c, edges[c]))
        for c in feature_cols
    ]
    # melt: one (feature_idx, xbin) struct per feature per row, exploded
    # then counted — a single shuffle keyed on small ints, map-side
    # combined by the partial aggregation.
    pairs = F.array(*[
        F.struct(F.lit(i).alias("fi"), b.alias("xb"))
        for i, b in enumerate(fbins)
    ])
    counts = (df.select(F.explode(pairs).alias("p"), ybin.alias("yb"))
                .groupBy("p.fi", "p.xb", "yb")
                .count()
                .toPandas())
    mis = mi_from_count_frame(counts, len(feature_cols))
    return pd.Series(mis, index=list(feature_cols))


def mi_from_count_frame(counts: pd.DataFrame, n_features: int) -> np.ndarray:
    """Histogram-MI per feature from a ``(fi, xb, yb, count)`` frame —
    the driver-side arithmetic shared by :func:`mutual_info` and the
    no-Spark verification twin (``hiselspark/twin.py``): pivoting
    sorts bins, so the float fold order is a pure function of the
    counts, not of shuffle arrival order."""
    mis = np.zeros(n_features)
    for fi, g in counts.groupby("fi"):
        table = g.pivot_table(index="xb", columns="yb", values="count",
                              aggfunc="sum", fill_value=0).to_numpy()
        mis[int(fi)] = mutual_info_from_table(table)
    return mis


def _psi_int(n: np.ndarray) -> np.ndarray:
    """Digamma at positive integer arguments: psi(n) = -gamma +
    H_{n-1}.  The KSG estimators only ever evaluate psi at integers, so
    a harmonic-number table replaces scipy.special.digamma exactly."""
    n = np.asarray(n, dtype=np.int64)
    h = np.concatenate(([0.0], np.cumsum(1.0 / np.arange(1, n.max() + 1))))
    return -np.euler_gamma + h[n - 1]


def ksg_mi(x: np.ndarray, y: np.ndarray, k: int = 3,
           discrete_target: bool = False) -> float:
    """Exact KSG k-NN mutual information of a scalar feature with the
    target — the estimator family the reference's ``ksgmi`` calls via
    sklearn (``/root/reference/hisel/select.py:45-75`` →
    ``mutual_info_regression``/``_classif``).  Driver-side NumPy on a
    bounded sample (O(n^2) distances): the cross-check oracle for the
    distributed histogram estimator, not the scale path.

    Continuous target: Kraskov/Stögbauer/Grassberger estimator (1),
    max-norm.  Discrete target: the Ross (2014) variant sklearn's
    ``mutual_info_classif`` implements.  Returns nats, clipped at 0.
    """
    x = np.asarray(x, dtype=np.float64).ravel()
    n = len(x)
    if n < k + 2:
        return 0.0
    # tiny deterministic jitter breaks distance ties (sklearn adds
    # random noise; deterministic here so tests reproduce)
    x = x + 1e-10 * np.std(x) * np.sin(np.arange(n) * 12.9898)
    if discrete_target:
        y = np.asarray(y).ravel()
        labels, counts = np.unique(y, return_counts=True)
        if len(labels) < 2:
            return 0.0
        # singleton classes carry no neighborhood information — drop
        # them entirely (sklearn's _compute_mi_cd does the same)
        keep_mask = np.isin(y, labels[counts > 1])
        x = x[keep_mask]
        y = y[keep_mask]
        n = len(x)
        if n < 3:
            return 0.0
        labels, counts = np.unique(y, return_counts=True)
        m = np.empty(n)
        nc = np.empty(n, dtype=np.int64)
        kk_all = np.empty(n, dtype=np.int64)
        dx = np.abs(x[:, None] - x[None, :])
        for c, cnt in zip(labels, counts):
            idx = np.flatnonzero(y == c)
            kk = min(k, cnt - 1)
            dc = dx[np.ix_(idx, idx)]
            # row includes the self-distance 0, so the kk-th order
            # statistic is the kk-th neighbor excluding self
            eps = np.partition(dc, kk, axis=1)[:, kk]
            # strict radius, count INCLUDES the point itself — the
            # sklearn convention (query_radius after nextafter shrink)
            m[idx] = (dx[idx] < eps[:, None]).sum(axis=1)
            nc[idx] = cnt
            kk_all[idx] = kk
        mi = (float(_psi_int(np.array([n]))[0])
              - float(np.mean(_psi_int(nc)))
              + float(np.mean(_psi_int(kk_all)))
              - float(np.mean(_psi_int(m.astype(np.int64)))))
        return max(mi, 0.0)
    yv = np.asarray(y, dtype=np.float64).ravel()
    yv = yv + 1e-10 * np.std(yv) * np.sin(np.arange(n) * 78.233)
    dx = np.abs(x[:, None] - x[None, :])
    dy = np.abs(yv[:, None] - yv[None, :])
    dz = np.maximum(dx, dy)
    np.fill_diagonal(dz, np.inf)
    eps = np.partition(dz, k - 1, axis=1)[:, k - 1]
    nx = (dx < eps[:, None]).sum(axis=1) - 1
    ny = (dy < eps[:, None]).sum(axis=1) - 1
    mi = (float(_psi_int(np.array([k]))[0])
          + float(_psi_int(np.array([n]))[0])
          - float(np.mean(_psi_int(nx + 1) + _psi_int(ny + 1))))
    return max(mi, 0.0)


def ksg_mutual_info_sampled(
    df: DataFrame,
    feature_cols: Sequence[str],
    target_col: str,
    k: int = 3,
    discrete_target: bool = False,
    sample_cap: int = 2048,
    seed: int = 0,
) -> pd.Series:
    """KSG MI per feature on a deterministic hash-ordered sample
    collected to the driver (TakeOrderedAndProject, no global sort) —
    the reference-estimator cross-check for :func:`mutual_info`."""
    cols = [*feature_cols, target_col]
    ranked = (df.select(*cols)
                .orderBy(F.xxhash64(F.lit(seed), *cols), *cols)
                .limit(sample_cap)
                .toPandas())
    y = ranked[target_col].to_numpy()
    return pd.Series(
        [ksg_mi(ranked[c].to_numpy(), y, k=k,
                discrete_target=discrete_target) for c in feature_cols],
        index=list(feature_cols))


def mi_preselect(
    df: DataFrame,
    feature_cols: Sequence[str],
    target_cols: Sequence[str],
    threshold: float = 0.01,
    n_bins: int = 10,
    discrete_features: Sequence[str] = (),
    discrete_target: bool = False,
    exact_edges: bool = False,
    estimator: str = "histogram",
) -> Tuple[List[str], pd.Series]:
    """Reference ``ksgmi`` semantics: per target column compute per-
    feature MI, normalize by the max across features, keep features with
    normalized MI > threshold; union over target columns.  Returns
    (preselected feature names in input order, raw MI of the last
    target).

    ``estimator='histogram'`` (default) is the distributed scale path;
    ``'ksg'`` runs the reference's own KSG k-NN estimator on a bounded
    deterministic sample — use it to reconcile thresholds with the
    reference (the two estimators agree on rankings of planted
    dependence, see tests/test_search.py, but their absolute values
    differ: histogram MI is binned and biased down, KSG is k-NN-based)."""
    keep: set = set()
    mis = None
    for t in target_cols:
        if estimator == "ksg":
            mis = ksg_mutual_info_sampled(df, feature_cols, t,
                                          discrete_target=discrete_target)
        else:
            mis = mutual_info(df, feature_cols, t, n_bins,
                              discrete_features, discrete_target,
                              exact_edges=exact_edges)
        mx = float(mis.max())
        if mx <= 0:
            continue
        norm = mis / mx
        keep.update(norm[norm > threshold].index)
    return [c for c in feature_cols if c in keep], mis
