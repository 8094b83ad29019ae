"""Greedy HSIC forward selection (reference ``hisel/hsic.py``).

The algorithm scores permutohedron-sampled orderings of the active
feature set by the HSIC of each prefix with the target (incremental
prefix Grams) and greedily accepts the best prefix per round.

Scale posture: the statistic is built on n x n Gram matrices, so it is
O(n^2) memory *by construction* — the reference runs it in one process
on the full sample, and so does any faithful implementation.  The
engine therefore (a) bounds the sample (``sample_cap``, seeded
deterministic sample) and (b) distributes the *permutation tries* —
the embarrassingly parallel axis the reference hands to joblib
(``hsic.py:92-97``) — across Spark tasks via ``applyInPandas`` over a
permutations DataFrame, with the sample and the centered y-Gram shipped
once per executor as a broadcast variable.
"""
from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from . import permutohedron
from .kernels import (KernelKind, double_center, gram_joint, prefix_grams)


def hsic_statistic(x: np.ndarray, y: np.ndarray,
                   x_kind: Optional[KernelKind] = None,
                   y_kind: Optional[KernelKind] = None) -> float:
    """Biased HSIC_b estimator ``trace(K . Lc) / n^2`` with joint Grams
    and bandwidths ``sqrt(dx)`` / ``sqrt(dy)`` (reference
    ``hisic.py:9-41`` — note only the y-Gram is centered there, which is
    sufficient since centering is idempotent inside the trace)."""
    x = np.atleast_2d(x.T).T
    y = np.atleast_2d(y.T).T
    n, dx = x.shape
    dy = y.shape[1]
    x_kind = x_kind or (KernelKind.DELTA if np.issubdtype(x.dtype, np.integer)
                        else KernelKind.RBF)
    y_kind = y_kind or (KernelKind.DELTA if np.issubdtype(y.dtype, np.integer)
                        else KernelKind.RBF)
    k = gram_joint(x, float(np.sqrt(dx)), x_kind)
    lc = double_center(gram_joint(y, float(np.sqrt(dy)), y_kind))
    return float(np.trace(k @ lc) / (n * n))


def score_permutation(x: np.ndarray, lc: np.ndarray, kind: KernelKind,
                      selection: np.ndarray) -> Tuple[float, np.ndarray]:
    """Best prefix of one feature ordering: build incremental prefix
    Grams of ``x[:, selection]`` and take the prefix maximizing
    ``trace(G_k . Lc)`` (reference ``hsic.py:120-133``)."""
    grams = prefix_grams(x[:, selection], kind)
    scores = np.einsum("kij,ji->k", grams, lc)
    best = int(np.argmax(scores))
    return float(scores[best]), selection[: best + 1]


def _search_inputs(x: np.ndarray, y: np.ndarray
                   ) -> Tuple[np.ndarray, np.ndarray, KernelKind]:
    """``(x, centered y-Gram, x kernel)`` of a collected sample: an
    all-integer block takes the delta kernel (as int64), any other the
    RBF."""
    def kind_of(m: np.ndarray) -> Tuple[np.ndarray, KernelKind]:
        if np.all(m == np.round(m)):
            return m.astype(np.int64), KernelKind.DELTA
        return m, KernelKind.RBF
    x, kind = kind_of(x)
    y, y_kind = kind_of(y)
    lc = double_center(gram_joint(y, float(np.sqrt(y.shape[1])), y_kind))
    return x, lc, kind


def sample_matrix(df: DataFrame, cols: Sequence[str], sample_cap: int,
                  seed: int = 0) -> np.ndarray:
    """Deterministic bounded sample collected to the driver: rows ranked
    by a seeded 64-bit content hash, top ``sample_cap`` taken.  The
    ``orderBy(...).limit(n)`` pair compiles to TakeOrderedAndProject
    (per-partition top-k merged on the driver, no global sort), and the
    hash order is independent of partition layout — the same rows are
    chosen on any cluster size, unlike ``sample().limit()``."""
    proj = df.select(*cols)
    ranked = proj.orderBy(F.xxhash64(F.lit(seed), *cols).asc(), *cols)
    pdf = ranked.limit(sample_cap).toPandas()
    return pdf.to_numpy()


def hsic_search(
    df: DataFrame,
    feature_cols: Sequence[str],
    target_cols: Sequence[str],
    num_permutations: Optional[int] = None,
    im_ratio: float = 0.1,
    max_iter: int = 3,
    sample_cap: int = 2000,
    random_state: Optional[int] = None,
) -> List[str]:
    """Greedy HSIC selection over a Spark DataFrame; returns selected
    feature names in acceptance order.  Control flow mirrors the
    reference (``hsic.py:44-117``); permutation tries run as Spark
    tasks."""
    spark = df.sparkSession
    feature_cols = list(feature_cols)
    dx = len(feature_cols)
    mat = sample_matrix(df, [*feature_cols, *target_cols],
                        sample_cap, seed=random_state or 0)
    x, lc, kind = _search_inputs(mat[:, :dx], mat[:, dx:])

    if num_permutations is None:
        num_permutations = 3 * dx

    bc = spark.sparkContext.broadcast((x, lc, kind))
    try_schema = T.StructType([
        T.StructField("im", T.DoubleType()),
        T.StructField("sel", T.ArrayType(T.LongType())),
    ])

    def run_tries(permutations: List[np.ndarray]) -> List[Tuple[float, np.ndarray]]:
        perm_pdf = pd.DataFrame({
            "try_id": range(len(permutations)),
            "perm": [p.tolist() for p in permutations],
        })
        pdf = spark.createDataFrame(perm_pdf).repartition(
            min(len(permutations), 64), "try_id")

        def one(g: pd.DataFrame) -> pd.DataFrame:
            bx, blc, bkind = bc.value
            sel = np.asarray(g["perm"].iloc[0], dtype=np.int64)
            im, chosen = score_permutation(bx, blc, bkind, sel)
            return pd.DataFrame({"im": [im], "sel": [chosen.tolist()]})

        rows = (pdf.groupBy("try_id").applyInPandas(one, try_schema)
                .collect())
        return [(r["im"], np.asarray(r["sel"], dtype=np.int64))
                for r in rows]

    chosen, _ = permutohedron.greedy_search(
        dx, run_tries, num_permutations, im_ratio, max_iter,
        random_state, stop_at=1)
    bc.unpersist()
    return [feature_cols[i] for i in chosen]
