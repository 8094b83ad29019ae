"""Distributed HSIC-Lasso feature selection on Spark DataFrames.

The reference pipeline (``/root/reference/hisel/select.py:138-189,410-461``)
is: standardize → shuffle → split into outer batches → split each outer
batch into minibatches → per minibatch build centered-Gram feature maps
Phi (n*n, d) / psi (n*n, 1) → stack → non-negative LARS → average
selections over outer batches.

Spark-first re-expression (SURVEY.md §4.3): LARS touches the stacked
feature map only through ``X^T X`` and ``X^T y``, which are associative
sums of per-minibatch (d, d)/(d,) blocks.  So executors compute
per-minibatch sufficient statistics inside Arrow-batched pandas UDFs,
the driver sums the (d*d+d)-length blocks in minibatch-key order, and
runs LARS on the d x d result.  The feature map — ~1e12 * b rows at
production scale — never exists.  Both selector modes and
``select_features_by_segment`` share that reduce (``_block_sums``);
each route only keys the rows and prepares a minibatch's ``(x, y)``.

Standardization is split in two: one narrow Spark aggregate over the
stacked ``(position, value)`` rows gives each continuous column's
centre and scale (``_moments``), and each minibatch UDF applies ``(x -
centre) / scale`` to its own rows in NumPy.  Both keep their plan size
fixed at any column count, so the aggregate stays in whole-stage codegen
and the shuffle moves the raw columns.

Two batching modes:

* ``mode="hash"`` (default) — the production route: each row goes to
  minibatch ``pmod(xxhash64(seed, [epoch], raw input values), num_mb)``,
  one shuffle of the narrow numeric frame groups the minibatches, and
  the driver sums their blocks in key order.  Batch membership and fold
  order do not depend on the partition layout.
* ``mode="parity"`` — replicates the reference's row-order-dependent
  batch assignment exactly (outer batches then minibatches by row
  position, remainder dropped, optional seeded epoch shuffles) so
  selected indices / HSIC scores / lasso paths are allclose to the
  reference.  Uses a global row index — fine at test scale, not the
  production path.
"""
from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from . import lar
from .kernels import KernelKind, batch_sufficient_stats

_DISCRETE_SPARK_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                         T.BooleanType)
_CONTINUOUS_SPARK_TYPES = (T.FloatType, T.DoubleType)


def _classify_columns(df: DataFrame, cols: Sequence[str]) -> Dict[str, str]:
    """Map column name -> 'discrete' | 'continuous' from the Spark schema
    (mirrors dtype routing at reference ``feature_selection.py:48-59``)."""
    out = {}
    schema = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        dt = schema[c]
        if isinstance(dt, _DISCRETE_SPARK_TYPES):
            out[c] = "discrete"
        elif isinstance(dt, _CONTINUOUS_SPARK_TYPES):
            out[c] = "continuous"
        else:
            raise TypeError(f"column {c}: unsupported feature type {dt}")
    return out


def stack_columns(df: DataFrame, cols: Sequence[str],
                  cast: str) -> DataFrame:
    """``cols`` as ``(__pos, __v)`` rows: an aggregate grouped by the
    column index ``__pos`` has a fixed number of expressions at any
    column count, so it stays inside whole-stage codegen."""
    return df.select(F.posexplode(F.array(
        *[F.col(c).cast(cast) for c in cols])).alias("__pos", "__v"))


def _kernel_routing(df: DataFrame, feature_cols: Sequence[str],
                    target_cols: Sequence[str]
                    ) -> Tuple[List[str], int, KernelKind, KernelKind]:
    """``(features with categorical columns first, cat_split, x_kind,
    y_kind)`` from the Spark schema — the reference's ``catcont_split``
    convention (``select.py:365-371``)."""
    kinds = _classify_columns(df, feature_cols)
    cat = [c for c in feature_cols if kinds[c] == "discrete"]
    cont = [c for c in feature_cols if kinds[c] == "continuous"]
    if not cat:
        x_kind = KernelKind.RBF
    elif not cont:
        x_kind = KernelKind.DELTA
    else:
        x_kind = KernelKind.MIXED
    y_kinds = set(_classify_columns(df, target_cols).values())
    if len(y_kinds) > 1:
        raise TypeError("target columns must share one type family")
    y_kind = (KernelKind.DELTA if y_kinds == {"discrete"}
              else KernelKind.RBF)
    return cat + cont, len(cat), x_kind, y_kind


@dataclass
class SelectionResult:
    """Outcome of a distributed HSIC-Lasso run."""
    features: List[str]                 # selected, strongest first
    ordered_features: List[str]         # all features, final-beta order
    hsic_scores: pd.Series              # X^T y summed over minibatches
    lasso_path: pd.DataFrame            # step x feature betas (batch-avg)
    reg_curve: np.ndarray               # cumsum of sorted final betas
    projection: np.ndarray              # (k, d) averaged 0/1 indicators
    n_rows_used: int
    n_minibatches: int
    stats: List[Tuple[np.ndarray, np.ndarray]] = field(repr=False,
                                                       default_factory=list)


# ---------------------------------------------------------------------------
# sufficient-statistics stage
# ---------------------------------------------------------------------------

_BLOCK_SCHEMA = ("outer long, mb long, xtx array<double>, "
                 "xty array<double>, n_rows long")


def _block_sums(df: DataFrame, keys: Sequence, prepare: Callable, kw: dict,
                d: int) -> Dict[int, Tuple[np.ndarray, np.ndarray, int, int]]:
    """``{outer: (X^T X, X^T y, rows, minibatches)}``, the reduce every
    route shares.  ``df`` is grouped by ``keys`` (outer then minibatch
    key, or the minibatch key alone for one outer batch 0); one
    ``applyInPandas`` turns each group into ``prepare(pdf) -> (x, y)``
    — ``None`` drops it — and one ``batch_sufficient_stats`` block.
    The driver sums each outer batch's blocks in minibatch-key order,
    so the fold order is fixed at any layout.  It holds one row of
    ``d*d + d`` doubles per block — about 25 MB at the 2M-image scaling
    corpus; past ``spark.driver.maxResultSize`` the collect fails with
    an error instead of truncating."""

    def block(key: Tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
        xy = prepare(pdf)
        if xy is None:
            return pd.DataFrame()
        bx, by = batch_sufficient_stats(*xy, **kw)
        return pd.DataFrame({
            "outer": [key[0] if len(key) > 1 else 0], "mb": [key[-1]],
            "xtx": [bx.ravel().tolist()], "xty": [by.ravel().tolist()],
            "n_rows": [len(xy[0])]})

    blocks = (df.groupBy(*keys).applyInPandas(block, _BLOCK_SCHEMA)
                .toPandas().sort_values(["outer", "mb"]))
    return {int(outer): (
        np.sum(np.stack(g["xtx"].map(np.asarray)), axis=0).reshape(d, d),
        np.sum(np.stack(g["xty"].map(np.asarray)), axis=0),
        int(g["n_rows"].sum()), len(g))
        for outer, g in blocks.groupby("outer", sort=True)}


def _stats_kwargs(x_kind: KernelKind, y_kind: KernelKind, cat_split: int,
                  dy: int, precision: str = "float64") -> dict:
    return dict(
        x_kind=x_kind,
        y_kind=y_kind,
        x_bandwidth=1.0,                      # reference select.py:432
        y_bandwidth=float(np.sqrt(dy)),       # reference select.py:433
        cat_split=cat_split,
        dtype=np.float32 if precision == "float32" else np.float64,
    )


def _standardizer(moments: Dict[str, Tuple[float, float]]):
    """``pdf -> pdf`` with each moments column replaced by ``(x -
    centre) / scale`` in float64 — the same IEEE operations as a Spark
    projection, run inside the minibatch UDF."""
    cols = list(moments)
    centre = np.array([m[0] for m in moments.values()])
    scale = np.array([m[1] for m in moments.values()])

    def standardize(pdf: pd.DataFrame) -> pd.DataFrame:
        z = (pdf[cols].to_numpy(dtype=np.float64) - centre) / scale
        return pdf.assign(**dict(zip(cols, z.T)))

    return standardize


# ---------------------------------------------------------------------------
# driver-side assembly (parity with reference select.py helpers)
# ---------------------------------------------------------------------------

def _indicator_projection(active: List[int], d: int, k: int) -> np.ndarray:
    """0/1 projection matrix of a selection (reference select.py:392-397)."""
    p = np.zeros((k, d))
    for row, j in enumerate(active[:k]):
        p[row, j] = 1.0
    return p


def _ranking_from_projection(p: np.ndarray) -> List[int]:
    """Feature ranking by column mass (reference select.py:400-407)."""
    k, d = p.shape
    order = np.argsort(np.sum(np.abs(p), axis=0))[::-1]
    return list(order[:k])


def _average_paths(paths: List[np.ndarray]) -> np.ndarray:
    """Right-pad each lasso path with its last row to the max length,
    then average (reference select.py:121-136)."""
    if not paths:
        return np.zeros((0, 0))
    maxlen = max(p.shape[0] for p in paths)
    padded = []
    for p in paths:
        if p.shape[0] == 0:
            p = np.zeros((1, paths[0].shape[1]))
        pad = np.vstack([p, np.repeat(p[-1:, :], maxlen - p.shape[0], axis=0)])
        padded.append(pad)
    return np.mean(np.stack(padded), axis=0)


def select_from_lasso_path(lasso_path: pd.DataFrame,
                           threshold: float = 0.01) -> List[str]:
    """Threshold cut on normalized increments of the regularization
    curve (reference select.py:255-270)."""
    final = lasso_path.iloc[-1, :]
    curve = np.cumsum(np.sort(final.values)[::-1])
    ordered = sorted(lasso_path.columns, key=lambda c: final[c], reverse=True)
    increments = np.diff(curve, prepend=0.0)
    increments = increments / increments[0]
    keep = int(np.sum(increments > threshold))
    return ordered[:keep]


# ---------------------------------------------------------------------------
# the selector
# ---------------------------------------------------------------------------

class SparkHSICSelector:
    """HSIC-Lasso feature selection over a Spark DataFrame.

    Columns typed int/bool are treated as categorical (delta kernel),
    float/double as continuous (RBF kernel); mixed inputs are reordered
    so categorical columns come first, matching the reference's
    ``catcont_split`` convention (``select.py:365-371``).
    """

    def __init__(
        self,
        df: DataFrame,
        feature_cols: Sequence[str],
        target_cols: Sequence[str],
    ):
        (self.feature_cols, self.cat_split, self.x_kind,
         self.y_kind) = _kernel_routing(df, feature_cols, target_cols)
        self.target_cols = list(target_cols)
        self.df = df

    # -- preprocessing ----------------------------------------------------

    def _moments(self, df: DataFrame
                 ) -> Tuple[int, Dict[str, Tuple[float, float]]]:
        """The row count and each continuous column's ``(centre,
        scale)``.  The centre replicates the reference's quirk of
        subtracting the column SUM, not the mean (``select.py:379-383``)
        — kept for parity.  Discrete columns pass through.

        One narrow aggregate over the stacked ``(position, value)`` rows
        of the continuous features and the RBF target, grouped by
        position: its four aggregate expressions do not grow with the
        column count.  A wide aggregate with a ``sum`` and a
        ``stddev_pop`` per column has ``1 + 4c`` buffer fields; past
        ``spark.sql.codegen.maxFields`` (100, so from 25 columns on)
        Spark runs both of its ``HashAggregate`` nodes outside
        whole-stage codegen, through generated projections that cost
        more CPU than the HSIC kernel.  Each column's fold visits the
        same rows in the same order as in the wide aggregate, so the
        moments are the same bits.

        Raises ``ValueError`` on an empty input and names the
        continuous or RBF-target columns that hold nulls."""
        cols = self.feature_cols[self.cat_split:] + (
            self.target_cols if self.y_kind == KernelKind.RBF else [])
        if not cols:
            n, rows = df.count(), []
        else:
            stacked = stack_columns(df, cols, "double")
            rows = sorted(stacked.groupBy("__pos").agg(
                F.count(F.lit(1)).alias("n"),
                F.count("__v").alias("non_null"),
                F.sum("__v").alias("centre"),
                F.stddev_pop("__v").alias("scale")).collect(),
                key=lambda r: r["__pos"])
            n = rows[0]["n"] if rows else 0
        if n == 0:
            raise ValueError("hsic selection needs at least one row")
        nulls = [c for c, r in zip(cols, rows) if r["non_null"] < n]
        if nulls:
            raise ValueError(f"continuous feature or RBF target columns "
                             f"hold nulls: {nulls}")
        return n, {c: (r["centre"], 1e-9 + r["scale"])
                   for c, r in zip(cols, rows)}

    # -- sufficient stats -------------------------------------------------

    def sufficient_stats(
        self,
        minibatch_size: int = 250,
        mode: str = "hash",
        order_col: Optional[str] = None,
        batch_size: Optional[int] = None,
        epochs: int = 1,
        seed: int = 0,
        precision: str = "float64",
    ) -> List[Tuple[np.ndarray, np.ndarray, int, int]]:
        """Compute per-outer-batch ``(X^T X, X^T y, rows, minibatches)``.

        ``mode="hash"`` has a single outer batch.  In ``mode="parity"``
        outer batches replicate reference ``select.py:159-170``.

        ``precision='float32'`` (hash mode only) computes the Gram tiles
        in float32 with float64 accumulators; parity mode always runs
        float64 (bit-compatibility with the reference and the pinned
        oracles).

        The column-pruned input is persisted for the two passes over
        it (row count and standardization aggregate, then sufficient
        stats) — vital when the upstream plan is expensive (as-of
        join, image decode) — and unpersisted on return.  The second
        pass shuffles the raw columns; each minibatch UDF standardizes
        its rows with the moments of the first before it sorts them
        and builds the Grams."""
        if mode not in ("hash", "parity"):
            raise ValueError(f"mode must be 'hash' or 'parity', "
                             f"not {mode!r}")
        if mode == "parity" and order_col is None:
            raise ValueError("parity mode needs order_col")
        needed = list(dict.fromkeys(
            [*self.feature_cols, *self.target_cols]
            + ([order_col] if order_col else [])))
        base = self.df.select(*needed).persist()
        try:
            n, moments = self._moments(base)
            standardize = _standardizer(moments)
            if mode == "hash":
                keyed, keys, prepare = self._hash_minibatches(
                    base, n, standardize, minibatch_size, order_col,
                    epochs, seed)
            else:
                keyed, keys, prepare = self._parity_minibatches(
                    base, n, standardize, minibatch_size, order_col,
                    batch_size, epochs, seed)
                precision = "float64"
            sums = _block_sums(keyed, keys, prepare, _stats_kwargs(
                self.x_kind, self.y_kind, self.cat_split,
                len(self.target_cols), precision), len(self.feature_cols))
        finally:
            base.unpersist()
        if not sums:
            raise ValueError(f"no complete minibatch in {mode} mode")
        return list(sums.values())

    def _hash_minibatches(self, df, n, standardize, minibatch_size,
                          order_col, epochs, seed):
        """Deterministic *production* batching: every row is assigned to
        a minibatch by a seeded content hash (``pmod(xxhash64(...),
        num_mb)``) of ``order_col``, or else of the raw feature and
        target values — taken before standardization, whose Spark float
        sums vary in the last bit with the partitioning.  No global
        sort, no single-task stage, and the batch membership (hence the
        per-batch delta-kernel counts) is independent of partition
        layout.  One shuffle of the narrow numeric frame; a minibatch is
        standardized, then sorted by (hash, features), and adds no
        block below 2 rows.

        ``epochs > 1`` replicates each row into ``epochs`` copies whose
        hashes differ by epoch id, so every epoch lands in a different
        minibatch grouping — the hash-mode equivalent of the
        reference's shuffled-concatenation augmentation
        (``select.py:384-389``): more minibatch diversity per LARS run.
        The copies are made after the standardization aggregate, so the
        centres are those of the input rows."""
        fc, tc = list(self.feature_cols), list(self.target_cols)
        hash_cols = [order_col] if order_col else [*fc, *tc]
        b = max(8, minibatch_size)
        num_mb = max(1, (n * epochs) // b)
        if epochs > 1:
            df = df.withColumn(
                "__epoch",
                F.explode(F.sequence(F.lit(0), F.lit(epochs - 1))))
            h = F.xxhash64(F.lit(seed), F.col("__epoch"), *hash_cols)
        else:
            h = F.xxhash64(F.lit(seed), *hash_cols)
        df = (df.withColumn("__h", h)
                .withColumn("__mb", F.pmod("__h", F.lit(num_mb))))

        def prepare(pdf: pd.DataFrame):
            if len(pdf) < 2:
                return None
            pdf = standardize(pdf).sort_values(["__h"] + fc)
            return pdf[fc].to_numpy(), pdf[tc].to_numpy()

        return df, ["__mb"], prepare

    def _parity_minibatches(self, df, n, standardize, minibatch_size,
                            order_col, batch_size, epochs, seed):
        """Reference-exact batching: global row order → outer batches of
        ``batch_size`` rows (remainder dropped) → optional seeded epoch
        shuffles within each outer batch → minibatches of
        ``minibatch_size`` rows (remainder dropped).  Each minibatch is
        sorted by its position, then standardized."""
        from pyspark.sql import Window
        bs = min(n, batch_size or n)
        num_outer = n // bs
        w = Window.orderBy(order_col)
        idx = F.row_number().over(w) - 1
        df = (df.withColumn("__idx", idx)
                .filter(F.col("__idx") < num_outer * bs)
                .withColumn("__outer", (F.col("__idx") / bs).cast("long"))
                .withColumn("__pos", F.col("__idx") % bs))
        # epoch augmentation: each epoch is a seeded permutation of the
        # outer batch, stacked (reference select.py:384-389, seeded here
        # for determinism per SURVEY.md §5.2)
        spark = df.sparkSession
        if epochs > 1:
            rng = np.random.default_rng(seed)
            maps = []
            for outer in range(num_outer):
                for e in range(epochs):
                    # reference semantics (select.py:384-389): epoch
                    # copy slot j holds original row perm[j] — map
                    # position perm[j] -> epoch slot j (NOT the inverse;
                    # minibatch MEMBERSHIP depends on the direction)
                    perm = rng.permutation(bs)
                    maps.append(pd.DataFrame({
                        "__outer": outer, "__pos": perm,
                        "__epoch": e, "__epos": np.arange(bs)}))
            mapdf = spark.createDataFrame(pd.concat(maps))
            df = (df.join(F.broadcast(mapdf), ["__outer", "__pos"])
                    .withColumn("__spos",
                                F.col("__epoch") * bs + F.col("__epos")))
        else:
            df = df.withColumn("__spos", F.col("__pos"))
        rows_per_outer = bs * epochs
        b = min(rows_per_outer, minibatch_size)
        num_mb = rows_per_outer // b
        df = (df.filter(F.col("__spos") < num_mb * b)
                .withColumn("__mb", (F.col("__spos") / b).cast("long")))
        fc, tc = list(self.feature_cols), list(self.target_cols)

        def prepare(pdf: pd.DataFrame):
            pdf = standardize(pdf.sort_values("__spos"))
            return pdf[fc].to_numpy(), pdf[tc].to_numpy()

        return df, ["__outer", "__mb"], prepare

    # -- selection --------------------------------------------------------

    def run(
        self,
        number_of_features: Optional[int] = None,
        minibatch_size: int = 250,
        mode: str = "hash",
        order_col: Optional[str] = None,
        batch_size: Optional[int] = None,
        epochs: int = 1,
        seed: int = 0,
        threshold: float = 0.01,
        precision: str = "float64",
    ) -> SelectionResult:
        """Full selection.  With ``number_of_features`` set, performs the
        fixed-k ranking cut (reference ``HSICSelector.select``); without
        it, autoselects from the lasso path with ``threshold``
        (reference ``autoselect``/``select_from_lasso_path``)."""
        d = len(self.feature_cols)
        k = number_of_features if number_of_features else d - 1
        if k <= 0:
            raise ValueError("need at least 2 features")
        per_outer = self.sufficient_stats(
            minibatch_size=minibatch_size, mode=mode, order_col=order_col,
            batch_size=batch_size, epochs=epochs, seed=seed,
            precision=precision)
        return assemble_selection_result(
            per_outer, self.feature_cols, number_of_features, threshold)


def assemble_selection_result(
    per_outer: List[Tuple[np.ndarray, np.ndarray, int, int]],
    feature_cols: Sequence[str],
    number_of_features: Optional[int],
    threshold: float,
) -> SelectionResult:
    """Driver-side LARS + ranking assembly from the reduced
    sufficient statistics — shared by :meth:`SparkHSICSelector.run`
    and the no-Spark verification twin (``hiselspark/twin.py``):
    identical (X^T X, X^T y) blocks in, bit-identical selection out."""
    feature_cols = list(feature_cols)
    d = len(feature_cols)
    k = number_of_features if number_of_features else d - 1
    proj = np.zeros((k, d))
    paths = []
    hsic = np.zeros(d)
    rows = 0
    mbs = 0
    for xtx, xty, n_rows, n_batches in per_outer:
        active, path = lar.solve_gram(xtx, xty, k)
        proj += _indicator_projection(active, d, k)
        paths.append(path)
        hsic += xty
        rows += n_rows
        mbs += n_batches
    proj /= len(per_outer)
    avg_path = _average_paths(paths)
    path_df = pd.DataFrame(avg_path, columns=feature_cols)
    final = path_df.iloc[-1, :] if len(path_df) else pd.Series(
        np.zeros(d), index=feature_cols)
    curve = np.cumsum(np.sort(final.values)[::-1])
    ordered = sorted(feature_cols, key=lambda c: final[c],
                     reverse=True)
    if number_of_features:
        ranking = _ranking_from_projection(proj)
        selected = [feature_cols[i] for i in ranking]
    else:
        selected = select_from_lasso_path(path_df, threshold)
    return SelectionResult(
        features=selected,
        ordered_features=ordered,
        hsic_scores=pd.Series(hsic, index=feature_cols),
        lasso_path=path_df,
        reg_curve=curve,
        projection=proj,
        n_rows_used=rows,
        n_minibatches=mbs,
        stats=[(s[0], s[1]) for s in per_outer],
    )


def hsic_lasso_select(
    df: DataFrame,
    feature_cols: Sequence[str],
    target_cols: Sequence[str],
    number_of_features: Optional[int] = None,
    **kwargs,
) -> SelectionResult:
    """Functional facade (reference top-level ``select.select``)."""
    return SparkHSICSelector(df, feature_cols, target_cols).run(
        number_of_features, **kwargs)


def select_features_by_segment(
    df: DataFrame,
    segment_col: str,
    feature_cols: Sequence[str],
    target_cols: Sequence[str],
    number_of_features: int = 3,
    n_minibatches: int = 8,
    order_col: Optional[str] = None,
    precision: str = "float64",
) -> pd.DataFrame:
    """Per-segment HSIC-Lasso feature selection in ONE distributed
    pass — "which features predict y in THIS market / language /
    cohort" without launching one Spark job per segment.

    The sufficient-statistics algebra (reference ``lar/lar.py:21-22``:
    LARS touches the feature map only through ``X^T X`` and ``X^T y``)
    is associative PER SEGMENT, so all segments share one plan:
    deterministic hash minibatches ``(segment, pmod(xxhash64(order),
    n_minibatches))`` -> the block reduce the selector's modes share
    (``_block_sums``; rows sorted by ``order_col`` inside the group, so
    the result is bit-identical on any partition layout), with the
    segment as the outer key -> the tiny per-segment LARS runs on the
    driver (O(segments * d^3), with d tens and segments thousands this
    is milliseconds each).

    Standardization is PER MINIBATCH (each minibatch z-scores its own
    rows inside the kernel, batch-norm style): a Spark aggregate for
    per-segment means would be a layout-dependent float sum, breaking
    bit-reproducibility, and would cost an extra shuffle — while the
    in-kernel NumPy fold over sorted rows is deterministic and free.
    The one shuffle moves only the narrow numeric frame — feature
    payloads never shuffle, exactly like the global hash path.  The
    driver holds ``segments * n_minibatches`` blocks of ``d*d + d``
    doubles.

    Returns a pandas DataFrame ``(segment, rank, feature,
    hsic_score)`` — one row per selected feature per segment, rank by
    LARS activation order, ``hsic_score = (X^T y)[feature]`` (n^2 x
    HSIC_b of feature vs target within the segment).

    A minibatch of fewer than 8 rows (no Gram worth centering) adds no
    block, and a segment with no block is absent from the output — a
    segment needs ~``8 * n_minibatches`` rows to be selectable; size
    ``n_minibatches`` to the smallest segment you care about.
    ``segment_col`` must be integer-castable (hash or dictionary-encode
    string segments upstream).
    """
    if order_col is None:
        raise ValueError("order_col is required: it keys the "
                         "deterministic minibatch hash")
    fc, cat_split, x_kind, y_kind = _kernel_routing(
        df, feature_cols, target_cols)
    tc = list(target_cols)
    d = len(fc)
    k = min(number_of_features, d - 1)
    z_y = y_kind == KernelKind.RBF

    def prepare(pdf: pd.DataFrame):
        pdf = pdf.sort_values(order_col, kind="mergesort")
        x = pdf[fc].to_numpy(dtype=np.float64)
        y = pdf[tc].to_numpy(dtype=np.float64)
        if len(x) < 8:      # degenerate minibatch: no Gram to center
            return None
        if cat_split < d:       # z-score the continuous block in-batch
            xc = x[:, cat_split:]
            x[:, cat_split:] = ((xc - xc.mean(axis=0))
                                / (1e-9 + xc.std(axis=0)))
        if z_y:
            y = (y - y.mean(axis=0)) / (1e-9 + y.std(axis=0))
        return x, y

    keyed = (df.select(segment_col, order_col, *fc, *tc)
               .withColumn("__mb", F.pmod(F.xxhash64(F.col(order_col)),
                                          F.lit(n_minibatches))))
    sums = _block_sums(
        keyed, [F.col(segment_col).cast("long").alias("__seg"), "__mb"],
        prepare, _stats_kwargs(x_kind, y_kind, cat_split, len(tc),
                               precision), d)
    out_rows = []
    for seg, (xtx, xty, _, _) in sums.items():
        active, _ = lar.solve_gram(xtx, xty, k)
        for rank, idx in enumerate(active[:k], start=1):
            out_rows.append((seg, rank, fc[idx], float(xty[idx])))
    return pd.DataFrame(
        out_rows, columns=["segment", "rank", "feature", "hsic_score"]
    ).sort_values(["segment", "rank"]).reset_index(drop=True)
