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
Spark sum-reduces them (map-side partial aggregation, then a tiny
shuffle of (d*d+d)-length arrays), and the driver runs LARS on the d x d
result.  The feature map — ~1e12 * b rows at production scale — never
exists.

Two batching modes:

* ``mode="parity"`` — replicates the reference's row-order-dependent
  batch assignment exactly (outer batches then minibatches by row
  position, remainder dropped, optional seeded epoch shuffles) so
  selected indices / HSIC scores / lasso paths are allclose to the
  reference.  Uses a global row index — fine at test scale, not the
  production path.
* ``mode="scale"`` — zero-shuffle: ``mapInPandas`` slices each existing
  partition into minibatches, computes stats per slice, and emits one
  partial-sum row per task; the driver sums them.  No global
  ordering, no shuffle of the feature rows at all.  Per-partition
  remainders (< minibatch_size rows each) are dropped, mirroring the
  reference's remainder rule at partition granularity.
"""
from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple

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

_STAT_SCHEMA = T.StructType([
    T.StructField("group_key", T.LongType()),
    T.StructField("xtx", T.ArrayType(T.DoubleType())),
    T.StructField("xty", T.ArrayType(T.DoubleType())),
    T.StructField("n_rows", T.LongType()),
    T.StructField("n_batches", T.LongType()),
])


def _make_stats_row(group_key, xtx, xty, n_rows, n_batches):
    return pd.DataFrame({
        "group_key": [group_key],
        "xtx": [xtx.ravel().tolist()],
        "xty": [xty.ravel().tolist()],
        "n_rows": [n_rows],
        "n_batches": [n_batches],
    })


def _stats_kwargs(x_kind: KernelKind, cat_split: int, dy: int,
                  precision: str = "float64") -> dict:
    return dict(
        x_kind=x_kind,
        y_kind=KernelKind.RBF,   # y kind resolved per-call below
        x_bandwidth=1.0,                      # reference select.py:432
        y_bandwidth=float(np.sqrt(dy)),       # reference select.py:433
        cat_split=cat_split,
        dtype=np.float32 if precision == "float32" else np.float64,
    )


def compute_sufficient_stats_scale(
    df: DataFrame,
    feature_cols: Sequence[str],
    target_cols: Sequence[str],
    x_kind: KernelKind,
    y_kind: KernelKind,
    cat_split: int,
    minibatch_size: int,
    precision: str = "float64",
) -> Tuple[np.ndarray, np.ndarray, int, int]:
    """Zero-shuffle sufficient stats: slice each partition into
    minibatches with ``mapInPandas``, partial-sum per task, sum the
    partials on the driver.  Returns (xtx, xty, rows_used,
    n_minibatches).

    ``precision='float32'`` runs the Gram tiles in float32 (half the
    bytes, double the SIMD width) while the partial-sum accumulators
    stay float64 — scores agree with the float64 path to ~1e-6
    relative.  Default float64 agrees with the reference to ~1e-15."""
    d = len(feature_cols)
    dy = len(target_cols)
    fc, tc = list(feature_cols), list(target_cols)
    kw = _stats_kwargs(x_kind, cat_split, dy, precision)
    kw["y_kind"] = y_kind
    b = minibatch_size

    def per_partition(pdfs):
        xtx = np.zeros((d, d))
        xty = np.zeros(d)
        rows = 0
        batches = 0
        xbuf: List[np.ndarray] = []
        ybuf: List[np.ndarray] = []
        buffered = 0

        def one_batch(xarr, yarr):
            nonlocal rows, batches, xtx, xty
            bx, by = batch_sufficient_stats(xarr, yarr, **kw)
            xtx += bx
            xty += by
            rows += xarr.shape[0]
            batches += 1

        for pdf in pdfs:
            xbuf.append(pdf[fc].to_numpy())
            ybuf.append(pdf[tc].to_numpy())
            buffered += len(pdf)
            if buffered >= b:
                xarr = np.vstack(xbuf)
                yarr = np.vstack(ybuf)
                full = (xarr.shape[0] // b) * b
                for s in range(0, full, b):
                    one_batch(xarr[s:s + b], yarr[s:s + b])
                xbuf, ybuf = [xarr[full:]], [yarr[full:]]
                buffered = xarr.shape[0] - full
        # per-partition tail: the reference drops the global remainder
        # (kernels.py:220-225); dropping a remainder per *partition*
        # would waste up to (b-1) x n_partitions rows, so tails of at
        # least b/2 rows are kept as one smaller minibatch (delta-kernel
        # normalization is per-batch, so variable sizes are exact).  A
        # partition smaller than one minibatch contributes whatever it
        # has (>= 8 rows) as a single batch — mirrors the reference's
        # b = min(n, batch_size) rule at partition granularity.
        if buffered >= max(8, b // 2) or (batches == 0 and buffered >= 8):
            one_batch(np.vstack(xbuf), np.vstack(ybuf))
        if batches:
            yield _make_stats_row(0, xtx, xty, rows, batches)

    pruned = df.select(*fc, *tc)
    stats = pruned.mapInPandas(per_partition, _STAT_SCHEMA)
    try:
        return _reduce_stats(stats, d)
    except ValueError:
        # tiny-input fallback: every partition had < 8 rows — collapse
        # to one partition and batch there (test-scale path only)
        stats1 = pruned.coalesce(1).mapInPandas(per_partition, _STAT_SCHEMA)
        return _reduce_stats(stats1, d)


def _reduce_stats(stats: DataFrame,
                  d: int) -> Tuple[np.ndarray, np.ndarray, int, int]:
    """Driver sum of the per-task partial-sum rows: at most one row per
    input partition (``defaultParallelism`` after the rebalance), few
    enough to collect and sum without a reduce stage."""
    reduced = stats.toPandas()
    if reduced.empty:
        raise ValueError("no complete minibatch: input smaller than "
                         "minibatch_size in every partition")
    xtx = np.sum(np.stack(reduced["xtx"].map(np.asarray)), axis=0).reshape(d, d)
    xty = np.sum(np.stack(reduced["xty"].map(np.asarray)), axis=0)
    return xtx, xty, int(reduced["n_rows"].sum()), int(reduced["n_batches"].sum())


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
        standardize: str = "hisel",   # 'hisel' | 'zscore' | 'none'
    ):
        kinds = _classify_columns(df, feature_cols)
        cat = [c for c in feature_cols if kinds[c] == "discrete"]
        cont = [c for c in feature_cols if kinds[c] == "continuous"]
        self.feature_cols = cat + cont
        self.cat_split = len(cat)
        if self.cat_split == 0:
            self.x_kind = KernelKind.RBF
        elif self.cat_split == len(self.feature_cols):
            self.x_kind = KernelKind.DELTA
        else:
            self.x_kind = KernelKind.MIXED
        y_kinds = set(_classify_columns(df, target_cols).values())
        if len(y_kinds) > 1:
            raise TypeError("target columns must share one type family")
        self.y_kind = (KernelKind.DELTA if y_kinds == {"discrete"}
                       else KernelKind.RBF)
        self.target_cols = list(target_cols)
        self.df = df
        self.standardize = standardize
        self._paths: List[np.ndarray] = []

    # -- preprocessing ----------------------------------------------------

    def _standardized(self, df: DataFrame) -> DataFrame:
        """Column standardization.  'hisel' replicates the reference's
        quirk of subtracting the column SUM, not the mean
        (``select.py:379-383``) — kept for parity; 'zscore' is the sane
        variant recommended at scale.  Discrete columns pass through."""
        if self.standardize == "none":
            return df
        cont_x = self.feature_cols[self.cat_split:]
        cont_y = (self.target_cols if self.y_kind == KernelKind.RBF else [])
        cols = cont_x + list(cont_y)
        if not cols:
            return df
        aggs = []
        for c in cols:
            center = F.sum(c) if self.standardize == "hisel" else F.mean(c)
            aggs += [center.alias(f"{c}__center"),
                     F.stddev_pop(c).alias(f"{c}__scale")]
        row = df.agg(*aggs).collect()[0].asDict()
        out = df
        for c in cols:
            out = out.withColumn(
                c,
                (F.col(c).cast("double") - F.lit(float(row[f"{c}__center"])))
                / F.lit(1e-9 + float(row[f"{c}__scale"] or 0.0)))
        return out

    # -- sufficient stats -------------------------------------------------

    def sufficient_stats(
        self,
        minibatch_size: int = 250,
        mode: str = "scale",
        order_col: Optional[str] = None,
        batch_size: Optional[int] = None,
        epochs: int = 1,
        seed: int = 0,
        cache: bool = True,
        rebalance: bool = True,
        precision: str = "float64",
    ) -> List[Tuple[np.ndarray, np.ndarray, int, int]]:
        """Compute per-outer-batch ``(X^T X, X^T y, rows, minibatches)``.

        ``precision='float32'`` (scale/hash modes only) computes the
        Gram tiles in float32 with float64 accumulators; parity mode always
        runs float64 (bit-compatibility with the reference and the
        pinned oracles).

        In scale mode there is a single outer batch.  In parity mode
        outer batches replicate reference ``select.py:159-170``.

        ``cache`` persists the column-pruned input before the two
        passes over it (standardization agg + sufficient stats) — vital
        when the upstream plan is expensive (as-of join, image decode);
        disable when the input is already materialized or too large to
        cache, in which case the plan is simply evaluated twice.

        ``rebalance`` (scale mode) round-robin-repartitions the pruned
        frame before caching.  The upstream point-in-time stages shuffle
        by entity, so a hot entity leaves one partition holding a large
        share of the rows; the Gram stage has no per-entity semantics
        (any row subset is a valid minibatch), so inheriting that skew
        only buys a straggler task.  The extra shuffle moves just the
        narrow numeric frame (d+dy doubles per row), not the payloads."""
        needed = list(dict.fromkeys(
            [*self.feature_cols, *self.target_cols]
            + ([order_col] if order_col else [])))
        base = self.df.select(*needed)
        if rebalance and mode == "scale":
            spark = base.sparkSession
            base = base.repartition(spark.sparkContext.defaultParallelism)
        if cache:
            base = base.persist()
        try:
            df = self._standardized(base)
            if mode == "scale":
                return [compute_sufficient_stats_scale(
                    df, self.feature_cols, self.target_cols,
                    self.x_kind, self.y_kind, self.cat_split,
                    minibatch_size, precision=precision)]
            if mode == "hash":
                return self._hash_stats(df, minibatch_size, order_col,
                                        epochs, seed, precision)
            if mode == "parity":
                if order_col is None:
                    raise ValueError("parity mode needs order_col")
                return self._parity_stats(df, minibatch_size, order_col,
                                          batch_size, epochs, seed)
            raise ValueError(mode)
        finally:
            if cache:
                base.unpersist()

    def _hash_stats(self, df, minibatch_size, order_col, epochs, seed,
                    precision: str = "float64"):
        """Deterministic *production* batching: every row is assigned to
        a minibatch by a seeded content hash (``pmod(xxhash64(...),
        num_mb)``) — no global sort, no single-task stage, and the batch
        membership (hence the per-batch delta-kernel counts) is
        independent of partition layout, so results are bit-reproducible
        across cluster sizes.  One shuffle of the narrow numeric frame.

        ``epochs > 1`` replicates each row into ``epochs`` copies whose
        hashes differ by epoch id, so every epoch lands in a different
        minibatch grouping — the scale-mode equivalent of the
        reference's shuffled-concatenation augmentation
        (``select.py:384-389``): more minibatch diversity per LARS run.

        The stats rows are reduced in two levels grouped by minibatch-id
        ranges and summed in sorted key order at both levels, so the
        float accumulation order is fixed at any scale."""
        hash_cols = [order_col] if order_col else [
            *self.feature_cols, *self.target_cols]
        n = df.count()
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

        d = len(self.feature_cols)
        dy = len(self.target_cols)
        fc, tc = list(self.feature_cols), list(self.target_cols)
        kw = _stats_kwargs(self.x_kind, self.cat_split, dy, precision)
        kw["y_kind"] = self.y_kind

        def per_minibatch(key: Tuple[Any, ...],
                          pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["__h"] + fc)
            if len(pdf) < 2:
                return _make_stats_row(key[0], np.zeros((d, d)),
                                       np.zeros(d), 0, 0)
            bx, by = batch_sufficient_stats(
                pdf[fc].to_numpy(), pdf[tc].to_numpy(), **kw)
            return _make_stats_row(key[0], bx, by, len(pdf), 1)

        stats = df.groupBy("__mb").applyInPandas(per_minibatch,
                                                 _STAT_SCHEMA)
        # two-level deterministic reduce: group minibatch ids into
        # contiguous ranges, sum each range in key order, then sum the
        # (at most reduce_groups) range rows in key order on the driver
        reduce_groups = 64
        span = max(1, -(-num_mb // reduce_groups))

        def sum_range(key: Tuple[Any, ...],
                      pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("group_key")
            xtx = np.sum(np.stack(pdf["xtx"].map(np.asarray)), axis=0)
            xty = np.sum(np.stack(pdf["xty"].map(np.asarray)), axis=0)
            return _make_stats_row(int(key[0]), xtx, xty,
                                   int(pdf["n_rows"].sum()),
                                   int(pdf["n_batches"].sum()))

        reduced = (stats
                   .withColumn("__rg",
                               (F.col("group_key") / F.lit(span))
                               .cast("long"))
                   .groupBy("__rg")
                   .applyInPandas(sum_range, _STAT_SCHEMA)
                   .toPandas()
                   .sort_values("group_key"))
        if reduced.empty or int(reduced["n_batches"].sum()) == 0:
            raise ValueError("no complete minibatch in hash mode")
        xtx = np.sum(np.stack(reduced["xtx"].map(np.asarray)),
                     axis=0).reshape(d, d)
        xty = np.sum(np.stack(reduced["xty"].map(np.asarray)), axis=0)
        return [(xtx, xty, int(reduced["n_rows"].sum()),
                 int(reduced["n_batches"].sum()))]

    def _parity_stats(self, df, minibatch_size, order_col, batch_size,
                      epochs, seed):
        """Reference-exact batching: global row order → outer batches of
        ``batch_size`` rows (remainder dropped) → optional seeded epoch
        shuffles within each outer batch → minibatches of
        ``minibatch_size`` rows (remainder dropped)."""
        from pyspark.sql import Window
        n = df.count()
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

        d = len(self.feature_cols)
        dy = len(self.target_cols)
        fc, tc = list(self.feature_cols), list(self.target_cols)
        kw = _stats_kwargs(self.x_kind, self.cat_split, dy)
        kw["y_kind"] = self.y_kind

        def per_minibatch(key: Tuple[Any, ...],
                          pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("__spos")
            bx, by = batch_sufficient_stats(
                pdf[fc].to_numpy(), pdf[tc].to_numpy(), **kw)
            # pack (outer, mb) into one key so the driver can sum the
            # blocks in a fixed order — bit-reproducible across layouts
            return _make_stats_row(key[0] * (2 ** 32) + key[1],
                                   bx, by, len(pdf), 1)

        stats = (df.groupBy("__outer", "__mb")
                   .applyInPandas(per_minibatch, _STAT_SCHEMA)
                   .toPandas()
                   .sort_values("group_key"))
        out = []
        for outer in range(num_outer):
            part = stats[stats["group_key"] // (2 ** 32) == outer]
            xtx = np.sum(np.stack(part["xtx"].map(np.asarray)),
                         axis=0).reshape(d, d)
            xty = np.sum(np.stack(part["xty"].map(np.asarray)), axis=0)
            out.append((xtx, xty, int(part["n_rows"].sum()),
                        int(part["n_batches"].sum())))
        return out

    # -- selection --------------------------------------------------------

    def run(
        self,
        number_of_features: Optional[int] = None,
        minibatch_size: int = 250,
        mode: str = "scale",
        order_col: Optional[str] = None,
        batch_size: Optional[int] = None,
        epochs: int = 1,
        seed: int = 0,
        threshold: float = 0.01,
        cache: bool = True,
        rebalance: bool = True,
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
            batch_size=batch_size, epochs=epochs, seed=seed, cache=cache,
            rebalance=rebalance, precision=precision)
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
    return SparkHSICSelector(df, feature_cols, target_cols,
                             standardize=kwargs.pop("standardize", "hisel")
                             ).run(number_of_features, **kwargs)


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
    n_minibatches))`` -> one ``applyInPandas`` computing each
    minibatch's ``(d, d)``/``(d,)`` blocks (rows sorted by
    ``order_col`` inside the group, so the result is bit-identical on
    any partition layout) -> per-segment sum in minibatch order -> the
    tiny per-segment LARS runs on the driver (O(segments * d^3), with
    d tens and segments thousands this is milliseconds each).

    Standardization is PER MINIBATCH (each minibatch z-scores its own
    rows inside the kernel, batch-norm style): a Spark aggregate for
    per-segment means would be a layout-dependent float sum, breaking
    bit-reproducibility, and would cost an extra shuffle — while the
    in-kernel NumPy fold over sorted rows is deterministic and free.
    The two shuffles move only the narrow numeric frame and d x d
    blocks — feature payloads never shuffle, exactly like the global
    scale path.

    Returns a pandas DataFrame ``(segment, rank, feature,
    hsic_score)`` — one row per selected feature per segment, rank by
    LARS activation order, ``hsic_score = (X^T y)[feature]`` (n^2 x
    HSIC_b of feature vs target within the segment).

    Segments whose every hash minibatch holds fewer than 8 rows (no
    Gram worth centering) contribute no stats and are absent from the
    output — a segment needs ~``8 * n_minibatches`` rows to be
    selectable; size ``n_minibatches`` to the smallest segment you
    care about.  ``segment_col`` must be integer-castable (hash or
    dictionary-encode string segments upstream).
    """
    if order_col is None:
        raise ValueError("order_col is required: it keys the "
                         "deterministic minibatch hash")
    kinds = _classify_columns(df, feature_cols)
    cat = [c for c in feature_cols if kinds[c] == "discrete"]
    cont = [c for c in feature_cols if kinds[c] == "continuous"]
    fc = cat + cont
    cat_split = len(cat)
    if cat_split == 0:
        x_kind = KernelKind.RBF
    elif cat_split == len(fc):
        x_kind = KernelKind.DELTA
    else:
        x_kind = KernelKind.MIXED
    y_kinds = set(_classify_columns(df, target_cols).values())
    if len(y_kinds) > 1:
        raise TypeError("target columns must share one type family")
    y_kind = (KernelKind.DELTA if y_kinds == {"discrete"}
              else KernelKind.RBF)
    tc = list(target_cols)
    d, dy = len(fc), len(tc)
    k = min(number_of_features, d - 1)

    base = df.select(segment_col, order_col, *fc, *tc)
    z_y = y_kind == KernelKind.RBF
    kw = _stats_kwargs(x_kind, cat_split, dy, precision)
    kw["y_kind"] = y_kind
    schema = T.StructType([
        T.StructField("segment", T.LongType()),
        T.StructField("mb", T.IntegerType()),
        T.StructField("xtx", T.ArrayType(T.DoubleType())),
        T.StructField("xty", T.ArrayType(T.DoubleType())),
        T.StructField("n_rows", T.LongType()),
    ])

    def group_stats(key: Tuple[Any, ...],
                    pdf: pd.DataFrame) -> pd.DataFrame:
        seg, mb = key
        pdf = pdf.sort_values(order_col, kind="mergesort")
        x = pdf[fc].to_numpy(dtype=np.float64)
        y = pdf[tc].to_numpy(dtype=np.float64)
        if len(x) < 8:      # degenerate minibatch: no Gram to center
            return pd.DataFrame(
                {"segment": [], "mb": [], "xtx": [], "xty": [],
                 "n_rows": []}).astype(
                {"segment": "int64", "mb": "int32", "n_rows": "int64"})
        if cat_split < d:       # z-score the continuous block in-batch
            xc = x[:, cat_split:]
            x[:, cat_split:] = ((xc - xc.mean(axis=0))
                                / (1e-9 + xc.std(axis=0)))
        if z_y:
            y = (y - y.mean(axis=0)) / (1e-9 + y.std(axis=0))
        bx, by = batch_sufficient_stats(x, y, **kw)
        return pd.DataFrame({
            "segment": [int(seg)], "mb": [int(mb)],
            "xtx": [bx.ravel().tolist()], "xty": [by.ravel().tolist()],
            "n_rows": [len(x)]})

    mb = F.pmod(F.xxhash64(F.col(order_col)),
                F.lit(n_minibatches)).cast("int")
    stats = (base
             .withColumn("__mb", mb)
             .groupBy(F.col(segment_col).cast("long").alias("__seg"),
                      F.col("__mb"))
             .applyInPandas(group_stats, schema))

    red_schema = T.StructType([
        T.StructField("segment", T.LongType()),
        T.StructField("xtx", T.ArrayType(T.DoubleType())),
        T.StructField("xty", T.ArrayType(T.DoubleType())),
        T.StructField("n_rows", T.LongType()),
    ])

    def sum_segment(pdf):
        pdf = pdf.sort_values("mb")     # fixed fold order across layouts
        xtx = np.sum(np.stack(pdf["xtx"].map(np.asarray)), axis=0)
        xty = np.sum(np.stack(pdf["xty"].map(np.asarray)), axis=0)
        return pd.DataFrame({
            "segment": [int(pdf["segment"].iloc[0])],
            "xtx": [xtx.tolist()], "xty": [xty.tolist()],
            "n_rows": [int(pdf["n_rows"].sum())]})

    per_seg = (stats.groupBy("segment")
                    .applyInPandas(sum_segment, red_schema)
                    .toPandas())

    out_rows = []
    for r in per_seg.itertuples():
        xtx = np.asarray(r.xtx).reshape(d, d)
        xty = np.asarray(r.xty)
        active, _ = lar.solve_gram(xtx, xty, k)
        for rank, idx in enumerate(active[:k], start=1):
            out_rows.append((int(r.segment), rank, fc[idx],
                             float(xty[idx])))
    return pd.DataFrame(
        out_rows, columns=["segment", "rank", "feature", "hsic_score"]
    ).sort_values(["segment", "rank"]).reset_index(drop=True)
