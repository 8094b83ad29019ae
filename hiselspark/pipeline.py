"""The flagship end-to-end pipeline (north star): point-in-time
feature assembly over an image+caption corpus followed by HSIC-Lasso
feature selection.

Stages (each a documented operator elsewhere in the package):

1. featurize images (``sources/fused_scan.py``) — decoded-pixel
   statistics and caption length/token counts in one pandas body per
   Arrow batch, then phash bit features + hamming weight (JVM
   expressions);
2. entity-timeline engineering — lags + trailing rolling aggregates,
   sharing ONE ``(entity, time-bucket)`` shuffle and one window
   operator per window spec;
3. leakage-free as-of join of labels onto the feature timeline
   (backward, ``feature_ts <= label_ts``), clustered the same way;
4. distributed HSIC-Lasso: per-minibatch sufficient statistics inside
   ``applyInPandas``/``mapInPandas``, sum-reduce, driver LARS.
"""
from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame, functions as F

from .operators.chunked import chunked_asof_join, chunked_timeline_features
from .selection import SelectionResult, SparkHSICSelector
from .sources.fused_scan import featurize_images_fused


def engineer_timeline(
    feats: DataFrame,
    entity_col: str = "entity_id",
    ts_col: str = "ts",
    lag_cols: Tuple[str, ...] = ("px_mean_r", "caption_tokens"),
    rolling_col: str = "px_mean_g",
    rolling_window_s: float = 6 * 3600.0,
    bucket_seconds: float = 7 * 86400.0,
) -> DataFrame:
    """Lag 1 and a trailing rolling mean/count in one pass of the
    skew-proof chunked operator, clustered by (entity,
    ``bucket_seconds`` time-bucket), which must cover the rolling
    window.  Returns the input columns (entity first), the rolling
    columns, then the lag columns.  Values are bit-identical to the
    plain ``operators/windows.py`` operators'."""
    lag_present = [c for c in lag_cols if c in feats.columns]
    return chunked_timeline_features(
        feats, entity_col, ts_col,
        lag_cols=lag_present, lags=(1,),
        rolling_aggs={rolling_col: ["mean", "count"]},
        rolling_window_s=rolling_window_s,
        bucket_seconds=bucket_seconds)


@contextmanager
def assemble_training_frame(
    images,
    labels: DataFrame,
    n_phash_bits: int = 16,
    tolerance_seconds: Optional[float] = None,
    bucket_seconds: float = 7 * 86400.0,
) -> Iterator[Tuple[DataFrame, List[str]]]:
    """Full point-in-time feature matrix: one row per label
    ``(entity_id, label_ts)`` with the feature vector as of that
    moment (backward as-of, zero leakage).  A context manager yielding
    (frame, feature column names)::

        with assemble_training_frame(images, labels) as (frame, cols):
            ...  # every action on ``frame`` goes here

    The timeline windows and the as-of join both run as chunked
    operators clustered by (entity, ``bucket_seconds`` time-bucket).

    Two intermediates fan out to more than one consumer: the featurized
    scan (timeline big side + summary branch) and the timeline (as-of
    big side + seed branch).  Each branch re-evaluates its input, so
    both are persisted here — the scan and the timeline run once per
    call, not three and two times — and unpersisted when the block
    exits, also when it raises.  ``frame`` stays valid after the block
    but recomputes from the sources.

    ``images`` is a parquet directory path, an explicit file list
    (e.g. a snapshot's committed files) or a DataFrame; all three run
    the one featurizer, :func:`featurize_images_fused`.  With a path
    or file list its tasks open their row groups directly, so image
    bytes never touch the JVM — the production setting for
    payload-heavy corpora."""
    featurized = featurize_images_fused(labels.sparkSession, images,
                                        n_phash_bits)
    featurized = featurized.persist()
    try:
        feats = engineer_timeline(
            featurized, bucket_seconds=bucket_seconds).persist()
        try:
            yield _join_labels(labels, feats, tolerance_seconds,
                               bucket_seconds)
        finally:
            # dependent cache first: dropping the scan's cache while the
            # timeline's is registered but unfilled would re-plan it
            feats.unpersist()
    finally:
        featurized.unpersist()


def _join_labels(labels: DataFrame, feats: DataFrame,
                 tolerance_seconds: Optional[float],
                 bucket_seconds: float,
                 ) -> Tuple[DataFrame, List[str]]:
    feature_cols = [c for c in feats.columns
                    if c not in ("entity_id", "ts")]
    joined = chunked_asof_join(
        labels.withColumnRenamed("label_ts", "ts"),
        feats,
        on="entity_id", left_ts="ts", right_ts="ts",
        value_cols=feature_cols,
        tolerance_seconds=tolerance_seconds,
        bucket_seconds=bucket_seconds,
    )
    # drop label rows with no (complete) feature vector: pre-history
    # labels and first-of-entity rows with null lags
    out = joined.dropna(subset=feature_cols)
    return out, feature_cols


def select_features_pointintime(
    images,
    labels: DataFrame,
    number_of_features: int = 5,
    n_phash_bits: int = 16,
    minibatch_size: int = 200,
    mode: str = "hash",
    bucket_seconds: float = 7 * 86400.0,
    precision: str = "float64",
) -> SelectionResult:
    """The north-star query: which point-in-time features carry
    dependence with the label, ranked by HSIC-Lasso.

    Feature hygiene learned the hard way (and worth documenting): the
    normalized delta kernel scales Gram entries by 1/class-count, so
    raw HSIC scores of categorical features are not magnitude-comparable
    with RBF-kernel scores — mixing informative features across kernel
    families biases non-negative LARS toward the RBF side (the reference
    inherits the same asymmetry; its tests never mix informative
    families).  Low-cardinality integer features (hash bits, token
    counts) are therefore cast to double and routed through the RBF
    kernel.  Near-unique identifier-like columns (a session id, say)
    do not belong in the feature set: identity-shaped Grams carry
    spuriously large HSIC mass.
    """
    with assemble_training_frame(
            images, labels, n_phash_bits=n_phash_bits,
            bucket_seconds=bucket_seconds) as (frame, feature_cols):
        frame = frame.select(
            F.col("y").cast("double").alias("y"),
            *[F.col(c).cast("double").alias(c) for c in feature_cols])
        sel = SparkHSICSelector(frame, feature_cols, ["y"])
        # precision='float32' halves Gram-tile memory traffic (about
        # 1.9x faster kernel at b=1000, d=40, see
        # kernels.batch_sufficient_stats) — the corpus-scale opt-in;
        # float64 stays the default wherever the reference parity
        # contract applies
        return sel.run(number_of_features=number_of_features,
                       minibatch_size=minibatch_size, mode=mode,
                       precision=precision)
