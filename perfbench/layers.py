"""The traced run: per-layer numbers for one workload.

Each layer's public function is called from here with its input staged
to parquet beforehand, untimed, so a layer's wall covers only its own
work.  Spans are taken around those calls; nothing inside ``hiselspark``
is instrumented.  Layers that a workload does not run report 0.

Predictions (which end-to-end number each layer should move):

* ``fused_scan``, ``chunked_timeline``, ``chunked_asof``: ``cpu_s`` and
  ``wall_s`` on ``pit_b200``; no effect on ``tabular_b1000``.
* ``selection``: job and stage cuts move ``cpu_s`` and ``wall_s`` on
  ``pit_b200``; balance and straggler fixes move ``wall_s`` on
  ``tabular_b1000`` (an idle core costs wall time, not CPU time).
* ``kernels``: ``cpu_s`` on ``tabular_b1000`` (most of its CPU); about
  5% of ``pit_b200``.
* ``lar``: about 2 ms.  Recorded so that nobody targets it.
"""
from __future__ import annotations

import statistics
import time
from typing import Callable, Dict, List, Tuple

import numpy as np

import workloads as wl

Metrics = Dict[str, Tuple[float, str]]

LAYERS = {
    "fused_scan": ["wall_s", "rows_out", "spark_jobs"],
    "chunked_timeline": ["wall_s", "rows_out", "spark_jobs",
                         "spark_stages"],
    "chunked_asof": ["wall_s", "labels_in", "rows_matched",
                     "rows_complete", "spark_jobs"],
    "selection": ["wall_s", "spark_jobs", "spark_stages", "spark_tasks",
                  "minibatches", "rows_used", "rows_used_ratio"],
    "kernels": ["batch_s", "gflop_per_batch", "gbytes_per_batch",
                "tile_kib", "gflops", "core_s"],
    "lar": ["wall_s", "steps"],
    "pipeline": ["wall_s", "spark_jobs", "spark_stages", "spark_tasks",
                 "unattributed_s"],
}
UNITS = {"wall_s": "s", "batch_s": "s", "core_s": "s",
         "unattributed_s": "s", "gflop_per_batch": "GFLOP",
         "gbytes_per_batch": "GB", "tile_kib": "KiB", "gflops": "GFLOP/s",
         "rows_used_ratio": "ratio"}

# Work per element of the (d, b, b) Gram tensor in the dense kernel
# loop, counted from kernels.batch_sufficient_stats.  The entries are
# built twice (row means, then tiles) from diff, square, scale and exp
# (4 ops and 7 array reads and writes each time); the row means add one
# read and one op; centring adds 3 ops and 6 reads and writes; the two
# matrix products read the tile once each and add 2d + 2 flops per
# sample pair on top.
_GRAM_FLOP_PER_ELEM = 2 * 4 + 1 + 3
_PASSES_PER_ELEM = 2 * 7 + 1 + 6 + 2


def metric_names() -> List[str]:
    return [f"{layer}.{m}" for layer, ms in LAYERS.items() for m in ms]


def _unit(name: str) -> str:
    return UNITS.get(name.split(".", 1)[1], "count")


def _median_time(fn: Callable[[], object], min_total_s: float,
                 min_reps: int = 3) -> Tuple[float, object]:
    """Median wall of repeated calls, repeated until ``min_total_s``
    has passed and at least ``min_reps`` calls were made."""
    walls, out, start = [], None, time.perf_counter()
    while len(walls) < min_reps or time.perf_counter() - start < min_total_s:
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


class Tracer:
    """Per-layer values of one traced run, and the staging area."""

    def __init__(self, spark, counter, stage_dir: str):
        self.spark = spark
        self.counter = counter
        self.stage_dir = stage_dir
        self.values: Dict[str, float] = {}

    def timed(self, layer: str, fn: Callable[[], object]) -> object:
        """Run ``fn`` in its own job group; record wall, jobs, stages."""
        with self.counter.group(layer) as gid:
            t0 = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t0
        jobs, stages, tasks = self.counter.counts(gid)
        self.values[f"{layer}.wall_s"] = wall
        self.values[f"{layer}.spark_jobs"] = jobs
        self.values[f"{layer}.spark_stages"] = stages
        self.values[f"{layer}.spark_tasks"] = tasks
        return out

    def stage(self, df, name: str):
        """Materialize ``df`` to parquet, untimed; return it re-read."""
        path = f"{self.stage_dir}/{name}"
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _upstream_layers(t: Tracer, inputs: wl.Inputs):
    """scan -> timeline -> as-of, each staged; returns the training
    frame and its feature columns, as the pipeline assembles them."""
    from pyspark.sql import functions as F

    from hiselspark.operators.chunked import chunked_asof_join
    from hiselspark.pipeline import engineer_timeline
    from hiselspark.sources.fused_scan import featurize_images_fused

    spark = t.spark
    bucket_s = wl.pipeline_bucket_seconds()

    t.timed("fused_scan", lambda: _noop(
        featurize_images_fused(spark, inputs.images)))
    scanned = t.stage(featurize_images_fused(spark, inputs.images), "scan")
    t.values["fused_scan.rows_out"] = scanned.count()

    t.timed("chunked_timeline", lambda: _noop(
        engineer_timeline(scanned, bucket_seconds=bucket_s)))
    feats = t.stage(engineer_timeline(scanned, bucket_seconds=bucket_s),
                    "timeline")
    t.values["chunked_timeline.rows_out"] = feats.count()

    feature_cols = [c for c in feats.columns if c not in ("entity_id", "ts")]
    labels = spark.read.parquet(inputs.labels)

    def joined():
        return chunked_asof_join(
            labels.withColumnRenamed("label_ts", "ts"), feats,
            on="entity_id", left_ts="ts", right_ts="ts",
            value_cols=feature_cols, bucket_seconds=bucket_s)

    t.timed("chunked_asof", lambda: _noop(
        joined().dropna(subset=feature_cols)))
    staged = t.stage(joined(), "asof")
    frame = staged.dropna(subset=feature_cols)
    t.values["chunked_asof.labels_in"] = labels.count()
    t.values["chunked_asof.rows_matched"] = staged.filter(
        F.col("__matched_ts").isNotNull()).count()
    t.values["chunked_asof.rows_complete"] = frame.count()

    # the pipeline's cast and column choice (session_id is excluded)
    cols = [c for c in feature_cols if c != "session_id"]
    frame = frame.select(F.col("y").cast("double").alias("y"),
                         *[F.col(c).cast("double").alias(c) for c in cols])
    return frame, cols


def _kernel_layer(t: Tracer, sel, frame_pdf, minibatch_size: int,
                  minibatches: int, precision: str) -> None:
    """One minibatch of the workload's size and feature mix through
    ``kernels.batch_sufficient_stats`` on this thread (one BLAS
    thread).  FLOP and byte figures are computed from b, d and the
    tile shape of the dense loop, not measured."""
    from hiselspark.kernels import batch_sufficient_stats

    dtype = np.float32 if precision == "float32" else np.float64
    x = frame_pdf[sel.feature_cols].to_numpy(np.float64)
    y = frame_pdf[sel.target_cols].to_numpy(np.float64)
    # z-scored: the kernel's cost does not depend on the values
    x = (x - x.mean(axis=0)) / (x.std(axis=0) + 1e-9)
    y = (y - y.mean(axis=0)) / (y.std(axis=0) + 1e-9)
    b = min(minibatch_size, len(x))
    x, y = x[:b], y[:b]
    d = x.shape[1]
    batch_s, _ = _median_time(lambda: batch_sufficient_stats(
        x, y, x_kind=sel.x_kind, y_kind=sel.y_kind,
        cat_split=sel.cat_split, dtype=dtype), min_total_s=1.0)

    rc = min(wl.default_of(batch_sufficient_stats, "row_chunk"), b)
    cc = min(wl.default_of(batch_sufficient_stats, "col_chunk"), b)
    itemsize = np.dtype(dtype).itemsize
    elems = d * b * b
    gflop = (elems * _GRAM_FLOP_PER_ELEM
             + b * b * (2 * d * d + 2 * d)) / 1e9
    v = t.values
    v["kernels.batch_s"] = batch_s
    v["kernels.gflop_per_batch"] = gflop
    v["kernels.gbytes_per_batch"] = elems * _PASSES_PER_ELEM * itemsize / 1e9
    v["kernels.tile_kib"] = d * rc * cc * itemsize / 1024
    v["kernels.gflops"] = gflop / batch_s
    v["kernels.core_s"] = batch_s * minibatches


def run(spark, counter, w: wl.Workload, inputs: wl.Inputs,
        stage_dir: str) -> Tuple[Metrics, List[str]]:
    """Traced run of ``w`` on a warm session.  Returns the per-layer
    metrics and the correctness problems found."""
    from hiselspark.selection import (SparkHSICSelector,
                                      assemble_selection_result)

    t = Tracer(spark, counter, stage_dir)
    problems: List[str] = []
    for name in metric_names():
        t.values[name] = 0.0

    res = t.timed("pipeline", lambda: wl.call(spark, w, inputs))
    problems += wl.check_selection(w, res.features)

    if w.corpus == "pit":
        frame, cols = _upstream_layers(t, inputs)
        rows = int(t.values["chunked_asof.rows_complete"])
        problems += wl.check_asof_rows(
            inputs, int(t.values["chunked_asof.rows_matched"]), rows)
    else:
        frame = spark.read.parquet(inputs.tabular)
        cols = wl.tabular_features()
        rows = wl.input_rows(w, inputs)

    defaults = wl.selection_defaults(w)
    sel = SparkHSICSelector(frame, cols, ["y"])
    per_outer = t.timed("selection", lambda: sel.sufficient_stats(
        minibatch_size=w.minibatch_size, **defaults))
    minibatches = sum(p[3] for p in per_outer)
    rows_used = sum(p[2] for p in per_outer)
    t.values["selection.minibatches"] = minibatches
    t.values["selection.rows_used"] = rows_used
    t.values["selection.rows_used_ratio"] = rows_used / rows

    _kernel_layer(t, sel, frame.limit(4 * w.minibatch_size).toPandas(),
                  w.minibatch_size, minibatches, defaults["precision"])

    threshold = wl.default_of(SparkHSICSelector.run, "threshold")
    lar_s, result = _median_time(lambda: assemble_selection_result(
        per_outer, sel.feature_cols, w.number_of_features, threshold),
        min_total_s=0.2)
    t.values["lar.wall_s"] = lar_s
    t.values["lar.steps"] = len(result.lasso_path)
    problems += wl.check_selection(w, result.features)

    v = t.values
    layer_sum = sum(v[f"{layer}.wall_s"] for layer in
                    ("fused_scan", "chunked_timeline", "chunked_asof",
                     "selection", "lar"))
    v["pipeline.unattributed_s"] = v["pipeline.wall_s"] - layer_sum
    metrics = {n: (float(v[n]), _unit(n)) for n in metric_names()}
    return metrics, problems
