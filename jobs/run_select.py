"""spark-submit entry point for the full point-in-time HSIC-Lasso run.

Usage (cluster)::

    zip -r engine.zip hiselspark/
    spark-submit --py-files engine.zip jobs/run_select.py \
        --images /warehouse/images_table --labels /warehouse/labels_table \
        --output /warehouse/selection_run1 --features 8

``--images``/``--labels`` accept either a SnapshotTable root (preferred:
the run records the input snapshot id in its lineage, and ``--resume``
re-reads the SAME snapshot) or a plain parquet path.  ``--synthetic N``
generates the deterministic benchmark corpus instead.

The run is checkpointed: the feature matrix is built and written per
entity-hash bucket through :class:`hiselspark.checkpoint.PartitionedRun`
(resumable, per-partition lineage + metrics), then selection runs over
the committed output.
"""
from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# one BLAS thread per Python worker (Spark tasks are the parallelism)
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--images", help="SnapshotTable root or parquet path")
    p.add_argument("--labels", help="SnapshotTable root or parquet path")
    p.add_argument("--synthetic", type=int, default=0,
                   help="generate N synthetic image rows instead")
    p.add_argument("--output", required=True, help="run workdir")
    p.add_argument("--features", type=int, default=5)
    p.add_argument("--minibatch", type=int, default=250)
    p.add_argument("--buckets", type=int, default=8,
                   help="checkpoint partitions (entity-hash buckets)")
    p.add_argument("--phash-bits", type=int, default=16)
    return p


def open_snapshot(path):
    """``(table, current snapshot)`` of the SnapshotTable at ``path``,
    or ``(None, None)`` for a plain parquet path."""
    from hiselspark.sources.snapshots import SnapshotTable
    if os.path.isdir(os.path.join(path, "_snapshots")):
        t = SnapshotTable(path)
        return t, t.current()
    return None, None


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.appName("hiselspark-select")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from hiselspark import datagen
    from hiselspark.checkpoint import PartitionedRun
    from hiselspark.pipeline import assemble_training_frame
    from hiselspark.selection import SparkHSICSelector

    if args.synthetic:
        images = datagen.images(spark, args.synthetic, seed=42)
        labels = datagen.labels(spark, args.synthetic, seed=42)
        snapshot = f"synthetic-{args.synthetic}-seed42"
    else:
        _, snap_i = open_snapshot(args.images)
        t_l, snap_l = open_snapshot(args.labels)
        # images go to the fused scan as a path or as the snapshot's
        # committed file list (same time-travel state): image bytes
        # never cross the JVM
        images = list(snap_i.files) if snap_i else args.images
        labels = t_l.read(spark) if t_l else spark.read.parquet(args.labels)
        snapshot = (f"images:{snap_i and snap_i.snapshot_id} "
                    f"labels:{snap_l and snap_l.snapshot_id}")

    run = PartitionedRun(args.output, input_snapshot=snapshot)
    # the bucket jobs share one scan + timeline: the cached upstream
    # lives until the last bucket is written
    with assemble_training_frame(
            images, labels, n_phash_bits=args.phash_bits) as (
            frame, feature_cols):
        frame = frame.withColumn(
            "__bucket", F.pmod(F.xxhash64("entity_id"),
                               F.lit(args.buckets)))

        def job(partition: str, out: str):
            part = (frame.filter(F.col("__bucket") == int(partition))
                    .drop("__bucket"))
            part.write.parquet(out)
            return part

        run.run([str(b) for b in range(args.buckets)], job)
    matrix = run.read_output(spark)

    matrix = matrix.select(
        F.col("y").cast("double").alias("y"),
        *[F.col(c).cast("double").alias(c) for c in feature_cols])
    sel = SparkHSICSelector(matrix, feature_cols, ["y"])
    res = sel.run(number_of_features=args.features,
                  minibatch_size=args.minibatch)

    result = {
        "selected": res.features,
        "hsic_scores": {k: float(v) for k, v in
                        res.hsic_scores.sort_values(ascending=False).items()},
        "rows_used": res.n_rows_used,
        "minibatches": res.n_minibatches,
        "input_snapshot": snapshot,
    }
    with open(os.path.join(args.output, "selection.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
