"""spark-submit entry point for the ingest-follow loop: keep a derived
features table current with an appending images table.

Usage (cluster; run from cron / an orchestrator after each ingest)::

    zip -r engine.zip hiselspark/
    spark-submit --py-files engine.zip jobs/run_catchup.py \
        --source /warehouse/images_table \
        --features /warehouse/images_features

Each invocation reads ONLY the image rows appended to ``--source``
since the previous invocation (Iceberg-style incremental append scan),
featurizes that delta (phash bits, caption stats, decoded-pixel stats
— ``hiselspark.sources.fused_scan.featurize_images_fused``), and
appends the result to ``--features`` in one atomic snapshot stamped
with the processed source version.  A crashed run resumes by
re-reading the same delta; an up-to-date table is a metadata-only
no-op — at 10^12 source rows the cost of a follow step is proportional
to the ingest batch, never to the table.

``--demo N`` seeds the loop end-to-end on a synthetic corpus: commits
N deterministic image rows to the source table in two appends, then
runs two catch-up steps plus a no-op third.
"""
from __future__ import annotations

import argparse
import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _prepare_process() -> None:
    """Put the checkout on the driver's and the Python workers' import
    paths (workers import the package too: the featurizer runs in
    mapInPandas), as --py-files would on a cluster, so the job runs
    from any cwd; one BLAS thread per worker.  Run by :func:`main`,
    not at import, so importing the job changes nothing."""
    sys.path.insert(0, _ROOT)
    os.environ["PYTHONPATH"] = (
        _ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""))
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source", required=True,
                   help="SnapshotTable root of the appending images table")
    p.add_argument("--features", required=True,
                   help="SnapshotTable root of the derived features table")
    p.add_argument("--phash-bits", type=int, default=16)
    p.add_argument("--demo", type=int, default=0,
                   help="seed the source with N synthetic image rows "
                        "(two appends) and run the loop end-to-end")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    _prepare_process()
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.appName("hiselspark-catchup")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from hiselspark.incremental import catchup, processed_source_version
    from hiselspark.sources.fused_scan import featurize_images_fused
    from hiselspark.sources.snapshots import SnapshotTable

    src = SnapshotTable(args.source)
    drv = SnapshotTable(args.features)

    def feat(df):
        # the featurizer drops image_id (the selection layer keys on
        # entity/ts); the derived TABLE keeps it, as a passthrough
        # column, so consumers can join features back to the corpus
        from pyspark.sql import functions as F
        out = featurize_images_fused(
            spark, df.withColumn("__iid", F.col("image_id")),
            n_phash_bits=args.phash_bits)
        return out.withColumnRenamed("__iid", "image_id")

    if args.demo:
        from pyspark.sql import functions as F
        from hiselspark import datagen
        half = max(args.demo // 2, 1)
        full = datagen.images(spark, args.demo, seed=42)
        cut = F.lit(f"img{half:010d}")
        src.write(full.where(F.col("image_id") < cut), mode="append")
        s1 = catchup(spark, src, drv, feat)
        src.write(full.where(F.col("image_id") >= cut), mode="append")
        s2 = catchup(spark, src, drv, feat)
        noop = catchup(spark, src, drv, feat)
        result = {
            "rows": drv.read(spark).count(),
            "derived_snapshots": [s.version for s in (s1, s2) if s],
            "third_call_noop": noop is None,
            "source_version_processed": processed_source_version(drv),
        }
    else:
        snap = catchup(spark, src, drv, feat)
        result = {
            "advanced": snap is not None,
            "derived_version": snap.version if snap else
            (drv.current().version if drv.current() else 0),
            "source_version_processed": processed_source_version(drv),
            "rows_appended": (spark.read.parquet(*[
                f for f in snap.files
                if f not in (drv.snapshots()[-2].files
                             if len(drv.snapshots()) > 1 else [])
            ]).count() if snap else 0),
        }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
