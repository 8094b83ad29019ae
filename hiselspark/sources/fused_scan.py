"""The image featurizer: one pandas body per Arrow batch.

:func:`featurize_images_fused` is the package's only image featurizer.
Every input type runs the same per-batch body — pixel statistics
(``functions.image._pixel_stats_frame``), then caption features
(:func:`_caption_features_pandas`) — so the routes cannot drift apart:

* a parquet directory or an explicit file list (e.g. a snapshot's
  committed files) — the work items are (parquet file, row-group)
  pairs, a tiny DataFrame split into at most one slice per core, and
  each Spark task opens its row groups directly with pyarrow,
  decodes, reduces the pixels to statistics, computes the caption
  features and emits only the narrow numeric frame.  Image bytes flow
  disk -> Python worker, touching neither the JVM heap nor the worker
  socket.  This is the production route: the
  JVM->Python byte-pump of a DataFrame scan was THE bottleneck of the
  full pipeline at high core counts (payload movement over one memory
  bus does not scale with cores).  It is the standard payload-scan
  pattern (Petastorm-style data loading, `binaryFile`-source feature
  extraction); Catalyst still owns everything downstream of the
  narrow frame.  Trade-offs: no Catalyst pushdown INTO this scan
  (row-group granularity only) — fine for full-corpus featurization,
  wrong for selective queries; the row-group listing happens on the
  driver (file footers only — the same metadata an Iceberg manifest
  read would touch).
* a DataFrame (a synthetic corpus, an incremental delta) —
  ``mapInPandas`` over the same body; blobs cross the JVM->Python
  boundary once.  Columns outside the image schema pass through (e.g.
  a row key the caller wants back).

The phash bit unpack and hamming weight stay JVM expressions
downstream of both (free there, and they would bloat the narrow
frame).  ``tests/test_pipeline.py`` asserts that path and DataFrame
inputs give identical output, also on whitespace/Unicode edge captions.
"""
from __future__ import annotations

import os
import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, types as T

from ..functions.image import PIXEL_STAT_FIELDS, _pixel_stats_frame

TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"  # BPE-ish word/punct split

_SOURCE_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                "entity_id", "ts"]
# source columns the featurizer keeps, ahead of the feature columns
_KEPT_COLS = ["entity_id", "ts", "w", "h", "phash"]

_CAPTION_FIELDS = [
    T.StructField("caption_len", T.IntegerType()),
    T.StructField("caption_tokens", T.IntegerType()),
    T.StructField("caption_rtokens", T.IntegerType()),
]


def _caption_features_pandas(out: pd.DataFrame,
                             col: str = "caption") -> pd.DataFrame:
    """The featurizer's one tokenizer: ``caption_len`` (code points),
    ``caption_tokens`` (runs of Unicode whitespace split the stripped
    caption; empty or all-whitespace text counts 0) and
    ``caption_rtokens`` (BPE-ish ``TOKEN_PATTERN`` matches: words and
    punctuation counted separately).  A null caption counts like the
    empty string: 0, 0, 0.  Computed worker-side, so the caption
    strings never cross into the JVM."""
    s = out[col].fillna("").astype(str)
    out["caption_len"] = s.str.len().astype("int32")
    stripped = s.str.strip()
    out["caption_tokens"] = stripped.str.split(r"\s+", regex=True).map(
        len).where(stripped != "", 0).astype("int32")
    out["caption_rtokens"] = s.str.count(TOKEN_PATTERN).astype("int32")
    return out


def list_row_groups(path) -> pd.DataFrame:
    """(file, row_group) work items — footer metadata only, the moral
    equivalent of reading an Iceberg manifest.  ``path`` is a parquet
    directory or an explicit list of parquet files (e.g. a
    SnapshotTable snapshot's committed file list, so the fused scan
    reads exactly the time-travel state)."""
    import pyarrow.parquet as pq

    if isinstance(path, (list, tuple)):
        files = sorted(path)
    else:
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if re.match(r"part-.*\.parquet$", f))
    items = []
    for f in files:
        for rg in range(pq.ParquetFile(f).metadata.num_row_groups):
            items.append((f, rg))
    return pd.DataFrame(items, columns=["file", "rg"])


def image_feature_scan(spark: SparkSession, images_path,
                       batch_rows: int = 1024) -> DataFrame:
    """Narrow feature frame straight from the image parquet: pixel
    statistics + caption features + passthrough metadata.  Returns
    columns ``(entity_id, ts, w, h, phash, caption_len, caption_tokens,
    caption_rtokens, px_*)``.

    The (file, row-group) list runs as at most ``defaultParallelism``
    contiguous slices — one Python task per core, no shuffle.  Each
    task pays a fixed Python-worker cost (PySpark's worker setup runs
    ``importlib.invalidate_caches()`` on every task; ~0.2 core-s per
    task on a 4-vCPU host), so more tasks than cores buy nothing but
    that cost."""
    work = spark.createDataFrame(list_row_groups(images_path))

    out_fields = [
        T.StructField("entity_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("phash", T.LongType()),
        T.StructField("caption_len", T.IntegerType()),
        T.StructField("caption_tokens", T.IntegerType()),
        T.StructField("caption_rtokens", T.IntegerType()),
        *PIXEL_STAT_FIELDS,
    ]
    out_schema = T.StructType(out_fields)
    out_cols = [f.name for f in out_fields]

    def scan(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in pdfs:
            for file, rg in zip(pdf["file"], pdf["rg"]):
                pf = pq.ParquetFile(file)
                # iterate in bounded batches: a whole row group of
                # blobs at once would spike worker memory
                for rb in pf.iter_batches(batch_size=batch_rows,
                                          row_groups=[int(rg)],
                                          columns=_SOURCE_COLS):
                    batch = rb.to_pandas()
                    batch["phash"] = batch["phash"].astype("int64")
                    out = _pixel_stats_frame(batch)
                    out = _caption_features_pandas(out)
                    yield out[out_cols]

    return work.mapInPandas(scan, out_schema)


def _frame_feature_scan(images: DataFrame) -> DataFrame:
    """The same narrow frame from an image DataFrame: ``mapInPandas``
    over the scan's per-batch body.  Kept source columns keep their
    input types; columns outside the image schema pass through after
    them."""
    src = images.schema
    out_schema = T.StructType(
        [src[c] for c in _KEPT_COLS]
        + [f for f in src.fields if f.name not in _SOURCE_COLS]
        + _CAPTION_FIELDS + PIXEL_STAT_FIELDS)
    out_cols = out_schema.fieldNames()

    def featurize(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            out = _pixel_stats_frame(pdf)
            out = _caption_features_pandas(out)
            yield out[out_cols]

    return images.mapInPandas(featurize, out_schema)


def featurize_images_fused(spark: SparkSession, images,
                           n_phash_bits: int = 16) -> DataFrame:
    """Image rows -> feature columns: ``phash_weight``,
    ``pbit0..pbit{n_phash_bits-1}``, caption length/token counts and
    pixel statistics, plus ``entity_id``, ``ts``, ``w``, ``h``.  The
    payload, caption, format, image id and raw phash are dropped (a
    near-unique phash is a harmful delta-kernel feature; its
    information rides in the bit columns).

    ``images`` is a parquet directory, an explicit parquet file list,
    or a DataFrame with the image schema (whose extra columns pass
    through)."""
    from ..functions.image import phash_bit_columns, phash_hamming_weight

    if isinstance(images, DataFrame):
        df = _frame_feature_scan(images)
    else:
        df = image_feature_scan(spark, images)
    df = phash_hamming_weight(df)
    df = phash_bit_columns(df, n_bits=n_phash_bits)
    return df.drop("phash")
