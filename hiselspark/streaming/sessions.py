"""Structured Streaming twins of the batch windowing operators.

The north rule is batch (Iceberg snapshots), but the same session /
tumbling-window semantics are exposed as streaming queries so a
deployment can run the feature pipeline incrementally: files (or a
Kafka topic, in a real deployment) -> watermarked event-time windows ->
sink.  The batch operators in ``operators/windows.py`` are the oracles:
a stream processed to completion with ``Trigger.AvailableNow`` must
produce exactly the batch answer — that equivalence is what the tests
and the driver-gate query assert.

Session semantics note: ``F.session_window(ts, gap)`` merges events
strictly less than ``gap`` apart (a new session starts when the
inter-event gap is **>= gap**), while the batch ``sessionize`` gap-flag
uses ``> gap``.  The streaming helpers here define sessions the
``session_window`` way; oracles are written with the matching ``>=``
rule.
"""
from __future__ import annotations

import shutil
import tempfile
import uuid
from typing import Dict, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F


def stream_sessions(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark_seconds: int = 3600,
) -> DataFrame:
    """Streaming session aggregation: one row per (entity, session)
    with start/end and event count.  ``events`` must be a streaming
    DataFrame; state is bounded by the watermark (late events beyond it
    are dropped), which is what keeps this runnable forever at scale."""
    return (
        events
        .withWatermark(ts_col, f"{watermark_seconds} seconds")
        .groupBy(
            F.col(entity_col),
            F.session_window(F.col(ts_col), f"{gap_seconds} seconds"))
        .agg(F.count("*").alias("n_events"),
             F.min(ts_col).alias("first_event_ts"))
    )


def stream_tumbling(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    aggs: Dict[str, Sequence[str]],
    window_seconds: int,
    watermark_seconds: int = 3600,
) -> DataFrame:
    """Streaming tumbling-window aggregates (twin of batch
    ``tumbling_aggregates``)."""
    fns = {"sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max,
           "count": F.count}
    exprs = [fns[name](c).alias(f"{c}_{name}")
             for c, names in aggs.items() for name in names]
    return (
        events
        .withWatermark(ts_col, f"{watermark_seconds} seconds")
        .groupBy(F.col(entity_col),
                 F.window(F.col(ts_col), f"{window_seconds} seconds"))
        .agg(*exprs)
    )


def run_stream_to_batch(streaming_df: DataFrame,
                        output_mode: str = "complete") -> DataFrame:
    """Drain a streaming aggregation to completion with
    ``Trigger.AvailableNow`` into an in-memory table and return the
    result as a batch DataFrame.  This is the bridge that lets the
    driver's oracle gate (and tests) compare a streaming query against
    an ANSI-SQL oracle: availableNow processes the full backlog then
    stops, so 'complete' mode holds the final answer.  The query's
    temporary checkpoint directory is removed when it ends."""
    spark = streaming_df.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="hiselspark_ckpt_")
    try:
        q = (streaming_df.writeStream
             .format("memory")
             .queryName(name)
             .outputMode(output_mode)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        # the memory sink holds the result; a checkpoint only serves a
        # restart, and this query is never restarted
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def read_events_stream(spark: SparkSession, path: str,
                       schema, fmt: str = "parquet",
                       max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a directory/glob of data files.
    ``maxFilesPerTrigger`` bounds per-micro-batch work (backpressure)."""
    return (spark.readStream
            .schema(schema)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .format(fmt)
            .load(path))


def stage_microbatch_files(frames: Sequence[DataFrame], path: str) -> None:
    """Stage an ORDERED sequence of DataFrames as one parquet file each
    under ``path``, with strictly ascending modification times, so a
    file-source stream with ``maxFilesPerTrigger=1`` replays them as a
    deterministic sequence of micro-batches (the file source orders its
    backlog by mtime, then path).  This is how tests and the driver
    gate exercise ORDER-dependent streaming semantics — watermark
    advancement and late-data dropping — without a message bus: each
    frame plays the role of one arriving batch."""
    import os
    import shutil

    tmp = f"{path}__tmp"
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    t0 = 1_700_000_000
    for i, df in enumerate(frames):
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        assert len(part) == 1
        dst = f"{path}/{i:04d}.parquet"
        shutil.move(f"{tmp}/{part[0]}", dst)
        os.utime(dst, (t0 + i, t0 + i))
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
