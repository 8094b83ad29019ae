"""The microsecond order key and the µs bounds are exact.

``windows.ts_micros`` is the one epoch-µs key of the point-in-time
operators.  The double route ``(seconds * 1e6).cast(long)`` it replaced
returned the key one µs low for many µs-fraction timestamps (most of
all in 2004–2005), which moved rows across closed range-window and
tolerance edges.  ``windows.seconds_to_micros`` is the one bound: the
truncating ``int(seconds * 1_000_000)`` it replaced came out one µs
short for fractional seconds such as 2.01.
"""
from __future__ import annotations

import datetime as dt

import numpy as np

from pyspark.sql import functions as F

_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
_US = dt.timedelta(microseconds=1)


def _epoch_us(*args) -> int:
    return (dt.datetime(*args, tzinfo=dt.timezone.utc) - _EPOCH) // _US


def test_ts_micros_exact_over_sweep(spark):
    from hiselspark.operators.windows import ts_micros

    rng = np.random.default_rng(3)
    bands = [(_epoch_us(1950, 1, 1), _epoch_us(1970, 1, 1)),
             (_epoch_us(2004, 1, 1), _epoch_us(2005, 8, 1)),
             (_epoch_us(2005, 8, 1), _epoch_us(2007, 3, 1)),
             (_epoch_us(2024, 1, 1), _epoch_us(2024, 2, 1))]
    us = np.concatenate([rng.integers(lo, hi, 2000) for lo, hi in bands])
    df = (spark.createDataFrame([(int(u),) for u in us], "us long")
          .withColumn("ts", F.timestamp_micros("us"))
          .withColumn("ts_ntz", F.col("ts").cast("timestamp_ntz")))
    bad = df.filter((ts_micros("ts") != F.col("us"))
                    | (ts_micros(F.col("ts_ntz")) != F.col("us"))).count()
    assert bad == 0


def _pair(spark, gap_us: int = 3600 * 10**6):
    """Two events of one entity exactly ``gap_us`` apart (one hour by
    default), at a µs-fraction instant the double route keyed one µs
    low."""
    t0 = _epoch_us(2005, 9, 5, 5, 32, 38, 505205)
    rows = [("a", t0, 0, 1.0), ("a", t0 + gap_us, 1, 2.0)]
    return (spark.createDataFrame(rows, "entity_id string, us long, "
                                        "rid long, v double")
            .withColumn("ts", F.timestamp_micros("us")).drop("us"))


def test_rolling_window_edge_is_closed(spark):
    from hiselspark.operators.chunked import chunked_rolling
    from hiselspark.operators.windows import rolling_aggregates

    df = _pair(spark)
    for out in (rolling_aggregates(df, "entity_id", "ts", {"v": ["count"]},
                                   window_seconds=3600.0),
                chunked_rolling(df, "entity_id", "ts", {"v": ["count"]},
                                window_seconds=3600.0)):
        counts = {r.rid: r.v_roll_count_3600s for r in out.collect()}
        assert counts == {0: 1, 1: 2}


def test_asof_tolerance_edge_is_closed(spark):
    from hiselspark.operators.asof import asof_join
    from hiselspark.operators.chunked import chunked_asof_join

    df = _pair(spark)
    labels = df.filter("rid = 1").select("entity_id", "ts", "rid")
    feats = df.filter("rid = 0").select("entity_id", "ts", "v")
    for join in (asof_join, chunked_asof_join):
        out = join(labels, feats, value_cols=["v"],
                   tolerance_seconds=3600.0).collect()
        assert [r.v for r in out] == [1.0]


def test_fractional_second_window_edge_is_closed(spark):
    from hiselspark.operators.chunked import chunked_rolling
    from hiselspark.operators.windows import rolling_aggregates

    df = _pair(spark, 2_010_000)
    for out in (rolling_aggregates(df, "entity_id", "ts", {"v": ["count"]},
                                   window_seconds=2.01),
                chunked_rolling(df, "entity_id", "ts", {"v": ["count"]},
                                window_seconds=2.01)):
        counts = {r.rid: r.n for r in out.withColumnRenamed(
            "v_roll_count_2.01s", "n").collect()}
        assert counts == {0: 1, 1: 2}


def test_fractional_second_tolerance_edge_is_closed(spark):
    from hiselspark.operators.asof import asof_join
    from hiselspark.operators.chunked import chunked_asof_join

    df = _pair(spark, 2_010_000)
    labels = df.filter("rid = 1").select("entity_id", "ts", "rid")
    feats = df.filter("rid = 0").select("entity_id", "ts", "v")
    for join in (asof_join, chunked_asof_join):
        out = join(labels, feats, value_cols=["v"],
                   tolerance_seconds=2.01).collect()
        assert [r.v for r in out] == [1.0]
