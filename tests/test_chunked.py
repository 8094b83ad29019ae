"""Chunked (skew-proof) timeline operators must equal the plain ones.

Inputs deliberately include a hot entity, empty buckets (sparse
entities), rows exactly on bucket boundaries, and timestamps denser
than the bucket width — the cases where chunking goes wrong if the
carry logic is off by one.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

BUCKET = 3600.0  # 1h buckets → lots of boundaries in a 2-day span


@pytest.fixture(scope="module")
def skewed(spark):
    rng = np.random.default_rng(77)
    rows = []
    rid = 0
    # hot entity: dense, spans many buckets
    for _ in range(600):
        rows.append(("hot", int(rng.integers(0, 2 * 86400)), rid)); rid += 1
    # sparse entities: few rows, far apart (empty buckets between)
    for e in range(20):
        for _ in range(int(rng.integers(1, 5))):
            rows.append((f"e{e}", int(rng.integers(0, 2 * 86400)), rid))
            rid += 1
    # boundary rows: exactly on bucket edges
    for i in range(10):
        rows.append(("edge", i * int(BUCKET), rid)); rid += 1
    pdf = pd.DataFrame(rows, columns=["entity_id", "off", "rid"])
    pdf["ts"] = pd.Timestamp("2024-05-01") + pd.to_timedelta(pdf["off"],
                                                             unit="s")
    pdf["val"] = rng.normal(size=len(pdf)).round(4)
    df = spark.createDataFrame(pdf.drop(columns=["off"]))
    df = df.persist()
    df.count()
    yield df
    df.unpersist()


def _collect(df, key=("rid",)):
    return (df.toPandas().sort_values(list(key)).reset_index(drop=True))


def test_chunked_lags_equal_plain(spark, skewed):
    from hiselspark.operators.chunked import chunked_lags
    from hiselspark.operators.windows import with_lags

    plain = with_lags(skewed, "entity_id", "ts", ["val"], lags=(1, 3))
    # plain window orders by ts only; ties would make both orders
    # arbitrary — our synthetic rids give unique (entity, ts) except by
    # construction none collide here, so orders agree
    chunk = chunked_lags(skewed, "entity_id", "ts", ["val"], lags=(1, 3),
                         bucket_seconds=BUCKET)
    p = _collect(plain)[["rid", "val_lag1", "val_lag3"]]
    c = _collect(chunk)[["rid", "val_lag1", "val_lag3"]]
    pd.testing.assert_frame_equal(c, p)


def test_chunked_rolling_equal_plain(spark, skewed):
    from hiselspark.operators.chunked import chunked_rolling
    from hiselspark.operators.windows import rolling_aggregates

    plain = rolling_aggregates(skewed, "entity_id", "ts",
                               {"val": ["sum", "count"]},
                               window_seconds=1800.0)
    chunk = chunked_rolling(skewed, "entity_id", "ts",
                            {"val": ["sum", "count"]},
                            window_seconds=1800.0,
                            bucket_seconds=BUCKET)
    cols = ["rid", "val_roll_sum_1800s", "val_roll_count_1800s"]
    pd.testing.assert_frame_equal(_collect(chunk)[cols],
                                  _collect(plain)[cols])


def test_chunked_sessionize_equal_plain(spark, skewed):
    from hiselspark.operators.chunked import chunked_sessionize
    from hiselspark.operators.windows import sessionize

    plain = sessionize(skewed, "entity_id", "ts", gap_seconds=900.0)
    chunk = chunked_sessionize(skewed, "entity_id", "ts",
                               gap_seconds=900.0, bucket_seconds=BUCKET)
    cols = ["rid", "session_id"]
    pd.testing.assert_frame_equal(_collect(chunk)[cols],
                                  _collect(plain)[cols])


@pytest.mark.parametrize("strict,tol", [(False, None), (True, None),
                                        (False, 1800.0)])
def test_chunked_asof_equal_plain(spark, skewed, strict, tol):
    from hiselspark.operators.asof import asof_join
    from hiselspark.operators.chunked import chunked_asof_join

    labels = skewed.select("entity_id", "ts", "rid")
    feats = (skewed.groupBy("entity_id", "ts")
                   .agg(F.max("val").alias("fv")))
    kw = dict(on="entity_id", left_ts="ts", right_ts="ts",
              value_cols=["fv"], strict=strict, tolerance_seconds=tol)
    plain = asof_join(labels, feats, **kw)
    chunk = chunked_asof_join(labels, feats, bucket_seconds=BUCKET, **kw)
    cols = ["rid", "fv", "__matched_ts"]
    pd.testing.assert_frame_equal(_collect(chunk)[cols],
                                  _collect(plain)[cols])


def test_chunked_timeline_combined_equals_plain(spark, skewed):
    """The single-shuffle combined pass == plain lags+rolling
    composed."""
    from hiselspark.operators.chunked import chunked_timeline_features
    from hiselspark.operators.windows import rolling_aggregates, with_lags

    plain = with_lags(skewed, "entity_id", "ts", ["val"], lags=(1,))
    plain = rolling_aggregates(plain, "entity_id", "ts",
                               {"val": ["mean", "count"]},
                               window_seconds=1800.0)
    chunk = chunked_timeline_features(
        skewed, "entity_id", "ts", lag_cols=["val"], lags=(1,),
        rolling_aggs={"val": ["mean", "count"]}, rolling_window_s=1800.0,
        bucket_seconds=BUCKET)
    cols = ["rid", "val_lag1", "val_roll_mean_1800s",
            "val_roll_count_1800s"]
    pd.testing.assert_frame_equal(_collect(chunk)[cols],
                                  _collect(plain)[cols])


def test_chunked_clustering_bounds_partition_size(spark, skewed):
    """The point of chunking: no (entity, bucket) group exceeds the
    hot entity's per-bucket density — the straggler is gone."""
    from hiselspark.operators.chunked import _bucket_of

    sizes = (skewed.withColumn("b", _bucket_of("ts", BUCKET))
             .groupBy("entity_id", "b").count().toPandas())
    per_entity = skewed.groupBy("entity_id").count().toPandas()
    hot_total = int(per_entity.set_index("entity_id").loc["hot", "count"])
    assert sizes["count"].max() < hot_total / 5


def test_chunked_rolling_corr_equals_plain(spark):
    from hiselspark.operators.chunked import chunked_rolling_corr
    from hiselspark.operators.windows import rolling_corr
    rng = np.random.default_rng(21)
    n = 3000
    pdf = pd.DataFrame({
        "event_id": range(n),
        # one hot entity with 80% of rows + a few normal ones
        "entity": np.where(rng.random(n) < 0.8, 0,
                           rng.integers(1, 6, n)),
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 60 * 86400, n), unit="s"),
        "x": rng.integers(0, 500, n),
        "y": rng.integers(0, 90, n),
    })
    df = spark.createDataFrame(pdf)
    plain = (rolling_corr(df, "entity", "ts", "x", "y", 86400.0)
             .select("event_id", "roll_corr").toPandas()
             .sort_values("event_id").reset_index(drop=True))
    chunked = (chunked_rolling_corr(df, "entity", "ts", "x", "y",
                                    86400.0, bucket_seconds=7 * 86400.0)
               .select("event_id", "roll_corr").toPandas()
               .sort_values("event_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(plain, chunked)


def test_chunked_ewma_equals_plain(spark):
    from hiselspark.operators.chunked import chunked_ewma
    from hiselspark.operators.windows import ewma
    rng = np.random.default_rng(23)
    n = 2000
    pdf = pd.DataFrame({
        "event_id": range(n),
        "entity": np.where(rng.random(n) < 0.7, 0,
                           rng.integers(1, 5, n)),
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 45 * 86400, n), unit="s"),
        "x": rng.integers(0, 500, n),
    })
    df = spark.createDataFrame(pdf)
    plain = (ewma(df, "entity", "ts", "x", alpha=0.5, max_lags=8,
                  tie_cols=("event_id",))
             .select("event_id", "x_ewma").toPandas()
             .sort_values("event_id").reset_index(drop=True))
    chunked = (chunked_ewma(df, "entity", "ts", "x", alpha=0.5,
                            max_lags=8, tie_col="event_id",
                            bucket_seconds=7 * 86400.0)
               .select("event_id", "x_ewma").toPandas()
               .sort_values("event_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(plain, chunked)


def test_chunked_rolling_quantile_equals_plain(spark):
    from hiselspark.operators.chunked import chunked_rolling_quantile
    from hiselspark.operators.windows import rolling_quantile
    rng = np.random.default_rng(29)
    n = 2500
    pdf = pd.DataFrame({
        "event_id": range(n),
        "entity": np.where(rng.random(n) < 0.75, 0,
                           rng.integers(1, 5, n)),
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 50 * 86400, n), unit="s"),
        "x": rng.integers(0, 900, n),
    })
    df = spark.createDataFrame(pdf)
    plain = (rolling_quantile(df, "entity", "ts", "x", 0.5, 86400.0,
                              out_col="m")
             .select("event_id", "m").toPandas()
             .sort_values("event_id").reset_index(drop=True))
    chunked = (chunked_rolling_quantile(df, "entity", "ts", "x", 0.5,
                                        86400.0,
                                        bucket_seconds=7 * 86400.0,
                                        out_col="m")
               .select("event_id", "m").toPandas()
               .sort_values("event_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(plain, chunked)


@pytest.fixture(scope="module")
def tied(spark):
    """Labels plus feature rows tied on (entity, ts): three rows with
    different values at every feature timestamp, spread over many
    buckets so a label's match often comes from an earlier bucket's
    seed.  Some label timestamps equal a feature timestamp (strict and
    non-strict differ there)."""
    rng = np.random.default_rng(41)
    feats, labels = [], []
    for e in range(6):
        offs = np.sort(rng.choice(2 * 86400, size=40, replace=False))
        for off in offs:
            for _ in range(3):
                fw = None if rng.random() < 0.2 else int(rng.integers(0, 5))
                feats.append((f"e{e}", int(off),
                              round(float(rng.normal()), 3), fw))
        for i in range(50):
            off = (int(rng.choice(offs)) if i % 3 == 0
                   else int(rng.integers(0, 2 * 86400)))
            labels.append((f"e{e}", off, len(labels)))
    base = pd.Timestamp("2024-05-01")
    fp = pd.DataFrame(feats, columns=["entity_id", "off", "fv", "fw"])
    fp["ts"] = base + pd.to_timedelta(fp["off"], unit="s")
    fp["fw"] = fp["fw"].astype("Int64")
    lp = pd.DataFrame(labels, columns=["entity_id", "off", "rid"])
    lp["ts"] = base + pd.to_timedelta(lp["off"], unit="s")
    f = spark.createDataFrame(fp.drop(columns=["off"])).persist()
    lab = spark.createDataFrame(lp.drop(columns=["off"])).persist()
    f.count(), lab.count()
    yield lab, f
    f.unpersist(), lab.unpersist()


@pytest.mark.parametrize("strict,tol", [(False, None), (True, None),
                                        (False, 1800.0)])
def test_chunked_asof_ties_equal_plain_on_any_layout(spark, tied, strict,
                                                     tol):
    """Several feature rows on one (entity, ts): the chunked join picks
    the same row as ``asof_join`` (the value struct breaks the tie),
    whatever the input partitioning."""
    from hiselspark.operators.asof import asof_join
    from hiselspark.operators.chunked import chunked_asof_join

    labels, feats = tied
    kw = dict(on="entity_id", left_ts="ts", right_ts="ts",
              value_cols=["fv", "fw"], strict=strict, tolerance_seconds=tol)
    cols = ["rid", "fv", "fw", "__matched_ts"]
    plain = _collect(asof_join(labels, feats, **kw))[cols]
    assert plain["fv"].notna().sum() > 100
    for n in (1, 3, 7):
        chunk = chunked_asof_join(labels, feats.repartition(n),
                                  bucket_seconds=BUCKET, **kw)
        pd.testing.assert_frame_equal(_collect(chunk)[cols], plain)
