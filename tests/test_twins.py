"""Calibration + agreement tests for the no-Spark verification twins
(``hiselspark/twin.py`` / ``hiselspark/sparkhash.py``).

The twins' replication contracts (hash, fold order, rounding,
percentile, central moments) are calibrated here against a live
session; full twin-vs-engine agreement for all 11 pin-family queries
is asserted at pin time by ``tools/pin_all.py`` (committed evidence:
the per-sf pin registry itself), with a fast subset re-checked here.
"""
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_sparkhash_matches_spark(spark):
    from hiselspark.sparkhash import xxhash64
    rows = [(1, 0.5, "abc", [1.5, -0.0, 2.25], 7),
            (-3, -0.0, "", [0.0] * 5, 0),
            (2 ** 40, 3.14159, "a longer string exceeding 32 bytes "
             "so the xxh64 block path is exercised too",
             [float(i) * 0.1 for i in range(64)], -9)]
    df = spark.createDataFrame(
        rows, "l long, d double, s string, a array<double>, i int")
    got = df.select(
        F.xxhash64("l").alias("hl"), F.xxhash64("d").alias("hd"),
        F.xxhash64("s").alias("hs"), F.xxhash64("a").alias("ha"),
        F.xxhash64("i").alias("hi"),
        F.xxhash64(F.lit(7), F.col("l")).alias("hcl"),
        F.xxhash64(F.lit(0), F.col("d"), F.col("l")).alias("hmix"),
    ).collect()
    for r, (l, d, s, a, i) in zip(got, rows):
        assert r["hl"] == xxhash64([l], ["long"])
        assert r["hd"] == xxhash64([d], ["double"])
        assert r["hs"] == xxhash64([s], ["string"])
        assert r["ha"] == xxhash64([a], ["array<double>"])
        assert r["hi"] == xxhash64([i], ["int"])
        assert r["hcl"] == xxhash64([7, l], ["int", "long"])
        assert r["hmix"] == xxhash64([0, d, l],
                                     ["int", "double", "long"])


def test_fold_and_moment_replication(spark):
    from hiselspark.twin import (fold_dot, spark_stddev_pop, spark_sum)
    rng = np.random.default_rng(3)
    vals = [float(v) for v in
            rng.standard_normal(257) * rng.lognormal(0, 3, 257)]
    df = spark.createDataFrame([(v,) for v in vals],
                               "v double").coalesce(1)
    row = df.agg(F.sum("v").alias("s"),
                 F.stddev_pop("v").alias("sd")).collect()[0]
    assert spark_sum(np.array(vals)) == row["s"]
    assert spark_stddev_pop(np.array(vals)) == row["sd"]
    # SQL left-fold dot == cumsum replication
    a = rng.standard_normal(64)
    b = rng.standard_normal(64)
    adf = spark.createDataFrame(
        [([float(x) for x in a], [float(x) for x in b])],
        "x array<double>, y array<double>")
    got = adf.select(F.aggregate(
        F.zip_with("x", "y", lambda p, q: p * q), F.lit(0.0),
        lambda acc, x: acc + x).alias("d")).collect()[0]["d"]
    assert fold_dot(a, b)[0] == got


def test_round_and_percentile_replication(spark):
    from hiselspark.twin import spark_percentile, spark_round
    vals = [0.1234565, -0.1234565, 2.5e-7, -2.5e-7, 1.0000005,
            123456.1234565, -0.0000005, 3.137595, 0.0, -0.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r["r"] for r in
           df.select(F.round("v", 6).alias("r")).collect()]
    for v, g in zip(vals, got):
        assert repr(spark_round(v)) == repr(g), v
    rng = np.random.default_rng(11)
    data = rng.standard_normal(501)
    pdf = spark.createDataFrame([(float(v),) for v in data], "v double")
    for p in (0.1, 0.25, 0.5, 1 / 3, 0.9):
        got = pdf.agg(F.expr(f"percentile(v, {p!r})")
                      .alias("q")).collect()[0]["q"]
        assert spark_percentile(data, p) == got, p


@pytest.mark.parametrize("name", ["mi_preselect", "segmented_select",
                                  "pca_project", "semantic_dedup",
                                  "categorical_search"])
def test_twin_agrees_with_engine(spark, name):
    """Representation-exact twin-vs-engine agreement on a fast subset
    of the pin family at sf0.001 (pin_all.py asserts all 11 at every
    pinned sf)."""
    import __spark_entry__ as se
    from hiselspark.twin import TWINS
    eng = se.queries()[name](spark, SF).toPandas()
    tw = TWINS[name](SF)
    cols = sorted(eng.columns)
    assert sorted(tw.columns) == cols
    e = eng.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    t = tw.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    assert len(e) == len(t)
    for c in cols:
        if pd.api.types.is_float_dtype(e[c]) or \
                pd.api.types.is_float_dtype(t[c]):
            assert (e[c].map(repr) == t[c].map(repr)).all(), c
        else:
            assert (e[c].astype(str) == t[c].astype(str)).all(), c


def test_pin_registry_covers_both_scales():
    from hiselspark.pinned_constants import (PINNED_CONSTANTS,
                                             PINNED_CONSTANTS_BY_SF)
    from hiselspark.pinned_oracles import (PINNED_ORACLES,
                                           PINNED_ORACLES_BY_SF)
    for tag in ("sf0.01", "sf0.1"):
        assert tag in PINNED_CONSTANTS_BY_SF, tag
        assert tag in PINNED_ORACLES_BY_SF, tag
    assert PINNED_ORACLES is PINNED_ORACLES_BY_SF["sf0.01"]
    assert PINNED_CONSTANTS is PINNED_CONSTANTS_BY_SF["sf0.01"]
    # the two registries stay tag-aligned
    assert set(PINNED_ORACLES_BY_SF) == set(PINNED_CONSTANTS_BY_SF)


def test_cosine_topk_corpus_bound(spark):
    """The exact verifier refuses oversized corpora and points at the
    scale paths (round-5 guard)."""
    from hiselspark.operators.similarity import cosine_topk
    emb = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=int(i)) for i in range(4)])
        .alias("embedding"))
    with pytest.raises(ValueError, match="ivf_topk"):
        cosine_topk(emb.limit(5), emb, k=2, corpus_bound=10)
    out = cosine_topk(emb.filter(F.col("vec_id") < 3), emb, k=2,
                      corpus_bound=100)
    assert out.count() == 6
