"""Tests for the round-1 widening: forward as-of, interval join, IVF
top-k, streaming twins, MI preselection."""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F, types as T


def _timeline(spark, n_entities=6, n_rows=400, seed=3):
    rng = np.random.default_rng(seed)
    ent = rng.integers(0, n_entities, n_rows)
    ts = pd.Timestamp("2024-02-01") + pd.to_timedelta(
        rng.integers(0, 86400 * 5, n_rows), unit="s")
    pdf = pd.DataFrame({
        "entity_id": [f"e{e}" for e in ent],
        "ts": ts,
        "val": rng.normal(size=n_rows).round(4),
        "rid": np.arange(n_rows),
    })
    return pdf, spark.createDataFrame(pdf)


# ---------------------------------------------------------------------------
# forward as-of
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("strict", [False, True])
def test_asof_forward_matches_pandas(spark, strict):
    from hiselspark.operators.asof import asof_join

    lpdf, labels = _timeline(spark, seed=10)
    fpdf, feats = _timeline(spark, seed=11)
    labels = labels.select("entity_id", "ts", "rid")
    feats = (feats.groupBy("entity_id", "ts")
                  .agg(F.max("val").alias("fval")))
    got = (asof_join(labels, feats, on="entity_id", left_ts="ts",
                     right_ts="ts", value_cols=["fval"],
                     direction="forward", strict=strict)
           .toPandas().sort_values("rid").reset_index(drop=True))

    fp = (fpdf.groupby(["entity_id", "ts"], as_index=False)["val"].max()
             .rename(columns={"val": "fval"}).sort_values("ts"))
    exp = pd.merge_asof(
        lpdf[["entity_id", "ts", "rid"]].sort_values("ts"),
        fp, on="ts", by="entity_id", direction="forward",
        allow_exact_matches=not strict,
    ).sort_values("rid").reset_index(drop=True)
    pd.testing.assert_series_equal(got["fval"], exp["fval"],
                                   check_names=False)


def test_asof_forward_no_past_leak(spark):
    """Forward as-of must never return a feature strictly before the
    label timestamp."""
    from hiselspark.operators.asof import asof_join

    _, labels = _timeline(spark, seed=20)
    _, feats = _timeline(spark, seed=21)
    labels = labels.select("entity_id", "ts", "rid")
    feats = (feats.groupBy("entity_id", "ts")
                  .agg(F.max("val").alias("fval")))
    out = asof_join(labels, feats, on="entity_id", left_ts="ts",
                    right_ts="ts", value_cols=["fval"],
                    direction="forward").toPandas()
    m = out.dropna(subset=["__matched_ts"])
    assert (m["__matched_ts"] >= m["ts"]).all()


# ---------------------------------------------------------------------------
# interval join
# ---------------------------------------------------------------------------

def _interval_oracle(lpdf, rpdf, lo, hi):
    out = []
    for _, lrow in lpdf.iterrows():
        rr = rpdf[(rpdf["entity_id"] == lrow["entity_id"])
                  & (rpdf["ts"] >= lrow["ts"] + pd.Timedelta(seconds=lo))
                  & (rpdf["ts"] <= lrow["ts"] + pd.Timedelta(seconds=hi))]
        for _, r in rr.iterrows():
            out.append((lrow["rid"], r["rid"]))
    return sorted(out)


@pytest.mark.parametrize("lo,hi", [(-3600.0, 0.0), (-7200.0, -1.0),
                                   (0.0, 1800.0)])
def test_interval_join_inner(spark, lo, hi):
    from hiselspark.operators.interval_join import interval_join

    lpdf, left = _timeline(spark, n_rows=150, seed=30)
    rpdf, right = _timeline(spark, n_rows=150, seed=31)
    got = interval_join(left.select("entity_id", "ts", "rid"),
                        right.selectExpr("entity_id", "ts",
                                         "rid as r_rid"),
                        on="entity_id", lo_seconds=lo, hi_seconds=hi,
                        value_cols=["r_rid"]).toPandas()
    got_pairs = sorted(zip(got["rid"], got["r_rid"]))
    assert got_pairs == _interval_oracle(lpdf, rpdf, lo, hi)


def test_interval_join_left_keeps_unmatched(spark):
    from hiselspark.operators.interval_join import interval_join

    lpdf, left = _timeline(spark, n_rows=80, seed=32)
    rpdf, right = _timeline(spark, n_rows=20, seed=33)
    got = interval_join(left.select("entity_id", "ts", "rid"),
                        right.selectExpr("entity_id", "ts", "rid as r_rid"),
                        on="entity_id", lo_seconds=-600.0, hi_seconds=0.0,
                        value_cols=["r_rid"], how="left").toPandas()
    # every left row appears at least once
    assert set(got["rid"]) == set(lpdf["rid"])
    matched = _interval_oracle(lpdf, rpdf, -600.0, 0.0)
    got_matched = sorted(
        zip(got.dropna(subset=["r_rid"])["rid"],
            got.dropna(subset=["r_rid"])["r_rid"].astype(int)))
    assert got_matched == matched


def test_interval_join_left_duplicates_and_nulls(spark):
    """how='left' must keep BOTH copies of a duplicate left row and not
    spuriously re-emit matched rows whose columns contain nulls (the
    anti-join-on-all-columns formulation failed both)."""
    from hiselspark.operators.interval_join import interval_join

    left = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["a", "a", "a", "b"],
        "ts": pd.to_datetime(["2024-02-01 10:00", "2024-02-01 10:00",
                              "2024-02-01 12:00", "2024-02-01 10:00"]),
        # a null-valued passthrough column: null != null in a join
        "note": [None, None, "x", None],
    }))
    right = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["a"],
        "ts": pd.to_datetime(["2024-02-01 09:59"]),
        "r_val": [7],
    }))
    got = interval_join(left, right, on="entity_id",
                        lo_seconds=-600.0, hi_seconds=0.0,
                        value_cols=["r_val"], how="left").toPandas()
    # the duplicate matched row appears TWICE (once per left copy), the
    # unmatched rows exactly once each, and no extra null rows exist
    assert len(got) == 4
    matched = got.dropna(subset=["r_val"])
    assert len(matched) == 2 and set(matched["r_val"]) == {7}
    unmatched = got[got["r_val"].isna()]
    assert len(unmatched) == 2


def test_asof_ties_pick_max_value(spark):
    """Several feature rows at the same (entity, ts): the deterministic
    rule is max value tuple wins (SQL-oracle-able as argmax-then-asof)."""
    from hiselspark.operators.asof import asof_join

    feats = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["a", "a", "a", "a"],
        "ts": pd.to_datetime(["2024-02-01 09:00"] * 3
                             + ["2024-02-01 08:00"]),
        "fval": [3.0, 9.0, 5.0, 100.0],
    }))
    labels = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["a"],
        "ts": pd.to_datetime(["2024-02-01 10:00"]),
        "rid": [0],
    }))
    out = asof_join(labels, feats, on="entity_id", left_ts="ts",
                    right_ts="ts", value_cols=["fval"]).toPandas()
    assert out["fval"].tolist() == [9.0]
    # forward mirror: min value tuple wins at the tied timestamp
    labels2 = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["a"],
        "ts": pd.to_datetime(["2024-02-01 08:30"]),
        "rid": [0],
    }))
    out2 = asof_join(labels2, feats, on="entity_id", left_ts="ts",
                     right_ts="ts", value_cols=["fval"],
                     direction="forward").toPandas()
    assert out2["fval"].tolist() == [3.0]


# ---------------------------------------------------------------------------
# IVF top-k
# ---------------------------------------------------------------------------

def test_ivf_topk_recall(spark):
    from hiselspark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(5)
    dim, n_clusters = 16, 8
    centers = rng.normal(size=(n_clusters, dim)) * 3
    rows = []
    for i in range(400):
        c = i % n_clusters
        rows.append((i, (centers[c] + rng.normal(size=dim) * 0.5).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = emb.filter(F.col("vec_id") < 20)

    exact = (cosine_topk(probes, emb, k=5, probe_id_col="vec_id")
             .toPandas())
    approx = (ivf_topk(probes, emb, dim=dim, k=5, probe_id_col="vec_id",
                       n_centroids=n_clusters, n_probe=3)
              .toPandas())
    e = {(r.probe_id, r.vec_id) for r in exact.itertuples()}
    a = {(r.probe_id, r.vec_id) for r in approx.itertuples()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF recall {recall:.2f} too low"


# ---------------------------------------------------------------------------
# streaming twins
# ---------------------------------------------------------------------------

def _write_stream_input(spark, pdf, tmpdir):
    path = f"{tmpdir}/events"
    spark.createDataFrame(pdf).repartition(4).write.parquet(path)
    return path


def test_stream_sessions_equals_batch(spark, tmp_path):
    from hiselspark.streaming.sessions import (read_events_stream,
                                               run_stream_to_batch,
                                               stream_sessions)

    pdf, _ = _timeline(spark, n_entities=4, n_rows=300, seed=40)
    path = _write_stream_input(spark, pdf, tmp_path)
    schema = spark.read.parquet(path).schema

    stream = read_events_stream(spark, path, schema,
                                max_files_per_trigger=2)
    got = (run_stream_to_batch(
        stream_sessions(stream, "entity_id", "ts", gap_seconds=1800))
        .select("entity_id", "n_events",
                F.unix_micros("first_event_ts").alias("start_us"))
        .toPandas()
        .sort_values(["entity_id", "start_us"]).reset_index(drop=True))

    # batch oracle with the session_window rule: new session when the
    # gap is >= gap_seconds
    exp_rows = []
    for ent, g in pdf.sort_values("ts").groupby("entity_id"):
        cur = []
        prev = None
        for _, r in g.iterrows():
            if prev is not None and (
                    (r["ts"] - prev).total_seconds() >= 1800):
                exp_rows.append((ent, len(cur), cur[0]))
                cur = []
            cur.append(r["ts"])
            prev = r["ts"]
        if cur:
            exp_rows.append((ent, len(cur), cur[0]))
    exp = (pd.DataFrame(exp_rows,
                        columns=["entity_id", "n_events", "start"])
           .assign(start_us=lambda d: d["start"].astype("int64") // 1000)
           .drop(columns=["start"])
           .sort_values(["entity_id", "start_us"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got[["entity_id", "n_events", "start_us"]], exp,
        check_dtype=False)


def test_stream_tumbling_equals_batch(spark, tmp_path):
    from hiselspark.streaming.sessions import (read_events_stream,
                                               run_stream_to_batch,
                                               stream_tumbling)

    pdf, df = _timeline(spark, n_entities=4, n_rows=250, seed=41)
    path = _write_stream_input(spark, pdf, tmp_path)
    schema = spark.read.parquet(path).schema

    stream = read_events_stream(spark, path, schema)
    got = (run_stream_to_batch(
        stream_tumbling(stream, "entity_id", "ts", {"val": ["sum", "count"]},
                        window_seconds=3600))
        .select("entity_id", F.col("window.start").alias("wstart"),
                "val_sum", "val_count")
        .toPandas())

    exp = (df.groupBy("entity_id",
                      F.window("ts", "3600 seconds").alias("w"))
             .agg(F.sum("val").alias("val_sum"),
                  F.count("val").alias("val_count"))
             .select("entity_id", F.col("w.start").alias("wstart"),
                     "val_sum", "val_count")
             .toPandas())
    key = ["entity_id", "wstart"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_run_stream_to_batch_removes_checkpoint(spark, tmp_path,
                                                monkeypatch):
    """The drained query's checkpoint directory is removed; the returned
    in-memory table keeps its rows."""
    import tempfile
    from hiselspark.streaming.sessions import (read_events_stream,
                                               run_stream_to_batch,
                                               stream_tumbling)

    pdf, df = _timeline(spark, n_entities=3, n_rows=60, seed=43)
    path = _write_stream_input(spark, pdf, tmp_path)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    stream = read_events_stream(spark, path, spark.read.parquet(path).schema)
    out = run_stream_to_batch(
        stream_tumbling(stream, "entity_id", "ts", {"val": ["count"]},
                        window_seconds=3600))
    assert list(tmp.glob("hiselspark_ckpt_*")) == []
    exp = df.groupBy("entity_id", F.window("ts", "3600 seconds")).count()
    assert out.count() == exp.count() > 0


def test_stream_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-entity state across micro-
    batches: final cumulative row per entity == batch groupBy totals."""
    from pyspark.sql import Window
    from hiselspark.streaming.sessions import (read_events_stream,
                                               run_stream_to_batch)
    from hiselspark.streaming.stateful import stream_running_totals

    rng = np.random.default_rng(50)
    n = 300
    pdf = pd.DataFrame({
        "user_id": rng.integers(0, 10, n).astype("int64"),
        "ts": pd.Timestamp("2024-03-01") + pd.to_timedelta(
            rng.integers(0, 86400, n), unit="s"),
        "cents": rng.integers(-500, 500, n).astype("int64"),
    })
    path = f"{tmp_path}/ev"
    # several files -> several micro-batches with maxFilesPerTrigger=1
    spark.createDataFrame(pdf).repartition(5).write.parquet(path)
    schema = spark.read.parquet(path).schema

    stream = read_events_stream(spark, path, schema,
                                max_files_per_trigger=1)
    out = run_stream_to_batch(
        stream_running_totals(stream, "user_id", "ts", "cents"),
        output_mode="update")
    w = Window.partitionBy("entity").orderBy(F.col("n_events").desc())
    final = (out.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") == 1)
                .select("entity", "n_events", "sum_value")
                .toPandas().sort_values("entity").reset_index(drop=True))
    # at least one entity must have been updated in >1 micro-batch,
    # otherwise this test proves nothing about cross-batch state
    multi = (out.groupBy("entity").count().filter(F.col("count") > 1)
                .count())
    assert multi > 0

    exp = (pdf.groupby("user_id", as_index=False)
              .agg(n_events=("cents", "size"), sum_value=("cents", "sum"))
              .rename(columns={"user_id": "entity"})
              .sort_values("entity").reset_index(drop=True))
    pd.testing.assert_frame_equal(final, exp, check_dtype=False)


# ---------------------------------------------------------------------------
# salted join
# ---------------------------------------------------------------------------

def test_salted_join_equals_plain_join(spark):
    from hiselspark.operators.skew import salted_join

    rng = np.random.default_rng(60)
    fact = spark.createDataFrame(pd.DataFrame({
        "k": rng.integers(0, 5, 500).astype("int64"),
        "rid": np.arange(500),
    }))
    dim = spark.createDataFrame(pd.DataFrame({
        "k": np.arange(5, dtype="int64"),
        "dval": np.arange(5) * 10,
    }))
    got = (salted_join(fact, dim, on=["k"], n_salts=4,
                       deterministic_by="rid")
           .toPandas().sort_values("rid").reset_index(drop=True))
    exp = (fact.join(dim, "k").toPandas()
           .sort_values("rid").reset_index(drop=True))
    pd.testing.assert_frame_equal(got[["k", "rid", "dval"]],
                                  exp[["k", "rid", "dval"]])


# ---------------------------------------------------------------------------
# MI preselection
# ---------------------------------------------------------------------------

def test_mi_preselect_finds_planted_features(spark):
    from hiselspark.preselect import mi_preselect, mutual_info

    rng = np.random.default_rng(7)
    n = 4000
    x0 = rng.normal(size=n)
    x1 = rng.normal(size=n)
    noise = rng.normal(size=(n, 3))
    y = np.sin(2 * x0) + 0.8 * x1 + rng.normal(size=n) * 0.1
    pdf = pd.DataFrame({"x0": x0, "x1": x1,
                        "n0": noise[:, 0], "n1": noise[:, 1],
                        "n2": noise[:, 2], "y": y})
    df = spark.createDataFrame(pdf)
    cols = ["x0", "x1", "n0", "n1", "n2"]

    mis = mutual_info(df, cols, "y", n_bins=8)
    assert mis["x0"] > mis[["n0", "n1", "n2"]].max()
    assert mis["x1"] > mis[["n0", "n1", "n2"]].max()

    kept, _ = mi_preselect(df, cols, ["y"], threshold=0.3, n_bins=8)
    assert "x0" in kept and "x1" in kept
    assert not {"n0", "n1", "n2"} <= set(kept)


def test_mi_discrete_target(spark):
    from hiselspark.preselect import mutual_info

    rng = np.random.default_rng(9)
    n = 3000
    cls = rng.integers(0, 3, n)
    informative = cls + rng.normal(size=n) * 0.3
    junk = rng.normal(size=n)
    df = spark.createDataFrame(pd.DataFrame({
        "f_inf": informative, "f_junk": junk, "label": cls}))
    mis = mutual_info(df, ["f_inf", "f_junk"], "label",
                      n_bins=8, discrete_target=True)
    assert mis["f_inf"] > 5 * max(mis["f_junk"], 1e-9)


def test_stream_late_data_watermark_rule(spark, tmp_path):
    """Pin the empirically-verified late-data semantics the
    streaming_late_data gate oracle relies on:
    (1) a late row whose window was already evicted is DROPPED,
    (2) a late row whose window is still open is ACCEPTED,
    (3) the filter is WINDOW-END-based: a row with ts below the
        watermark but an open window is still accepted."""
    from hiselspark.streaming.sessions import (read_events_stream,
                                               run_stream_to_batch,
                                               stage_microbatch_files,
                                               stream_tumbling)

    def frame(rows):
        return spark.createDataFrame(
            [(u, f"2024-01-01 {t}") for u, t in rows],
            "user_id int, ts_s string"
        ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"),
                 F.lit(1.0).alias("v"))

    src = str(tmp_path / "late_src")
    stage_microbatch_files([
        frame([(1, "00:10:00"), (1, "00:20:00")]),   # window 00-01h
        frame([(1, "02:30:00")]),                    # advances max ET
        frame([(1, "02:35:00")]),                    # spacer: wm=02:00,
                                                     # evicts window 00-01h
        frame([(1, "00:40:00"),                      # (1) closed -> drop
               (1, "02:01:00")]),                    # (3) ts < wm=02:05
                                                     # but window open ->
                                                     # accept
        frame([(-1, "10:00:00")]),                   # flush
        frame([(-1, "11:00:00")]),                   # emit-everything batch
    ], src)
    stream = (read_events_stream(spark, src,
                                 "user_id int, ts timestamp, v double",
                                 max_files_per_trigger=1)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    agg = stream_tumbling(stream, "user_id", "ts", {"v": ["count"]},
                          window_seconds=3600, watermark_seconds=1800)
    out = run_stream_to_batch(agg, output_mode="append")
    got = {r["ws"]: r["v_count"] for r in
           out.filter(F.col("user_id") >= 0)
              .select(F.col("window.start").cast("string").alias("ws"),
                      "v_count").collect()}
    assert got == {
        "2024-01-01 00:00:00": 2,   # late 00:40 dropped
        "2024-01-01 02:00:00": 3,   # 02:30 + 02:35 + accepted 02:01
    }


def test_bloom_semi_join_exact_and_prefilter_complete(spark):
    """bloom_semi_join == plain semi-join (exactness); the bloom
    prefilter ALONE keeps every true member (no false negatives)."""
    from hiselspark.operators.skew import bloom_bitmap, bloom_semi_join
    import pyspark.sql.functions as F
    big = spark.createDataFrame(
        [(i % 997, i) for i in range(5000)], "k long, payload long")
    small = spark.createDataFrame(
        [(j * 13 % 997,) for j in range(60)], "k long").distinct()
    out = bloom_semi_join(big, small, "k", n_bits=1 << 10)
    exp = big.join(small, "k", "left_semi")
    assert sorted(map(tuple, out.collect())) \
        == sorted(map(tuple, exp.collect()))
    # prefilter stage alone (tiny 256-bit filter => many false
    # positives) must still contain every true match
    seed, n_bits, n_hashes = 71, 256, 3
    bmp = bloom_bitmap(small, "k", n_bits, n_hashes, seed).collect()
    bits = {r["bucket"]: r["bits"] for r in bmp}
    probe = big.select(
        "k", "payload",
        *[F.pmod(F.xxhash64(F.lit(seed + i), F.col("k")),
                 F.lit(n_bits)).alias(f"p{i}") for i in range(n_hashes)]
    ).collect()
    true_keys = {r["k"] for r in small.collect()}
    survivors = set()
    for r in probe:
        if all(bits.get(r[f"p{i}"] // 64, 0) & (1 << (r[f"p{i}"] % 64))
               for i in range(n_hashes)):
            survivors.add(r["k"])
    assert true_keys <= survivors          # no false negatives
    assert len(survivors) < 997            # and it does prune


def test_bloom_semi_join_plan_is_broadcast_prefilter(spark):
    from hiselspark.operators.skew import bloom_semi_join
    big = spark.createDataFrame([(i, i) for i in range(100)],
                                "k long, v long")
    small = spark.createDataFrame([(i,) for i in range(0, 100, 7)],
                                  "k long")
    out = bloom_semi_join(big, small, "k", n_bits=1 << 10)
    jvm = out.sparkSession._jvm
    txt = jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(),
                                           "simple")
    assert txt.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in txt


def test_bloom_bitmap_validates_bits():
    from hiselspark.operators.skew import bloom_bitmap
    import pytest as _pt
    with _pt.raises(ValueError):
        bloom_bitmap(None, "k", 1000)      # not a power of two


def test_weighted_sample_aes_properties(spark):
    """Efraimidis-Spirakis sampling: deterministic across layouts,
    inclusion frequency tracks weights across salts, never a dup,
    zero/NULL weights dropped."""
    from hiselspark.operators.sampling import weighted_sample
    rows = [(i, float(10.0 if i < 5 else 1.0)) for i in range(50)]
    rows += [(100, 0.0), (101, None)]
    df = spark.createDataFrame(rows, "id long, w double")
    out = weighted_sample(df, "w", 5, "id", salt=1)
    got = [r["id"] for r in out.collect()]
    assert len(got) == len(set(got)) == 5
    assert 100 not in got and 101 not in got
    # layout determinism
    got2 = [r["id"] for r in
            weighted_sample(df.repartition(7), "w", 5, "id",
                            salt=1).collect()]
    assert sorted(got) == sorted(got2)
    # heavy items (w=10, ids 0-4) should be picked far more often
    heavy = light = 0
    for s in range(40):
        ids = [r["id"] for r in
               weighted_sample(df, "w", 5, "id", salt=s).collect()]
        heavy += sum(1 for i in ids if i < 5)
        light += sum(1 for i in ids if 5 <= i < 100)
    # 5 heavy @ w=10 vs 45 light @ w=1: heavy expected ~2.4x light
    assert heavy > light
    # grouped: k per group, ranks contiguous from 1
    g = df.withColumn("grp", (F.col("id") % 3))
    gout = weighted_sample(g, "w", 3, "id", "grp", salt=2).collect()
    from collections import Counter
    per = Counter(r["grp"] for r in gout)
    assert all(v == 3 for v in per.values())
    assert {r["rk"] for r in gout} == {1, 2, 3}


def test_mutual_pairs_brute(spark):
    """mutual_pairs vs a set-comprehension replay on a hub graph: the
    hub is in everyone's top-k but reciprocates only its own."""
    from hiselspark.operators.similarity import mutual_pairs
    topk = [(a, b) for a in range(6) for b in [9]]      # all -> hub 9
    topk += [(9, 0), (9, 1)]                            # hub -> 0, 1
    topk += [(2, 3), (3, 2), (4, 5)]                    # one mutual
    df = spark.createDataFrame(topk, "probe_id long, vec_id long") \
              .withColumn("cos", F.col("probe_id") * 0.1)
    got = {(r["a"], r["b"]) for r in
           mutual_pairs(df).select("a", "b").collect()}
    fwd = set(topk)
    exp = {(a, b) for a, b in fwd if (b, a) in fwd and a < b}
    assert got == exp == {(0, 9), (1, 9), (2, 3)}


def test_average_precision_matches_brute(spark):
    """average_precision vs the step-interpolated AP computed by a
    scalar replay (sklearn's average_precision_score definition),
    including tied scores."""
    from hiselspark.operators.evaluate import average_precision
    rng = np.random.default_rng(3)
    scores = rng.integers(0, 30, 400)          # heavy ties
    labels = (rng.uniform(0, 1, 400) < scores / 40.0).astype(int)
    df = spark.createDataFrame(
        [(int(s), int(y)) for s, y in zip(scores, labels)],
        "s long, y int")
    r = average_precision(df, "s", "y").first()
    # brute: walk distinct thresholds descending
    import collections
    per = collections.Counter()
    for s, y in zip(scores, labels):
        per[s] = per[s]
    pos = collections.Counter(); neg = collections.Counter()
    for s, y in zip(scores, labels):
        (pos if y else neg)[int(s)] += 1
    tp = fp = 0
    ap = 0.0
    P = int(labels.sum())
    for s in sorted(set(scores.tolist()), reverse=True):
        tp += pos[s]; fp += neg[s]
        ap += pos[s] * (tp / (tp + fp))
    ap /= P
    assert r["ap"] == pytest.approx(ap, rel=1e-12)
    assert r["n_pos"] == P and r["n_neg"] == 400 - P
    # perfect separation gives AP = 1
    dfp = spark.createDataFrame(
        [(10, 1)] * 5 + [(1, 0)] * 5, "s long, y int")
    assert average_precision(dfp, "s", "y").first()["ap"] == 1.0


def test_feature_auc_scan_finds_planted_leak(spark):
    """Per-feature AUC matches binary_auc run per column; the planted
    leak scores ~1, an anti-leak ~0, noise ~0.5; NULLs dropped per
    feature only."""
    from hiselspark.operators.evaluate import (binary_auc,
                                               feature_auc_scan)
    rng = np.random.default_rng(11)
    n = 500
    y = rng.integers(0, 2, n)
    noise = rng.integers(0, 7, n)
    leak = y * 10 + rng.integers(0, 3, n)
    anti = (1 - y) * 10 + rng.integers(0, 3, n)
    rows = [(int(y[i]), float(noise[i]), float(leak[i]),
             float(anti[i]),
             None if i % 5 == 0 else float(noise[i]))
            for i in range(n)]
    df = spark.createDataFrame(
        rows, "y int, f_noise double, f_leak double, f_anti double, "
              "f_null double")
    out = {r["feature"]: r for r in feature_auc_scan(
        df, ["f_noise", "f_leak", "f_anti", "f_null"], "y").collect()}
    assert out["f_leak"]["auc"] > 0.99
    assert out["f_anti"]["auc"] < 0.01
    assert 0.35 < out["f_noise"]["auc"] < 0.65
    # per-column parity with binary_auc
    for c in ["f_noise", "f_leak", "f_anti"]:
        ref = binary_auc(df.select(c, "y"), c, "y").first()
        assert out[c]["auc"] == pytest.approx(ref["auc"], rel=1e-12)
    # null rows dropped only for the null feature
    assert out["f_null"]["n_pos"] + out["f_null"]["n_neg"] == n - 100
    assert out["f_noise"]["n_pos"] + out["f_noise"]["n_neg"] == n


def test_decayed_count_brute_and_weighted(spark):
    """decayed_count vs a scalar replay (strictly-before, half-life
    time decay, weighted variant); zero for first events; recent
    bursts outscore old ones at equal count."""
    import datetime as dt
    from hiselspark.operators.windows import decayed_count
    base = dt.datetime(2024, 1, 1)
    rows = []
    for u, hours in [(0, [0, 1, 2, 3]), (1, [0, 0.1, 0.2, 48])]:
        for i, hr in enumerate(hours):
            rows.append((u, base + dt.timedelta(hours=hr),
                         u * 10 + i, float(i + 1)))
    df = spark.createDataFrame(
        rows, "u long, ts timestamp, eid long, wt double")
    hl = 3600.0
    out = {r["eid"]: r["decayed_count"]
           for r in decayed_count(df, "u", "ts", hl).collect()}
    wout = {r["eid"]: r["dw"] for r in decayed_count(
        df, "u", "ts", hl, weight_col="wt", out_col="dw").collect()}
    by_u = {}
    for u, ts, eid, wt in sorted(rows, key=lambda r: (r[0], r[1])):
        hist = by_u.setdefault(u, [])
        t = ts.timestamp()
        exp = sum(2.0 ** ((ti - t) / hl) for ti, _ in hist
                  if t - ti <= 40 * hl and ti < t)
        expw = sum(w * 2.0 ** ((ti - t) / hl) for ti, w in hist
                   if t - ti <= 40 * hl and ti < t)
        assert out[eid] == pytest.approx(exp, abs=1e-9), eid
        assert wout[eid] == pytest.approx(expw, abs=1e-9), eid
        hist.append((t, wt))
    # first events score exactly 0
    assert out[0] == 0.0 and out[10] == 0.0
    # user 1's 4th event (48h later) sees ~nothing; user 0's 4th does
    assert out[13] < 1e-9 < out[3]
    with pytest.raises(ValueError):
        decayed_count(df, "u", "ts", 0.0)


def test_seasonal_naive_mase_brute(spark):
    """MASE vs scalar replay on a hand-built periodic + constant
    series: perfectly periodic => MASE 0; constant series dropped."""
    import datetime as dt
    from hiselspark.operators.tsprofile import seasonal_naive_mase
    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 0: exactly period-3 series -> seasonal-naive error 0
    vals0 = [10.0, 20.0, 30.0] * 4
    for i, v in enumerate(vals0):
        rows.append((0, base + dt.timedelta(days=i), v))
    # user 1: noisy-ish integers
    vals1 = [5.0, 9.0, 4.0, 7.0, 11.0, 3.0, 8.0, 6.0]
    for i, v in enumerate(vals1):
        rows.append((1, base + dt.timedelta(days=i), v))
    # user 2: constant -> zero denominator, dropped
    for i in range(8):
        rows.append((2, base + dt.timedelta(days=i), 4.0))
    df = spark.createDataFrame(rows, "u long, ts timestamp, value double")
    out = {r["u"]: r for r in
           seasonal_naive_mase(df, "u", "ts", "value", period=3)
           .collect()}
    assert out[0]["mase"] == 0.0 and out[0]["sum_abs_err"] == 0
    assert 2 not in out
    c = [int(v * 100) for v in vals1]
    err = [abs(c[t] - c[t - 3]) for t in range(3, len(c))]
    dif = [abs(c[t] - c[t - 1]) for t in range(1, len(c))]
    exp = (sum(err) / len(err)) / (sum(dif) / len(dif))
    assert out[1]["mase"] == pytest.approx(exp, rel=1e-12)
    assert out[1]["n_scored"] == len(err)


def test_fk_orphans_counts_planted_violations(spark):
    from hiselspark.operators.profile import fk_orphans
    fact = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (99,), (99,), (None,), (3,)],
        "fk int")
    dim = spark.createDataFrame([(1,), (2,), (3,), (4,)], "pk int")
    r = fk_orphans(fact, dim, "fk", "pk").first()
    assert r["n_fact"] == 8
    assert r["n_null_fk"] == 1
    assert r["n_orphan"] == 3 and r["n_orphan_keys"] == 1
    assert r["orphan_rate"] == pytest.approx(3 / 8, rel=1e-12)
    # clean FK: zero orphans
    clean = fk_orphans(fact.filter("fk < 10"), dim, "fk", "pk").first()
    assert clean["n_orphan"] == 0 and clean["orphan_rate"] == 0.0


def test_diff_in_diff_unit_level_brute(spark):
    """DiD vs scalar replay; the per-unit-first discipline means a
    heavy unit cannot dominate its cell."""
    from hiselspark.operators.nbayes import diff_in_diff
    rows = []
    # ctrl unit 0: pre mean 1.0 (many rows!), post mean 2.0
    rows += [(0, 0, 0, 1.0)] * 50 + [(0, 0, 1, 2.0)] * 50
    # ctrl unit 2: pre 3.0, post 3.0 (one row each)
    rows += [(2, 0, 0, 3.0), (2, 0, 1, 3.0)]
    # treat unit 1: pre 1.0, post 5.0 ; treat unit 3: pre 2.0, post 4.0
    rows += [(1, 1, 0, 1.0), (1, 1, 1, 5.0),
             (3, 1, 0, 2.0), (3, 1, 1, 4.0)]
    df = spark.createDataFrame(rows, "u long, t int, p int, value double")
    r = diff_in_diff(df, "u", "t", "p", "value").first()
    # cell means over UNITS: ctrl pre (1+3)/2=2, post (2+3)/2=2.5
    # treat pre (1+2)/2=1.5, post (5+4)/2=4.5 -> DiD = 3.0 - 0.5 = 2.5
    assert r["ctrl_pre"] == pytest.approx(200.0)
    assert r["ctrl_post"] == pytest.approx(250.0)
    assert r["treat_pre"] == pytest.approx(150.0)
    assert r["treat_post"] == pytest.approx(450.0)
    assert r["did"] == pytest.approx(250.0)     # cents
    assert r["n_ctrl_pre"] == 2 and r["n_treat_post"] == 2
    # layout determinism (ordered folds)
    r2 = diff_in_diff(df.repartition(9), "u", "t", "p",
                      "value").first()
    assert r2["did"] == r["did"]


def test_ks_test_pvalue_against_known_values(spark):
    """ks_test p-value vs the Kolmogorov series evaluated in scalar
    Python, and sanity anchors: identical samples -> p ~ 1, disjoint
    samples -> p ~ 0."""
    import math
    from hiselspark.operators.drift import ks_test
    rng = np.random.default_rng(5)
    a = rng.integers(0, 100, 400)
    b = rng.integers(10, 110, 300)          # shifted
    rows = [(int(v), 1) for v in a] + [(int(v), 0) for v in b]
    df = spark.createDataFrame(rows, "v long, r int")
    got = ks_test(df, "v", F.col("r") == 1).first()
    # scalar replay
    import collections
    ca, cb = collections.Counter(a.tolist()), collections.Counter(b.tolist())
    vals = sorted(set(ca) | set(cb))
    fa = fb = 0
    d = 0.0
    for v in vals:
        fa += ca[v]; fb += cb[v]
        d = max(d, abs(fa / 400 - fb / 300))
    ne = 400 * 300 / 700
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    p = 2 * sum((-1) ** (k - 1) * math.exp(-2 * k * k * lam * lam)
                for k in range(1, 21))
    p = 1.0 if lam < 0.25 else min(1.0, max(0.0, p))
    assert got["ks"] == pytest.approx(d, rel=1e-12)
    assert got["p_value"] == pytest.approx(p, rel=1e-9)
    # anchors
    same = spark.createDataFrame(
        [(v, s) for v in range(50) for s in (0, 1)], "v long, r int")
    assert ks_test(same, "v", F.col("r") == 1).first()["p_value"] \
        == pytest.approx(1.0, abs=1e-9)
    disj = spark.createDataFrame(
        [(v, 1) for v in range(60)] + [(v + 100, 0) for v in range(60)],
        "v long, r int")
    assert ks_test(disj, "v", F.col("r") == 1).first()["p_value"] \
        < 1e-12


def test_quantile_treatment_effect_brute(spark):
    """QTE vs numpy's linear-interpolation quantiles per arm."""
    from hiselspark.operators.nbayes import quantile_treatment_effect
    rng = np.random.default_rng(9)
    ctrl = rng.normal(10, 2, 301)
    treat = rng.normal(11, 4, 257)          # shifted AND widened
    rows = ([(0, float(v)) for v in ctrl]
            + [(1, float(v)) for v in treat])
    df = spark.createDataFrame(rows, "t int, value double")
    out = {round(r["q"], 10): r for r in
           quantile_treatment_effect(df, "t", "value").collect()}
    for q in [0.1, 0.5, 0.9]:
        yc = float(np.quantile(ctrl, q))     # linear interpolation
        yt = float(np.quantile(treat, q))
        r = out[q]
        assert r["y_ctrl"] == pytest.approx(yc, rel=1e-12)
        assert r["y_treat"] == pytest.approx(yt, rel=1e-12)
        assert r["qte"] == pytest.approx(yt - yc, rel=1e-9)
    # wider treated arm: tail effects exceed the median effect
    assert out[0.9]["qte"] > out[0.5]["qte"] > out[0.1]["qte"]


def test_srm_check_alarm_and_calm(spark):
    """SRM: a clean 50/50 split yields p near 1-ish (no alarm); a
    broken split alarms; p matches scipy-free erfc within the A-S
    approximation error."""
    import math
    from hiselspark.operators.nbayes import srm_check
    clean = spark.createDataFrame(
        [(i % 2,) for i in range(10000)], "arm int")
    r = srm_check(clean, "arm").first()
    assert r["n_treat"] == r["n_ctrl"] == 5000
    assert r["chi2"] == 0.0 and r["p_value"] == pytest.approx(1.0,
                                                              abs=2e-7)
    broken = spark.createDataFrame(
        [(1,)] * 5300 + [(0,)] * 4700, "arm int")
    rb = srm_check(broken, "arm").first()
    exp_chi2 = (300.0 ** 2 / 5000 + 300.0 ** 2 / 5000)
    assert rb["chi2"] == pytest.approx(exp_chi2, rel=1e-12)
    assert rb["p_value"] < 1e-3              # the guardrail fires
    # A-S approximation vs math.erfc
    assert rb["p_value"] == pytest.approx(
        math.erfc(math.sqrt(exp_chi2 / 2)), abs=1.5e-7)
    with pytest.raises(ValueError):
        srm_check(clean, "arm", expected_ratio=1.0)
