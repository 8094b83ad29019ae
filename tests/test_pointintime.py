"""Point-in-time operators vs single-node pandas oracles, plus the
adversarial zero-temporal-leakage test (SURVEY.md §5.3)."""
import numpy as np
import pandas as pd
import pytest

from hiselspark.operators.asof import asof_join, asof_join_cogrouped
from hiselspark.operators.windows import (
    backward_fill, forward_fill, rolling_aggregates, sessionize,
    with_lags, with_leads,
)


@pytest.fixture(scope="module")
def timeline(spark):
    rng = np.random.default_rng(5)
    n = 400
    ents = rng.integers(0, 12, size=n)
    base = pd.Timestamp("2024-01-01")
    offs = np.sort(rng.integers(0, 3_000_000, size=n))
    pdf = pd.DataFrame({
        "entity_id": [f"e{e}" for e in ents],
        "ts": base + pd.to_timedelta(offs, unit="s"),
        "v": rng.normal(size=n).round(4),
        "w": np.where(rng.uniform(size=n) < 0.3, np.nan, rng.uniform(size=n)),
    })
    # duplicate-ts rows to exercise tie handling
    pdf = pd.concat([pdf, pdf.iloc[:5]]).reset_index(drop=True)
    return pdf


@pytest.fixture(scope="module")
def labels_pdf(timeline):
    rng = np.random.default_rng(9)
    n = 150
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame({
        "entity_id": [f"e{e}" for e in rng.integers(0, 14, size=n)],
        "ts": base + pd.to_timedelta(
            rng.integers(-50_000, 3_100_000, size=n), unit="s"),
        "y": rng.normal(size=n).round(4),
    })
    return pdf


def _oracle_asof(labels_pdf, timeline, tolerance=None, strict=False):
    left = labels_pdf.sort_values("ts", kind="mergesort")
    right = (timeline.sort_values("ts", kind="mergesort")
             [["entity_id", "ts", "v", "w"]]
             .rename(columns={"ts": "fts", "v": "v_f", "w": "w_f"}))
    return pd.merge_asof(
        left, right, left_on="ts", right_on="fts", by="entity_id",
        direction="backward", allow_exact_matches=not strict,
        tolerance=pd.Timedelta(seconds=tolerance) if tolerance else None)


def _check_asof(got: pd.DataFrame, exp: pd.DataFrame):
    got = got.sort_values(["entity_id", "ts", "y"]).reset_index(drop=True)
    exp = exp.sort_values(["entity_id", "ts", "y"]).reset_index(drop=True)
    assert len(got) == len(exp)
    np.testing.assert_allclose(got["v_f"].to_numpy(dtype=float),
                               exp["v_f"].to_numpy(dtype=float))
    np.testing.assert_allclose(got["w_f"].to_numpy(dtype=float),
                               exp["w_f"].to_numpy(dtype=float))


@pytest.mark.parametrize("impl", [asof_join, asof_join_cogrouped])
@pytest.mark.parametrize("strict", [False, True])
def test_asof_matches_pandas_oracle(spark, timeline, labels_pdf, impl, strict):
    feats = spark.createDataFrame(timeline).repartition(5)
    labs = spark.createDataFrame(labels_pdf).repartition(3)
    got = impl(labs, feats, value_cols=["v", "w"], suffix="_f",
               strict=strict).toPandas()
    exp = _oracle_asof(labels_pdf, timeline, strict=strict)
    _check_asof(got, exp)


@pytest.mark.parametrize("impl", [asof_join, asof_join_cogrouped])
def test_asof_tolerance(spark, timeline, labels_pdf, impl):
    feats = spark.createDataFrame(timeline)
    labs = spark.createDataFrame(labels_pdf)
    got = impl(labs, feats, value_cols=["v", "w"], suffix="_f",
               tolerance_seconds=3600).toPandas()
    exp = _oracle_asof(labels_pdf, timeline, tolerance=3600)
    _check_asof(got, exp)


@pytest.mark.parametrize("impl", [asof_join, asof_join_cogrouped])
@pytest.mark.parametrize("strict", [False, True])
@pytest.mark.parametrize("tolerance", [None, 3600])
def test_asof_nearest_matches_pandas(spark, timeline, labels_pdf, impl,
                                     strict, tolerance):
    """direction='nearest' on both physical plans vs pandas merge_asof:
    closer side wins, backward wins exact-distance ties, strict
    excludes equal timestamps, tolerance bounds both directions."""
    feats = spark.createDataFrame(timeline).repartition(5)
    labs = spark.createDataFrame(labels_pdf).repartition(3)
    got = impl(labs, feats, value_cols=["v", "w"], suffix="_f",
               direction="nearest", strict=strict,
               tolerance_seconds=tolerance).toPandas()
    left = labels_pdf.sort_values("ts", kind="mergesort")
    right = (timeline.sort_values("ts", kind="mergesort")
             [["entity_id", "ts", "v", "w"]]
             .rename(columns={"ts": "fts", "v": "v_f", "w": "w_f"}))
    exp = pd.merge_asof(
        left, right, left_on="ts", right_on="fts", by="entity_id",
        direction="nearest", allow_exact_matches=not strict,
        tolerance=pd.Timedelta(seconds=tolerance) if tolerance else None)
    _check_asof(got, exp)


@pytest.mark.parametrize("impl", [asof_join, asof_join_cogrouped])
def test_zero_temporal_leakage(spark, labels_pdf, impl):
    """Adversarial fixture: every feature row is stamped 1ms AFTER the
    label it would otherwise match — every joined value must be null.
    One label per entity so no feature can legitimately precede a later
    label of the same entity."""
    labels_pdf = labels_pdf.drop_duplicates("entity_id")
    shifted = labels_pdf.rename(columns={"y": "v"}).copy()
    shifted["ts"] = shifted["ts"] + pd.Timedelta(milliseconds=1)
    feats = spark.createDataFrame(shifted)
    labs = spark.createDataFrame(labels_pdf)
    got = impl(labs, feats, value_cols=["v"], suffix="_f").toPandas()
    assert got["v_f"].isna().all()
    assert got["__matched_ts"].isna().all()


def test_lag_lead_match_pandas(spark, timeline):
    sdf = spark.createDataFrame(timeline).repartition(4)
    got = with_leads(
        with_lags(sdf, "entity_id", "ts", ["v"], lags=[1, 2]),
        "entity_id", "ts", ["v"], leads=[1]).toPandas()
    got = got.sort_values(["entity_id", "ts", "v"]).reset_index(drop=True)
    pdf = timeline.sort_values(["entity_id", "ts", "v"],
                               kind="mergesort").reset_index(drop=True)
    # pandas oracle on identically ordered frame
    g = pdf.groupby("entity_id")["v"]
    for col, exp in [("v_lag1", g.shift(1)), ("v_lag2", g.shift(2)),
                     ("v_lead1", g.shift(-1))]:
        np.testing.assert_allclose(got[col].to_numpy(dtype=float),
                                   exp.to_numpy(dtype=float))


def test_ffill_bfill_match_pandas(spark, timeline):
    tl = timeline.drop_duplicates(subset=["entity_id", "ts"])
    sdf = spark.createDataFrame(tl).repartition(4)
    got = backward_fill(
        forward_fill(sdf, "entity_id", "ts", ["w"]),
        "entity_id", "ts", ["w"]).toPandas()
    got = got.sort_values(["entity_id", "ts"]).reset_index(drop=True)
    pdf = tl.sort_values(["entity_id", "ts"],
                         kind="mergesort").reset_index(drop=True)
    g = pdf.groupby("entity_id")["w"]
    np.testing.assert_allclose(got["w_ffill"].to_numpy(dtype=float),
                               g.ffill().to_numpy(dtype=float))
    np.testing.assert_allclose(got["w_bfill"].to_numpy(dtype=float),
                               g.bfill().to_numpy(dtype=float))


def test_sessionize(spark):
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame({
        "entity_id": ["a"] * 5 + ["b"] * 3,
        "ts": [base, base + pd.Timedelta(minutes=10),
               base + pd.Timedelta(minutes=50),   # gap > 30min -> new
               base + pd.Timedelta(minutes=55),
               base + pd.Timedelta(hours=3),      # new
               base, base + pd.Timedelta(minutes=29),
               base + pd.Timedelta(minutes=61)],  # 32min gap -> new
    })
    got = (sessionize(spark.createDataFrame(pdf), "entity_id", "ts")
           .toPandas().sort_values(["entity_id", "ts"]))
    assert got[got.entity_id == "a"]["session_id"].tolist() == [0, 0, 1, 1, 2]
    assert got[got.entity_id == "b"]["session_id"].tolist() == [0, 0, 1]


def test_rolling_aggregates_match_pandas(spark, timeline):
    tl = timeline.drop_duplicates(subset=["entity_id", "ts"])
    sdf = spark.createDataFrame(tl).repartition(4)
    got = rolling_aggregates(
        sdf, "entity_id", "ts", {"v": ["sum", "mean", "count"]},
        window_seconds=86400).toPandas()
    got = got.sort_values(["entity_id", "ts"]).reset_index(drop=True)
    pdf = tl.sort_values(["entity_id", "ts"],
                         kind="mergesort").reset_index(drop=True)
    r = (pdf.set_index("ts").groupby("entity_id")["v"]
            .rolling("86400s", closed="both"))
    exp_sum = r.sum().reset_index().sort_values(["entity_id", "ts"])
    np.testing.assert_allclose(
        got["v_roll_sum_86400s"].to_numpy(),
        exp_sum["v"].to_numpy(), rtol=1e-9)
    exp_cnt = r.count().reset_index().sort_values(["entity_id", "ts"])
    np.testing.assert_allclose(
        got["v_roll_count_86400s"].to_numpy(),
        exp_cnt["v"].to_numpy())


def test_target_encoding_strictly_before(spark):
    """PIT target/count encoding vs a brute-force pandas oracle:
    only same-category rows with STRICTLY earlier timestamps count;
    same-microsecond rows are mutually invisible (no label leakage);
    first occurrence is NULL without smoothing."""
    from hiselspark.operators.encoding import (count_encode_pit,
                                               target_encode_pit)
    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame({
        "id": np.arange(n),
        "cat": rng.choice(list("abc"), n),
        # coarse grid -> many exact timestamp collisions
        "ts": pd.to_datetime(rng.integers(0, 50, n), unit="h",
                             origin="2024-01-01"),
        "y": rng.integers(0, 100, n).astype(float),
    })
    df = spark.createDataFrame(pdf).repartition(7)
    out = target_encode_pit(df, "cat", "y", ts_col="ts",
                            prior=50.0, smoothing=5.0, out_col="te")
    out = count_encode_pit(out, "cat", ts_col="ts", out_col="ce")
    got = {r["id"]: (r["te"], r["ce"]) for r in out.collect()}
    for _, row in pdf.iterrows():
        before = pdf[(pdf["cat"] == row["cat"]) & (pdf.ts < row.ts)]
        te = (before.y.sum() + 5.0 * 50.0) / (len(before) + 5.0)
        assert got[row.id][1] == len(before)
        assert abs(got[row.id][0] - te) < 1e-9, row.id

    # smoothing=0: a category's first row has no encoding at all
    raw = target_encode_pit(df, "cat", "y", ts_col="ts",
                            smoothing=0.0, out_col="te0")
    firsts = pdf.loc[pdf.groupby("cat").ts.transform("min") == pdf.ts,
                     "id"]
    te0 = {r["id"]: r["te0"] for r in raw.collect()}
    assert all(te0[i] is None for i in firsts)

    # layout-independent
    alt = target_encode_pit(df.repartition(3), "cat", "y", ts_col="ts",
                            prior=50.0, smoothing=5.0, out_col="te")
    assert {r["id"]: r["te"] for r in alt.collect()} == \
        {i: v[0] for i, v in got.items()}


def test_expanding_zscore_and_hash_bucket(spark):
    """PIT z-score vs brute-force pandas (population std over strictly
    earlier same-key rows; NULL below 2 priors or zero variance), and
    the hashing trick's range/determinism."""
    from hiselspark.operators.encoding import (expanding_zscore_pit,
                                               hash_bucket)
    from pyspark.sql import functions as F
    rng = np.random.default_rng(11)
    n = 300
    pdf = pd.DataFrame({
        "id": np.arange(n),
        "k": rng.choice(["p", "q"], n),
        "ts": pd.to_datetime(rng.integers(0, 40, n), unit="h",
                             origin="2024-01-01"),
        "v": rng.integers(0, 50, n).astype("int64"),
    })
    # a constant-valued key: std=0 -> NULL forever
    pdf.loc[pdf.k == "q", "v"] = 7
    df = spark.createDataFrame(pdf).repartition(5)
    out = expanding_zscore_pit(df, "k", "v", ts_col="ts", out_col="z")
    got = {r["id"]: r["z"] for r in out.collect()}
    for _, row in pdf.iterrows():
        before = pdf[(pdf.k == row.k) & (pdf.ts < row.ts)].v.to_numpy()
        if len(before) < 2 or before.std() == 0:
            assert got[row.id] is None, row.id
        else:
            want = (row.v - before.mean()) / before.std()  # ddof=0
            assert abs(got[row.id] - want) < 1e-9, row.id

    b = df.select(hash_bucket("k", 8, salt=3).alias("b"),
                  "k").distinct().collect()
    assert all(0 <= r["b"] < 8 for r in b)
    # same category -> same bucket, regardless of layout
    assert len({(r["k"], r["b"]) for r in b}) == 2
    with pytest.raises(ValueError):
        hash_bucket("k", 0)


def test_chunked_encodings_match_plain(spark):
    """Skew-proof (category, time-bucket) encodings are bit-identical
    to the plain single-clustering twins on a hot category with
    timestamp collisions, null targets, and bucket-boundary rows."""
    from hiselspark.operators.encoding import (
        chunked_count_encode, chunked_expanding_zscore,
        chunked_target_encode, count_encode_pit, expanding_zscore_pit,
        target_encode_pit)
    rng = np.random.default_rng(23)
    n = 600
    pdf = pd.DataFrame({
        "id": np.arange(n),
        # hot category: 80% of rows in one key
        "k": np.where(rng.uniform(size=n) < 0.8, "hot",
                      rng.choice(["c1", "c2"], n)),
        "ts": pd.to_datetime(rng.integers(0, 40 * 86400, n), unit="s",
                             origin="2024-01-01"),
        "v": rng.integers(0, 1000, n).astype("int64"),
    })
    # exact-duplicate timestamps inside the hot key
    pdf.loc[:20, "ts"] = pdf.loc[21, "ts"]
    # null targets
    pdf["v"] = pdf["v"].astype("object")
    pdf.loc[::17, "v"] = None
    df = spark.createDataFrame(pdf).repartition(9)
    bucket = 5 * 86400.0  # several buckets over the 40-day span

    plain = target_encode_pit(df, "k", "v", prior=11.0, smoothing=3.0)
    plain = count_encode_pit(plain, "k")
    plain = expanding_zscore_pit(plain, "k", "v")
    ch = chunked_target_encode(df, "k", "v", bucket_seconds=bucket,
                               prior=11.0, smoothing=3.0)
    ch = chunked_count_encode(ch, "k", bucket_seconds=bucket)
    ch = chunked_expanding_zscore(ch, "k", "v", bucket_seconds=bucket)
    cols = ["id", "te", "ce", "z"]
    a = {r["id"]: (r["te"], r["ce"], r["z"])
         for r in plain.select(*cols).collect()}
    b = {r["id"]: (r["te"], r["ce"], r["z"])
         for r in ch.select(*cols).collect()}
    assert a == b   # bit-identical, nulls included


def test_chunked_encodings_leave_cache_entries_unchanged(spark):
    """The chunked encodings never persist (the caller materializes):
    building and running them leaves the session's cache-manager
    entries as they were."""
    from hiselspark.operators.encoding import (
        chunked_count_encode, chunked_expanding_zscore,
        chunked_target_encode)
    from .test_pipeline import _cache_entries
    rng = np.random.default_rng(5)
    n = 200
    df = spark.createDataFrame(pd.DataFrame({
        "k": rng.choice(["a", "b"], n),
        "ts": pd.to_datetime(rng.integers(0, 20 * 86400, n), unit="s",
                             origin="2024-01-01"),
        "v": rng.integers(0, 100, n).astype("int64"),
    }))
    before = _cache_entries(spark)
    out = chunked_target_encode(df, "k", "v", bucket_seconds=5 * 86400.0)
    out = chunked_count_encode(out, "k", bucket_seconds=5 * 86400.0)
    out = chunked_expanding_zscore(out, "k", "v",
                                   bucket_seconds=5 * 86400.0)
    assert out.count() == n
    assert _cache_entries(spark) == before


def test_scd2_join_period_semantics(spark):
    from hiselspark.operators.asof import scd2_join
    t = lambda s: pd.Timestamp(s)  # noqa: E731
    dim = pd.DataFrame({
        "key": [1, 1, 2],
        "valid_from": [t("2024-01-10"), t("2024-01-30"), t("2024-01-05")],
        "valid_to":   [t("2024-01-20"), None,            None],
        "attr": [100, 200, 300],
    })
    facts = pd.DataFrame({
        "fid": [0, 1, 2, 3, 4, 5],
        "key": [1, 1, 1, 1, 1, 2],
        "ts": [t("2024-01-05"),   # before first period -> NULL
               t("2024-01-10"),   # exactly valid_from -> covered
               t("2024-01-20"),   # exactly valid_to -> NOT covered (gap)
               t("2024-01-25"),   # retired gap -> NULL
               t("2024-02-01"),   # open-ended current row
               t("2024-01-06")],  # other key, current row
    })
    out = (scd2_join(spark.createDataFrame(facts),
                     spark.createDataFrame(dim), on="key")
           .toPandas().set_index("fid")["attr"])
    assert pd.isna(out[0])
    assert out[1] == 100
    assert pd.isna(out[2])
    assert pd.isna(out[3])
    assert out[4] == 200
    assert out[5] == 300


def test_asof_join_multi_matches_k_separate_joins(spark, timeline,
                                                  labels_pdf):
    """The one-shuffle K-table join must agree column-for-column with
    K independent asof_join calls (same tie rule, same tolerance)."""
    from hiselspark.operators.asof import asof_join_multi
    lab = spark.createDataFrame(labels_pdf)
    ta = spark.createDataFrame(
        timeline[["entity_id", "ts", "v"]])
    tb = spark.createDataFrame(
        timeline[["entity_id", "ts", "w"]].assign(
            ts=timeline["ts"] + pd.Timedelta(seconds=7)))
    tol = {"b": 600.0}
    multi = (asof_join_multi(lab, {"a": ta, "b": tb}, on="entity_id",
                             left_ts="ts", right_ts="ts",
                             tolerance_seconds=tol)
             .toPandas()
             .sort_values(["entity_id", "ts", "y"])
             .reset_index(drop=True))
    sep_a = asof_join(lab, ta, on="entity_id", left_ts="ts",
                      right_ts="ts", value_cols=["v"], suffix="_a")
    sep = (asof_join(sep_a.withColumnRenamed("__matched_ts", "mts_a"),
                     tb, on="entity_id", left_ts="ts", right_ts="ts",
                     value_cols=["w"], suffix="_b",
                     tolerance_seconds=600.0)
           .toPandas()
           .sort_values(["entity_id", "ts", "y"])
           .reset_index(drop=True))
    assert len(multi) == len(sep) == len(labels_pdf)
    np.testing.assert_allclose(multi["v_a"].astype(float),
                               sep["v_a"].astype(float))
    np.testing.assert_allclose(multi["w_b"].astype(float),
                               sep["w_b"].astype(float))
    pd.testing.assert_series_equal(
        multi["__matched_ts_a"], sep["mts_a"],
        check_names=False)
    pd.testing.assert_series_equal(
        multi["__matched_ts_b"], sep["__matched_ts"],
        check_names=False)


def test_asof_join_multi_no_leakage_and_strict(spark, timeline,
                                               labels_pdf):
    """Every matched timestamp is <= (or < under strict) the label ts,
    per table — zero temporal leakage by construction."""
    from hiselspark.operators.asof import asof_join_multi
    lab = spark.createDataFrame(labels_pdf)
    ta = spark.createDataFrame(timeline[["entity_id", "ts", "v"]])
    tb = spark.createDataFrame(timeline[["entity_id", "ts", "w"]])
    for strict in (False, True):
        out = asof_join_multi(lab, {"a": ta, "b": tb},
                              on="entity_id", strict=strict).toPandas()
        for t in ("a", "b"):
            m = out[f"__matched_ts_{t}"].notna()
            if strict:
                assert (out.loc[m, f"__matched_ts_{t}"]
                        < out.loc[m, "ts"]).all()
            else:
                assert (out.loc[m, f"__matched_ts_{t}"]
                        <= out.loc[m, "ts"]).all()


def test_feature_hashing_properties(spark):
    """Hashing trick: deterministic, fixed bucket range, same token
    always lands in the same (bucket, sign), counts add up."""
    import pytest as _pytest
    from hiselspark.operators.encoding import feature_hashing
    rows = [(1, "click")] * 5 + [(1, "view")] * 3 + [(2, "click")] * 2
    df = spark.createDataFrame(rows, "u int, tok string")
    a = feature_hashing(df, "u", "tok", n_dims=8).collect()
    b = feature_hashing(df, "u", "tok", n_dims=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    got = {(r["entity"], r["bucket"]): r["signed_count"] for r in a}
    assert all(0 <= k[1] < 8 for k in got)
    # token -> one bucket: 'click' contributes |5| for u1, |2| for u2
    # in the SAME bucket with the SAME sign direction
    u1 = {k[1]: v for k, v in got.items() if k[0] == 1}
    u2 = {k[1]: v for k, v in got.items() if k[0] == 2}
    click_b = next(b for b, v in u2.items())
    assert abs(u2[click_b]) == 2
    assert abs(u1[click_b]) in (5, 2, 8)  # 5 unless view collides
    # total absolute mass is conserved when no collision pairs cancel
    assert sum(abs(v) for v in u2.values()) == 2
    with _pytest.raises(ValueError):
        feature_hashing(df, "u", "tok", n_dims=1)


def test_embedding_profile_pit_brute(spark):
    """Strictly-before expanding vector mean vs a Python replay —
    including NULL profile for first events and (ts, order) ties."""
    import datetime as dt
    from hiselspark.operators.encoding import embedding_profile_pit
    base = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(4):
        for i in range(6):
            # two rows share a timestamp for user 0 -> order_col ties
            t = base + dt.timedelta(hours=i if (u or i < 4) else 3)
            vec = [float((u * 10 + i) * (d + 1)) for d in range(3)]
            rows.append((u, t, u * 100 + i, vec))
    df = spark.createDataFrame(
        rows, "user long, ts timestamp, oid long, embedding array<double>")
    out = embedding_profile_pit(df, "user", "ts", "oid").collect()
    got = {r["oid"]: (r["n_prior"], r["profile"]) for r in out}
    assert len(got) == len(rows)
    by_user = {}
    for u, t, oid, vec in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        hist = by_user.setdefault(u, [])
        n, prof = got[oid]
        assert n == len(hist)
        if not hist:
            assert prof is None
        else:
            exp = [sum(v[d] for v in hist) / len(hist) for d in range(3)]
            for a, b in zip(prof, exp):
                assert a == pytest.approx(b, rel=1e-12)
        hist.append(vec)
