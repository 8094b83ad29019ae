"""End-to-end parity of the distributed HSIC-Lasso selector with the
reference pipeline (reference imported in place; its unseeded shuffle is
patched to the identity so both sides see the same row order —
SURVEY.md §5.2)."""
import numpy as np
import pandas as pd
import pytest

from hiselspark.selection import SparkHSICSelector, hsic_lasso_select


def _planted_continuous(n=600, d=8, seed=7):
    rng = np.random.default_rng(seed)
    x = rng.uniform(size=(n, d))
    y = (2.0 * x[:, 1] + 1.0 * x[:, 4] - 3.0 * x[:, 6]).reshape(-1, 1)
    return x, y


def _to_sdf(spark, x, y, ycols=None):
    d = x.shape[1]
    cols = [f"f{i}" for i in range(d)]
    pdf = pd.DataFrame(x, columns=cols)
    ycols = ycols or [f"y{i}" for i in range(y.shape[1])]
    for i, c in enumerate(ycols):
        pdf[c] = y[:, i]
    pdf["_idx"] = np.arange(len(pdf))
    return spark.createDataFrame(pdf), cols, ycols


@pytest.fixture()
def no_shuffle(monkeypatch):
    monkeypatch.setattr(np.random, "permutation", lambda n: np.arange(n))


def test_parity_with_reference_selector(hisel, spark, no_shuffle):
    x, y = _planted_continuous()
    sdf, cols, ycols = _to_sdf(spark, x, y)
    sel = SparkHSICSelector(sdf, cols, ycols)
    res = sel.run(number_of_features=3, minibatch_size=200, mode="parity",
                  order_col="_idx", batch_size=600)

    ref = hisel.select.HSICSelector(x.copy(), y.copy(),
                                    feature_names=cols)
    ref_features = ref.select(number_of_features=3, batch_size=600,
                              minibatch_size=200, number_of_epochs=1)
    assert res.features == list(ref_features)
    ref_path = ref.lasso_path()
    np.testing.assert_allclose(res.lasso_path.values, ref_path.values,
                               rtol=1e-6, atol=1e-8)


def test_parity_multiple_outer_batches(hisel, spark, no_shuffle):
    x, y = _planted_continuous(n=800)
    sdf, cols, ycols = _to_sdf(spark, x, y)
    sel = SparkHSICSelector(sdf, cols, ycols)
    res = sel.run(number_of_features=3, minibatch_size=100, mode="parity",
                  order_col="_idx", batch_size=400)
    ref = hisel.select.HSICSelector(x.copy(), y.copy(), feature_names=cols)
    ref_features = ref.select(number_of_features=3, batch_size=400,
                              minibatch_size=100, number_of_epochs=1)
    assert res.features == list(ref_features)
    np.testing.assert_allclose(res.projection.sum(), 3.0, rtol=1e-9)


def test_parity_discrete_features(hisel, spark, no_shuffle):
    rng = np.random.default_rng(11)
    n, d = 500, 6
    x = rng.integers(0, 5, size=(n, d))
    y = (x[:, 0] * 3 + x[:, 3]).reshape(-1, 1).astype(np.int64)
    sdf, cols, ycols = _to_sdf(spark, x, y)
    sel = SparkHSICSelector(sdf, cols, ycols)
    res = sel.run(number_of_features=2, minibatch_size=250, mode="parity",
                  order_col="_idx", batch_size=500)
    ref = hisel.select.HSICSelector(x.copy(), y.copy(), feature_names=cols)
    ref_features = ref.select(number_of_features=2, batch_size=500,
                              minibatch_size=250, number_of_epochs=1)
    assert res.features == list(ref_features)
    assert set(res.features) == {"f0", "f3"}


def test_hash_mode_recovers_planted_features_on_any_layout(spark):
    """Hash minibatches follow the rows, not the partitioning: the same
    frame split 3, 7 or 16 ways uses the same rows and minibatches and
    selects the same features.  Scores may differ only in the last bits
    of the Spark float sums inside the standardization."""
    x, y = _planted_continuous(n=2000, d=10)
    sdf, cols, ycols = _to_sdf(spark, x, y)
    runs = [hsic_lasso_select(sdf.repartition(p), cols, ycols,
                              number_of_features=3, minibatch_size=100)
            for p in (3, 7, 16)]
    first = runs[0]
    for res in runs:
        assert set(res.features) == {"f1", "f4", "f6"}
        assert res.n_minibatches >= 15
        # HSIC scores of planted features dominate
        scores = res.hsic_scores
        planted = scores[["f1", "f4", "f6"]].min()
        rest = scores.drop(["f1", "f4", "f6"]).max()
        assert planted > rest
        assert res.features == first.features
        assert res.n_rows_used == first.n_rows_used
        assert res.n_minibatches == first.n_minibatches
        np.testing.assert_allclose(res.hsic_scores.values,
                                   first.hsic_scores.values,
                                   rtol=1e-12, atol=0)


def test_only_hash_and_parity_modes(spark):
    x, y = _planted_continuous(n=50)
    sdf, cols, ycols = _to_sdf(spark, x, y)
    sel = SparkHSICSelector(sdf, cols, ycols)
    with pytest.raises(ValueError, match="'hash' or 'parity'"):
        sel.run(number_of_features=2, mode="scale")


def test_hash_mode_mixed_types(spark):
    rng = np.random.default_rng(3)
    n = 1500
    xc = rng.integers(0, 4, size=(n, 2))
    xf = rng.uniform(size=(n, 4))
    y = (2.0 * xf[:, 1] + xc[:, 0]).reshape(-1, 1)
    pdf = pd.DataFrame({
        "c0": xc[:, 0], "c1": xc[:, 1],
        "g0": xf[:, 0], "g1": xf[:, 1], "g2": xf[:, 2], "g3": xf[:, 3],
        "y": y[:, 0],
    })
    sdf = spark.createDataFrame(pdf).repartition(4)
    sel = SparkHSICSelector(sdf, ["g0", "g1", "g2", "g3", "c0", "c1"], ["y"])
    # categorical columns are reordered first
    assert sel.feature_cols[:2] == ["c0", "c1"]
    assert sel.cat_split == 2
    res = sel.run(number_of_features=2, minibatch_size=150)
    assert set(res.features) == {"c0", "g1"}


def _mixed_frame(n=700, seed=5):
    """Two discrete (int64, int32) and six continuous columns, one of
    them float32, one constant; y depends on c0 and x1."""
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({"c0": rng.integers(0, 4, n),
                        "c1": rng.integers(0, 3, n).astype(np.int32)})
    for i in range(4):
        pdf[f"x{i}"] = rng.standard_normal(n)
    pdf["x4"] = rng.standard_normal(n).astype(np.float32)
    pdf["x5"] = 0.25
    pdf["y"] = np.sin(pdf["x1"]) + pdf["c0"] + 0.1 * rng.standard_normal(n)
    pdf["_idx"] = np.arange(n)
    return pdf, ["c0", "c1"] + [f"x{i}" for i in range(6)]


def test_moments_equal_per_column_aggregates_on_any_layout(spark):
    """The narrow (position, value) aggregate gives each column the
    bits of its own F.sum / F.stddev_pop, at any partitioning; a
    constant column's scale is 1e-9."""
    from pyspark.sql import functions as F

    pdf, fc = _mixed_frame()
    df = spark.createDataFrame(pdf)
    cont = [*fc[2:], "y"]
    for parts in (1, 3, 7):
        part = df.repartition(parts).persist()
        try:
            n, moments = SparkHSICSelector(part, fc, ["y"])._moments(part)
            assert n == len(pdf)
            assert list(moments) == cont
            for c in cont:
                r = part.agg(F.sum(c), F.stddev_pop(c)).first()
                want = (r[0], 1e-9 + r[1])
                assert [v.hex() for v in moments[c]] == [
                    v.hex() for v in want], (parts, c)
            assert moments["x5"][1] == 1e-9
        finally:
            part.unpersist()


def _parity_twin(pdf, fc, cat_split, tc, minibatch_size, batch_size):
    """Reference-order batching without Spark: standardize with the
    twin's row-order replay of the moments, outer batches then
    minibatches by row position, blocks summed in key order."""
    from hiselspark.kernels import KernelKind, batch_sufficient_stats
    from hiselspark.selection import _stats_kwargs
    from hiselspark.twin import _twin_standardize

    zcols = [*fc[cat_split:], *tc]
    std = _twin_standardize(
        {c: pdf[c].to_numpy(dtype=np.float64) for c in zcols}, zcols)
    work = pdf.sort_values("_idx").assign(**std)
    kw = _stats_kwargs(KernelKind.MIXED, KernelKind.RBF, cat_split,
                       len(tc))
    bs = batch_size
    per_outer = []
    for outer in range(len(work) // bs):
        blocks = [batch_sufficient_stats(
            g[fc].to_numpy(), g[tc].to_numpy(), **kw)
            for g in (work.iloc[outer * bs + m * minibatch_size:
                                outer * bs + (m + 1) * minibatch_size]
                      for m in range(bs // minibatch_size))]
        d = len(fc)
        xtx = np.sum(np.stack([bx.ravel() for bx, _ in blocks]),
                     axis=0).reshape(d, d)
        xty = np.sum(np.stack([by for _, by in blocks]), axis=0)
        per_outer.append((xtx, xty, len(blocks) * minibatch_size,
                          len(blocks)))
    return per_outer


def test_parity_mode_equals_twin_bit_for_bit(spark):
    """Parity mode standardizes inside the minibatch UDF with the
    moments of the Spark aggregate: on one partition its blocks, HSIC
    scores and lasso path are the bits of a row-order NumPy replay."""
    from hiselspark.selection import assemble_selection_result

    pdf, fc = _mixed_frame()
    sdf = spark.createDataFrame(pdf).coalesce(1)
    sel = SparkHSICSelector(sdf, fc, ["y"])
    res = sel.run(number_of_features=3, minibatch_size=100, mode="parity",
                  order_col="_idx", batch_size=350)
    twin = assemble_selection_result(
        _parity_twin(pdf, fc, 2, ["y"], 100, 350), fc, 3, 0.01)
    assert res.n_rows_used == twin.n_rows_used == 600
    assert res.features == twin.features
    for (ax, ay), (bx, by) in zip(res.stats, twin.stats):
        assert ax.tobytes() == bx.tobytes()
        assert ay.tobytes() == by.tobytes()
    assert res.lasso_path.values.tobytes() == \
        twin.lasso_path.values.tobytes()


def test_hash_mode_one_row_minibatch_adds_nothing(spark):
    """A hash minibatch of one row adds no block: the rows used and
    the minibatches leave it out, and the summed blocks are the bits
    of the twin's, which adds a zero block there."""
    from hiselspark.twin import _twin_hash_stats, _twin_standardize, hash_rows

    x, y = _planted_continuous(n=400, seed=2)
    fc, num_mb = [f"f{i}" for i in range(8)], 400 // 8
    pdf = pd.DataFrame(x, columns=fc).assign(y=y[:, 0], _idx=np.arange(400))
    for seed in range(100):
        mb = hash_rows([pdf["_idx"].to_numpy()], ["long"],
                       lead=[(seed, "int")]) % num_mb
        counts = np.bincount(mb, minlength=num_mb)
        if (counts == 1).any():
            break
    assert (counts == 1).any()
    stats = SparkHSICSelector(
        spark.createDataFrame(pdf).coalesce(1), fc, ["y"]).sufficient_stats(
            minibatch_size=8, order_col="_idx", seed=seed)
    std = _twin_standardize(
        {c: pdf[c].to_numpy(dtype=np.float64) for c in fc + ["y"]},
        fc + ["y"])
    twin = _twin_hash_stats(pdf.assign(**std), fc, ["y"], "_idx", 8,
                            seed=seed)
    (xtx, xty, rows, mbs), = stats
    assert rows == twin[2] == int(counts[counts >= 2].sum())
    assert mbs == twin[3] == int((counts >= 2).sum())
    assert xtx.tobytes() == twin[0].tobytes()
    assert xty.tobytes() == twin[1].tobytes()


def test_hash_mode_one_row_input_raises(spark):
    pdf = pd.DataFrame({"f0": [1.0], "f1": [2.0], "y": [3.0]})
    with pytest.raises(ValueError, match="no complete minibatch in hash"):
        hsic_lasso_select(spark.createDataFrame(pdf), ["f0", "f1"], ["y"],
                          number_of_features=1)


def test_segment_short_minibatch_adds_nothing(spark):
    """A (segment, minibatch) group under 8 rows adds no block: its
    segment's result is that of the frame without those rows, and a
    segment with only short minibatches is absent."""
    from hiselspark.selection import select_features_by_segment
    from hiselspark.twin import hash_rows

    rng = np.random.default_rng(11)
    rid = np.arange(400)
    mb = hash_rows([rid], ["long"]) % 4
    seg = np.where(rid < 200, 0, 1)
    short = rid[(mb == 0) & (seg == 0)][:5]
    keep = (mb != 0) | (seg == 1) | np.isin(rid, short)
    pdf = pd.DataFrame(rng.normal(size=(400, 4)),
                       columns=[f"f{i}" for i in range(4)])
    pdf = pdf.assign(seg=seg, rid=rid, y=2.0 * pdf["f1"] - pdf["f3"])[keep]
    tiny = pdf.iloc[:6].assign(seg=2)
    fc = ["f0", "f1", "f2", "f3"]

    def run(frame):
        return select_features_by_segment(
            spark.createDataFrame(frame), "seg", fc, ["y"],
            number_of_features=2, n_minibatches=4, order_col="rid")

    got = run(pd.concat([pdf, tiny]))
    want = run(pdf[~pdf["rid"].isin(short)])
    assert sorted(set(got["segment"])) == [0, 1]
    assert got.equals(want)


def test_empty_and_null_inputs_raise_clear_errors(spark):
    """An empty frame, and nulls in a continuous feature or an RBF
    target, raise ValueError naming the columns."""
    pdf, fc = _mixed_frame(n=50)
    sdf = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="at least one row"):
        hsic_lasso_select(sdf.limit(0), fc, ["y"], number_of_features=2)
    with pytest.raises(ValueError, match="at least one row"):
        hsic_lasso_select(sdf.limit(0), ["c0", "c1"], ["_idx"],
                          number_of_features=1)
    from pyspark.sql import functions as F

    holes = sdf.withColumns({
        "x0": F.lit(None).cast("double"),
        "x2": F.when(F.col("_idx") != 7, F.col("x2")),
        "y": F.when(F.col("_idx") != 9, F.col("y"))})
    with pytest.raises(ValueError, match=r"\['x0', 'x2', 'y'\]"):
        hsic_lasso_select(holes, fc, ["y"], number_of_features=2)
    with pytest.raises(ValueError, match=r"\['x0', 'x2', 'y'\]"):
        SparkHSICSelector(holes, fc, ["y"]).run(
            number_of_features=2, mode="parity", order_col="_idx")


def test_autoselect_threshold_cut(spark):
    x, y = _planted_continuous(n=1000)
    sdf, cols, ycols = _to_sdf(spark, x, y)
    res = hsic_lasso_select(sdf, cols, ycols, minibatch_size=250,
                            threshold=0.01)
    assert set(res.features) >= {"f1", "f6"}
    assert len(res.features) <= 5


def test_parity_epoch_augmentation_matches_reference(hisel, spark,
                                                     monkeypatch):
    """epochs=2 parity: the reference's per-outer-batch epoch shuffles
    (unseeded np.random.permutation, select.py:384-389) are pinned to
    the SAME seeded sequence the Spark parity path generates — both
    sides then see identical shuffled-concatenation augmentation and
    must select identical features with allclose lasso paths."""
    x, y = _planted_continuous(n=600, d=8, seed=21)
    sdf, cols, ycols = _to_sdf(spark, x, y)
    seed = 123
    sel = SparkHSICSelector(sdf, cols, ycols)
    res = sel.run(number_of_features=3, minibatch_size=100, mode="parity",
                  order_col="_idx", batch_size=300, epochs=2, seed=seed)
    assert res.n_rows_used == 2 * 600  # 2 outer batches x 300 x 2 epochs

    # the reference's outer preprocess permutes ALL n rows once
    # (repeat=1): pin to identity; per-batch epoch permutations (size
    # 300) replay the same default_rng(seed) stream the Spark side used
    rng = np.random.default_rng(seed)

    def fake_perm(k):
        if k == 600:
            return np.arange(k)
        return rng.permutation(k)

    monkeypatch.setattr(np.random, "permutation", fake_perm)
    ref = hisel.select.HSICSelector(x.copy(), y.copy(), feature_names=cols)
    ref_features = ref.select(number_of_features=3, batch_size=300,
                              minibatch_size=100, number_of_epochs=2)
    assert res.features == list(ref_features)
    np.testing.assert_allclose(res.lasso_path.values,
                               ref.lasso_path().values,
                               rtol=1e-6, atol=1e-8)


def test_float32_precision_matches_float64_scores(spark):
    """precision='float32' (the bandwidth-bound corpus-scale knob) must
    reproduce float64 HSIC scores to ~1e-5 relative and select the same
    features; parity/pinned paths stay float64 by default."""
    x, y = _planted_continuous(n=1200, d=10, seed=33)
    sdf, cols, ycols = _to_sdf(spark, x, y)
    sdf = sdf.repartition(6)
    sel = SparkHSICSelector(sdf, cols, ycols)
    r64 = sel.run(number_of_features=3, minibatch_size=150, mode="hash",
                  order_col="_idx")
    r32 = sel.run(number_of_features=3, minibatch_size=150, mode="hash",
                  order_col="_idx", precision="float32")
    assert r32.features == r64.features
    np.testing.assert_allclose(r32.hsic_scores.values,
                               r64.hsic_scores.values, rtol=1e-4)
    # mixed-type path too (delta + RBF kernels)
    rng = np.random.default_rng(5)
    xm = np.column_stack([rng.integers(0, 4, size=800),
                          rng.integers(0, 5, size=800),
                          rng.uniform(size=800), rng.uniform(size=800)])
    ym = (xm[:, 0] * 2 + xm[:, 2]).reshape(-1, 1)
    import pandas as pd
    pdf = pd.DataFrame({"c0": xm[:, 0].astype(np.int64),
                        "c1": xm[:, 1].astype(np.int64),
                        "f0": xm[:, 2], "f1": xm[:, 3], "y": ym[:, 0]})
    sdf2 = spark.createDataFrame(pdf).repartition(4)
    sel2 = SparkHSICSelector(sdf2, ["c0", "c1", "f0", "f1"], ["y"])
    a = sel2.run(number_of_features=2, minibatch_size=200, mode="hash")
    b = sel2.run(number_of_features=2, minibatch_size=200, mode="hash",
                 precision="float32")
    assert a.features == b.features
    np.testing.assert_allclose(b.hsic_scores.values,
                               a.hsic_scores.values, rtol=1e-4)


def test_segmented_selection_recovers_per_segment_drivers(spark):
    import numpy as np
    import pandas as pd
    from hiselspark.selection import select_features_by_segment
    rng = np.random.default_rng(7)
    n = 2000
    rows = []
    for seg, driver in ((0, 1), (1, 3)):
        x = rng.normal(size=(n, 5))
        y = 2.0 * x[:, driver] + 0.1 * rng.normal(size=n)
        for i in range(n):
            rows.append((seg, seg * n + i, *x[i].tolist(), y[i]))
    pdf = pd.DataFrame(rows, columns=["seg", "rid", "f0", "f1", "f2",
                                      "f3", "f4", "y"])
    fc = ["f0", "f1", "f2", "f3", "f4"]
    out = select_features_by_segment(
        spark.createDataFrame(pdf).repartition(16), "seg", fc, ["y"],
        number_of_features=2, n_minibatches=4, order_col="rid")
    top = out[out["rank"] == 1].set_index("segment")["feature"]
    assert top[0] == "f1" and top[1] == "f3"
    # rank-1 dominates rank-2 by an order of magnitude in HSIC score
    s = out.set_index(["segment", "rank"])["hsic_score"]
    assert s[(0, 1)] > 10 * s[(0, 2)] and s[(1, 1)] > 10 * s[(1, 2)]
    # bit-identical on a different partition layout
    out2 = select_features_by_segment(
        spark.createDataFrame(pdf).repartition(3), "seg", fc, ["y"],
        number_of_features=2, n_minibatches=4, order_col="rid")
    assert out.equals(out2)
