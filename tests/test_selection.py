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
    sel = SparkHSICSelector(sdf, cols, ycols, standardize="hisel")
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
    sel = SparkHSICSelector(sdf, cols, ycols, standardize="hisel")
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


def test_scale_mode_recovers_planted_features(spark):
    x, y = _planted_continuous(n=2000, d=10)
    sdf, cols, ycols = _to_sdf(spark, x, y)
    sdf = sdf.repartition(8)
    res = hsic_lasso_select(sdf, cols, ycols, number_of_features=3,
                            minibatch_size=100, mode="scale")
    assert set(res.features) == {"f1", "f4", "f6"}
    assert res.n_minibatches >= 15
    # HSIC scores of planted features dominate
    scores = res.hsic_scores
    planted = scores[["f1", "f4", "f6"]].min()
    rest = scores.drop(["f1", "f4", "f6"]).max()
    assert planted > rest


def test_scale_mode_mixed_types(spark):
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


def test_autoselect_threshold_cut(spark):
    x, y = _planted_continuous(n=1000)
    sdf, cols, ycols = _to_sdf(spark, x, y)
    res = hsic_lasso_select(sdf, cols, ycols, minibatch_size=250,
                            mode="scale", threshold=0.01)
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
    sel = SparkHSICSelector(sdf, cols, ycols, standardize="hisel")
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
