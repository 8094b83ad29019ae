"""Parity of hiselspark.kernels with the reference math (imported in
place from /root/reference via tests/refshim.py) plus analytic oracles."""
import numpy as np
import pytest

from hiselspark import kernels as hk
from hiselspark import lar as hlar


@pytest.fixture(scope="module")
def rk(hisel):
    return hisel.kernels


RNG = np.random.default_rng(42)


def test_rbf_featurewise_matches_reference(rk):
    x = RNG.uniform(size=(40, 5))
    l = 1.3
    ours = hk.rbf_gram_featurewise(x, l)
    ref = rk.featwise(x.T.copy(), l, rk.KernelType.RBF)
    np.testing.assert_allclose(ours, ref, rtol=1e-10, atol=1e-12)


def test_rbf_featurewise_analytic():
    x = np.array([[0.0], [1.0]])
    g = hk.rbf_gram_featurewise(x, 1.0)
    np.testing.assert_allclose(g[0], [[1.0, np.exp(-0.5)], [np.exp(-0.5), 1.0]])


def test_delta_featurewise_matches_reference(rk):
    x = RNG.integers(0, 7, size=(50, 4))
    ours = hk.delta_gram_featurewise(x)
    ref = rk.featwise(x.T.copy().astype(int), 1.0, rk.KernelType.DELTA)
    np.testing.assert_allclose(ours, ref, rtol=1e-12)


def test_delta_rows_sum_to_one():
    x = RNG.integers(0, 4, size=(30, 3))
    g = hk.delta_gram_featurewise(x)
    np.testing.assert_allclose(g.sum(axis=2), 1.0, rtol=1e-12)


def test_mixed_featurewise_matches_reference(rk):
    xc = RNG.integers(0, 5, size=(30, 3)).astype(float)
    xf = RNG.uniform(size=(30, 4))
    x = np.hstack([xc, xf])
    ours = hk.gram_featurewise(x, 1.0, hk.KernelKind.MIXED, cat_split=3)
    ref = rk.featwise(x.T.copy(), 1.0, rk.KernelType.BOTH, catcont_split=3)
    np.testing.assert_allclose(ours, ref, rtol=1e-10, atol=1e-12)


def test_rbf_joint_matches_reference(rk):
    x = RNG.uniform(size=(35, 6))
    ours = hk.rbf_gram_joint(x, 2.0)
    ref = rk.multivariate(x.T.copy(), 2.0, rk.KernelType.RBF)
    np.testing.assert_allclose(ours, ref, rtol=1e-10, atol=1e-12)


def test_delta_joint_matches_reference(rk):
    x = RNG.integers(0, 3, size=(40, 3))
    ours = hk.delta_gram_joint(x)
    ref = rk.multivariate(x.T.copy().astype(int), 1.0, rk.KernelType.DELTA)
    np.testing.assert_allclose(ours, ref, rtol=1e-12)


def test_double_center_matches_reference_and_hgh(rk):
    g = rk.featwise(RNG.uniform(size=(4, 25)), 1.0, rk.KernelType.RBF)
    ours = hk.double_center(g.copy())
    ref = rk._center_gram(g.copy())
    np.testing.assert_allclose(ours, ref, rtol=1e-10, atol=1e-12)
    hgh = rk._center_gram_matmul(g.copy())
    np.testing.assert_allclose(ours, hgh, rtol=1e-8, atol=1e-10)


def test_feature_map_matches_reference(rk):
    x = RNG.uniform(size=(60, 5))
    ours = hk.apply_feature_map(x, 1.0, hk.KernelKind.RBF, batch_size=20)
    ref = rk.apply_feature_map(rk.KernelType.RBF, x.T.copy(), 1.0, 20)
    np.testing.assert_allclose(ours, ref, rtol=1e-9, atol=1e-11)


def test_feature_map_joint_matches_reference(rk):
    y = RNG.uniform(size=(60, 2))
    ours = hk.apply_feature_map(y, np.sqrt(2), hk.KernelKind.RBF,
                                batch_size=30, joint=True)
    ref = rk.apply_feature_map(rk.KernelType.RBF, y.T.copy(), np.sqrt(2), 30,
                               is_multivariate=True)
    np.testing.assert_allclose(ours, ref, rtol=1e-9, atol=1e-11)


def test_batch_slices_drops_remainder():
    sls = hk.batch_slices(65, 20)
    assert len(sls) == 3
    assert sls[-1] == slice(40, 60)


def _stats_inputs(inputs, n, d=6):
    """x for the explicit-Phi cases: uniform floats, integer codes,
    two code columns then floats, uniform floats standardized the
    reference's way (column SUM subtracted: a large offset), or uniform
    codes with a constant first column."""
    if inputs == "codes":
        return RNG.integers(0, 5, size=(n, d))
    if inputs == "mixed":
        return np.hstack([RNG.integers(0, 4, size=(n, 2)).astype(float),
                          RNG.uniform(size=(n, d - 2))])
    x = RNG.uniform(size=(n, d))
    if inputs == "hisel":
        x = (x - x.sum(axis=0)) / (1e-9 + x.std(axis=0))
    elif inputs == "constant":
        x = np.floor(4 * x)
        x[:, 0] = 3.0
    return x


_RBF, _DELTA, _MIXED = (hk.KernelKind.RBF, hk.KernelKind.DELTA,
                        hk.KernelKind.MIXED)


@pytest.mark.parametrize("x_kind,inputs,n,row_chunk,col_chunk,dtype,tol", [
    (_RBF, "uniform", 48, 17, 64, np.float64, 1e-12),
    (_DELTA, "codes", 48, 17, 64, np.float64, 1e-12),
    (_MIXED, "mixed", 48, 17, 64, np.float64, 1e-12),
    # n a multiple of neither chunk, and the two chunks differ
    (_RBF, "uniform", 53, 17, 11, np.float64, 1e-12),
    (_MIXED, "mixed", 53, 11, 17, np.float64, 1e-12),
    (_RBF, "hisel", 53, 17, 11, np.float64, 1e-12),
    (_RBF, "constant", 53, 17, 11, np.float64, 1e-12),
    (_DELTA, "constant", 53, 17, 11, np.float64, 1e-12),
    (_RBF, "hisel", 53, 17, 11, np.float32, 1e-5),
    (_MIXED, "mixed", 53, 11, 17, np.float32, 1e-5),
])
def test_sufficient_stats_equal_explicit_phi(x_kind, inputs, n, row_chunk,
                                             col_chunk, dtype, tol):
    """(X^T X, X^T y) from the tiled streaming path == explicit float64
    Phi, each entry within ``tol`` of sqrt(diag_f * diag_g) (xty: of
    sqrt(diag_f * |psi|^2), its Cauchy-Schwarz bound)."""
    x = _stats_inputs(inputs, n)
    y = RNG.uniform(size=(n, 1))
    split = 2 if x_kind == _MIXED else 0
    phi = hk.feature_map_block(x, 1.0, x_kind, cat_split=split)
    psi = hk.feature_map_block(y, 1.0, hk.KernelKind.RBF, joint=True)
    xtx, xty = hk.batch_sufficient_stats(
        x, y, x_kind, hk.KernelKind.RBF, x_bandwidth=1.0, y_bandwidth=1.0,
        cat_split=split, row_chunk=row_chunk, col_chunk=col_chunk,
        dtype=dtype)
    ref_xtx, ref_xty = phi.T @ phi, (phi.T @ psi).ravel()
    diag = np.diag(ref_xtx)
    assert np.all(np.abs(xtx - ref_xtx)
                  <= tol * np.sqrt(np.outer(diag, diag)))
    assert np.all(np.abs(xty - ref_xty)
                  <= tol * np.sqrt(diag * (psi.ravel() @ psi.ravel())))
    if inputs == "constant":
        assert xtx[0, 0] == 0.0


def test_sufficient_stats_mixed_kernel():
    n = 40
    x = np.hstack([RNG.integers(0, 4, size=(n, 2)).astype(float),
                   RNG.uniform(size=(n, 3))])
    y = RNG.uniform(size=(n, 1))
    phi = hk.feature_map_block(x, 1.0, hk.KernelKind.MIXED, cat_split=2)
    xtx, xty = hk.batch_sufficient_stats(
        x, y, hk.KernelKind.MIXED, hk.KernelKind.RBF, y_bandwidth=1.0,
        cat_split=2, row_chunk=13)
    np.testing.assert_allclose(xtx, phi.T @ phi, rtol=1e-8, atol=1e-10)


def test_hsic_scores_from_xty():
    """xty[f] == n^2 * HSIC_b(feature f, y) per the reference statistic
    (hisel/hsic.py:9-41 with featurewise x-Gram)."""
    n = 50
    x = RNG.uniform(size=(n, 3))
    y = RNG.uniform(size=(n, 1))
    _, xty = hk.batch_sufficient_stats(
        x, y, hk.KernelKind.RBF, hk.KernelKind.RBF,
        x_bandwidth=1.0, y_bandwidth=1.0)
    for f in range(3):
        k = hk.rbf_gram_featurewise(x[:, [f]], 1.0)[0]
        lc = hk.double_center(hk.rbf_gram_joint(y, 1.0))
        # trace(K @ Lc) = <K, Lc>_F = <Kc, psi> because centering is a
        # projection (idempotent, self-adjoint)
        np.testing.assert_allclose(xty[f], np.trace(k @ lc), rtol=1e-8)


def test_lar_matches_reference_on_random_gram(hisel):
    n, d = 200, 12
    x = RNG.uniform(size=(n, d))
    beta = np.zeros(d)
    beta[[1, 4, 7]] = [2.0, 1.0, 3.0]
    y = (x @ beta).reshape(-1, 1)
    ours_active, ours_path = hlar.solve(x, y, 3)
    ref_active, ref_path = hisel.lar.solve(x, y, 3)
    assert ours_active == list(ref_active)
    assert ours_path.shape == ref_path.shape
    np.testing.assert_allclose(ours_path, ref_path, rtol=1e-8, atol=1e-10)


def test_lar_recovers_planted_support():
    n, d = 500, 10
    x = RNG.uniform(size=(n, d))
    coef = np.zeros(d)
    support = [0, 3, 9]
    coef[support] = [1.5, 2.5, 1.0]
    y = (x @ coef).reshape(-1, 1)
    active, _ = hlar.solve(x, y, len(support))
    assert set(support) <= set(active)


def test_lar_gram_equals_design_form():
    n, d = 120, 8
    x = RNG.uniform(size=(n, d))
    y = RNG.uniform(size=(n, 1))
    a1, p1 = hlar.solve(x, y, 4)
    a2, p2 = hlar.solve_gram(x.T @ x, x.T @ y, 4)
    assert a1 == a2
    np.testing.assert_allclose(p1, p2)
