"""Unit tests for the driver-side NumPy core (no Spark needed)."""

import math

import numpy as np
import pytest

from prague_spark.core import (
    GramData,
    admm_gaussian,
    admm_rho,
    fista,
    infeasibility,
    interpolate_coefficients,
    kkt_check,
    lambda_sequence,
    norm_ppf,
    setup_family,
    sigma_grid,
    sorted_l1_norm,
    sorted_l1_prox,
    strong_rule_active_set,
    t_ppf,
)
from prague_spark.design import LocalDesign

rng = np.random.default_rng(42)


# ---------- prox ----------

def prox_objective(x, v, lam):
    return 0.5 * np.sum((x - v) ** 2) + sorted_l1_norm(x, lam)


def test_prox_soft_threshold_limit():
    # constant lambda => ordinary soft thresholding
    v = np.array([3.0, -1.5, 0.2, -0.05, 10.0])
    lam = np.full(5, 1.0)
    expected = np.sign(v) * np.maximum(np.abs(v) - 1.0, 0.0)
    np.testing.assert_allclose(sorted_l1_prox(v, lam), expected, atol=1e-12)


def test_prox_zero_lambda_identity():
    v = rng.normal(size=20)
    np.testing.assert_allclose(sorted_l1_prox(v, np.zeros(20)), v)


def test_prox_is_minimizer():
    # the prox output must beat random perturbations on the prox objective
    for _ in range(20):
        p = rng.integers(2, 30)
        v = rng.normal(size=p) * 3
        lam = np.sort(np.abs(rng.normal(size=p)))[::-1]
        x = sorted_l1_prox(v, lam)
        f0 = prox_objective(x, v, lam)
        for _ in range(30):
            pert = x + rng.normal(size=p) * 0.05
            assert prox_objective(pert, v, lam) >= f0 - 1e-9


def test_prox_preserves_order_and_sign():
    v = np.array([5.0, -4.0, 3.0, -2.0, 1.0])
    lam = np.array([1.0, 0.8, 0.6, 0.4, 0.2])
    x = sorted_l1_prox(v, lam)
    assert np.all(np.sign(x)[np.abs(x) > 0] == np.sign(v)[np.abs(x) > 0])
    # magnitudes keep relative order
    assert np.all(np.diff(np.abs(x)[np.argsort(-np.abs(v))]) <= 1e-12)


def _prox_by_stack_pass(v, lam):
    # reference: the one-element-at-a-time stack PAVA over every element
    from prague_spark.core import prox

    ax = np.abs(v)
    order = np.argsort(-ax, kind="stable")
    sums, counts = prox._pava_stack(ax[order] - lam, np.ones(v.size))
    out = np.empty(v.size)
    out[order] = np.maximum(np.repeat(sums / counts, counts.astype(int)), 0.0)
    return out * np.sign(v)


def _assert_prox_matches_stack_pass(v, lam):
    got, ref = sorted_l1_prox(v, lam), _prox_by_stack_pass(v, lam)
    assert np.max(np.abs(got - ref)) <= 1e-12 * max(1.0, np.max(np.abs(v)))


def test_prox_vectorized_matches_stack_pass():
    r = np.random.default_rng(2026)
    for i in range(400):
        p = int(r.integers(1, 200))
        v = r.normal(size=p) * r.uniform(0.1, 20.0)
        lam = np.sort(r.uniform(0.0, 5.0, size=p))[::-1]
        if i % 4 == 0:
            v = np.round(v)  # ties, including exact zeros
        elif i % 4 == 1:
            v[r.random(p) < 0.3] = 0.0
        elif i % 4 == 2:
            lam = lam[(np.arange(p) // 4) * 4]  # runs of equal lambda
        else:
            lam = np.full(p, lam[0])
        _assert_prox_matches_stack_pass(v, lam)
    for v in (3.0, -0.5, 0.0):  # p = 1
        _assert_prox_matches_stack_pass(np.array([v]), np.array([1.0]))


def test_prox_round_cap_falls_back_to_stack_pass(monkeypatch):
    from prague_spark.core import prox

    # a staircase: |v| falls by one per rank under a flat lambda whose
    # last entry drops by 1e6, so each vectorized round pools only one
    # more element into the tail block and the rounds hit the cap
    p = 200
    v = 2e6 + np.arange(p, 0, -1.0)
    lam = np.full(p, 1e6)
    lam[-1] = 0.0
    calls = []
    stack = prox._pava_stack

    def recording(sums, counts):
        calls.append(sums.size)
        return stack(sums, counts)

    monkeypatch.setattr(prox, "_pava_stack", recording)
    x = sorted_l1_prox(v, lam)
    assert calls == [p - prox._MAX_ROUNDS]
    ref = _prox_by_stack_pass(v, lam)
    assert np.max(np.abs(x - ref)) <= 1e-12 * np.max(np.abs(v))
    assert len(np.unique(x)) == 1  # the whole staircase pools


# ---------- stats ----------

def test_norm_ppf():
    assert abs(norm_ppf(0.975) - 1.959963984540054) < 1e-9
    assert abs(norm_ppf(0.5)) < 1e-12


def test_t_ppf_known_values():
    # reference values from R: qt(0.975, 9) = 2.262157; qt(0.975, 29) = 2.045230
    assert abs(t_ppf(0.975, 9) - 2.2621572) < 1e-5
    assert abs(t_ppf(0.975, 29) - 2.0452296) < 1e-5
    assert abs(t_ppf(0.025, 9) + 2.2621572) < 1e-5


# ---------- lambda sequences ----------

def test_bh_sequence():
    lam = lambda_sequence(4, 100, "bh", q=0.2)
    probs = [1 - (i + 1) * 0.2 / 8 for i in range(4)]
    expected = [norm_ppf(pr) for pr in probs]
    np.testing.assert_allclose(lam, expected, atol=1e-12)
    assert np.all(np.diff(lam) <= 0)


def test_gaussian_sequence_nonincreasing():
    lam = lambda_sequence(50, 30, "gaussian", q=0.1)
    assert np.all(np.diff(lam) <= 1e-12)


def test_gaussian_sequence_huge_p_finite():
    # At huge k relative to n the adjustment multiplier compounds past
    # float64 range; the guarded accumulation must clamp overflowed entries
    # to the running min (they would be clamped by the argmin step anyway)
    # and never warn or emit inf/NaN.
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any RuntimeWarning -> test failure
        lam = lambda_sequence(100_000, 500, "gaussian", q=0.2)
    assert np.all(np.isfinite(lam))
    assert np.all(np.diff(lam) <= 1e-12)
    assert np.all(lam >= 0)
    # the head must still match the unguarded recursion + argmin clamp:
    # at this k/n the multiplier overtakes the BH decay at i=2, so the
    # argmin is at index 1 and everything after is clamped to it
    probs = np.arange(1, 6, dtype=np.float64) * 0.2 / (2 * 100_000)
    bh = np.array([norm_ppf(1 - pr) for pr in probs])
    sum_sq, exp = 0.0, bh.copy()
    for i in range(1, 5):
        sum_sq += exp[i - 1] ** 2
        exp[i] *= np.sqrt(1.0 + sum_sq / max(1.0, 500.0 - i - 1))
    assert exp[2] > exp[1] < exp[0]  # increasing from i=2 -> argmin == 1
    np.testing.assert_allclose(lam[:2], exp[:2], rtol=1e-12)
    np.testing.assert_allclose(lam[2:], lam[1], rtol=0)


def test_oscar_sequence():
    lam = lambda_sequence(5, 100, "oscar", q=0.5)
    np.testing.assert_allclose(lam, [3.0, 2.5, 2.0, 1.5, 1.0])


def test_user_sequence_validation():
    with pytest.raises(ValueError):
        lambda_sequence(3, 10, "user", user_lambda=np.array([1.0, 2.0, 0.5]))
    lam = lambda_sequence(3, 10, "user", user_lambda=np.array([3.0, 2.0, 1.0]))
    np.testing.assert_allclose(lam, [30.0, 20.0, 10.0])


def test_sigma_grid():
    lam = lambda_sequence(5, 100, "bh", q=0.2)
    grid, smax = sigma_grid(np.array([5.0, 3.0, 1.0, 0.5, 0.1]), lam,
                            n_sigma=10, lambda_min_ratio=1e-2)
    assert grid[0] == pytest.approx(smax)
    assert grid[-1] == pytest.approx(smax * 1e-2)
    assert np.all(np.diff(grid) < 0)


# ---------- screening / kkt ----------

def test_strong_rule_subset_property():
    # rule must include every feature with gradient above the top penalty
    g = np.array([5.0, 0.1, 3.0, 0.05, 0.2])[:, None]
    lam = np.linspace(2.0, 1.0, 5)
    out = strong_rule_active_set(g, lam, lam, intercept=False)
    assert 0 in out and 2 in out


def test_kkt_check_flags_violations():
    lam = np.array([1.0, 0.5])
    g = np.array([3.0, 0.1])[:, None]
    beta = np.zeros((2, 1))
    out = kkt_check(g, beta, lam, tol=1e-3, intercept=False)
    assert 0 in out
    # nonzero coefficients are never flagged
    beta2 = np.array([[1.0], [0.0]])
    out2 = kkt_check(g, beta2, lam, tol=1e-3, intercept=False)
    assert 0 not in out2


def test_infeasibility():
    lam = np.array([1.0, 0.5])
    assert infeasibility(np.array([0.5, 0.1]), lam) == 0.0
    assert infeasibility(np.array([2.0, 0.1]), lam) == pytest.approx(1.0)


# ---------- solvers ----------

def _ols_problem(n=200, p=8, seed=1):
    r = np.random.default_rng(seed)
    X = r.normal(size=(n, p))
    beta_true = np.zeros(p)
    beta_true[:3] = [2.0, -1.0, 0.5]
    y = X @ beta_true + 0.1 * r.normal(size=n)
    y = y - y.mean()
    X = X - X.mean(axis=0)
    return X, y[:, None], beta_true


def test_fista_unregularized_matches_ols():
    X, y, _ = _ols_problem()
    fam = setup_family("gaussian")
    design = LocalDesign(X, y, fam)
    lam = np.zeros(X.shape[1])
    res = fista(design, np.zeros((X.shape[1], 1)), lam, tol_rel_gap=1e-9)
    ols = np.linalg.lstsq(X, y.ravel(), rcond=None)[0]
    np.testing.assert_allclose(res.beta.ravel(), ols, atol=1e-4)


def test_admm_matches_fista_gaussian_slope():
    X, y, _ = _ols_problem()
    p = X.shape[1]
    fam = setup_family("gaussian")
    design = LocalDesign(X, y, fam)
    lam = np.linspace(2.0, 1.0, p) * 5.0
    res_f = fista(design, np.zeros((p, 1)), lam, tol_rel_gap=1e-10)

    gram = design.gram()
    w, _ = gram.eigh()
    rho = admm_rho(w.max(), lam.max())
    res_a, z, u = admm_gaussian(
        gram, np.zeros(p), np.zeros(p), np.zeros(p), lam, rho,
        tol_abs=1e-9, tol_rel=1e-8,
    )
    np.testing.assert_allclose(res_a.beta.ravel(), res_f.beta.ravel(), atol=1e-4)


def test_fista_binomial_unregularized_vs_gradient_check():
    r = np.random.default_rng(3)
    n, p = 300, 4
    X = r.normal(size=(n, p))
    beta_true = np.array([1.0, -1.0, 0.5, 0.0])
    prob = 1 / (1 + np.exp(-(X @ beta_true)))
    y = np.where(r.uniform(size=n) < prob, 1.0, -1.0)[:, None]
    fam = setup_family("binomial")
    design = LocalDesign(X, y, fam)
    res = fista(design, np.zeros((p, 1)), np.zeros(p), tol_rel_gap=1e-9,
                max_passes=5000)
    # at the optimum the gradient must vanish
    grad = design.full_gradient(res.beta)
    assert np.max(np.abs(grad)) < 1e-2
    # and the signs should recover the planted signal
    assert np.sign(res.beta[0, 0]) == 1 and np.sign(res.beta[1, 0]) == -1


def test_fista_poisson_gradient_vanishes():
    r = np.random.default_rng(4)
    n, p = 300, 3
    X = r.normal(size=(n, p)) * 0.5
    beta_true = np.array([0.5, -0.3, 0.0])
    y = r.poisson(np.exp(X @ beta_true)).astype(float)[:, None]
    fam = setup_family("poisson")
    design = LocalDesign(X, y, fam)
    res = fista(design, np.zeros((p, 1)), np.zeros(p), tol_rel_gap=1e-10,
                max_passes=5000)
    grad = design.full_gradient(res.beta)
    assert np.max(np.abs(grad)) < 1e-2


def test_fista_multinomial_probs_sum_to_one():
    r = np.random.default_rng(5)
    n, p, m = 200, 3, 2  # 3 classes -> m = 2 targets
    X = r.normal(size=(n, p))
    Y = np.zeros((n, m))
    cls = r.integers(0, 3, size=n)
    for k in range(m):
        Y[:, k] = (cls == k).astype(float)
    fam = setup_family("multinomial")
    design = LocalDesign(X, Y, fam)
    lam = np.linspace(1.0, 0.5, p * m) * 2
    res = fista(design, np.zeros((p, m)), lam, max_passes=2000)
    probs = fam.link_inverse(X @ res.beta)
    np.testing.assert_allclose(probs.sum(axis=1), 1.0, atol=1e-9)


def test_interpolate_coefficients():
    betas = np.array([[[1.0]], [[3.0]]])  # path of 2, p=1, m=1
    penalty = np.array([2.0, 1.0])
    out = interpolate_coefficients(betas, penalty, np.array([1.5]))
    np.testing.assert_allclose(out, [[[2.0]]])
    # on-grid requests return exact slices
    out2 = interpolate_coefficients(betas, penalty, np.array([2.0, 1.0]))
    np.testing.assert_allclose(out2[:, 0, 0], [1.0, 3.0])


def test_admm_low_rank_kernel_matches_dense():
    # the Woodbury / kernel GramData (p > n) must produce the same ADMM
    # solution as the dense p x p Gram — exact algebraic equivalence
    import numpy as np

    from prague_spark.core.lambdas import lambda_sequence
    from prague_spark.core.solver import GramData, admm_gaussian, admm_rho

    rng = np.random.default_rng(3)
    n, p = 50, 120
    X = rng.normal(size=(n, p))
    y = X[:, 0] - 0.5 * X[:, 1] + rng.normal(scale=0.1, size=n)

    dense = GramData(gram=X.T @ X, xty=X.T @ y, yty=float(y @ y), n=n)
    lowr = GramData.from_xy(X, y)
    assert lowr.low_rank and lowr.p == p

    lam = lambda_sequence(p, n, "gaussian", 0.2) * 0.01
    out = []
    for gd in (dense, lowr):
        w, _ = gd.eigh()
        rho = admm_rho(float(w.max()), float(lam.max()))
        res, z, _ = admm_gaussian(
            gd, np.zeros(p), np.zeros(p), np.zeros(p), lam, rho,
            max_passes=10**5, tol_abs=1e-9, tol_rel=1e-8,
        )
        out.append((z, res.deviance))
    np.testing.assert_allclose(out[0][0], out[1][0], rtol=1e-6, atol=1e-8)
    assert abs(out[0][1] - out[1][1]) <= 1e-6 * max(1.0, abs(out[0][1]))


def test_random_problem_rho_and_groups(spark):
    from pyspark.sql import functions as F

    from prague_spark.ops.synth import random_problem

    df, beta = random_problem(
        spark, n=4000, p=6, q=0.5, family="gaussian", seed=3,
        rho=0.5, n_groups=3,
    )
    # grouped support: ceil(6/3)=2 per group, floor(3*0.5)=1 active group
    # -> exactly columns 0,1 active
    assert set(np.flatnonzero(beta)) == {0, 1}
    # equicorrelated design: corr(x_i, x_j) ~ rho for i != j
    r = df.select(
        F.corr("x1", "x4").alias("c14"), F.corr("x2", "x5").alias("c25")
    ).first()
    assert abs(r["c14"] - 0.5) < 0.06
    assert abs(r["c25"] - 0.5) < 0.06
    # rho=0 default leaves columns uncorrelated
    df0, _ = random_problem(spark, n=4000, p=4, q=0.5, seed=3)
    r0 = df0.select(F.corr("x1", "x3").alias("c")).first()["c"]
    assert abs(r0) < 0.06


# ---------- path driver ----------


def _gaussian_path_problem(seed=5, n=200, p=30):
    from prague_spark.core.solver import gaussian_step

    r = np.random.default_rng(seed)
    Xf = r.standard_normal((n, p))
    Xf = (Xf - Xf.mean(axis=0)) / np.linalg.norm(Xf - Xf.mean(axis=0), axis=0)
    X = np.hstack([np.full((n, 1), 1.0 / np.sqrt(n)), Xf])
    y = Xf[:, :4] @ np.array([3.0, -2.0, 2.0, 1.0]) + 0.3 * r.standard_normal(n)
    design = LocalDesign(X, y, setup_family("gaussian"))

    def solve(idx, beta_init, lam_scaled, z, u):
        return gaussian_step(design.subset(idx).gram(), beta_init, z, u,
                             lam_scaled, tol_abs=1e-11, tol_rel=1e-11)

    kw = dict(n=n, p_total=p + 1, m=1, intercept=True,
              null_deviance=float(y @ y), full_gradient=design.full_gradient,
              n_sigma=8, lambda_min_ratio=0.05)
    return lambda_sequence(p, n, "bh", 0.2), np.abs(X.T @ y)[1:], solve, kw


def test_path_driver_screening_matches_full_solves():
    # strong rule + KKT repair change which columns each point solves,
    # not the solution
    from prague_spark.core.path import run_path

    lam, lmax, solve, kw = _gaussian_path_problem()
    full = run_path(lam, lmax, solve, screening=False, **kw)
    for keep in (True, False):
        scr = run_path(lam, lmax, solve, screening=True,
                       stop_screening_when_full=keep, **kw)
        assert len(scr.sigma) == len(full.sigma) == 8
        np.testing.assert_allclose(scr.betas, full.betas, atol=1e-7)
        assert any(len(a) < kw["p_total"] for a in scr.active_sets)
        assert len(scr.diagnostics["violations"]) == 8
    assert not full.abandoned
    assert all(len(a) == kw["p_total"] for a in full.active_sets)


def test_path_driver_caps_and_zero_null_deviance():
    from prague_spark.core.path import run_path

    lam, lmax, solve, kw = _gaussian_path_problem()
    full = run_path(lam, lmax, solve, screening=False, **kw)
    # the cap excludes the first point past it
    cap = int(full.n_unique[3])
    capped = run_path(lam, lmax, solve, screening=False, max_variables=cap,
                      **kw)
    assert np.all(capped.n_unique <= cap)
    assert len(capped.sigma) < len(full.sigma)
    # the abandon limit cuts the path, without the current point, once
    # the repair set holds more penalized columns than the limit
    cut = run_path(lam, lmax, solve, screening=True, abandon_limit=0, **kw)
    assert cut.abandoned
    assert len(cut.sigma) == 1  # sigma_max: the intercept alone
    # a zero null deviance gives ratio 0, not a division error
    kw0 = dict(kw, null_deviance=0.0)
    zero = run_path(lam, lmax, solve, screening=False, **kw0)
    assert np.all(zero.deviance_ratios == 0.0)
