"""``cv_fit``'s one-pass gaussian route: each repeat is one scan of the
data, and the base model that freezes the sigma grid comes from the
summed fold statistics of that scan, equal to a direct ``fit``."""

import numpy as np
import pytest

import prague_spark as ps

N, P = 400, 6
KW = dict(n_sigma=8, lambda_min_ratio=0.05)


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.default_rng(5)
    X = rng.normal(size=(N, P))
    y = X @ np.array([2.0, -1.0, 0.0, 0.5, 0.0, 0.0]) + rng.normal(size=N)
    # a fold key column with negative values: pmod maps it into [0, k)
    key = rng.integers(-7, 7, size=N)
    rows = [(*map(float, X[i]), float(y[i]), int(key[i])) for i in range(N)]
    schema = ", ".join([f"x{j} double" for j in range(P)] + ["y double",
                                                            "key int"])
    df = spark.createDataFrame(rows, schema).cache()
    df.count()
    return df, [f"x{j}" for j in range(P)]


@pytest.mark.parametrize("fold_col", [None, "key"])
def test_cv_base_model_equals_direct_fit(frame, fold_col):
    df, feats = frame
    cvr = ps.cv_fit(df, feats, "y", "gaussian", n_folds=4, seed=3,
                    fold_col=fold_col, **KW)
    direct = ps.fit(df, feats, "y", "gaussian", **KW)
    base = cvr.model
    np.testing.assert_allclose(base.sigma, direct.sigma, rtol=1e-10)
    np.testing.assert_allclose(np.asarray(base.betas),
                               np.asarray(direct.betas), rtol=1e-10,
                               atol=1e-12)
    np.testing.assert_allclose(base.deviances, direct.deviances, rtol=1e-10)
    # the folds refit on the base model's frozen grid
    assert {r["sigma"] for r in cvr.summary} <= set(base.sigma)


def test_cv_gram_route_scans_once_per_repeat(frame, count_jobs):
    df, feats = frame
    cvr, jobs = count_jobs(lambda: ps.cv_fit(
        df, feats, "y", "gaussian", n_folds=4, n_repeats=2, seed=3, **KW))
    assert cvr.model.n_path >= 2
    assert jobs == 2
