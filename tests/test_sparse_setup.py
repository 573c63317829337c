"""Route parity for ``fit_sparse``'s setup: the bulk in-core route (y and
every triplet fetched once, setup statistics in NumPy) against the
distributed setup (scale pass, scaled-triplet cache, setup aggregation),
forced by an ``incore_limit`` one byte under the bulk price."""

import numpy as np
import pytest

from prague_spark.ops.sparse import _bulk_incore_bytes, fit_sparse

N, P = 120, 30


@pytest.fixture(scope="module")
def design(spark):
    rng = np.random.default_rng(7)
    rows, cols, vals = [], [], []
    for r in range(N):
        for c in rng.choice(np.delete(np.arange(P), 3), size=5, replace=False):
            rows.append(r)
            cols.append(int(c))
            vals.append(float(rng.normal()))
    # duplicate (row, col) triplets: they sum on both routes
    for i in rng.choice(len(rows), size=15, replace=False):
        rows.append(rows[i])
        cols.append(cols[i])
        vals.append(float(rng.normal()))
    # an all-zero column (explicit zeros; its scale falls back to 1.0)
    for r in range(0, N, 7):
        rows.append(r)
        cols.append(3)
        vals.append(0.0)
    # triplets outside the y row universe: they count toward the scales
    # but not toward any setup statistic
    for r in range(N, N + 10):
        rows.append(r)
        cols.append(int(rng.integers(5, P)))
        vals.append(float(5.0 + rng.normal()))
    trip = spark.createDataFrame(
        list(zip(rows, cols, vals)), "row_id long, col_id int, value double"
    ).cache()
    X = np.zeros((N, P))
    for r, c, v in zip(rows, cols, vals):
        if r < N:
            X[r, c] += v
    y = X[:, 0] * 2.0 - X[:, 1] + rng.normal(scale=0.5, size=N)
    ydf = spark.createDataFrame(
        [(i, float(y[i])) for i in range(N)], "row_id long, y double"
    ).cache()
    return trip, ydf, len(rows)


@pytest.mark.parametrize("scale", ["l1", "l2", "sd", "max"])
def test_bulk_setup_matches_distributed_setup(design, scale):
    trip, ydf, nnz = design
    kw = dict(n_cols=P, n_sigma=4, lambda_min_ratio=0.3, gram_limit=8,
              scale=scale)
    m_bulk = fit_sparse(trip, ydf, "y", "gaussian", **kw)
    m_dist = fit_sparse(
        trip, ydf, "y", "gaussian",
        incore_limit=_bulk_incore_bytes(N, 1, nnz) - 1, **kw,
    )
    assert m_bulk.diagnostics["incore_subset_fits"]
    assert m_dist.diagnostics["incore_subset_fits"]
    # bulk: count + y fetch + triplet fetch, and nothing per path point
    assert m_bulk.diagnostics["sparse_scans"] == 3
    assert m_dist.diagnostics["sparse_scans"] > 3
    assert m_bulk.x_scale[3] == 1.0
    np.testing.assert_allclose(m_bulk.x_scale, m_dist.x_scale, rtol=1e-12)
    np.testing.assert_allclose(m_bulk.sigma, m_dist.sigma, rtol=1e-12)
    assert m_bulk.null_deviance == pytest.approx(m_dist.null_deviance,
                                                 rel=1e-12)
    assert m_bulk.n_path == m_dist.n_path
    np.testing.assert_allclose(
        np.asarray(m_bulk.betas), np.asarray(m_dist.betas), atol=1e-7
    )


def test_out_of_range_col_id_raises_on_both_routes(spark, design):
    _, ydf, _ = design
    bad = spark.createDataFrame(
        [(0, 1, 1.0), (1, P, 2.0), (2, 2, 1.5)],
        "row_id long, col_id int, value double",
    )
    msgs = []
    for limit in (None, 0):
        with pytest.raises(ValueError, match="outside") as exc:
            fit_sparse(bad, ydf, "y", "gaussian", n_cols=P, gram_limit=8,
                       incore_limit=limit)
        msgs.append(str(exc.value))
    assert msgs[0] == msgs[1] == f"triplet col_id {P} outside [0, n_cols={P})"


def test_fit_sparse_has_no_intercept_switch():
    # fit_sparse always fits an intercept; an intercept=False request
    # fails at the call instead of being ignored
    with pytest.raises(TypeError, match="intercept"):
        fit_sparse(None, None, "y", "gaussian", n_cols=P, intercept=False)


def test_sparse_gram_pair_expansion_matches_dense_gram():
    # SparseLocalDesign.gram() from the cached pair expansion equals the
    # dense GramData.from_xy product to float rounding (NumPy only)
    from prague_spark.core.families import setup_family
    from prague_spark.design import LocalDesign, SparseLocalDesign

    rng = np.random.default_rng(29)
    n, p = 300, 40
    X = np.where(rng.random((n, p)) < 0.1, rng.normal(size=(n, p)), 0.0)
    icol = 1.0 / np.sqrt(n)
    Xf = np.hstack([np.full((n, 1), icol), X])
    y = X[:, 0] * 2.0 + rng.normal(scale=0.5, size=n)
    fam = setup_family("gaussian")
    rows, cols = np.nonzero(X)
    sld = SparseLocalDesign(rows, cols + 1, X[rows, cols], n, p + 1, y,
                            fam, icol=icol)
    gd_s = sld.gram()
    gd_d = LocalDesign(Xf, y, fam).gram()
    np.testing.assert_allclose(gd_s.gram, gd_d.gram, atol=1e-10)
    np.testing.assert_allclose(gd_s.xty, gd_d.xty, atol=1e-10)
    assert abs(gd_s.yty - gd_d.yty) < 1e-8
    assert gd_s.n == gd_d.n
