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


def _class_labels(n_classes, seed, n=N):
    # labels that sort differently as text and as numbers ("10" < "9"),
    # each class well populated
    names = ["9", "10", "100"][:n_classes]
    rng = np.random.default_rng(seed)
    return [names[i] for i in rng.permutation(np.arange(n) % n_classes)]


def _label_frame(spark, labels):
    return spark.createDataFrame(
        list(enumerate(labels)), "row_id long, y string"
    ).cache()


@pytest.fixture(scope="module")
def wide_design(spark):
    # wide enough that the triplets priced by the bulk route outweigh
    # what the per-column route fetches for its small active sets: one
    # byte under the bulk price, that route still solves every subset
    # in-core with the same solver, so the two agree to rounding
    n, p, k = 1000, 300, 10
    rng = np.random.default_rng(17)
    rows = np.repeat(np.arange(n), k)
    cols = np.concatenate([rng.choice(p, k, replace=False) for _ in range(n)])
    vals = rng.normal(size=rows.size)
    X = np.zeros((n, p))
    np.add.at(X, (rows, cols), vals)
    trip = spark.createDataFrame(
        [(int(r), int(c), float(v)) for r, c, v in zip(rows, cols, vals)],
        "row_id long, col_id int, value double",
    ).cache()
    score = X[:, 0] - X[:, 1] + rng.normal(scale=0.3, size=n)
    cls = {
        2: np.where(score > 0, "10", "9"),
        3: np.where(score > 0.5, "10", np.where(score < -0.5, "9", "100")),
    }
    return trip, n, p, rows.size, cls


@pytest.mark.parametrize("family, n_classes", [("binomial", 2),
                                               ("multinomial", 3)])
def test_bulk_encoding_matches_spark_encoding(spark, wide_design, family,
                                              n_classes):
    # driver-side response encoding on the bulk route against Spark's
    # preprocess_response on the per-column route, forced by a budget one
    # byte under the bulk price (for the multinomial that is its price at
    # m = 2 targets: the bulk route encodes, finds the one-hot payload
    # over budget and releases it)
    trip, n, p, nnz, cls = wide_design
    ydf = _label_frame(spark, list(cls[n_classes]))
    kw = dict(n_cols=p, n_sigma=4, lambda_min_ratio=0.6)
    m_bulk = fit_sparse(trip, ydf, "y", family, **kw)
    m_cols = fit_sparse(
        trip, ydf, "y", family,
        incore_limit=_bulk_incore_bytes(n, n_classes - 1, nnz) - 1, **kw,
    )
    assert m_bulk.diagnostics["sparse_scans"] == 3
    assert m_cols.diagnostics["sparse_scans"] > 3
    routes = m_cols.diagnostics["subset_fit_routes"]
    assert routes == m_bulk.diagnostics["subset_fit_routes"], routes
    assert routes["distributed"] == 0
    np.testing.assert_array_equal(m_bulk.passes, m_cols.passes)
    assert m_bulk.class_names == m_cols.class_names == sorted(
        ["9", "10", "100"][:n_classes])
    np.testing.assert_allclose(m_bulk.sigma, m_cols.sigma, rtol=1e-12)
    assert m_bulk.null_deviance == pytest.approx(m_cols.null_deviance,
                                                 rel=1e-12)
    assert m_bulk.n_path == m_cols.n_path
    np.testing.assert_allclose(
        np.asarray(m_bulk.betas), np.asarray(m_cols.betas), atol=1e-7
    )


@pytest.mark.parametrize("family, n_classes, match", [
    ("binomial", 1, "only one class"),
    ("multinomial", 2, "only two classes"),
])
def test_bad_class_count_raises_same_error_on_both_routes(
        spark, design, family, n_classes, match):
    trip, _, _ = design
    ydf = _label_frame(spark, _class_labels(n_classes, seed=12))
    msgs = []
    for limit in (None, 0):
        with pytest.raises(ValueError, match=match) as exc:
            fit_sparse(trip, ydf, "y", family, n_cols=P, incore_limit=limit)
        msgs.append(str(exc.value))
    assert msgs[0] == msgs[1]


@pytest.mark.parametrize("family", ["gaussian", "binomial"])
def test_null_label_raises_on_both_routes(spark, design, family):
    # one null y used to give NaN betas in budget and a silently
    # mishandled row over it; both routes now fail on it alike
    trip, _, _ = design
    labels = (
        [float(i % 5) for i in range(N)] if family == "gaussian"
        else _class_labels(2, seed=13)
    )
    labels[17] = None
    ydf = spark.createDataFrame(
        list(enumerate(labels)),
        f"row_id long, y {'double' if family == 'gaussian' else 'string'}",
    )
    msgs = []
    for limit in (None, 0):
        with pytest.raises(ValueError, match="null") as exc:
            fit_sparse(trip, ydf, "y", family, n_cols=P, gram_limit=8,
                       incore_limit=limit)
        msgs.append(str(exc.value))
    assert msgs[0] == msgs[1] == "response column 'y' has 1 null value(s)"


def test_bulk_route_runs_four_jobs(design, count_jobs):
    # the pricing count (2 jobs: its aggregation's shuffle and result),
    # the raw-y fetch and the triplet fetch; no response, cache or setup
    # job, and none along the path
    trip, ydf, _ = design
    trip.count(), ydf.count()
    model, jobs = count_jobs(lambda: fit_sparse(
        trip, ydf, "y", "gaussian", n_cols=P, n_sigma=4,
        lambda_min_ratio=0.3, gram_limit=8,
    ))
    assert model.diagnostics["sparse_scans"] == 3
    assert jobs == 4


@pytest.mark.parametrize("family", ["binomial", "multinomial"])
def test_sparse_hessian_matches_dense_hessian(family):
    # the NumPy half of the slow
    # test_sparse_invariance.py::test_sparse_hessian_prox_newton_matches_dense_incore:
    # SparseLocalDesign.eval_hessian (pair-expansion scatter + analytic
    # intercept) equals LocalDesign's dense (X*w)'X bundle
    from prague_spark.core.families import setup_family
    from prague_spark.design import LocalDesign, SparseLocalDesign

    rng = np.random.default_rng(23)
    n, p = 300, 40
    X = np.where(rng.random((n, p)) < 0.1, rng.normal(size=(n, p)), 0.0)
    icol = 1.0 / np.sqrt(n)
    Xf = np.hstack([np.full((n, 1), icol), X])
    if family == "binomial":
        Y = (X[:, 0] + rng.normal(scale=0.5, size=n) > 0).astype(float)
        m = 1
    else:
        s0 = 2.0 * X[:, 0] + rng.normal(scale=0.5, size=n)
        s1 = -2.0 * X[:, 1] + rng.normal(scale=0.5, size=n)
        cls = np.where(s0 > np.maximum(s1, 0), 0, np.where(s1 > 0, 1, 2))
        m = 2
        Y = np.stack([(cls == t).astype(float) for t in range(m)], axis=1)
    fam = setup_family(family)
    rows, cols = np.nonzero(X)
    sld = SparseLocalDesign(rows, cols + 1, X[rows, cols], n, p + 1, Y,
                            fam, icol=icol)
    ld = LocalDesign(Xf, Y, fam)
    beta = np.zeros((p + 1, m))
    beta[1] = 0.3
    g_s, G_s, grad_s, H_s = sld.eval_hessian(beta)
    g_d, G_d, grad_d, H_d = ld.eval_hessian(beta)
    assert abs(g_s - g_d) < 1e-10 and abs(G_s - G_d) < 1e-10
    np.testing.assert_allclose(grad_s, grad_d, atol=1e-10)
    np.testing.assert_allclose(H_s, H_d, atol=1e-10)
