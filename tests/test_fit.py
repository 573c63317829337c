"""End-to-end fit tests on the driver testdata (Spark required).

Oracle strategy mirrors the reference's test suite (SURVEY.md §5):
- unregularized (tiny sigma) fits must match the closed-form / iterated
  NumPy solution (the glm/lm equivalence pattern);
- the distributed designs must agree with the in-core design (the
  sparse==dense invariance pattern, re-targeted at our two backends);
- screening on == screening off.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

import prague_spark as ps

FEATURES = ["l_quantity", "l_discount", "l_tax"]
LABEL = "l_extendedprice"


@pytest.fixture(scope="module")
def li(lineitem):
    return lineitem.limit(2000).cache()


def _collect_xy(df, features, label):
    pdf = df.select(*features, label).toPandas()
    return pdf[features].to_numpy(float), pdf[label].to_numpy(float)


def test_gaussian_unregularized_matches_ols(li):
    model = ps.fit(
        li, FEATURES, LABEL, "gaussian",
        sigma=[1e-8], screening=False, solver="gram",
        tol_abs=1e-9, tol_rel=1e-8,
    )
    X, y = _collect_xy(li, FEATURES, LABEL)
    Xi = np.column_stack([np.ones(len(X)), X])
    ols = np.linalg.lstsq(Xi, y, rcond=None)[0]
    np.testing.assert_allclose(model.betas[0, :, 0], ols, rtol=1e-4, atol=1e-4)


def test_gaussian_path_monotone_deviance(li):
    model = ps.fit(li, FEATURES, LABEL, "gaussian", n_sigma=20)
    assert model.n_path >= 2
    # deviance must be non-increasing along a decreasing-sigma path
    assert np.all(np.diff(model.deviances) <= 1e-6 * model.null_deviance)
    assert np.all(model.deviance_ratios >= -1e-12)


def test_gaussian_screening_invariance(li):
    # tight solver tolerances so both runs approach the same optimum;
    # diagnostics=True forces the staged path (screening lives there)
    kw = dict(n_sigma=10, solver="gram", tol_abs=1e-9, tol_rel=1e-8,
              diagnostics=True)
    m_on = ps.fit(li, FEATURES, LABEL, "gaussian", screening=True, **kw)
    m_off = ps.fit(li, FEATURES, LABEL, "gaussian", screening=False, **kw)
    k = min(m_on.n_path, m_off.n_path)
    scale = np.max(np.abs(m_off.betas[:k]))
    np.testing.assert_allclose(
        m_on.betas[:k] / scale, m_off.betas[:k] / scale, atol=1e-5
    )


def test_binomial_incore_fit_and_predict(li):
    df = li.withColumn("high", F.when(F.col("l_discount") > 0.05, "hi").otherwise("lo"))
    model = ps.fit(
        df, FEATURES, "high", "binomial",
        n_sigma=5, solver="incore", lambda_min_ratio=1e-1,
    )
    assert model.class_names == ["hi", "lo"]
    pred = ps.predict(df, model, type="class", out="cls")
    vals = {r["cls"] for r in pred.select("cls").distinct().collect()}
    assert vals <= {"hi", "lo"}
    accuracy = 1.0 - ps.score(df, model, "high", "misclass")
    assert accuracy > 0.9  # the planted rule is exactly recoverable


def test_binomial_spark_design_matches_incore(li):
    df = li.limit(500).withColumn(
        "high", F.when(F.col("l_discount") > 0.05, "hi").otherwise("lo")
    ).cache()
    # the distributed design uses the fixed Lipschitz step, the in-core one
    # backtracking — different trajectories, same optimum (within the
    # duality-gap stopping tolerance)
    kw = dict(n_sigma=3, lambda_min_ratio=0.5, max_passes=2000, screening=False)
    m_local = ps.fit(df, FEATURES, "high", "binomial", solver="incore", **kw)
    m_spark = ps.fit(df, FEATURES, "high", "binomial", solver="spark", **kw)
    # agreement tolerance ~ the duality-gap-induced wiggle around the
    # shared optimum (the KKT oracles allow 5e-2/5e-3)
    np.testing.assert_allclose(
        m_local.betas, m_spark.betas, rtol=1e-3, atol=5e-4
    )


def test_poisson_fit(li):
    df = li.withColumn("cnt", F.round(F.col("l_quantity")).cast("double"))
    model = ps.fit(
        df, ["l_discount", "l_tax"], "cnt", "poisson",
        n_sigma=3, lambda_min_ratio=0.1, solver="incore",
    )
    mse = ps.score(df, model, "cnt", "mse", path_idx=model.n_path - 1)
    assert np.isfinite(mse)


def test_multinomial_fit_and_class_predict(li):
    model = ps.fit(
        li, ["l_quantity", "l_extendedprice"], "l_returnflag", "multinomial",
        n_sigma=4, lambda_min_ratio=0.1, solver="incore", max_passes=500,
    )
    assert model.n_targets == 2 and len(model.class_names) == 3
    pred = ps.predict(li, model, type="response", out="probs")
    row = pred.select(
        F.aggregate("probs", F.lit(0.0), lambda a, b: a + b).alias("s")
    ).agg(F.min("s"), F.max("s")).first()
    assert abs(row[0] - 1.0) < 1e-9 and abs(row[1] - 1.0) < 1e-9
    dev = ps.score(li, model, "l_returnflag", "deviance")
    assert np.isfinite(dev)


def test_auc_distributed_matches_numpy(li):
    df = li.withColumn("pos", F.when(F.col("l_discount") > 0.05, 1.0).otherwise(0.0))
    df = df.withColumn("prob_fake", F.col("l_quantity") / 60.0)
    from prague_spark.ops.score import _auc_numpy

    a_spark = ps.auc(df, "prob_fake", F.col("pos"))
    pdf = df.select("prob_fake", "pos").toPandas()
    a_np = _auc_numpy(pdf["pos"].to_numpy(float), pdf["prob_fake"].to_numpy(float))
    assert abs(a_spark - a_np) < 1e-10


def test_cv_gaussian(li):
    res = ps.cv_fit(
        li.limit(800), FEATURES, LABEL, "gaussian",
        n_folds=3, measures=["mse", "mae"], n_sigma=5,
        lambda_min_ratio=0.01, solver="incore",
    )
    assert res.optima and len(res.measures) == 2
    assert all(np.isfinite(r["mean"]) for r in res.summary)
    opt = {r["measure"]: r for r in res.optima}
    assert set(opt) == {"mse", "mae"}


def test_coef_df_and_path_summary(li, spark):
    model = ps.fit(li, FEATURES, LABEL, "gaussian", n_sigma=8)
    cdf = model.coef_df(spark)
    assert cdf.count() == model.n_path * (len(FEATURES) + 1)
    summ = model.path_summary()
    assert summ[0]["n_nonzero"] <= len(FEATURES)


def test_model_save_load_roundtrip(li, spark, tmp_path):
    import numpy as np

    import prague_spark as ps
    from prague_spark.model import SlopeModel

    m = ps.fit(li, ["l_quantity", "l_discount"], "l_extendedprice",
               "gaussian", n_sigma=4)
    path = str(tmp_path / "model")
    m.save(spark, path)
    m2 = SlopeModel.load(spark, path)
    np.testing.assert_allclose(m2.betas, m.betas)
    np.testing.assert_allclose(m2.sigma, m.sigma)
    p1 = ps.predict(li, m, type="response", out="y1").select("y1").toPandas()
    p2 = ps.predict(li, m2, type="response", out="y1").select("y1").toPandas()
    np.testing.assert_allclose(p1["y1"].to_numpy(), p2["y1"].to_numpy())


def test_cv_gram_matches_refit(li, spark):
    from prague_spark.ops.cv import cv_fit

    kw = dict(
        n_folds=3, measures=["mse"], n_sigma=4, lambda_min_ratio=0.01,
        fold_col="l_orderkey",
    )
    sub = li.limit(3000)
    r1 = cv_fit(sub, ["l_quantity", "l_discount"], "l_extendedprice",
                "gaussian", method="refit", **kw)
    r2 = cv_fit(sub, ["l_quantity", "l_discount"], "l_extendedprice",
                "gaussian", method="gram", **kw)
    m1 = {(r["sigma_idx"]): r["mean"] for r in r1.summary}
    m2 = {(r["sigma_idx"]): r["mean"] for r in r2.summary}
    assert set(m1) == set(m2)
    for k in m1:
        assert abs(m1[k] - m2[k]) / max(abs(m1[k]), 1e-12) < 1e-3, (k, m1[k], m2[k])
    assert r1.optima[0]["sigma_idx"] == r2.optima[0]["sigma_idx"]


def test_weighted_auc_matches_numpy(li, spark):
    import numpy as np
    from pyspark.sql import functions as F

    from prague_spark.ops.score import auc

    df = li.limit(3000).select(
        F.round(F.col("l_discount"), 3).alias("p"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y2"),
        (F.col("l_quantity") / 10.0).alias("w"),
    ).cache()
    got = auc(df, "p", F.col("y2"), weight_col="w")
    pdf = df.toPandas()
    p, y2, w = pdf["p"].to_numpy(), pdf["y2"].to_numpy(), pdf["w"].to_numpy()
    # weighted Mann-Whitney with average-rank ties, brute force
    u = 0.0
    for val in np.unique(p):
        m = p == val
        below = w[(p < val) & (y2 == 0)].sum()
        tie0 = w[m & (y2 == 0)].sum()
        u += w[m & (y2 == 1)].sum() * (below + tie0 / 2.0)
    want = u / (w[y2 == 1].sum() * w[y2 == 0].sum())
    assert got == pytest.approx(want, rel=1e-10)


def test_gaussian_spark_design_matches_gram(li):
    import numpy as np

    import prague_spark as ps

    sub = li.limit(2000)
    kw = dict(n_sigma=4, lambda_min_ratio=0.05)
    m_gram = ps.fit(sub, ["l_quantity", "l_discount"], "l_extendedprice",
                    "gaussian", solver="gram", **kw)
    m_spark = ps.fit(sub, ["l_quantity", "l_discount"], "l_extendedprice",
                     "gaussian", solver="spark", **kw)
    n = min(m_gram.n_path, m_spark.n_path)
    assert n >= 1
    np.testing.assert_allclose(
        m_spark.betas[:n], m_gram.betas[:n], rtol=5e-3, atol=2e-4
    )


def test_poisson_multinomial_spark_design(li):
    import prague_spark as ps

    sub = li.limit(1500)
    mp = ps.fit(
        sub.withColumn("cnt", F.round("l_quantity").cast("double")),
        ["l_discount", "l_tax"], "cnt", "poisson",
        n_sigma=2, lambda_min_ratio=0.3, solver="spark",
    )
    assert mp.n_path >= 1
    mm = ps.fit(
        sub, ["l_quantity", "l_extendedprice"], "l_returnflag", "multinomial",
        n_sigma=2, lambda_min_ratio=0.3, solver="spark", max_passes=300,
    )
    assert mm.n_path >= 1 and mm.betas.shape[2] == 2


def test_gaussian_one_pass_matches_staged(li):
    """The one-pass moment-based gaussian fit must match the staged
    (response prep -> standardize -> Gram) path to solver tolerance."""
    import numpy as np

    import prague_spark as ps

    kw = dict(n_sigma=5, lambda_min_ratio=0.05)
    m_fast = ps.fit(li, FEATURES, LABEL, "gaussian", **kw)
    m_staged = ps.fit(li, FEATURES, LABEL, "gaussian", diagnostics=True, **kw)
    assert m_fast.n_path == m_staged.n_path
    np.testing.assert_allclose(m_fast.sigma, m_staged.sigma, rtol=1e-9)
    scale = np.max(np.abs(m_staged.betas))
    np.testing.assert_allclose(
        m_fast.betas / scale, m_staged.betas / scale, atol=2e-4
    )
    np.testing.assert_allclose(
        m_fast.deviance_ratios, m_staged.deviance_ratios, atol=1e-5
    )
    assert m_fast.null_deviance == pytest.approx(m_staged.null_deviance, rel=1e-9)


def test_predict_path_matches_per_slice(li):
    model = ps.fit(li, FEATURES, LABEL, "gaussian", n_sigma=6)
    from prague_spark.ops.predict import predict_path

    full = predict_path(li, model, type="link", out="pp")
    for i in (0, model.n_path - 1):
        both = ps.predict(full, model, path_idx=i, type="link", out="p1")
        diff = both.select(
            F.max(F.abs(F.col("pp")[i] - F.col("p1"))).alias("d")
        ).first()["d"]
        assert diff < 1e-9


def test_cv_distributed_scoring_matches_incore(li):
    # incore_limit=0 forces the no-collect scoring path: one agg scan per
    # fold covers every sigma x measure; auc goes through the grouped
    # rank machinery per slice
    df = li.limit(1200).withColumn(
        "flag", F.when(F.col("l_returnflag") == "R", "ret").otherwise("ok")
    ).cache()
    kw = dict(n_folds=3, measures=["deviance", "auc"], n_sigma=3,
              lambda_min_ratio=0.3, fold_col="l_orderkey")
    r_in = ps.cv_fit(df, ["l_quantity", "l_discount"], "flag", "binomial", **kw)
    r_dist = ps.cv_fit(
        df, ["l_quantity", "l_discount"], "flag", "binomial",
        incore_limit=0, **kw
    )
    assert len(r_in.summary) == len(r_dist.summary)
    for a, b in zip(r_in.summary, r_dist.summary):
        assert a["measure"] == b["measure"] and a["sigma_idx"] == b["sigma_idx"]
        assert abs(a["mean"] - b["mean"]) < 1e-9


def test_coef_interpolation_and_exact_refit(li):
    # mirrors reference tests/testthat/test-coef.R:1-47
    df = li.limit(1500).cache()
    m = ps.fit(df, ["l_quantity", "l_discount"], "l_extendedprice",
               "gaussian", n_sigma=6)
    assert m.n_path >= 3
    # grid hits return exact slices
    picked = m.coef(sigma=[float(m.sigma[1]), float(m.sigma[2])])
    np.testing.assert_array_equal(picked, m.betas[[1, 2]])
    # off-grid: interpolated lies between neighbours elementwise-ish
    mid = float(np.sqrt(m.sigma[1] * m.sigma[2]))
    interp = m.coef(sigma=mid)
    assert interp.shape == (1,) + m.betas.shape[1:]
    # exact=True refits at the requested sigma and must closely match a
    # direct fit at that sigma
    exact = m.coef(sigma=mid, exact=True)
    direct = ps.fit(df, ["l_quantity", "l_discount"], "l_extendedprice",
                    "gaussian", sigma=[mid])
    np.testing.assert_allclose(exact, direct.betas, rtol=1e-6, atol=1e-8)
    # exact beats interpolation as an approximation of the true refit
    err_exact = np.abs(exact - direct.betas).max()
    err_interp = np.abs(interp - direct.betas).max()
    assert err_exact <= err_interp + 1e-12
    # restored models refuse exact (no data attached)
    m.refit = None
    import pytest as _pytest
    with _pytest.raises(ValueError, match="exact"):
        m.coef(sigma=mid, exact=True)


@pytest.mark.slow  # full wide-p fit, minute-class
def test_wide_p_hessian_guard_falls_back_to_fista(spark, monkeypatch):
    # Wide designs must NOT ship the (p_act*m)^2 prox-Newton Hessian
    # payload: past ~10^6 cells the fit falls back to FISTA with the
    # trace-bound fixed step. prox_newton is poisoned to prove the
    # fallback is the path actually taken.
    import sys

    from prague_spark.ops.synth import random_problem

    # prague_spark.fit (the module) is shadowed by the fit() function on
    # the package namespace — fetch the module object directly
    fit_mod = sys.modules["prague_spark.fit"]

    def _boom(*a, **kw):
        raise AssertionError("prox_newton must not run past the Hessian guard")

    monkeypatch.setattr(fit_mod, "prox_newton", _boom)
    df, _ = random_problem(
        spark, n=300, p=1050, family="binomial", density=0.3, seed=3
    )
    feats = [f"x{j}" for j in range(1, 1051)]
    m = fit_mod.fit(
        df, feats, "y", "binomial", solver="spark", screening=False,
        sigma=[5.0], max_passes=300,
    )
    assert np.all(np.isfinite(m.betas))


@pytest.mark.slow  # full wide-p fit, minute-class
def test_wide_p_gaussian_avoids_gram(spark):
    # gaussian past the Gram p-limit must not ship p^2 partials: it routes
    # to the distributed design and (past the Hessian cell guard) the
    # trace-bound FISTA step, like the iterative families
    import sys

    from prague_spark.ops.synth import random_problem

    fit_mod = sys.modules["prague_spark.fit"]
    df, _ = random_problem(
        spark, n=300, p=1050, family="gaussian", density=0.3, seed=5
    )
    feats = [f"x{j}" for j in range(1, 1051)]
    m = fit_mod.fit(
        df, feats, "y", "gaussian", solver="spark", screening=False,
        sigma=[5.0], max_passes=300,
    )
    assert np.all(np.isfinite(m.betas))


def test_user_sigma_disables_default_max_variables(spark):
    """Reference parity (R/owl.R:390): with a user-supplied sigma grid the
    default max_variables rule is disabled — a tiny-n / wider-p problem
    whose unique-|coef| count exceeds n*m must still complete the full
    user grid (it previously truncated); an EXPLICIT max_variables is
    honored either way."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    n, p = 2, 10
    X = rng.normal(size=(n, p))
    y = X[:, 0] * 3.0 + rng.normal(size=n) * 0.1
    df = spark.createDataFrame(
        [tuple(float(v) for v in row) + (float(yy),) for row, yy in zip(X, y)],
        ", ".join([f"x{j} double" for j in range(p)] + ["y double"]),
    )
    feats = [f"x{j}" for j in range(p)]
    base = ps.fit(df, feats, "y", "gaussian", n_sigma=12,
                  lambda_min_ratio=1e-3, solver="spark", screening=False,
                  center=False, scale="l2")
    deep = [float(s) for s in base.sigma] + [float(base.sigma[-1]) / 10.0]
    m_user = ps.fit(df, feats, "y", "gaussian", sigma=deep,
                    solver="spark", screening=False, center=False, scale="l2")
    # a user-supplied grid is never truncated by a DEFAULT cap
    # (R/owl.R:390 disables the rule when sigma is user-supplied)
    assert m_user.n_path == len(deep)
    # n_unique counts the full beta incl. the intercept (src/owl.cpp:338):
    # the deep interpolating points carry the intercept plus >=1 coef
    assert int(m_user.n_unique[-1]) >= 2
    # an EXPLICIT cap is still honored with a user grid (the documented
    # wide-p scale-guard delta)
    m_cap = ps.fit(df, feats, "y", "gaussian", sigma=deep,
                   solver="spark", screening=False, center=False,
                   scale="l2", max_variables=1)
    assert m_cap.n_path < len(deep)


def test_score_path_auc_batched_matches_per_slice(li):
    """The batched all-slices AUC job must agree exactly with the
    single-slice rank AUC (and the NumPy average-rank reference) for
    every path point."""
    from prague_spark.ops.score import _auc_numpy, auc, score_path_spark
    from prague_spark.ops.predict import linear_predictor_expr

    df = li.limit(1500).withColumn(
        "flag", F.when(F.col("l_discount") > 0.05, "hi").otherwise("lo")
    ).cache()
    m = ps.fit(df, FEATURES, "flag", "binomial", n_sigma=4,
               lambda_min_ratio=0.1, solver="incore")
    batched = score_path_spark(df, m, "flag", ["auc", "mse"])
    assert len(batched["auc"]) == m.n_path
    c2 = m.class_names[1]
    y2 = F.when(F.col("flag").cast("string") == F.lit(c2), 1.0).otherwise(0.0)
    pdf = df.toPandas()
    for i in range(m.n_path):
        lp = linear_predictor_expr(m, i)
        ph = F.lit(1.0) / (F.lit(1.0) + F.exp(-lp))
        single = auc(df.select(ph.alias("_p"), y2.alias("_y2")), "_p", F.col("_y2"))
        assert abs(batched["auc"][i] - single) < 1e-12, i
    # numpy cross-check on the last slice
    import numpy as np
    prob = 1.0 / (1.0 + np.exp(-(
        m.betas[-1][0, 0]
        + pdf[FEATURES].to_numpy(float) @ m.betas[-1][1:, 0]
    )))
    y2np = (pdf["flag"] == c2).to_numpy().astype(float)
    assert abs(batched["auc"][-1] - _auc_numpy(y2np, prob)) < 1e-10


def test_multinomial_predict_plan_stays_linear_in_classes(spark, lineitem):
    """The staged softmax's scale contract: a MANY-class multinomial
    predict stays a zero-shuffle all-JVM projection whose plan carries
    each linear predictor ONCE (staged temp columns) — the inlined form
    re-carried every p-wide dot ~(m+1)^2 times, which at m=40 is the
    difference between ~40 and ~1700 wide subtrees of driver
    analysis/codegen."""
    import numpy as np

    from prague_spark.model import SlopeModel
    from prague_spark.plan_audit import assert_scale_shape

    feats = ["l_quantity", "l_discount", "l_tax"]
    rng = np.random.default_rng(3)

    def make_model(m):
        betas = rng.normal(size=(1, len(feats) + 1, m))
        return SlopeModel(
            family="multinomial", feature_names=feats, intercept=True,
            betas=betas, sigma=np.array([1.0]), lam=np.array([0.1]),
            null_deviance=1.0, deviances=np.array([1.0]),
            deviance_ratios=np.array([0.0]), passes=np.array([1]),
            active_sets=[], n_unique=np.array([m]),
            class_names=[f"c{i}" for i in range(m + 1)], n_targets=m,
        )

    m = 40
    model = make_model(m)
    df = lineitem.limit(200)
    for t in ("response", "class"):
        out = ps.predict(df, model, type=t, out="p")
        assert_scale_shape(out, max_shuffles=0, max_py_stages=0)
        assert out.count() == 200
    # plan-SIZE linearity (the round-13 contract shared with the path-
    # and grouped-scoring pins below/in test_grouped): m=40 vs m=10 is
    # ~4x for the staged form, ~16x for the inlined (m+1)^2 one
    wide = ps.predict(df, model, type="response", out="p")
    narrow = ps.predict(df, make_model(10), type="response", out="p")
    w = len(wide._jdf.queryExecution().optimizedPlan().toString())
    n = len(narrow._jdf.queryExecution().optimizedPlan().toString())
    assert w / n < 8.0, (w, n)
    # sanity on the staged arithmetic at this width
    row = ps.predict(df, model, type="response", out="p").select("p").first()
    assert abs(sum(row["p"]) - 1.0) < 1e-9 and len(row["p"]) == m + 1


def test_multinomial_path_score_plan_stays_linear_in_classes(spark, lineitem):
    """The staged softmax's scale contract for PATH SCORING (the twin of
    the predict pin above, round-13 verdict ask): score_path_from_lp's
    aggregation frame at m=40 stays a single-shuffle all-JVM plan, and
    its optimized-plan SIZE grows linearly in m — the inlined form's
    ~(m+1)^2 duplication would show up as a ~16x size jump from m=10 to
    m=40 where the staged form stays ~4x."""
    import numpy as np

    from prague_spark.model import SlopeModel
    from prague_spark.ops.predict import linear_predictor_expr
    from prague_spark.ops.score import score_path_agg_frame
    from prague_spark.plan_audit import assert_scale_shape

    feats = ["l_quantity", "l_discount", "l_tax"]
    df = lineitem.limit(200)
    rng = np.random.default_rng(7)

    def agg_frame(m):
        betas = rng.normal(size=(2, len(feats) + 1, m))
        model = SlopeModel(
            family="multinomial", feature_names=feats, intercept=True,
            betas=betas, sigma=np.array([1.0, 0.5]),
            lam=np.array([0.2, 0.1]), null_deviance=1.0,
            deviances=np.array([1.0, 1.0]),
            deviance_ratios=np.array([0.0, 0.0]), passes=np.array([1, 1]),
            active_sets=[], n_unique=np.array([m, m]),
            class_names=[f"c{i}" for i in range(m + 1)], n_targets=m,
        )

        def lp_fn(i, t=0):
            return linear_predictor_expr(model, i, target=t)

        return score_path_agg_frame(
            df, lp_fn, "l_returnflag", ["mse", "mae", "deviance"],
            "multinomial", model.class_names, model.n_path, m,
        )

    wide = agg_frame(40)
    assert_scale_shape(wide, max_shuffles=1, max_py_stages=0)
    narrow = agg_frame(10)
    w = len(wide._jdf.queryExecution().optimizedPlan().toString())
    n = len(narrow._jdf.queryExecution().optimizedPlan().toString())
    assert w / n < 8.0, (w, n)
    # the frame analyzes AND executes at this width; every cell finite
    row = wide.first()
    vals = [row[f"_{meas}_{i}"] for meas in ("mse", "mae", "deviance")
            for i in range(2)]
    assert all(np.isfinite(v) for v in vals), vals


def test_readme_glm_quickstart(spark, lineitem):
    """The README's GLM quickstart, run verbatim (paths substituted) —
    the documented first-user recipe can never drift from the working
    one (the streaming-sink quickstart convention,
    test_curate.test_readme_streaming_sink_quickstart)."""
    import numpy as np

    li = lineitem
    # --- the README snippet ---
    model = ps.fit(
        li, ["l_quantity", "l_discount", "l_tax"], "l_extendedprice",
        "gaussian", n_sigma=20,
    )
    head = model.path_summary()[:3]
    scored = ps.predict(li, model, type="response", out="yhat")
    mse = ps.score(li, model, "l_extendedprice", "mse")
    cv = ps.cv_fit(li, ["l_quantity", "l_discount"], "l_extendedprice",
                   "gaussian", n_folds=3, n_sigma=10)
    opt = cv.optima[0]
    # --- end snippet ---
    assert len(head) == 3
    assert {"path_idx", "sigma", "deviance_ratio", "n_nonzero"} <= set(head[0])
    assert scored.filter(F.col("yhat").isNull()).count() == 0
    assert np.isfinite(mse) and mse > 0
    assert np.isfinite(opt["mean"]) and np.isfinite(opt["sigma"])

    # the README's "binomial is the same shape" claim
    lif = li.withColumn(
        "flag", F.when(F.col("l_returnflag") == "R", "ret").otherwise("ok")
    )
    mb = ps.fit(lif, ["l_quantity", "l_discount"], "flag", "binomial",
                n_sigma=4)
    cls = ps.predict(lif, mb, type="class", out="pred")
    assert set(
        r["pred"] for r in cls.select("pred").distinct().collect()
    ) <= {"ret", "ok"}
    auc = ps.score(lif, mb, "flag", "auc")
    assert 0.0 <= auc <= 1.0


def test_fit_rejects_unknown_solver():
    # checked before any data is read
    with pytest.raises(ValueError, match=r"auto \| gram \| incore \| spark"):
        ps.fit(None, ["x"], "y", "gaussian", solver="spark_fista")
    with pytest.raises(ValueError, match="gaussian family only"):
        ps.fit(None, ["x"], "y", "binomial", solver="gram")
