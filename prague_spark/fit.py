"""SLOPE path fitting: Spark data plane + driver control plane.

This is the Spark-first re-expression of the reference's fit lifecycle
(``src/owl.cpp:40-395`` in jolars/prague):

1. response preprocessing + standardization: DataFrame aggregations and
   projections (no shuffle of data rows);
2. penalty machinery: one distributed cross-product ``X^T y~`` feeds the
   driver-side lambda/sigma grids;
3. route choice (``solver``: auto | gram | incore | spark) and the
   design every data-sized evaluation goes through (see
   ``prague_spark.design``):
   - gaussian: Gram sufficient statistics from ONE distributed pass, then
     the whole path (ADMM + screening + KKT) is driver-side — no further
     passes. This is the 100 TB architecture for least squares.
   - other families: an in-core design when the standardized design is
     small enough to collect (the reference's own regime), else the
     distributed design: prox-Newton, one fused scan per outer
     iteration, with trace-bound FISTA past the Hessian payload guard;
4. the path loop itself is ``core.path.run_path``, shared with
   ``ops.sparse.fit_sparse`` and ``core.gram_path``: strong-rule
   screening + KKT repair prune the *columns* the distributed
   aggregation touches — the Spark analogue of the reference's subset
   fits. This module supplies its ``solve`` and ``full_gradient``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from .core.families import setup_family
from .core.lambdas import lambda_sequence
from .core.path import run_path
from .core.solver import fista, gaussian_step, lipschitz_step, prox_newton
from .design import GramData, GramGaussianDesign, LocalDesign, SparkGlmDesign
from .design.linalg import glm_setup_pass, gram_xty_pass
from .model import SlopeModel
from .ops.features import assemble_features
from .ops.response import (
    Y_COL, preprocess_response, preprocess_response_local, raw_label,
)
from .ops.standardize import StandardizerModel, fit_standardizer

X_COL = "_x_features"

# collect-to-driver threshold for the in-core fast path (bytes of the dense
# standardized design). Above this the iterative families run distributed.
DEFAULT_INCORE_LIMIT = 512 * 1024 * 1024

# p guard on the Gram routes: X'X partials are p^2 doubles per partition —
# past this many TOTAL columns (intercept included) the quadratic payload
# and the driver-side eigh dominate, and the distributed iterative design
# with the trace-bound FISTA step is the right plan instead.
GRAM_P_LIMIT = 4096

# Hessian payload guard: prox-Newton ships 2 + p_act*m + (p_act*m)^2
# doubles per partition partial; past ~10^6 cells (p_act*m ~ 1000) the
# quadratic payload — not the scan count — becomes the cluster cost.
# Those fits fall back to FISTA with the trace-bound fixed step
# (eigmax <= trace = sum of standardized column sumsq, free from the
# setup moments), which ships only O(p_act*m) per partial. Shared by
# ``fit`` and ``ops.sparse.fit_sparse``.
HESS_CELL_GUARD = 10**6

SOLVERS = ("auto", "gram", "incore", "spark")


def _collect_xy(sdf: DataFrame, p: int, m: int):
    """Collect the (n, p) design to the driver as flat float64 buffers via
    Arrow (list-offset reshape — no per-row Python objects)."""
    from .design.linalg import _list_col_to_2d

    tbl = sdf.select(X_COL, Y_COL).toArrow()
    X = np.ascontiguousarray(_list_col_to_2d(tbl.column(X_COL), p), dtype=np.float64)
    if m > 1:
        Y = np.ascontiguousarray(_list_col_to_2d(tbl.column(Y_COL), m), dtype=np.float64)
    else:
        Y = tbl.column(Y_COL).to_numpy(zero_copy_only=False).astype(np.float64)[:, np.newaxis]
    return X, Y


def _collect_raw_xy(df, features, label: str, family: str):
    """Collect the RAW (pre-standardization) feature columns plus the raw
    label to the driver via one Arrow transfer. Plain double columns (no
    array assembly projection) — the cheapest possible scan. The label
    comes back as the Arrow column of ``raw_label`` (strings for the
    classification families), so class discovery + encoding can run
    driver-side too."""
    tbl = df.select(
        *[F.col(c).cast("double").alias(c) for c in features],
        raw_label(label, family).alias("_lbl"),
    ).toArrow()
    X = np.column_stack(
        [
            tbl.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
            for c in features
        ]
    )
    return np.ascontiguousarray(X), tbl.column("_lbl")


def _local_raw_setup(X: np.ndarray, Y: np.ndarray, fam) -> dict:
    """Driver-side NumPy stand-in for ``glm_setup_pass`` over already
    collected raw arrays (same dict keys). Only the standardizer inputs
    (column sums / sums of squares / n) are materialized: the in-core
    route always builds a LocalDesign, so the cross-moment consumers of
    the Spark-produced dict (``_std_setup_from_raw``, the Gram branch)
    are unreachable here — computing X'Y and the null primal would be a
    wasted full design evaluation per fit."""
    return dict(
        xtx=None,
        xty=None,
        sums_x=X.sum(axis=0),
        sumsq_x=(X * X).sum(axis=0),
        sums_y=None,
        sumsq_y=None,
        primal0=None,
        n=int(X.shape[0]),
    )


def _lambda_max_from_stats(family, xty, sums_x, sums_y, n, intercept):
    """|X^T y~| (``src/lambdaMax.h:8-60``) from cross-moment statistics,
    intercept row shed. All family transforms of y are affine, so
    ``X^T v`` folds into X^T Y plus column-sum corrections — one fused
    scan (or the in-core arrays) supplies everything:

    - gaussian:    v = y (already centered/scaled by response prep)
    - binomial:    v = (y+1)/2 - mean01        (y in {-1,+1})
    - poisson:     v = 1 - y
    - multinomial: v = (Y - mean)/std, scaled back by std => X'Y - colsums x mean
    """
    xty = np.asarray(xty, dtype=np.float64)
    if xty.ndim == 1:
        xty = xty[:, np.newaxis]
    p_total, m = xty.shape
    if family == "gaussian":
        lm = xty
    elif family == "binomial":
        mean01 = (sums_y[0] / n + 1.0) / 2.0
        lm = (xty[:, 0] + sums_x) / 2.0 - mean01 * sums_x
        lm = lm[:, np.newaxis]
    elif family == "poisson":
        lm = (sums_x - xty[:, 0])[:, np.newaxis]
    elif family == "multinomial":
        means = np.asarray(sums_y, dtype=np.float64) / n
        lm = xty - np.outer(sums_x, means)
    else:
        raise ValueError(family)
    if intercept:
        lm = lm[1:]
    return np.abs(lm.ravel(order="F"))


def _refit_closure(df, features, label, family, kw):
    """refit for coef(exact=True) (R/coef.R:35-48): rerun ``fit`` at
    explicitly requested sigmas, every other keyword argument in ``kw``
    unchanged."""
    def _refit(sig):
        return fit(df, features, label, family, sigma=sig, **kw)

    return _refit


def _gram_fast_path(family: str, n_features: int, kw: dict) -> bool:
    """Whether ``fit`` with keyword arguments ``kw`` (omitted ones at
    their defaults) takes the gaussian one-pass route, whose model is a
    function of the raw moments alone (``_gram_model``)."""
    return (
        family == "gaussian"
        and kw.get("solver", "auto") in ("auto", "gram")
        and n_features + 1 <= GRAM_P_LIMIT
        and kw.get("intercept", True)
        and kw.get("center", True)
        and kw.get("scale", "l2") in ("l2", "sd", "none")
        and kw.get("user_lambda") is None
        and not kw.get("diagnostics", False)
    )


# fit's keyword arguments the one-pass gaussian path reads
_GRAM_PATH_KEYS = (
    "center", "scale", "lambda_type", "q", "n_sigma", "sigma",
    "lambda_min_ratio", "max_passes", "tol_abs", "tol_rel",
    "tol_dev_change", "tol_dev_ratio", "max_variables",
)


def _gram_model(raw: dict, df, features, label, kw: dict) -> SlopeModel:
    """The gaussian one-pass model from raw moments ``raw`` (the keys of
    ``core.gram_path.standardize_stats``), with ``fit``'s keyword
    arguments ``kw`` (omitted ones at their defaults). ``fit`` passes the
    moments of its one setup scan; ``ops.cv.cv_fit`` the sum of its
    per-fold moments, so its base model costs no scan of its own."""
    from .core.gram_path import fit_gaussian_path_from_stats

    if not np.isfinite(raw["gram"]).all() or not np.isfinite(raw["yty"]):
        raise ValueError("NA/inf values in features or response")
    res = fit_gaussian_path_from_stats(
        raw, **{k: kw[k] for k in _GRAM_PATH_KEYS if k in kw}
    )
    betas3 = res["betas"][:, :, np.newaxis]
    nz = [np.flatnonzero(np.any(b != 0, axis=1)) for b in betas3]
    return SlopeModel(
        refit=_refit_closure(
            df, features, label, "gaussian",
            {k: v for k, v in kw.items() if k != "sigma"},
        ),
        family="gaussian",
        feature_names=list(features),
        intercept=True,
        betas=betas3,
        sigma=res["sigma"],
        lam=res["lam"] / raw["n"],
        null_deviance=float(res["null_dev"]),
        deviances=res["deviances"],
        deviance_ratios=res["dev_ratios"],
        passes=res["passes"],
        active_sets=nz,
        # cluster counts from the standardized-space path (ties live
        # in the penalized internal space, not in original units)
        n_unique=res["n_unique"],
        class_names=[],
        n_targets=1,
        x_center=res["x_center"],
        x_scale=res["x_scale"],
        y_center=np.atleast_1d(res["y_center"]),
        y_scale=np.atleast_1d(res["y_scale"]),
    )


def fit(
    df: DataFrame,
    features: list[str],
    label: str,
    family: str = "gaussian",
    *,
    intercept: bool = True,
    center: bool = True,
    scale: str = "l2",
    lambda_type: str = "gaussian",
    q: float = 0.2,
    n_sigma: int = 100,
    sigma=None,
    user_lambda=None,
    lambda_min_ratio: float | None = None,
    screening: bool = True,
    solver: str = "auto",  # auto | gram | incore | spark
    incore_limit: int = DEFAULT_INCORE_LIMIT,
    max_passes: int = 10**6,
    tol_rel_gap: float = 1e-5,
    tol_infeas: float = 1e-3,
    tol_abs: float = 1e-5,
    tol_rel: float = 1e-4,
    tol_dev_change: float = 1e-5,
    tol_dev_ratio: float = 0.995,
    max_variables: int | None = None,
    diagnostics: bool = False,
) -> SlopeModel:
    fam = setup_family(family)
    if solver not in SOLVERS:
        raise ValueError(
            f"unknown solver {solver!r}; expected one of {' | '.join(SOLVERS)}"
        )
    if solver == "gram" and family != "gaussian":
        raise ValueError(
            f"solver='gram' fits the gaussian family only, not {family!r}; "
            "use solver='auto', 'incore' or 'spark'"
        )

    # every keyword argument but sigma: what the refit closure reruns with
    _refit_kwargs = dict(
        intercept=intercept, center=center, scale=scale,
        lambda_type=lambda_type, q=q, n_sigma=n_sigma,
        user_lambda=user_lambda, lambda_min_ratio=lambda_min_ratio,
        screening=screening, solver=solver, incore_limit=incore_limit,
        max_passes=max_passes, tol_rel_gap=tol_rel_gap,
        tol_infeas=tol_infeas, tol_abs=tol_abs, tol_rel=tol_rel,
        tol_dev_change=tol_dev_change, tol_dev_ratio=tol_dev_ratio,
        max_variables=max_variables, diagnostics=diagnostics,
    )
    _refit = _refit_closure(df, features, label, family, _refit_kwargs)

    # ---- gaussian one-pass fast path ----
    # Everything a gaussian path fit needs (response centering/scaling,
    # feature standardization, lambda_max, the whole ADMM path, and the
    # deviances) is a function of raw moments, so the entire fit is ONE
    # fused scan + driver arithmetic (core.gram_path — same machinery as
    # the one-pass CV, which builds its base model from its fold pass
    # through the same ``_gram_model``). The staged path below remains for
    # diagnostics, in-core/spark solvers, and non-derivable scales.
    # an explicitly requested Gram solver past the p guard would silently
    # degrade to a different solver — refuse instead
    if solver == "gram" and len(features) + 1 > GRAM_P_LIMIT:
        raise ValueError(
            f"solver='gram' builds a p^2 Gram; p={len(features)} exceeds "
            f"GRAM_P_LIMIT={GRAM_P_LIMIT}. Use solver='auto'/'spark' (the "
            "distributed iterative path) for wide designs."
        )
    if _gram_fast_path(family, len(features), _refit_kwargs):
        xdf = df.select(
            F.array(*[F.col(c).cast("double") for c in features]).alias("_x"),
            F.col(label).cast("double").alias("_y"),
        )
        setup = glm_setup_pass(xdf, "_x", "_y", len(features), 1, need_xtx=True)
        raw = dict(
            gram=setup["xtx"],
            xty=setup["xty"][:, 0],
            sums_x=setup["sums_x"],
            yty=float(setup["sumsq_y"][0]),
            sum_y=float(setup["sums_y"][0]),
            n=setup["n"],
        )
        return _gram_model(raw, df, features, label,
                           dict(_refit_kwargs, sigma=sigma))

    # ---- response + features + standardization ----
    # For moment-derivable scales, ONE fused raw scan supplies the
    # standardizer, the lambda_max cross-moments, the null deviance, and
    # (when needed) the Gram/Lipschitz curvature — the staged families'
    # analogue of the gaussian fast path's single-pass setup. Legacy
    # two-scan setup only for l1/max scales.
    raw_setup = None
    p_feat = len(features)
    p_total = p_feat + (1 if intercept else 0)
    n_unpen = 1 if intercept else 0
    p_pen = p_total - n_unpen
    gram_route = (
        family == "gaussian"
        and solver in ("auto", "gram")
        and p_feat + 1 <= GRAM_P_LIMIT
    )

    # ---- in-core fast path: ONE Arrow collect replaces every scan ----
    # When the raw design fits on the driver (the reference's own regime),
    # collect the raw columns AND the raw label once; class discovery,
    # response encoding, standardizer moments, lambda_max cross-moments,
    # the null deviance, and the solver design all derive driver-side —
    # the whole fit costs one column-pruned count() plus one Arrow
    # transfer, zero distributed wide scans.
    X_raw = Y_raw = None
    df2 = rinfo = None
    if (
        scale in ("l2", "sd", "none")
        and not gram_route
        and solver in ("auto", "incore")
    ):
        if solver == "incore":
            n_cheap = None  # explicit route: no probe needed, count after
            fits_incore = True
        else:
            # bounded probe, NOT a full count: scan at most cap+1 rows to
            # learn whether the design fits the in-core budget. A full
            # df.count() would add one whole pass to every LARGE
            # distributed fit just to discover it is large (the
            # distributed setup scan supplies n anyway).
            cap = max(int(incore_limit // max(p_total * 8, 1)), 1)
            n_cheap = df.limit(cap + 1).count()
            fits_incore = n_cheap <= cap
        if fits_incore:
            X_raw, y_vals = _collect_raw_xy(df, features, label, family)
            rinfo, Y_raw = preprocess_response_local(y_vals, family, label)
            if n_cheap is None:
                n_cheap = int(X_raw.shape[0])
            if (
                solver == "auto"
                and n_cheap * p_total * 8 * max(rinfo.n_targets, 1) > incore_limit
            ):
                # the one-hot multinomial payload blows the in-core budget
                # after all — release and take the distributed plane
                X_raw = Y_raw = rinfo = None
            else:
                raw_setup = _local_raw_setup(X_raw, Y_raw, fam)
    if rinfo is None:
        df2, rinfo = preprocess_response(df, label, family)
    m = rinfo.n_targets

    if scale in ("l2", "sd", "none"):
        if raw_setup is None:
            xdf_raw = df2.select(
                F.array(*[F.col(c).cast("double") for c in features]).alias("_xr"),
                Y_COL,
            )
            raw_setup = glm_setup_pass(
                xdf_raw, "_xr", Y_COL, p_feat, m,
                need_xtx=gram_route, need_xsq=True, family=fam,
            )
        n = raw_setup["n"]
        std = StandardizerModel(
            cols=list(features), do_center=center, scale_type=scale, n=n
        )
        for j, c in enumerate(features):
            sj = float(raw_setup["sums_x"][j])
            if center:
                std.center[c] = sj / n
            if scale != "none":
                mean = sj / n if (center or scale == "sd") else 0.0
                css = max(float(raw_setup["sumsq_x"][j]) - n * mean * mean, 0.0)
                v = np.sqrt(css / (n - 1)) if scale == "sd" and n > 1 else np.sqrt(css)
                std.scale[c] = 1.0 if v == 0.0 else float(v)
    else:
        std = fit_standardizer(df2, list(features), center=center, scale=scale)

    x_center = np.array([std.center.get(c, 0.0) for c in features]) if center else np.zeros(len(features))
    x_scale = (
        np.array([std.scale.get(c, 1.0) for c in features])
        if scale != "none"
        else np.ones(len(features))
    )

    # ---- route decision + (when needed) the Spark-side data plane ----
    if X_raw is not None:
        n = raw_setup["n"]
        incore_route = True
        distributed_route = False
        base = sdf = None
    else:
        df3 = std.transform(df2)
        # row count rides along with the one-scan standardizer when
        # available; the cache then materializes on the first design pass
        # instead of a dedicated count scan
        n = std.n if std.n is not None else df3.count()
        est_bytes = n * p_total * 8 * max(m, 1)
        incore_route = not gram_route and (
            solver == "incore" or (solver == "auto" and est_bytes <= incore_limit)
        )
        distributed_route = not gram_route and not incore_route
    # Precondition the intercept column to unit l2 norm (1/sqrt(n) entries):
    # with l2-scaled features this keeps the Hessian condition number O(1)
    # instead of O(n), so FISTA pass counts stay flat as data grows. Exact
    # reparameterization (intercept is unpenalized); undone after the path.
    icol = 1.0 / np.sqrt(n) if (intercept and scale == "l2") else 1.0
    if X_raw is None:
        # cache the ASSEMBLED array column ONLY for the distributed design:
        # each prox-Newton/FISTA scan then reads materialized arrays
        # instead of re-running the standardize + assemble projection per
        # pass. The Gram and in-core routes read the frame exactly once,
        # where a cache write is pure overhead (it cost the in-core bench
        # fit 2x in r3).
        base = assemble_features(
            df3, list(features), out=X_COL, intercept=intercept, intercept_value=icol
        ).select(X_COL, Y_COL)
        if distributed_route:
            base = base.persist(StorageLevel.MEMORY_AND_DISK)
        sdf = base

    # ---- choose the design (routes decided above, pre-persist) ----
    xty_gaussian = None
    if gram_route:
        if raw_setup is not None:
            # Gram sufficient statistics derived from the raw scan — the
            # staged gaussian route is one pass too
            der = _std_setup_from_raw(
                raw_setup, x_center, x_scale, icol, n, m, intercept,
                with_xtx=True,
            )
            gram, xty, yty = der["xtx"], der["xty"].ravel(), float(der["sumsq_y"][0])
        else:
            gram, xty, yty, n_seen = gram_xty_pass(sdf, X_COL, Y_COL, p_total)
        design = GramGaussianDesign(GramData(gram=gram, xty=xty, yty=yty, n=n))
        xty_gaussian = xty
    elif incore_route:
        if X_raw is not None:
            # standardize + assemble driver-side from the raw collect —
            # same affine map the Spark projection applies
            Xs = X_raw - x_center if center else X_raw
            if scale != "none":
                Xs = Xs / x_scale
            X = (
                np.concatenate([np.full((n, 1), icol), Xs], axis=1)
                if intercept
                else Xs
            )
            design = LocalDesign(np.ascontiguousarray(X), Y_raw, fam)
        else:
            X, Y = _collect_xy(sdf, p_total, m)
            design = LocalDesign(X, Y, fam)
    else:
        design = SparkGlmDesign(sdf, X_COL, Y_COL, fam, p_total, m, n=n)
    # gaussian on the driver (Gram or in-core design) solves each point by
    # ADMM on the Gram, like the reference; the distributed design runs
    # prox-Newton (one weighted-Gram scan per outer iteration, driver-side
    # SLOPE inner solve); in-core iterative families run FISTA
    use_admm = family == "gaussian" and not distributed_route

    # ---- setup statistics + penalty machinery ----
    # The distributed design takes the lambda_max cross-moments and the
    # null primal from one fused scan (or derives them from the raw one).
    col_sq_std = None
    if distributed_route:
        if raw_setup is not None:
            # derived from the raw scan — no additional pass
            setup = _std_setup_from_raw(
                raw_setup, x_center, x_scale, icol, n, m, intercept,
            )
            # standardized per-column sum of squares: the trace Lipschitz
            # bound eigmax(X'X) <= trace(X'X) used by the wide-p Hessian
            # guard (no extra pass; sumsq_x rode the raw scan)
            css = np.asarray(raw_setup["sumsq_x"], dtype=np.float64)
            if center:
                css = np.clip(css - n * x_center * x_center, 0.0, None)
            css = css / (x_scale * x_scale)
            col_sq_std = (
                np.concatenate([[icol * icol * n], css]) if intercept else css
            )
        else:
            setup = glm_setup_pass(
                sdf, X_COL, Y_COL, p_total, m, need_xtx=False, family=fam
            )
        lambda_max = _lambda_max_from_stats(
            family, setup["xty"], setup["sums_x"], setup["sums_y"], n, intercept
        )
        # primal at beta=0 rode along with the setup scan — no extra pass
        null_deviance = 2.0 * setup["primal0"]
    elif xty_gaussian is not None:
        lambda_max = _lambda_max_from_stats(
            family, np.asarray(xty_gaussian).reshape(p_total, -1),
            None, None, n, intercept,
        )
    else:
        X_loc, Y_loc = design.X, design.Y
        lambda_max = _lambda_max_from_stats(
            family, X_loc.T @ Y_loc, X_loc.sum(axis=0), Y_loc.sum(axis=0),
            n, intercept,
        )
    if not distributed_route:
        null_deviance = 2.0 * design.primal(np.zeros((p_total, m)))

    lam = lambda_sequence(p_pen * m, n, lambda_type, q, user_lambda)
    # reference default n*m (R/owl.R:288); with a USER-SUPPLIED sigma grid
    # the reference disables the rule (R/owl.R:390), so frozen-sigma refits
    # (CV cells) never truncate paths the reference would complete. An
    # explicit max_variables is honored either way (documented delta: it
    # doubles as the wide-p scale guard).
    if max_variables is None and sigma is None:
        max_variables = n * m

    def solve(idx, beta_init, lam_scaled, z, u):
        d = design if len(idx) == p_total else design.subset(idx)
        if use_admm:
            gd = d.g if isinstance(d, GramGaussianDesign) else d.gram()
            return gaussian_step(
                gd, beta_init, z, u, lam_scaled, max_passes=max_passes,
                tol_abs=tol_abs, tol_rel=tol_rel, diagnostics=diagnostics,
            )
        if distributed_route and (d.p * m) ** 2 <= HESS_CELL_GUARD:
            res = prox_newton(
                d, beta_init, lam_scaled, n_unpenalized=n_unpen,
                max_passes=max_passes, tol_rel_gap=tol_rel_gap,
                tol_infeas=tol_infeas, tol_abs=tol_abs, tol_rel=tol_rel,
                diagnostics=diagnostics,
            )
            return res, z, u
        # in-core iterative families backtrack (their probes cost
        # microseconds); past the Hessian guard the distributed design
        # takes the fixed trace-bound step (poisson: no bound)
        lr = (
            None if col_sq_std is None
            else lipschitz_step(family, float(col_sq_std[idx].sum()))
        )
        res = fista(
            d, beta_init, lam_scaled, n_unpenalized=n_unpen,
            max_passes=max_passes, tol_rel_gap=tol_rel_gap,
            tol_infeas=tol_infeas, diagnostics=diagnostics,
            fixed_learning_rate=lr,
        )
        return res, z, u

    # ---- path loop (driver control plane, ``src/owl.cpp:146-364``) ----
    # Screening prunes COLUMNS of the distributed aggregation. With the
    # prox-Newton solver and a narrow design, the subset saves no scan
    # cost (row conversion dominates) while the strong-rule gradient and
    # the KKT check each cost one full pass per path point — so skip
    # screening entirely there. Wide designs keep it: the p_act^2 Hessian
    # payload is what screening shrinks.
    path = run_path(
        lam, lambda_max, solve, n=n, p_total=p_total, m=m,
        intercept=intercept, null_deviance=null_deviance,
        full_gradient=design.full_gradient, sigma=sigma, n_sigma=n_sigma,
        lambda_min_ratio=lambda_min_ratio,
        screening=bool(screening) and not (distributed_route and p_total <= 64),
        stop_screening_when_full=True, max_variables=max_variables,
        tol_infeas=tol_infeas, tol_dev_change=tol_dev_change,
        tol_dev_ratio=tol_dev_ratio,
    )

    if distributed_route:
        base.unpersist()

    # rescale to original units. Deviances were computed on the
    # internally scaled response; convert back to response units (primal
    # scales with y_scale^2).
    dev_scale = float(np.prod(np.asarray(rinfo.y_scale) ** 2))
    betas = path.betas
    if intercept and icol != 1.0:
        # undo the intercept-column preconditioning: the model's intercept
        # is icol * beta_internal[0]
        betas[:, 0, :] *= icol
    out = _rescale(
        betas, x_center, x_scale, rinfo.y_center, rinfo.y_scale, intercept
    )

    return SlopeModel(
        refit=_refit,
        family=family,
        feature_names=list(features),
        intercept=intercept,
        betas=out,
        sigma=path.sigma,
        lam=lam / n,
        null_deviance=null_deviance * dev_scale,
        deviances=path.deviances * dev_scale,
        deviance_ratios=path.deviance_ratios,
        passes=path.passes,
        active_sets=path.active_sets,
        n_unique=path.n_unique,
        class_names=rinfo.class_names,
        n_targets=m,
        x_center=x_center,
        x_scale=x_scale,
        y_center=rinfo.y_center,
        y_scale=rinfo.y_scale,
        diagnostics=path.diagnostics if diagnostics else None,
    )


def _std_setup_from_raw(raw, x_center, x_scale, icol, n, m, intercept,
                        with_xtx=False):
    """Standardized-design setup statistics derived from RAW moments —
    zero additional data passes. X~ = (X - 1 c') D^-1 with an intercept
    column of ``icol``; y is already in internal encoding, so only the
    X-side affine transform applies."""
    p = len(x_center)
    c, s = np.asarray(x_center, float), np.asarray(x_scale, float)
    xty_pen = (raw["xty"] - np.outer(c, raw["sums_y"])) / s[:, np.newaxis]
    sums_pen = (raw["sums_x"] - n * c) / s
    if intercept:
        xty = np.vstack([icol * np.asarray(raw["sums_y"], float)[np.newaxis, :], xty_pen])
        sums_x = np.concatenate([[icol * n], sums_pen])
    else:
        xty, sums_x = xty_pen, sums_pen
    xtx = None
    if with_xtx and raw["xtx"] is not None:
        G = raw["xtx"]
        Mc = (
            G
            - np.outer(c, raw["sums_x"])
            - np.outer(raw["sums_x"], c)
            + n * np.outer(c, c)
        )
        M = Mc / np.outer(s, s)
        if intercept:
            xtx = np.empty((p + 1, p + 1))
            xtx[1:, 1:] = M
            xtx[0, 0] = icol * icol * n
            xtx[0, 1:] = icol * sums_pen
            xtx[1:, 0] = icol * sums_pen
        else:
            xtx = M
    return dict(
        xtx=xtx, xty=xty, sums_x=sums_x, sums_y=raw["sums_y"],
        sumsq_y=raw["sumsq_y"], primal0=raw["primal0"], n=n,
    )


def _rescale(betas, x_center, x_scale, y_center, y_scale, intercept):
    """Back-transform coefficients to the original data scale
    (``src/rescale.h:8-31``)."""
    out = betas.copy()
    n_path, p_total, m = out.shape
    start = 1 if intercept else 0
    for kk in range(m):
        x_bar_beta_sum = np.zeros(n_path)
        for j in range(start, p_total):
            jj = j - start
            out[:, j, kk] *= y_scale[kk] / x_scale[jj]
            x_bar_beta_sum += x_center[jj] * out[:, j, kk]
        if intercept:
            out[:, 0, kk] = (
                out[:, 0, kk] * y_scale[kk] + y_center[kk] - x_bar_beta_sum
            )
    return out
