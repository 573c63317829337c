"""Repeated k-fold cross-validation over the (sigma path x q) grid.

Re-expresses ``trainOwl`` (``R/trainOwl.R:44-201`` in jolars/prague):
an initial full-data fit freezes the sigma grid; folds are assigned by a
seeded random column (or a caller-supplied deterministic fold column);
each (q, fold, repeat) cell refits on the train split and scores the whole
path on the test split for every requested measure; the aggregation
(mean / se / t-based 95% CI per sigma x q x measure, then per-measure
argmin optimum) is a plain groupBy + window — SQL-verifiable.

Scan cost: the gaussian mse route reads the data ONCE per repeat, the
initial full-data fit included. One keyed pass yields every fold's raw
sufficient statistics; their sum is the full-data statistics ``fit``'s
one-pass gaussian route would scan for, so the base model is built from
it (``fit._gram_model``) with no scan of its own, and each fold's refit
and test mse are driver arithmetic. Only when ``fit`` would not take its
one-pass route (``diagnostics=True``, p past ``GRAM_P_LIMIT``) does the
base model cost a separate ``fit``.

Scale note: the other routes' outer grid is embarrassingly parallel
driver orchestration (each cell is its own chain of Spark jobs); fold
filters are predicate pushdown on the cached DataFrame. Test-fold scoring
collects only the test fold when it is driver-sized, scoring the entire
path vectorized at once.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..core.stats import t_ppf
from ..fit import DEFAULT_INCORE_LIMIT, fit
from ..model import SlopeModel
from .score import score_path, score_path_spark

_OK_MEASURES = {
    "gaussian": ["mse", "mae"],
    "binomial": ["mse", "mae", "deviance", "misclass", "auc"],
    "poisson": ["mse", "mae"],
    "multinomial": ["mse", "mae", "deviance"],
}


@dataclass
class CvResult:
    summary: list  # dicts: q, sigma, measure, mean, se, lo, hi
    optima: list  # dicts: per-measure argmin row
    model: SlopeModel
    measures: list

    def summary_df(self, spark) -> DataFrame:
        return spark.createDataFrame(
            [
                (
                    float(r["q"]),
                    int(r["sigma_idx"]),
                    float(r["sigma"]),
                    r["measure"],
                    float(r["mean"]),
                    float(r["se"]),
                    float(r["lo"]),
                    float(r["hi"]),
                )
                for r in self.summary
            ],
            "q double, sigma_idx int, sigma double, measure string, "
            "mean double, se double, lo double, hi double",
        )


def cv_fit(
    df: DataFrame,
    features: list[str],
    label: str,
    family: str = "gaussian",
    *,
    q_values=(0.2,),
    n_folds: int = 5,
    n_repeats: int = 1,
    measures: list[str] | None = None,
    seed: int = 42,
    fold_col: str | None = None,
    method: str = "auto",  # auto | gram | refit
    optimum: str = "reference",  # reference (argmin always) | best
    incore_limit: int = DEFAULT_INCORE_LIMIT,
    **fit_kwargs,
) -> CvResult:
    ok = _OK_MEASURES[family]
    measures = [m for m in (measures or ok[:1]) if m in ok]
    if not measures:
        raise ValueError(f"measure needs to be one of {ok}")
    if optimum not in ("reference", "best"):
        raise ValueError(
            f"cv_fit: optimum must be 'reference' or 'best', got {optimum!r}"
        )
    if optimum == "reference" and "auc" in measures:
        import warnings

        # replicating which.min(x$mean) (R/trainOwl.R:165) applies argmin
        # to auc too — the reference-exact default, but it selects the
        # WORST model by that measure. The grouped twin (cv_fit_grouped)
        # is direction-aware; opt in with optimum='best' to match it.
        warnings.warn(
            "cv_fit: optimum='reference' applies the reference's argmin "
            "to auc, selecting the LOWEST-auc path point "
            "(R/trainOwl.R:165); pass optimum='best' for the argmax",
            UserWarning, stacklevel=2,
        )

    # one-pass gaussian fast path: per-fold raw sufficient statistics from
    # a single keyed scan per repeat; per-fold standardization, the whole
    # path refit, and the test mse are then pure driver arithmetic
    # (train moments = total - fold). See core.gram_path.
    if (
        method in ("auto", "gram")
        and family == "gaussian"
        and set(measures) <= {"mse"}
        and fit_kwargs.get("intercept", True)
        and fit_kwargs.get("center", True)
        and fit_kwargs.get("scale", "l2") in ("l2", "sd")
        and fit_kwargs.get("solver", "auto") in ("auto", "gram")
        and "user_lambda" not in fit_kwargs
        and "sigma" not in fit_kwargs
    ):
        cells, base = _gaussian_gram_cells(
            df, features, label, q_values, n_folds, n_repeats,
            seed, fold_col, fit_kwargs,
        )
        return _aggregate(cells, base.sigma, q_values, measures, n_folds,
                          n_repeats, base, optimum=optimum)
    if method == "gram":
        raise ValueError(
            "method='gram' needs family='gaussian', measures=['mse'], "
            "intercept/center on, scale in ('l2','sd')"
        )

    # initial full fit freezes the sigma grid (R/trainOwl.R:69, 84)
    base = fit(df, features, label, family, q=q_values[0], **fit_kwargs)
    sigma = base.sigma

    # the outer grid is embarrassingly parallel: each (rep, fold) cell is
    # its own chain of Spark jobs, submitted concurrently from a driver
    # thread pool (the Spark idiom for the reference's parallel::parLapply,
    # R/trainOwl.R:125-144)
    prepared = []
    jobs = []
    for rep in range(n_repeats):
        if fold_col is None:
            fdf = df.withColumn(
                "_fold", F.floor(F.rand(seed + rep) * n_folds).cast("int")
            )
        else:
            # pmod: Spark's % keeps the dividend's sign; a negative key
            # column would otherwise yield folds outside [0, n_folds)
            fdf = df.withColumn(
                "_fold", F.pmod(F.col(fold_col).cast("int"), F.lit(n_folds))
            )
        fdf = fdf.persist()
        fdf.count()
        prepared.append(fdf)
        jobs += [(rep, fdf, fold) for fold in range(n_folds)]

    def run_fold(rep: int, fdf: DataFrame, fold: int) -> list[dict]:
        train = fdf.filter(F.col("_fold") != fold)
        test = fdf.filter(F.col("_fold") == fold)
        # collect the test fold only when it is provably driver-sized;
        # otherwise score distributedly (one agg scan covers every sigma x
        # measure — never O(n) driver memory)
        n_test = test.count()
        collect_ok = n_test * len(features) * 8 <= incore_limit
        if collect_ok:
            tpdf = test.select(*features, label).toPandas()
            X_test = tpdf[list(features)].to_numpy(dtype=np.float64)
            y_test = tpdf[label].to_numpy()
        out = []
        for qv in q_values:
            m = fit(
                train, features, label, family,
                q=qv, sigma=sigma, **fit_kwargs,
            )
            if collect_ok:
                per_meas = {
                    meas: score_path(m, X_test, y_test, meas) for meas in measures
                }
            else:
                per_meas = score_path_spark(test, m, label, measures)
            for meas in measures:
                vals = per_meas[meas]
                # a shortened path (safety) scores only realized points
                for si in range(len(vals)):
                    out.append(
                        dict(q=qv, rep=rep, fold=fold, sigma_idx=si,
                             measure=meas, value=float(vals[si]))
                    )
        return out

    cells = []
    with ThreadPoolExecutor(max_workers=min(4, len(jobs))) as ex:
        for res in ex.map(lambda a: run_fold(*a), jobs):
            cells.extend(res)
    for fdf in prepared:
        fdf.unpersist()

    return _aggregate(cells, sigma, q_values, measures, n_folds, n_repeats,
                      base, optimum=optimum)


def _aggregate(cells, sigma, q_values, measures, n_folds, n_repeats, base,
               optimum: str = "reference") -> CvResult:
    """mean / se / 95% t-CI per (q, sigma, measure) + per-measure argmin
    (R/trainOwl.R:146-166). NOTE: under the default
    ``optimum='reference'`` argmin applies to EVERY measure — including
    auc, where higher is better — because the reference's
    ``which.min(x$mean)`` (R/trainOwl.R:165) does exactly that on the raw
    values (cv_fit warns when that combination is requested).
    ``optimum='best'`` is direction-aware (argmax for auc), matching
    ops.grouped.cv_fit_grouped."""
    n_cells = n_folds * n_repeats
    tq = t_ppf(0.975, n_cells - 1) if n_cells > 1 else 0.0
    summary = []
    for qv in q_values:
        for meas in measures:
            for si in range(len(sigma)):
                vals = [
                    c["value"]
                    for c in cells
                    if c["q"] == qv and c["measure"] == meas and c["sigma_idx"] == si
                ]
                if not vals:
                    continue
                mean = float(np.mean(vals))
                se = float(np.std(vals, ddof=1) / np.sqrt(len(vals))) if len(vals) > 1 else 0.0
                summary.append(
                    dict(q=qv, sigma_idx=si, sigma=float(sigma[si]), measure=meas,
                         mean=mean, se=se, lo=mean - tq * se, hi=mean + tq * se)
                )

    optima = []
    for meas in measures:
        rows = [r for r in summary if r["measure"] == meas]
        pick = max if (optimum == "best" and meas == "auc") else min
        optima.append(pick(rows, key=lambda r: r["mean"]))

    return CvResult(summary=summary, optima=optima, model=base, measures=measures)


def _gaussian_gram_cells(
    df, features, label, q_values, n_folds, n_repeats, seed,
    fold_col, fit_kwargs,
) -> tuple[list[dict], SlopeModel]:
    """One distributed pass per repeat; every fold's refit + mse is driver
    arithmetic on sufficient statistics. The base model that freezes the
    sigma grid is ``fit``'s one-pass gaussian model over repeat 0's
    summed fold statistics (no scan of its own) whenever ``fit`` itself
    would take that route; otherwise it is a separate ``fit``."""
    from ..core.gram_path import (
        fit_gaussian_path_from_stats, mse_from_stats, subtract_stats,
    )
    from ..design.linalg import gram_xty_pass_keyed
    from ..fit import _gram_fast_path, _gram_model

    p = len(features)
    base_kw = dict(fit_kwargs, q=q_values[0])
    scale = fit_kwargs.get("scale", "l2")
    path_kw = dict(
        center=True,
        scale=scale,
        lambda_type=fit_kwargs.get("lambda_type", "gaussian"),
        n_sigma=fit_kwargs.get("n_sigma", 100),
        lambda_min_ratio=fit_kwargs.get("lambda_min_ratio"),
        max_passes=fit_kwargs.get("max_passes", 10**6),
        tol_abs=fit_kwargs.get("tol_abs", 1e-5),
        tol_rel=fit_kwargs.get("tol_rel", 1e-4),
    )

    cells: list[dict] = []
    base = None
    for rep in range(n_repeats):
        if fold_col is None:
            key = F.floor(F.rand(seed + rep) * n_folds).cast("int")
        else:
            # pmod keeps negative key columns inside [0, n_folds) — a plain
            # % would silently corrupt other folds' sufficient statistics
            key = F.pmod(F.col(fold_col).cast("int"), F.lit(n_folds))
        xdf = df.select(
            F.array(*[F.col(c).cast("double") for c in features]).alias("_x"),
            F.col(label).cast("double").alias("_y"),
            key.alias("_fold"),
        )
        per_fold = gram_xty_pass_keyed(xdf, "_x", "_y", "_fold", p, n_folds)
        total = per_fold[0]
        for f in per_fold[1:]:
            total = {
                k: (total[k] + f[k]) for k in total
            }
        if base is None:
            # initial full fit freezes the sigma grid (R/trainOwl.R:69, 84)
            base = (
                _gram_model(total, df, features, label, base_kw)
                if _gram_fast_path("gaussian", p, base_kw)
                else fit(df, features, label, "gaussian", **base_kw)
            )
        for fold in range(n_folds):
            train = subtract_stats(total, per_fold[fold])
            for qv in q_values:
                res = fit_gaussian_path_from_stats(
                    train, q=qv, sigma=base.sigma, **path_kw
                )
                betas = res["betas"]
                for si in range(len(res["sigma"])):
                    cells.append(
                        dict(q=qv, rep=rep, fold=fold, sigma_idx=si,
                             measure="mse",
                             value=mse_from_stats(per_fold[fold], betas[si]))
                    )
    return cells, base
