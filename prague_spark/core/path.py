"""The SLOPE regularization path loop, shared by every fit route.

One driver-side loop over the sigma grid, as the reference runs it
(``src/owl.cpp:146-364`` in jolars/prague): strong-rule screening with
the ever-active set, subset fits, KKT repair, the deviance-change and
deviance-ratio stops and the ``max_variables`` cap. A route supplies
only what differs between designs:

- ``full_gradient(beta)``: X^T g(beta) over every column, shape
  (p_total, m) — the strong rule's and the KKT check's input;
- ``solve(idx, beta_init, lam_scaled, z, u)``: the fit over the columns
  ``idx``, returning ``(FitResult, z, u)``. ``(z, u)`` is the ADMM
  warm start of those columns, carried from point to point here; a
  solver without one returns them unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .lambdas import sigma_grid
from .screening import kkt_check, strong_rule_active_set
from .solver import FitResult


@dataclass
class PathResult:
    """The realized path, in the solver's internal units: ``betas`` is
    (k, p_total, m); the per-point arrays hold the k kept points."""

    betas: np.ndarray
    sigma: np.ndarray
    deviances: np.ndarray
    deviance_ratios: np.ndarray
    passes: np.ndarray
    n_unique: np.ndarray
    active_sets: list
    abandoned: bool
    # per evaluated point (a point the cap excludes included): the
    # solver's primals / duals / times and the KKT repair counts
    diagnostics: dict


def run_path(
    lam: np.ndarray,
    lambda_max: np.ndarray,
    solve,
    *,
    n: int,
    p_total: int,
    m: int,
    intercept: bool,
    null_deviance: float,
    full_gradient=None,
    sigma=None,
    n_sigma: int = 100,
    lambda_min_ratio: float | None = None,
    screening: bool = True,
    stop_screening_when_full: bool = True,
    max_variables: int | None = None,
    abandon_limit: int | None = None,
    tol_infeas: float = 1e-3,
    tol_dev_change: float = 1e-5,
    tol_dev_ratio: float = 0.995,
) -> PathResult:
    """Fit the SLOPE path over ``sigma`` (the user's grid) or, when it is
    None, the log grid of ``n_sigma`` points down from sigma_max.

    ``lam`` is the unscaled penalty sequence over the penalized
    coefficients; with ``intercept`` row 0 is unpenalized and always
    active. Knobs that differ between routes:

    - ``screening``: strong rule + KKT repair on (needs
      ``full_gradient``), else every point solves in full;
    - ``stop_screening_when_full``: once a point's screened set covers
      every column, True turns screening off for the rest of the path;
      False solves that point in full and keeps screening on;
    - ``max_variables``: the path stops at the first point with more
      unique nonzero |coefficients| than this, and that point is
      excluded (``src/owl.cpp:358``); None is no cap;
    - ``abandon_limit``: the path is cut, without the current point,
      once the repair set holds more than this many penalized columns;
      None is no limit.

    The deviance ratio of a zero null deviance is 0.
    """
    n_unpen = int(intercept)
    lam = np.asarray(lam, dtype=np.float64)
    if sigma is None:
        sig, sigma_max = sigma_grid(
            lambda_max, lam, n_sigma, lambda_min_ratio, n=n, p=p_total - n_unpen
        )
    else:
        sig = np.atleast_1d(np.asarray(sigma, dtype=np.float64))
        lm_sorted = np.sort(np.abs(lambda_max))[::-1]
        sigma_max = float(np.max(np.cumsum(lm_sorted) / np.cumsum(lam)))

    all_idx = np.arange(p_total, dtype=np.intp)
    betas = np.zeros((len(sig), p_total, m))
    beta = np.zeros((p_total, m))
    z = np.zeros(p_total)
    u = np.zeros(p_total)

    def fit_on(idx, lam_k):
        if len(idx) == 0:  # no intercept and nothing screened in
            res = FitResult(beta=np.zeros((0, m)), passes=0,
                            deviance=null_deviance)
        else:
            n_pen = (len(idx) - n_unpen) * m
            res, z[idx], u[idx] = solve(
                idx, beta[idx], lam_k[:n_pen], z[idx], u[idx]
            )
        b = np.zeros((p_total, m))
        b[idx] = res.beta.reshape(len(idx), m)
        return res, b

    deviances: list[float] = []
    ratios: list[float] = []
    passes: list[int] = []
    n_unique: list[int] = []
    active_sets: list[np.ndarray] = []
    diag: dict = {"primals": [], "duals": [], "time": [], "violations": []}
    ever_active = all_idx[:n_unpen]
    # full gradient at the previous point's beta, carried over from its
    # KKT check — saves one full gradient per path point
    grad_cache = None
    abandoned = False
    k = 0
    while k < len(sig):
        lam_k = lam * sig[k]
        violations: list[int] = []
        active = all_idx
        if screening:
            grad_prev = grad_cache if grad_cache is not None else full_gradient(beta)
            sigma_prev = sigma_max if k == 0 else sig[k - 1]
            strong = strong_rule_active_set(
                grad_prev[n_unpen:], lam_k, lam * sigma_prev, intercept
            )
            prev_active = np.flatnonzero(np.any(beta != 0, axis=1))
            ever_active = np.union1d(ever_active, prev_active).astype(np.intp)
            active = ever_active
            if stop_screening_when_full and len(active) == p_total:
                screening = False
        if not screening:
            res, beta = fit_on(all_idx, lam_k)
        else:
            while True:
                if abandon_limit is not None and len(active) - n_unpen > abandon_limit:
                    abandoned = True
                    break
                if len(active) == p_total:
                    res, beta = fit_on(all_idx, lam_k)
                    grad_cache = None  # no KKT gradient at this beta
                    break
                res, beta = fit_on(active, lam_k)
                grad_cache = full_gradient(beta)
                possible = kkt_check(grad_cache, beta, lam_k, tol_infeas, intercept)
                failures = np.setdiff1d(np.intersect1d(possible, strong), active)
                violations.append(len(failures))
                if len(failures) == 0:
                    failures = np.setdiff1d(possible, active)
                    violations.append(len(failures))
                if len(failures) == 0:
                    break
                active = np.union1d(failures, active).astype(np.intp)
            if abandoned:
                break  # the path ends at k - 1; point k is not recorded

        diag["primals"].append(res.primals)
        diag["duals"].append(res.duals)
        diag["time"].append(res.time)
        diag["violations"].append(violations)
        deviance = res.deviance
        ratio = 1.0 - deviance / null_deviance if null_deviance > 0 else 0.0
        deviances.append(deviance)
        ratios.append(ratio)
        passes.append(res.passes)
        betas[k] = beta
        active_sets.append(active.copy())
        # clusters of the FULL beta, intercept included when it is a row
        # (unique(abs(nonzeros(beta))), src/owl.cpp:338)
        n_unique.append(len(np.unique(np.abs(beta[beta != 0]))))
        if k > 0 and sigma is None and np.any(beta != 0):
            prev = deviances[k - 1]
            change = abs((prev - deviance) / prev) if prev != 0 else 0.0
            if change < tol_dev_change or ratio > tol_dev_ratio:
                k += 1
                break
        if max_variables is not None and n_unique[k] > max_variables:
            break
        k += 1

    return PathResult(
        betas=betas[:k],
        sigma=sig[:k],
        deviances=np.asarray(deviances[:k], dtype=np.float64),
        deviance_ratios=np.asarray(ratios[:k], dtype=np.float64),
        passes=np.asarray(passes[:k], dtype=int),
        n_unique=np.asarray(n_unique[:k], dtype=int),
        active_sets=active_sets[:k],
        abandoned=abandoned,
        diagnostics=diag,
    )
