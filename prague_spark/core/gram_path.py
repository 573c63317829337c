"""Gaussian SLOPE path fitting from raw sufficient statistics.

Everything the gaussian family needs — standardization, the lambda/sigma
penalty machinery, the ADMM path, deviances, and even mean-squared-error
scoring — is a function of the raw moments (X^T X, X^T y, column sums,
y^T y, sum y, n). Those moments are additive over rows, so:

- a FULL path fit costs one distributed pass (``design.linalg.gram_xty_pass``);
- k-fold CV costs ONE distributed pass total (``gram_xty_pass_keyed``):
  train-fold moments are total minus fold, and both the per-fold refit
  (with its own train-only standardization, matching the reference's
  semantics of re-standardizing inside each fold) and the test-fold mse
  come out of pure driver arithmetic.

This mirrors the reference's one-time Gram factorization idea
(``src/owl.cpp:178-203`` in jolars/prague) but pushes it through the whole
cross-validation grid.
"""

from __future__ import annotations

import numpy as np

from .lambdas import lambda_sequence
from .path import run_path
from .solver import GramData, gaussian_step


def standardize_stats(raw: dict, center: bool = True, scale: str = "l2") -> dict:
    """Derive standardized-space sufficient statistics from raw moments.

    Returns G_std, xty_std, yty_std plus the (x_center, x_scale, y_center,
    y_scale) needed to map coefficients back to original units. Supported
    scales are the moment-derivable ones: l2 (norm of the centered column),
    sd, none.
    """
    G, xty, sx = raw["gram"], raw["xty"], raw["sums_x"]
    yty, sy, n = raw["yty"], raw["sum_y"], raw["n"]
    p = len(xty)
    xbar = sx / n if center else np.zeros(p)
    ybar = sy / n

    Gc = G - n * np.outer(xbar, xbar) if center else G.copy()
    xtyc = xty - n * xbar * ybar if center else xty - 0.0

    # gaussian response preprocessing: always centered + sd-scaled
    y_center = ybar
    yss = max(yty - n * ybar * ybar, 0.0)
    y_scale = np.sqrt(yss / (n - 1)) if n > 1 else 1.0
    y_scale = y_scale if y_scale > 0 else 1.0
    if center:
        xtyc = xtyc  # y centering already folded in via the cross term
    else:
        xtyc = xty - sx * ybar  # y centered even when X is not

    diag = np.clip(np.diag(Gc), 0.0, None)
    if scale == "l2":
        xs = np.sqrt(diag)
    elif scale == "sd":
        # always the CENTERED sample sd, even when center=False
        # (arma::stddev semantics — only the stored center honors the flag)
        xbar_all = sx / n
        diag_c = np.clip(np.diag(G) - n * xbar_all * xbar_all, 0.0, None)
        xs = np.sqrt(diag_c / (n - 1))
    elif scale == "none":
        xs = np.ones(p)
    else:
        raise ValueError(f"scale {scale!r} not derivable from moments")
    xs = np.where(xs > 0, xs, 1.0)

    Dinv = 1.0 / xs
    G_std = Gc * np.outer(Dinv, Dinv)
    xty_std = (xtyc * Dinv) / y_scale
    yty_std = yss / (y_scale * y_scale)
    return dict(
        G_std=G_std, xty_std=xty_std, yty_std=yty_std, n=n,
        x_center=xbar, x_scale=xs, y_center=y_center, y_scale=y_scale,
    )


def fit_gaussian_path_from_stats(
    raw: dict,
    *,
    center: bool = True,
    scale: str = "l2",
    lambda_type: str = "gaussian",
    q: float = 0.2,
    n_sigma: int = 100,
    sigma: np.ndarray | None = None,
    lambda_min_ratio: float | None = None,
    max_passes: int = 10**6,
    tol_abs: float = 1e-5,
    tol_rel: float = 1e-4,
    tol_dev_change: float = 1e-5,
    tol_dev_ratio: float = 0.995,
    max_variables: int | None = None,
):
    """Full gaussian SLOPE path — zero data passes (driver arithmetic on
    sufficient statistics). Returns a dict with ``betas`` (original
    units, shape (n_path, p+1), intercept first), ``sigma``,
    ``dev_ratios``, ``passes``, ``lam`` (unnormalized), ``null_dev``
    (response units), and the standardization info. ``max_variables``
    None is no cap; ``n_unique`` counts the standardized coefficients
    (ties live there; per-column rescaling would break them).
    """
    std = standardize_stats(raw, center=center, scale=scale)
    G, xty, yty, n = std["G_std"], std["xty_std"], std["yty_std"], std["n"]
    p = len(xty)
    gd = GramData(gram=G, xty=xty, yty=yty, n=n)

    def solve(idx, beta_init, lam_scaled, z, u):
        return gaussian_step(gd, beta_init, z, u, lam_scaled,
                             max_passes=max_passes, tol_abs=tol_abs,
                             tol_rel=tol_rel)

    lam = lambda_sequence(p, n, lambda_type, q)
    path = run_path(
        lam, np.abs(xty), solve, n=n, p_total=p, m=1, intercept=False,
        null_deviance=yty, sigma=sigma, n_sigma=n_sigma,
        lambda_min_ratio=lambda_min_ratio, screening=False,
        max_variables=max_variables, tol_dev_change=tol_dev_change,
        tol_dev_ratio=tol_dev_ratio,
    )
    betas = path.betas[:, :, 0]
    # rescale to original units (src/rescale.h:8-31)
    out = np.zeros((len(betas), p + 1))
    bscaled = betas * (std["y_scale"] / std["x_scale"])[np.newaxis, :]
    out[:, 1:] = bscaled
    out[:, 0] = std["y_center"] - bscaled @ std["x_center"]
    y_var = std["y_scale"] ** 2
    return dict(
        betas=out,
        sigma=path.sigma,
        dev_ratios=path.deviance_ratios,
        deviances=path.deviances * y_var,
        null_dev=yty * y_var,
        passes=path.passes,
        n_unique=path.n_unique,
        lam=lam,
        x_center=std["x_center"],
        x_scale=std["x_scale"],
        y_center=std["y_center"],
        y_scale=std["y_scale"],
    )


def subtract_stats(total: dict, fold: dict) -> dict:
    """Train-split moments = total minus held-out fold (additivity)."""
    return dict(
        gram=total["gram"] - fold["gram"],
        xty=total["xty"] - fold["xty"],
        sums_x=total["sums_x"] - fold["sums_x"],
        yty=total["yty"] - fold["yty"],
        sum_y=total["sum_y"] - fold["sum_y"],
        n=total["n"] - fold["n"],
    )


def mse_from_stats(raw: dict, beta_with_intercept: np.ndarray) -> float:
    """Exact mean((y - b0 - X b)^2) on the rows behind ``raw`` — no data
    pass: expands the square into the raw moments."""
    b0 = float(beta_with_intercept[0])
    b = np.asarray(beta_with_intercept[1:], dtype=np.float64)
    n = raw["n"]
    ss = (
        raw["yty"]
        - 2.0 * float(b @ raw["xty"])
        - 2.0 * b0 * raw["sum_y"]
        + 2.0 * b0 * float(b @ raw["sums_x"])
        + float(b @ raw["gram"] @ b)
        + b0 * b0 * n
    )
    return ss / n
