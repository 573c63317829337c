"""SLOPE solvers: FISTA (all families) and ADMM (gaussian, Gram-based).

The solvers are written against the ``Design`` interface
(`prague_spark.design`): every data-sized quantity (primal/dual objective,
gradient ``X^T g``) is produced by the design, which may be

- in-core NumPy (small problems collected to the driver),
- a distributed Spark design (one fused ``mapInArrow`` aggregation per
  evaluation — the MLlib cost-aggregator pattern), or
- a Gram design (gaussian only): X^T X and X^T y computed *once* with a
  single distributed pass, after which every solver iteration is
  driver-side O(p^2) with **zero further passes over the data** — the
  architecture that scales to 100 TB.

Algorithm semantics follow the reference: FISTA with backtracking line
search and Nesterov momentum (``src/families/family.h:87-223`` in
jolars/prague), ADMM with over-relaxation alpha=1.5 and the Boyd
primal/dual residual stopping rule (``src/families/gaussian.h:48-233``).
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, field

import numpy as np

from .prox import sorted_l1_prox, sorted_l1_norm
from .screening import infeasibility

_EPS = np.finfo(np.float64).eps


@dataclass
class FitResult:
    beta: np.ndarray  # (p, m)
    passes: int
    deviance: float
    primals: list = field(default_factory=list)
    duals: list = field(default_factory=list)
    time: list = field(default_factory=list)


def fista(
    design,
    beta0: np.ndarray,
    lam: np.ndarray,
    *,
    n_unpenalized: int = 0,
    max_passes: int = 10**6,
    tol_rel_gap: float = 1e-5,
    tol_infeas: float = 1e-3,
    diagnostics: bool = False,
    fixed_learning_rate: float | None = None,
    initial_learning_rate: float | None = None,
) -> FitResult:
    """Proximal gradient with backtracking + momentum.

    ``lam`` has length (p - n_unpenalized) * m and applies to the flattened
    (column-major) tail rows of beta; the first ``n_unpenalized`` rows
    (intercept) are unpenalized, mirroring ``src/families/family.h:138-148``.

    ``fixed_learning_rate``: when the family has a provable global
    Lipschitz bound (binomial: eigmax(X'X)/4, multinomial: eigmax/2,
    gaussian: eigmax), pass 1/L here — the backtracking line search (one
    extra objective evaluation per probe, i.e. one extra *data pass* on a
    distributed design) is skipped entirely.

    ``initial_learning_rate``: seed the BACKTRACKING search with an
    estimated step instead of 1.0 — used when the estimate is good but
    not provably <= 1/L (e.g. a power-iteration eigmax, which converges
    from below): the majorization check catches an over-large step and
    halves it, so correctness never rests on the estimate's accuracy.
    Ignored when ``fixed_learning_rate`` is set.
    """
    beta = np.array(beta0, dtype=np.float64)
    if beta.ndim == 1:
        beta = beta[:, np.newaxis]
    p, m = beta.shape
    lam = np.asarray(lam, dtype=np.float64).ravel()

    beta_tilde = beta.copy()
    beta_tilde_old = beta.copy()

    learning_rate = (
        fixed_learning_rate
        if fixed_learning_rate
        else (initial_learning_rate if initial_learning_rate else 1.0)
    )
    eta = 0.5  # line search shrink
    t = 1.0  # momentum

    primals: list[float] = []
    duals: list[float] = []
    times: list[float] = []
    t0 = _time.monotonic()

    small = np.sqrt(_EPS)
    passes = 0
    deviance = np.nan
    f_prev = np.inf
    while passes < max_passes:
        g, G, grad = design.eval(beta)
        h = sorted_l1_norm(beta[n_unpenalized:], lam) if lam.size else 0.0
        f = g + h
        deviance = 2.0 * g

        infeas = (
            infeasibility(grad[n_unpenalized:].ravel(order="F"), lam) if lam.size else 0.0
        )
        optimal = abs(f - G) / max(small, abs(f)) < tol_rel_gap
        feasible = infeas <= max(small, tol_infeas * lam[0]) if lam.size else True
        # The family dual is a valid bound only where the residual is
        # orthogonal to the UNPENALIZED (intercept) columns — on centered
        # designs that holds automatically, but on scale-only (sparse)
        # designs the gap can close at a point whose intercept gradient is
        # still large. Require stationarity of the unpenalized block too.
        unpen_ok = (
            n_unpenalized == 0
            or float(np.abs(grad[:n_unpenalized]).max())
            <= max(small, tol_infeas * (lam[0] if lam.size else 1.0))
        )

        if diagnostics:
            times.append(_time.monotonic() - t0)
            primals.append(f)
            duals.append(G)

        if optimal and feasible and unpen_ok:
            break

        # Adaptive restart (O'Donoghue & Candes 2015, "Adaptive restart for
        # accelerated gradient schemes"): if the objective went up, drop the
        # momentum. Converges to the same optimum as the reference's plain
        # FISTA but typically in far fewer passes.
        if passes > 0 and f > f_prev:
            t = 1.0
        f_prev = f

        beta_tilde_old = beta_tilde
        g_old = g
        t_old = t

        if fixed_learning_rate:
            # provably valid step: prox-gradient update with no probe
            beta_tilde = beta - learning_rate * grad
            if lam.size:
                beta_tilde[n_unpenalized:] = sorted_l1_prox(
                    beta_tilde[n_unpenalized:].ravel(order="F"), lam * learning_rate
                ).reshape((p - n_unpenalized, m), order="F")
        else:
            # backtracking line search (src/families/family.h:176-201)
            halved = False
            while True:
                beta_tilde = beta - learning_rate * grad
                if lam.size:
                    beta_tilde[n_unpenalized:] = sorted_l1_prox(
                        beta_tilde[n_unpenalized:].ravel(order="F"), lam * learning_rate
                    ).reshape((p - n_unpenalized, m), order="F")
                d = (beta_tilde - beta).ravel(order="F")
                g = design.primal(beta_tilde)
                q = (
                    g_old
                    + float(np.dot(d, grad.ravel(order="F")))
                    + (1.0 / (2.0 * learning_rate)) * float(np.dot(d, d))
                )
                if q >= g * (1.0 - 1e-12):
                    # gentle step-size recovery, but only when this iteration
                    # needed no halving — keeps extra line-search probes (a
                    # full distributed pass each on SparkGlmDesign) rare
                    if not halved:
                        learning_rate = min(learning_rate * 1.1, 1.0)
                    break
                learning_rate *= eta
                halved = True

        t = 0.5 * (1.0 + np.sqrt(1.0 + 4.0 * t_old * t_old))
        beta = beta_tilde + (t_old - 1.0) / t * (beta_tilde - beta_tilde_old)
        passes += 1

    return FitResult(beta=beta, passes=passes, deviance=deviance,
                     primals=primals, duals=duals, time=times)


def prox_newton(
    design,
    beta0: np.ndarray,
    lam: np.ndarray,
    *,
    n_unpenalized: int = 0,
    max_passes: int = 10**6,
    max_outer: int = 100,
    tol_rel_gap: float = 1e-5,
    tol_infeas: float = 1e-3,
    tol_abs: float = 1e-5,
    tol_rel: float = 1e-4,
    diagnostics: bool = False,
) -> FitResult:
    """Distributed prox-Newton (IRLS) for the iterative families.

    Minimizes the same objective as the reference's FISTA
    (``src/families/family.h:87-223``) with the same duality-gap +
    infeasibility stopping rule, but restructured for the cluster cost
    model: each OUTER iteration is ONE fused scan of the data producing
    (primal, dual, gradient, weighted Gram X^T W X); the SLOPE-penalized
    quadratic subproblem

        min_b  grad.(b - b_t) + 0.5 (b - b_t)' H (b - b_t) + J(b; lam)

    is then solved entirely on the driver with the gaussian ADMM machinery
    (``admm_gaussian`` — the reference's own inner solver shape,
    ``src/families/gaussian.h``). A Lee–Sun–Saunders line search on the
    true objective guards descent; the unit step is accepted almost
    always, so a path point typically costs 3–8 data passes instead of
    FISTA's hundreds. ``passes`` counts data scans.
    """
    beta = np.array(beta0, dtype=np.float64)
    if beta.ndim == 1:
        beta = beta[:, np.newaxis]
    p, m = beta.shape
    pm = p * m
    lam = np.asarray(lam, dtype=np.float64).ravel()

    # coordinate permutation: unpenalized (intercept) rows first, so the
    # sorted-L1 prox inside ADMM applies to the trailing lam.size coords
    unpen = np.array(
        [j + p * k for k in range(m) for j in range(n_unpenalized)], dtype=np.intp
    )
    pen = np.setdiff1d(np.arange(pm, dtype=np.intp), unpen)
    perm = np.concatenate([unpen, pen])
    inv_perm = np.empty(pm, dtype=np.intp)
    inv_perm[perm] = np.arange(pm, dtype=np.intp)

    primals: list[float] = []
    duals: list[float] = []
    times: list[float] = []
    t0 = _time.monotonic()
    small = np.sqrt(_EPS)

    g, G, grad, H = design.eval_hessian(beta)
    passes = 1
    deviance = 2.0 * g
    for _ in range(max_outer):
        h_pen = sorted_l1_norm(beta[n_unpenalized:], lam) if lam.size else 0.0
        f = g + h_pen
        deviance = 2.0 * g

        infeas = (
            infeasibility(grad[n_unpenalized:].ravel(order="F"), lam)
            if lam.size
            else 0.0
        )
        optimal = abs(f - G) / max(small, abs(f)) < tol_rel_gap
        feasible = infeas <= max(small, tol_infeas * lam[0]) if lam.size else True
        # see fista: the dual bound needs the unpenalized block stationary
        unpen_ok = (
            n_unpenalized == 0
            or float(np.abs(grad[:n_unpenalized]).max())
            <= max(small, tol_infeas * (lam[0] if lam.size else 1.0))
        )
        if diagnostics:
            times.append(_time.monotonic() - t0)
            primals.append(f)
            duals.append(G)
        if (optimal and feasible and unpen_ok) or passes >= max_passes:
            break

        # inner: SLOPE-penalized quadratic model on the driver.
        # 0.5 b'Hb - c'b with c = H b_t - grad reproduces the model up to a
        # constant; permuted so penalized coordinates are trailing.
        bvec = beta.ravel(order="F")
        c = H @ bvec - grad.ravel(order="F")
        gd = GramData(gram=H[np.ix_(perm, perm)], xty=c[perm], yty=0.0, n=getattr(design, "n", 1))
        w_eig, _ = gd.eigh()
        eig_max = max(float(w_eig.max()), small)
        rho = admm_rho(eig_max, float(lam.max()) if lam.size else 1.0)
        # the inner solve must be TIGHTER than the outer duality-gap stop:
        # its residual is the floor under the achievable gap (driver-side
        # iterations are cheap; data passes are not)
        res, _, _ = admm_gaussian(
            gd, bvec[perm], bvec[perm].copy(), np.zeros(pm), lam, rho,
            max_passes=10**5, tol_abs=tol_abs * 1e-3, tol_rel=tol_rel * 1e-3,
        )
        beta_new = res.beta.ravel()[inv_perm].reshape((p, m), order="F")

        d = beta_new - beta
        if not np.any(d):
            break
        J_new = sorted_l1_norm(beta_new[n_unpenalized:], lam) if lam.size else 0.0
        descent = float(grad.ravel(order="F") @ d.ravel(order="F")) + J_new - h_pen
        alpha = 1.0
        floor = False
        while True:
            cand = beta + alpha * d
            g_c, G_c, grad_c, H_c = design.eval_hessian(cand)
            passes += 1
            f_c = g_c + (
                sorted_l1_norm(cand[n_unpenalized:], lam) if lam.size else 0.0
            )
            if f_c <= f + 1e-4 * alpha * descent:
                break
            if alpha < 1e-8 or passes >= max_passes:
                floor = True
                break
            alpha *= 0.5
        if floor and f_c >= f:
            # numerical floor: the model step cannot decrease the true
            # objective any further — keep the incumbent and stop
            break
        beta, g, G, grad, H = cand, g_c, G_c, grad_c, H_c

    deviance = 2.0 * g
    return FitResult(beta=beta, passes=passes, deviance=deviance,
                     primals=primals, duals=duals, time=times)


@dataclass
class GramData:
    """Gaussian sufficient statistics: one distributed pass captures
    everything the gaussian path needs (reference's one-time factorization,
    ``src/owl.cpp:178-203``).

    Two representations:
    - dense: ``gram`` holds X'X (p, p);
    - low-rank (the reference's Woodbury / matrix-inversion-lemma form for
      wide data, ``src/families/gaussian.h:88-93``, ``src/owl.cpp:183-187``):
      ``gram`` is None and (v_factor, w_factor) hold the rank-r
      eigenfactorization X'X = V diag(w) V' with V (p, r) orthonormal,
      built from the n x n kernel XX' when p > n — O(n^2 p + n^3) instead
      of O(p^2 n + p^3)."""

    gram: np.ndarray | None  # X^T X, (p, p); None for the low-rank form
    xty: np.ndarray  # X^T y, (p,)
    yty: float  # y^T y
    n: int

    v_factor: np.ndarray | None = None  # (p, r) orthonormal columns
    w_factor: np.ndarray | None = None  # (r,) eigenvalues

    _eig: tuple[np.ndarray, np.ndarray] | None = None

    @property
    def low_rank(self) -> bool:
        return self.gram is None

    @property
    def p(self) -> int:
        return self.v_factor.shape[0] if self.low_rank else self.gram.shape[0]

    @classmethod
    def from_xy(cls, X: np.ndarray, Y: np.ndarray) -> "GramData":
        """Build from in-core arrays, choosing the kernel route when the
        design is wide (p > n)."""
        X = np.asarray(X, dtype=np.float64)
        n, p = X.shape
        xty = (X.T @ Y).ravel()
        yty = float(np.sum(np.asarray(Y) ** 2))
        if p <= n:
            return cls(gram=X.T @ X, xty=xty, yty=yty, n=n)
        K = X @ X.T  # (n, n)
        wk, U = np.linalg.eigh(K)
        keep = wk > max(float(wk.max()), 1.0) * 1e-12 if wk.size else wk > 0
        wk, U = wk[keep], U[:, keep]
        V = (X.T @ U) / np.sqrt(wk)[np.newaxis, :]
        return cls(gram=None, xty=xty, yty=yty, n=n, v_factor=V, w_factor=wk)

    def eigh(self):
        if self.low_rank:
            return self.w_factor, self.v_factor
        if self._eig is None:
            w, v = np.linalg.eigh(self.gram)
            self._eig = (w, v)
        return self._eig

    def matvec(self, b: np.ndarray) -> np.ndarray:
        if self.low_rank:
            return self.v_factor @ (self.w_factor * (self.v_factor.T @ b))
        return self.gram @ b

    def quad(self, b: np.ndarray) -> float:
        if self.low_rank:
            t = self.v_factor.T @ b
            return float(t @ (self.w_factor * t))
        return float(b @ (self.gram @ b))

    def subset(self, idx: np.ndarray) -> "GramData":
        idx = np.asarray(idx)
        if self.low_rank:
            # screening active sets are small: densify the sub-block
            # exactly (V_idx diag(w) V_idx' == (X'X)[idx, idx])
            Vi = self.v_factor[idx]
            return GramData(
                gram=(Vi * self.w_factor[np.newaxis, :]) @ Vi.T,
                xty=self.xty[idx], yty=self.yty, n=self.n,
            )
        return GramData(
            gram=self.gram[np.ix_(idx, idx)], xty=self.xty[idx], yty=self.yty, n=self.n
        )


def admm_gaussian(
    gram: GramData,
    beta0: np.ndarray,
    z: np.ndarray,
    u: np.ndarray,
    lam: np.ndarray,
    rho: float,
    *,
    n_unpenalized: int = 0,
    max_passes: int = 10**6,
    tol_abs: float = 1e-5,
    tol_rel: float = 1e-4,
    diagnostics: bool = False,
) -> FitResult:
    """ADMM for the gaussian family on Gram statistics only.

    The beta-update solves ``(G + rho I) beta = q`` via a cached
    eigendecomposition of G (computed once per active set, reused across
    the whole path — the reference's cached Cholesky, ``src/owl.cpp:178-203``
    — but expressed so that *no* n-sized object is ever touched).
    """
    alpha = 1.5  # over-relaxation, src/families/gaussian.h:14-15
    p = gram.p
    n = gram.n
    lam = np.asarray(lam, dtype=np.float64).ravel()

    w, v = gram.eigh()
    denom = w + rho

    beta = np.array(beta0, dtype=np.float64).ravel()
    z = np.array(z, dtype=np.float64).ravel()
    u = np.array(u, dtype=np.float64).ravel()

    primals: list[float] = []
    duals: list[float] = []
    times: list[float] = []
    t0 = _time.monotonic()

    passes = 0
    while passes < max_passes:
        passes += 1
        q = gram.xty + rho * (z - u)
        if gram.low_rank:
            # Woodbury in eigen form: (G + rho I)^-1 q with G = V W V'
            # splits into the range of V and its complement (eigenvalue 0)
            t = v.T @ q
            beta = v @ (t / denom) + (q - v @ t) / rho
        else:
            beta = v @ ((v.T @ q) / denom)

        z_old = z.copy()
        beta_hat = alpha * beta + (1.0 - alpha) * z_old

        z = beta_hat + u
        if lam.size:
            z[p - lam.size :] = sorted_l1_prox(z[p - lam.size :], lam / rho)

        u = u + (beta_hat - z)

        r_norm = float(np.linalg.norm(beta - z))
        s_norm = float(np.linalg.norm(rho * (z - z_old)))
        # Boyd's stopping rule: the absolute term scales with sqrt(dim of
        # the iterate) = sqrt(p), NOT the number of data rows — using n
        # here would loosen the stop as the data grows.
        eps_primal = np.sqrt(p) * tol_abs + tol_rel * max(
            np.linalg.norm(beta), np.linalg.norm(z)
        )
        eps_dual = np.sqrt(p) * tol_abs + tol_rel * float(np.linalg.norm(rho * u))

        if diagnostics:
            primals.append(r_norm)
            duals.append(s_norm)
            times.append(_time.monotonic() - t0)

        if r_norm < eps_primal and s_norm < eps_dual:
            break

    # deviance = 2 * (0.5 ||y - Xz||^2) from Gram identities
    deviance = gram.yty - 2.0 * float(z @ gram.xty) + gram.quad(z)
    return FitResult(
        beta=z[:, np.newaxis], passes=passes, deviance=deviance,
        primals=primals, duals=duals, time=times,
    ), z, u


def admm_rho(gram_max_eig: float, lam_max_sigma: float) -> float:
    """rho heuristic: eigmax^(1/3) * (max penalty)^(2/3) (``src/owl.cpp:188-190``)."""
    return float(gram_max_eig ** (1.0 / 3.0) * lam_max_sigma ** (2.0 / 3.0))


def gaussian_step(
    gram: GramData,
    beta0: np.ndarray,
    z: np.ndarray,
    u: np.ndarray,
    lam: np.ndarray,
    *,
    max_passes: int = 10**6,
    tol_abs: float = 1e-5,
    tol_rel: float = 1e-4,
    diagnostics: bool = False,
):
    """One gaussian path point: ADMM on the Gram statistics with the
    reference's rho heuristic, warm-started from the previous point's
    ``(z, u)``. Returns ``(FitResult, z, u)``."""
    w, _ = gram.eigh()
    rho = admm_rho(float(w.max()), float(lam.max()) if lam.size else 1.0)
    return admm_gaussian(
        gram, np.ravel(beta0), z, u, lam, rho, max_passes=max_passes,
        tol_abs=tol_abs, tol_rel=tol_rel, diagnostics=diagnostics,
    )


# FISTA's fixed step is factor / (a bound on eigmax(X'X)): the families'
# Hessian weights are at most 1 (gaussian), 1/4 (binomial) and 1/2
# (multinomial). Poisson has no global bound and keeps the backtracking
# line search.
STEP_FACTOR = {"gaussian": 1.0, "binomial": 4.0, "multinomial": 2.0}


def lipschitz_step(family: str, eig_bound: float) -> float | None:
    """Fixed FISTA step for ``family`` from an upper bound on eigmax(X'X),
    or None (backtracking) when the family has no global bound or the
    bound is not positive."""
    factor = STEP_FACTOR.get(family)
    return factor / eig_bound if factor is not None and eig_bound > 0 else None
