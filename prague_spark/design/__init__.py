"""Design-matrix abstractions the solvers run against.

Three interchangeable implementations of the same three-method interface
(``eval``, ``primal``, ``subset``); the FISTA/ADMM code in
``prague_spark.core.solver`` is agnostic to which one it gets:

- :class:`LocalDesign` — in-core NumPy, used when the (standardized)
  design fits comfortably on the driver. This is the reference's own
  regime (its largest problem is 1000 x 500) and the fast path for CV.
- :class:`GramGaussianDesign` — gaussian only: built from ONE distributed
  pass (``gram_xty_pass``); every solver evaluation afterwards is
  driver-side O(p^2) with no data passes. The scale architecture for
  least-squares SLOPE at 100 TB.
- :class:`SparkGlmDesign` — binomial/poisson/multinomial: each evaluation
  is one fused Arrow-batched scan of the cached feature DataFrame
  producing [primal, dual, X^T grad] partials per partition (the MLlib
  cost-aggregator shape).

Column pruning for active-set fits (the Spark analogue of the reference's
``matrixSubset``, ``src/utils.h:7-25``) happens inside the Arrow batch:
the scan still reads the cached vector column, but all linear algebra is
restricted to the active indices.
"""

from __future__ import annotations

import numpy as np

from ..core.families import Family
from ..core.solver import GramData
from .linalg import _batch_xy, gram_xty_pass, partial_aggregate, xtv_pass

__all__ = [
    "LocalDesign",
    "SparseLocalDesign",
    "GramGaussianDesign",
    "SparkGlmDesign",
    "GramData",
    "gram_xty_pass",
    "xtv_pass",
]


class LocalDesign:
    """In-core design: X (n, p) and Y (n, m) NumPy arrays."""

    def __init__(self, X: np.ndarray, Y: np.ndarray, family: Family):
        self.X = np.asarray(X, dtype=np.float64)
        Y = np.asarray(Y, dtype=np.float64)
        self.Y = Y[:, np.newaxis] if Y.ndim == 1 else Y
        self.family = family
        self.n, self.p = self.X.shape
        self.m = self.Y.shape[1]

    def eval(self, beta):
        lin_pred = self.X @ beta
        g = self.family.primal(self.Y, lin_pred)
        G = self.family.dual(self.Y, lin_pred)
        grad = self.X.T @ self.family.pseudo_gradient(self.Y, lin_pred)
        return g, G, grad

    def primal(self, beta):
        return self.family.primal(self.Y, self.X @ beta)

    def full_gradient(self, beta):
        lin_pred = self.X @ beta
        return self.X.T @ self.family.pseudo_gradient(self.Y, lin_pred)

    def eval_hessian(self, beta):
        """(primal, dual, gradient, Hessian) at beta — the prox-Newton
        outer-iteration bundle. Hessian is (p*m, p*m) in F-ravel order."""
        lin_pred = self.X @ beta
        g = self.family.primal(self.Y, lin_pred)
        G = self.family.dual(self.Y, lin_pred)
        grad = self.X.T @ self.family.pseudo_gradient(self.Y, lin_pred)
        W = self.family.hessian_weights(self.Y, lin_pred)
        H = _weighted_gram(self.X, W if W.ndim > 1 else W[:, np.newaxis],
                           self.m, multinomial=self.family.name == "multinomial")
        return g, G, grad, H

    def subset(self, idx):
        return LocalDesign(self.X[:, np.asarray(idx)], self.Y, self.family)

    def gram(self) -> GramData:
        # from_xy picks the reference's Woodbury / kernel route when the
        # design is wide (p > n): the n x n eigenfactorization replaces
        # the p x p one (src/families/gaussian.h:88-93, owl.cpp:183-187)
        return GramData.from_xy(self.X, self.Y)


def _pair_scatter(cell, weights, p: int) -> np.ndarray:
    """(p, p) sums of ``weights`` by flat cell index ``cell`` (i*p + j).
    float64 also without pairs: np.bincount of an empty input is int64."""
    out = np.bincount(cell, weights=weights, minlength=p * p)
    return out.astype(np.float64, copy=False).reshape(p, p)


class SparseLocalDesign:
    """In-core design over SPARSE columns — concatenated COO arrays
    (row, column-position, value) plus an implicit constant intercept
    column 0. Every solver callback is an O(nnz) vectorized matvec
    (``np.add.at`` scatter for X b, ``np.bincount`` reduce for X'r), so
    the in-core memory budget is the active NNZ, never the (n x p_act)
    dense product.

    This removes the dense-materialization cliff in ``fit_sparse``'s
    in-core subset route: a path point whose active set is too wide to
    densify under the budget (n * p_act * 8 bytes) but whose fetched
    sparse columns are tiny still solves driver-side — with
    :meth:`power_eigmax` supplying a TIGHT Lipschitz constant for the
    fixed-step FISTA (the distributed fallback's trace bound can be
    orders of magnitude loose at wide p, costing hundreds of passes).
    Duplicate (row, col) entries sum, matching the distributed groupBy
    semantics."""

    def __init__(
        self,
        rows: np.ndarray,
        cols: np.ndarray,
        vals: np.ndarray,
        n: int,
        p: int,
        Y: np.ndarray,
        family: Family,
        icol: float = 1.0,
    ):
        self.rows = np.asarray(rows, dtype=np.intp)
        self.cols = np.asarray(cols, dtype=np.intp)  # positions in [1, p)
        self.vals = np.asarray(vals, dtype=np.float64)
        Y = np.asarray(Y, dtype=np.float64)
        self.Y = Y[:, np.newaxis] if Y.ndim == 1 else Y
        self.n, self.p, self.m = int(n), int(p), self.Y.shape[1]
        self.family = family
        self.icol = float(icol)

    def _lp(self, beta):
        lp = np.tile(self.icol * beta[0], (self.n, 1))
        if len(self.rows):
            np.add.at(lp, self.rows, self.vals[:, np.newaxis] * beta[self.cols])
        return lp

    def _xt(self, R):
        """X' R for per-row R (n, m): bincount per target + intercept row."""
        out = np.empty((self.p, self.m))
        out[0] = self.icol * R.sum(axis=0)
        for t in range(self.m):
            out[1:, t] = np.bincount(
                self.cols - 1,
                weights=self.vals * R[self.rows, t],
                minlength=self.p - 1,
            )
        return out

    def eval(self, beta):
        lp = self._lp(beta)
        g = self.family.primal(self.Y, lp)
        G = self.family.dual(self.Y, lp)
        pg = self.family.pseudo_gradient(self.Y, lp)
        return g, G, self._xt(pg if pg.ndim > 1 else pg[:, np.newaxis])

    def primal(self, beta):
        return self.family.primal(self.Y, self._lp(beta))

    def full_gradient(self, beta):
        pg = self.family.pseudo_gradient(self.Y, self._lp(beta))
        return self._xt(pg if pg.ndim > 1 else pg[:, np.newaxis])

    def hess_pair_volume(self) -> int:
        """sum_r nnz_r^2 over the FEATURE entries — the size of the
        within-row pair expansion :meth:`eval_hessian` scatters from
        (the intercept row/column is handled analytically, so it never
        enters the expansion)."""
        if not hasattr(self, "_hpv"):
            if len(self.rows) == 0:
                self._hpv = 0
            else:
                counts = np.bincount(self.rows, minlength=self.n)
                self._hpv = int((counts.astype(np.float64) ** 2).sum())
        return self._hpv

    def _hess_pairs(self):
        """Cached within-row COO pair expansion (ci*p + cj, v_i*v_j, row):
        X^T diag(w) X over the feature block is then ONE ``np.bincount``
        over the flat (p x p) cell index per weight vector — O(sum_r
        nnz_r^2), never the dense n*p_act product; bincount adds each
        cell's pairs in input order, like a sequential 2-D ``np.add.at``
        scatter, at a fraction of its cost. All ordered pairs (both (a,b) and
        (b,a) plus the diagonal) are emitted, so the scattered block is
        exactly symmetric; duplicate (row, col) triplets expand into cross
        pairs whose products sum to the densified (sum v)^2, matching
        the dense route's np.add.at materialization."""
        if not hasattr(self, "_pairs"):
            if len(self.rows) == 0:
                self._pairs = (
                    np.empty(0, dtype=np.intp), np.empty(0),
                    np.empty(0, dtype=np.intp),
                )
            else:
                order = np.argsort(self.rows, kind="stable")
                r = self.rows[order]
                c = self.cols[order]
                v = self.vals[order]
                starts = np.flatnonzero(np.r_[True, r[1:] != r[:-1]])
                counts = np.diff(np.r_[starts, len(r)])
                k2 = counts * counts
                P = int(k2.sum())
                base = np.repeat(starts, k2)
                cum = np.cumsum(k2) - k2
                off = np.arange(P, dtype=np.intp) - np.repeat(cum, k2)
                kk = np.repeat(counts, k2)
                ia = base + off // kk
                ib = base + off % kk
                self._pairs = (c[ia] * self.p + c[ib], v[ia] * v[ib], r[ia])
        return self._pairs

    def eval_hessian(self, beta):
        """(primal, dual, gradient, Hessian) at beta — the prox-Newton
        bundle (LocalDesign.eval_hessian's contract) computed from the
        COO arrays: H block (k, l) = X^T diag(w_kl) X via the cached
        pair expansion + analytic intercept row/column. Same values as
        the dense ``_weighted_gram`` (summation order differs — the
        solvers converge to their tolerances either way)."""
        lp = self._lp(beta)
        g = self.family.primal(self.Y, lp)
        G = self.family.dual(self.Y, lp)
        pg = self.family.pseudo_gradient(self.Y, lp)
        grad = self._xt(pg if pg.ndim > 1 else pg[:, np.newaxis])
        W = self.family.hessian_weights(self.Y, lp)
        if W.ndim == 1:
            W = W[:, np.newaxis]
        cell, vv, rr = self._hess_pairs()
        p, m = self.p, self.m
        multinomial = self.family.name == "multinomial"

        def block(w):
            blk = _pair_scatter(cell, vv * w[rr], p)
            blk[0, 0] = self.icol * self.icol * float(w.sum())
            if len(self.rows):
                edge = self.icol * np.bincount(
                    self.cols - 1, weights=self.vals * w[self.rows],
                    minlength=p - 1,
                )
            else:
                edge = np.zeros(p - 1)
            blk[0, 1:] = edge
            blk[1:, 0] = edge
            return blk

        if not multinomial:
            return g, G, grad, block(W[:, 0])
        H = np.empty((p * m, p * m), dtype=np.float64)
        for k in range(m):
            for l in range(k, m):
                w_kl = W[:, k] * ((1.0 if k == l else 0.0) - W[:, l])
                blk = block(w_kl)
                H[k * p:(k + 1) * p, l * p:(l + 1) * p] = blk
                if l != k:
                    H[l * p:(l + 1) * p, k * p:(k + 1) * p] = blk
        return g, G, grad, H

    def gram(self) -> GramData:
        """Gaussian sufficient statistics (X'X, X'y, y'y) computed from
        the cached within-row pair expansion — the sparse analogue of
        ``LocalDesign.gram()``: X'X is :meth:`eval_hessian`'s unit-weight
        block (one ``np.bincount`` scatter over O(sum_r nnz_r^2) pairs +
        the analytic intercept row/column), never the dense ``X.T @ X``
        over the densified columns. Same values as the dense product up
        to summation order; the caller prices the pair volume against
        the dense FLOPs before routing here."""
        cell, vv, _rr = self._hess_pairs()
        p = self.p
        G = _pair_scatter(cell, vv, p)
        G[0, 0] = self.icol * self.icol * float(self.n)
        if len(self.rows):
            edge = self.icol * np.bincount(
                self.cols - 1, weights=self.vals, minlength=p - 1
            )
        else:
            edge = np.zeros(p - 1)
        G[0, 1:] = edge
        G[1:, 0] = edge
        xty = self._xt(self.Y).ravel()
        yty = float(np.sum(self.Y ** 2))
        return GramData(gram=G, xty=xty, yty=yty, n=self.n)

    def power_eigmax(self, iters: int = 60, tol: float = 1e-4, seed: int = 0):
        """eigmax(X'X) by power iteration on the O(nnz) matvecs — ~iters
        cheap passes in-core buy a step size the trace bound can't give."""
        rng = np.random.default_rng(seed)
        v = rng.standard_normal(self.p)
        v /= np.linalg.norm(v)
        lam = 0.0
        for _ in range(iters):
            xv = np.full(self.n, self.icol * v[0])
            if len(self.rows):
                np.add.at(xv, self.rows, self.vals * v[self.cols])
            w = np.empty(self.p)
            w[0] = self.icol * xv.sum()
            w[1:] = np.bincount(
                self.cols - 1, weights=self.vals * xv[self.rows],
                minlength=self.p - 1,
            )
            lam_new = float(np.linalg.norm(w))
            if lam_new == 0.0:
                return 0.0
            v = w / lam_new
            if abs(lam_new - lam) <= tol * lam_new:
                lam = lam_new
                break
            lam = lam_new
        return lam


class GramGaussianDesign:
    """Gaussian design expressed purely through sufficient statistics.

    primal(b) = 0.5 (y'y - 2 b'X'y + b'Gb);  dual(b) = 0.5 y'y - 0.5 b'Gb;
    gradient(b) = Gb - X'y — identical to the reference's gaussian family
    (``src/families/gaussian.h:21-45``) evaluated without touching the data.
    """

    def __init__(self, gram_data: GramData, m: int = 1):
        self.g = gram_data
        self.n = gram_data.n
        self.p = gram_data.p
        self.m = 1

    def eval(self, beta):
        b = np.ravel(beta)
        gb = self.g.matvec(b)
        btgb = float(b @ gb)
        bxty = float(b @ self.g.xty)
        primal = 0.5 * (self.g.yty - 2.0 * bxty + btgb)
        dual = 0.5 * self.g.yty - 0.5 * btgb
        grad = (gb - self.g.xty)[:, np.newaxis]
        return primal, dual, grad

    def primal(self, beta):
        b = np.ravel(beta)
        return 0.5 * (
            self.g.yty - 2.0 * float(b @ self.g.xty) + self.g.quad(b)
        )

    def full_gradient(self, beta):
        return (self.g.matvec(np.ravel(beta)) - self.g.xty)[:, np.newaxis]

    def subset(self, idx):
        return GramGaussianDesign(self.g.subset(np.asarray(idx)))


def _weighted_gram(X: np.ndarray, W: np.ndarray, m: int, multinomial: bool) -> np.ndarray:
    """X^T W X for the IRLS Hessian, (p*m, p*m) in F-ravel coordinate
    order (index = j + p*k for feature j, target k).

    m = 1: W is the (n, 1) diagonal weight.  Multinomial: W holds class
    probabilities p_ik and block (k, l) is X^T diag(p_k (delta_kl - p_l)) X
    (the exact softmax Hessian, symmetric)."""
    n, p = X.shape
    if not multinomial:
        return (X * W[:, 0:1]).T @ X
    H = np.empty((p * m, p * m), dtype=np.float64)
    for k in range(m):
        for l in range(k, m):
            w_kl = W[:, k] * ((1.0 if k == l else 0.0) - W[:, l])
            blk = (X * w_kl[:, np.newaxis]).T @ X
            H[k * p : (k + 1) * p, l * p : (l + 1) * p] = blk
            if l != k:
                H[l * p : (l + 1) * p, k * p : (k + 1) * p] = blk
    return H


class SparkGlmDesign:
    """Distributed design over a cached DataFrame with an ``array<double>``
    feature column and a scalar (or, for multinomial, array) response.

    ``active_idx`` restricts the linear algebra to a column subset without
    rewriting the cached data (NumPy fancy-indexing inside the Arrow batch).

    Two evaluation engines behind one ``_scan`` contract:

    - **JVM codegen route** (``_scan_jvm``, p*m small): every family term
      (primal, dual, per-column gradient, Hessian cells) is a Spark SQL
      Column expression, so the whole evaluation is ONE whole-stage-codegen
      aggregate over the cached frame — no Python workers, no Arrow IPC.
      The plan is assembled as SQL text (see ``_scan_jvm``) so the py4j
      boundary is a handful of calls per evaluation. At sf0.1/local[32]
      this is ~2x faster per evaluation than the Arrow route and cuts
      the 5-point binomial path fit from ~4.6s to ~1.7s; on a cluster it
      additionally avoids shipping rows to Python workers entirely.
    - **Arrow route** (wide designs): the original ``mapInArrow`` partial
      aggregation; past ``JVM_GRAD_PM_LIMIT`` the O(pm) gradient (or
      O(pm^2) Hessian) expression tree would blow up Catalyst codegen, so
      vectorized NumPy over Arrow batches wins there.
    """

    # sum-expression budgets for the codegen route: grad scans emit
    # 2 + pm sums, Hessian scans add pm*(pm+1)/2 more. Past these the
    # generated Java method would exceed JIT-friendly size.
    JVM_GRAD_PM_LIMIT = 64
    JVM_HESS_PM_LIMIT = 16

    def __init__(self, df, x_col: str, y_col: str, family: Family,
                 p_full: int, m: int = 1, n: int | None = None,
                 active_idx: np.ndarray | None = None,
                 lgamma_const: float | None = None):
        self.df = df
        self.x_col = x_col
        self.y_col = y_col
        self.family = family
        self.p_full = p_full
        self.m = m
        self.active_idx = None if active_idx is None else np.asarray(active_idx)
        self.p = p_full if self.active_idx is None else len(self.active_idx)
        if n is None:
            n = df.count()
        self.n = n
        # poisson: sum(lgamma(y_i + 1)) is beta-independent; the JVM route
        # adds it driver-side (Spark SQL has no vectorized lgamma). Computed
        # once per fit via groupBy(y).count() and inherited by subsets.
        self._lgamma_const = lgamma_const

    def _poisson_lgamma_const(self) -> float:
        if self._lgamma_const is None:
            from ..core.families import Poisson

            # count responses have few distinct values, so this collect is
            # O(distinct y). The limit guards against a continuous-valued
            # response (distinct ~ n) silently OOMing the driver — same
            # guard as the sparse design (ops/sparse.py SparseLongDesign).
            max_distinct = 1_000_000
            rows = (
                self.df.groupBy(self.y_col)
                .count()
                .limit(max_distinct + 1)
                .collect()
            )
            if len(rows) > max_distinct:
                raise ValueError(
                    "poisson fit: response has more than "
                    f"{max_distinct} distinct values — not a count "
                    "response; the lgamma(y+1) constant cannot be set up "
                    "driver-side"
                )
            ys = np.array([float(r[self.y_col]) for r in rows])
            cts = np.array([float(r["count"]) for r in rows])
            self._lgamma_const = float(np.sum(cts * Poisson._lgamma1p(ys)))
        return self._lgamma_const

    def _scan_jvm(self, beta, need_grad: bool, need_hess: bool):
        """One whole-stage-codegen aggregate producing the same
        (primal, dual[, grad[, hessian]]) bundle as the Arrow route.

        The plan is assembled as SQL TEXT through a handful of
        ``selectExpr`` calls: building the same tree out of ``Column``
        objects costs one py4j round-trip per expression node (~0.4s per
        evaluation for a 30-node tree), which would dominate the scan
        itself. String assembly is driver-side Python (microseconds) and
        the JVM parses it once per call."""
        fam = self.family.name
        p_act, m = self.p, self.m
        pm = p_act * m
        idx = (
            self.active_idx
            if self.active_idx is not None
            else np.arange(self.p_full, dtype=np.intp)
        )
        beta = np.ascontiguousarray(beta, dtype=np.float64).reshape(p_act, m)
        bflat = beta.ravel(order="F")

        EXP_MAX = "709.78D"
        TINY = repr(float(np.finfo(np.float64).tiny)) + "D"
        HUGE = repr(float(np.finfo(np.float64).max)) + "D"

        def lit(v: float) -> str:
            return f"{float(v)!r}D"

        def texp(v: str) -> str:
            return f"EXP(LEAST({v}, {EXP_MAX}))"

        def tlog(v: str) -> str:
            return f"LN(LEAST(GREATEST({v}, {TINY}), {HUGE}))"

        # stage 1: active feature elements + response scalar(s)
        proj1 = [f"{self.x_col}[{int(idx[i])}] AS _f{i}" for i in range(p_act)]
        if m == 1:
            proj1.append(f"CAST({self.y_col} AS DOUBLE) AS _yv")
        else:
            proj1 += [f"{self.y_col}[{k}] AS _yk{k}" for k in range(m)]
        # stage 2: linear predictors (referencing _f columns once each)
        lp_exprs = []
        for k in range(m):
            terms = " + ".join(
                f"_f{i} * {lit(bflat[i + p_act * k])}" for i in range(p_act)
            )
            lp_exprs.append(f"({terms}) AS _lp{k}")
        stages = [proj1, ["*"] + lp_exprs]

        lgamma_add = 0.0
        if fam == "gaussian":
            primal = "0.5D * (_yv - _lp0) * (_yv - _lp0)"
            dual = "0.5D * _yv * _yv - 0.5D * _lp0 * _lp0"
            pgs = ["(_lp0 - _yv)"]
            ws = {(0, 0): "1.0D"}
        elif fam == "binomial":
            # y in {-1, +1} (core/families.py Binomial)
            stages.append(
                [
                    "*",
                    f"1.0D / (1.0D + {texp('_yv * _lp0')}) AS _rr",
                    f"1.0D / (1.0D + {texp('-_lp0')}) AS _s",
                ]
            )
            primal = tlog(f"1.0D + {texp('-_yv * _lp0')}")
            dual = (
                f"(_rr - 1.0D) * {tlog('1.0D - _rr')} - _rr * {tlog('_rr')}"
            )
            pgs = ["(-_yv * _rr)"]
            ws = {(0, 0): "(_s * (1.0D - _s))"}
        elif fam == "poisson":
            stages.append(["*", f"{texp('_lp0')} AS _mu"])
            primal = "-(_yv * _lp0 - _mu)"
            dual = "-(_mu * (_lp0 - 1.0D))"
            pgs = ["(_mu - _yv)"]
            ws = {(0, 0): "_mu"}
            lgamma_add = self._poisson_lgamma_const()
        elif fam == "multinomial":
            lp_max = (
                "_lp0" if m == 1 else "GREATEST(" + ", ".join(f"_lp{k}" for k in range(m)) + ")"
            )
            lse_in = " + ".join(
                [texp(f"-({lp_max})")] + [texp(f"_lp{k} - ({lp_max})") for k in range(m)]
            )
            stages.append(["*", f"({tlog(lse_in)} + {lp_max}) AS _lse"])
            stages.append(
                ["*"] + [f"{texp(f'_lp{k} - _lse')} AS _pk{k}" for k in range(m)]
            )
            primal = "_lse - (" + " + ".join(f"_yk{k} * _lp{k}" for k in range(m)) + ")"
            dual = "_lse - (" + " + ".join(f"_lp{k} * _pk{k}" for k in range(m)) + ")"
            pgs = [f"(_pk{k} - _yk{k})" for k in range(m)]
            ws = {}
            for k in range(m):
                for q in range(k, m):
                    delta = "1.0D" if k == q else "0.0D"
                    ws[(k, q)] = f"(_pk{k} * ({delta} - _pk{q}))"
        else:  # pragma: no cover - families are closed set
            raise ValueError(fam)

        aggs = [f"SUM({primal}) AS _pr", f"SUM({dual}) AS _du"]
        if need_grad:
            for k in range(m):
                for i in range(p_act):
                    aggs.append(f"SUM(_f{i} * {pgs[k]}) AS _g_{i}_{k}")
        if need_hess:
            # upper triangle of the (pm, pm) Hessian in F-ravel coordinates
            # (index = i + p*k); symmetrized driver-side
            for a in range(pm):
                ia, ka = a % p_act, a // p_act
                for bb in range(a, pm):
                    ib, kb = bb % p_act, bb // p_act
                    wkey = (min(ka, kb), max(ka, kb))
                    aggs.append(
                        f"SUM(_f{ia} * _f{ib} * {ws[wkey]}) AS _h_{a}_{bb}"
                    )
        q = self.df
        for stage in stages:
            q = q.selectExpr(*stage)
        row = q.selectExpr(*aggs).first()
        primal_v = float(row["_pr"]) + lgamma_add
        dual_v = float(row["_du"]) + lgamma_add
        grad = None
        if need_grad:
            grad = np.empty((p_act, m), dtype=np.float64)
            for k in range(m):
                for i in range(p_act):
                    v = row[f"_g_{i}_{k}"]
                    grad[i, k] = 0.0 if v is None else float(v)
        if need_hess:
            H = np.empty((pm, pm), dtype=np.float64)
            for a in range(pm):
                for bb in range(a, pm):
                    v = row[f"_h_{a}_{bb}"]
                    H[a, bb] = H[bb, a] = 0.0 if v is None else float(v)
            return primal_v, dual_v, grad, H
        return primal_v, dual_v, grad

    def _scan(self, beta, need_grad: bool, need_hess: bool = False):
        pm_act = self.p * self.m
        if (
            pm_act <= self.JVM_GRAD_PM_LIMIT
            and (not need_hess or pm_act <= self.JVM_HESS_PM_LIMIT)
            # a non-finite iterate (diverged line-search probe) would
            # render as 'infD'/'nanD' in the SQL text and raise a
            # ParseException; the Arrow route propagates NaN through the
            # NumPy math instead, which the solvers reject gracefully
            and np.isfinite(np.asarray(beta, dtype=np.float64)).all()
        ):
            return self._scan_jvm(beta, need_grad, need_hess)
        return self._scan_arrow(beta, need_grad, need_hess)

    def _scan_arrow(self, beta, need_grad: bool, need_hess: bool = False):
        x_col, y_col = self.x_col, self.y_col
        p_full, m = self.p_full, self.m
        idx = self.active_idx
        fam = self.family
        p_act = self.p
        beta = np.ascontiguousarray(beta, dtype=np.float64).reshape(p_act, m)
        pm = p_act * m
        out_len = 2 + (pm if need_grad else 0) + (pm * pm if need_hess else 0)
        is_multi = fam.name == "multinomial"

        def make_partial(batch):
            X, Y = _batch_xy(batch, x_col, y_col, p_full, m)
            if idx is not None:
                X = X[:, idx]
            lin_pred = X @ beta
            part = np.empty(out_len, dtype=np.float64)
            part[0] = fam.primal(Y, lin_pred)
            part[1] = fam.dual(Y, lin_pred)
            if need_grad:
                part[2 : 2 + pm] = (
                    X.T @ fam.pseudo_gradient(Y, lin_pred)
                ).ravel(order="F")
            if need_hess:
                W = fam.hessian_weights(Y, lin_pred)
                if W.ndim == 1:
                    W = W[:, np.newaxis]
                part[2 + pm :] = _weighted_gram(X, W, m, is_multi).ravel()
            return part

        tot = partial_aggregate(self.df.select(x_col, y_col), out_len, make_partial)
        grad = tot[2 : 2 + pm].reshape((p_act, m), order="F") if need_grad else None
        if need_hess:
            return tot[0], tot[1], grad, tot[2 + pm :].reshape(pm, pm)
        return tot[0], tot[1], grad

    def eval(self, beta):
        return self._scan(beta, need_grad=True)

    def eval_hessian(self, beta):
        """(primal, dual, gradient, X^T W X) in ONE fused distributed scan —
        the per-outer-iteration cost of the prox-Newton solver."""
        return self._scan(beta, need_grad=True, need_hess=True)

    def primal(self, beta):
        return self._scan(beta, need_grad=False)[0]

    def full_gradient(self, beta_full):
        saved = self.active_idx
        try:
            self.active_idx, self.p = None, self.p_full
            _, _, grad = self._scan(beta_full, need_grad=True)
        finally:
            self.active_idx = saved
            self.p = self.p_full if saved is None else len(saved)
        return grad

    def subset(self, idx):
        idx = np.asarray(idx)
        base = idx if self.active_idx is None else self.active_idx[idx]
        return SparkGlmDesign(
            self.df, self.x_col, self.y_col, self.family,
            self.p_full, self.m, n=self.n, active_idx=base,
            lgamma_const=self._lgamma_const,
        )
