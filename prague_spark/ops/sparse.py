"""Sparse (long-format) design ingest: (row_id, col_id, value) triplets.

The reference accepts ``dgCMatrix`` CSC input with a scale-only
standardization that preserves sparsity (``src/standardize.h:42-71``,
centering forbidden for sparse, ``R/owl.R:339, 353-360``). Spark-side:

- norms per column come from a single ``groupBy(col_id)`` over the
  triplets (shuffle keyed by col_id — p groups);
- the scaled triplets are then pivoted into the dense ``array<double>``
  row representation the solvers consume. Zero entries stay absent until
  the final assembly, so shuffle volume is O(nnz), not O(n*p).

At extreme p the dense-array assembly is the limiter; the long format
itself is the storage answer (nnz-proportional), and the gradient can be
computed directly on triplets via join+groupBy when p is too wide to
densify — that variant is the documented scale path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

_EXP_MAX = 709.78  # trunc_exp clamp, mirrors core.families

# budget for any triplet self-join on row_id: its output volume is
# sum over rows of nnz_row^2, so a few dense rows (nnz_i ~ p) detonate it
# regardless of total nnz. Shared by the one-time gaussian Gram build and
# the per-outer-iteration prox-Newton Hessian (which is the more dangerous
# consumer — it pays the volume EVERY iteration).
PAIR_VOLUME_LIMIT = 2e8

# the sparse in-core Hessian's price, in BLAS multiply-adds per scattered
# pair: ``fit_sparse`` solves a subset on ``SparseLocalDesign`` when
# SCATTER_PAIR_COST * sum_r nnz_r^2 <= n * p_act^2, the dense (X*w)'X
# product's multiply-adds. At perfbench glm's sparse shape (n=5000, 16
# nonzeros per row) on a 437-column binomial support, the sparse Hessian
# took 0.002 s and the dense one 0.15 s (4 vCPU), agreeing to 7e-15.
SCATTER_PAIR_COST = 40
# driver bytes charged per pair of that expansion: its three cached
# arrays (flat cell index, product, row; 24 B) plus the weighted product
# each scatter builds (8 B)
PAIR_BYTES = 32


def sparse_scales(
    triplets: DataFrame,
    n_rows: int,
    scale: str = "l2",
    row_col: str = "row_id",
    col_col: str = "col_id",
    val_col: str = "value",
) -> dict[int, float]:
    """Per-column scale factors over the *implicitly zero-padded* columns,
    mirroring ``src/standardize.h:42-71`` (sd uses population-corrected
    norm over n_rows including zeros; zero scale -> 1.0)."""
    v = F.col(val_col)
    if scale == "l1":
        agg = F.sum(F.abs(v))
    elif scale == "l2":
        agg = F.sqrt(F.sum(v * v))
    elif scale == "sd":
        # sd over the full column including implicit zeros:
        # mean = sum/n ; ss = sum(v^2) - n*mean^2 ; sd = sqrt(ss/(n-1))
        agg = F.sqrt(
            (F.sum(v * v) - F.pow(F.sum(v), 2) / n_rows) / (n_rows - 1)
        )
    elif scale == "max":
        # max including implicit zeros
        agg = F.greatest(F.max(v), F.lit(0.0))
    else:
        raise ValueError(scale)
    rows = triplets.groupBy(col_col).agg(agg.alias("s")).collect()
    return {
        int(r[col_col]): (1.0 if r["s"] is None or float(r["s"]) == 0.0 else float(r["s"]))
        for r in rows
    }


def _local_scales(
    cols: np.ndarray, vals: np.ndarray, n_rows: int, n_cols: int,
    scale: str = "l2",
) -> np.ndarray:
    """NumPy twin of :func:`sparse_scales` over fetched triplets (``cols``
    already checked to lie in [0, n_cols)): the same per-column formulas
    over the implicitly zero-padded columns, as a dense (n_cols,) vector.
    A column without triplets, or with zero scale, gets 1.0."""
    if scale == "l1":
        s = np.bincount(cols, weights=np.abs(vals), minlength=n_cols)
    elif scale in ("l2", "sd"):
        ss = np.bincount(cols, weights=vals * vals, minlength=n_cols)
        if scale == "l2":
            s = np.sqrt(ss)
        else:
            s1 = np.bincount(cols, weights=vals, minlength=n_cols)
            with np.errstate(invalid="ignore"):  # NaN as Spark's sqrt(<0)
                s = np.sqrt((ss - s1 * s1 / n_rows) / (n_rows - 1))
    elif scale == "max":
        s = np.zeros(n_cols)
        np.maximum.at(s, cols, vals)
    else:
        raise ValueError(scale)
    s[s == 0.0] = 1.0
    return s


def _bulk_incore_bytes(n: int, m: int, nnz: int) -> int:
    """Driver bytes the bulk in-core route of ``fit_sparse`` charges: y
    (int64 row ids + the n x m responses) plus 36 B per triplet — 24 B
    kept (row position, column, value) and 12 B of fetch transients (the
    Arrow table and the argsort scratch)."""
    return 8 * n * (1 + m) + 36 * nnz


def _bad_col_error(col_id: int, n_cols: int) -> ValueError:
    # explicit: a negative id would otherwise SILENTLY corrupt the scale
    # vector through Python negative indexing, and an overflowing one dies
    # with an opaque IndexError
    return ValueError(f"triplet col_id {col_id} outside [0, n_cols={n_cols})")


def long_to_features(
    triplets: DataFrame,
    n_cols: int,
    rows: DataFrame | None = None,
    row_col: str = "row_id",
    col_col: str = "col_id",
    val_col: str = "value",
    out: str = "features",
    scales: dict[int, float] | None = None,
) -> DataFrame:
    """Pivot triplets into a dense ``array<double>`` feature column
    (one groupBy(row_id); missing entries become 0.0). ``rows`` optionally
    supplies the full row universe so all-zero rows are kept."""
    t = triplets
    if scales:
        # broadcast-join on a scales frame, NOT a 2p-literal create_map: at
        # p ~ 10^4+ a literal map is a giant Catalyst expression tree
        # (analysis-time blowup); the join is the same plan fit_sparse uses.
        # A column without a scale entry keeps its raw value (scale 1.0,
        # matching sparse_scales' zero-norm convention).
        sdf = triplets.sparkSession.createDataFrame(
            [(int(k), float(s)) for k, s in scales.items()],
            f"{col_col} int, _s double",
        )
        t = (
            t.join(F.broadcast(sdf), col_col, "left")
            .withColumn(
                val_col, F.col(val_col) / F.coalesce(F.col("_s"), F.lit(1.0))
            )
            .drop("_s")
        )
    pairs = t.groupBy(row_col).agg(
        F.map_from_arrays(
            F.collect_list(F.col(col_col).cast("int")),
            F.collect_list(F.col(val_col).cast("double")),
        ).alias("_m")
    )
    if rows is not None:
        pairs = rows.select(F.col(row_col)).join(pairs, row_col, "left")
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_cols - 1)),
        lambda i: F.coalesce(F.col("_m")[i.cast("int")], F.lit(0.0)),
    )
    return pairs.withColumn(out, dense).drop("_m")


class SparseLongDesign:
    """Solver design over long-format triplets — the TRUE sparse path: the
    design matrix never exists as dense rows (reference dual entry
    ``src/owl.cpp:398-412``). Per solver evaluation:

    - linear predictor: broadcast the (sparse) beta as a tiny DataFrame,
      join on col_id, groupBy(row_id) — shuffle volume O(nnz);
    - per-row pseudo-gradient / primal / dual: pure column expressions of
      (y, lp) (the family math of ``src/families/*.h`` in SQL form);
    - penalized gradient: join the per-row gradient back to the triplets,
      groupBy(col_id) — again O(nnz); only the p-vector reaches the driver.

    The intercept column (value 1/sqrt(n) under l2 preconditioning) is
    handled analytically, never materialized. All four families; the
    multinomial response rides as one internal column per target
    (``_y0.._y{m-1}``) and the per-row softmax runs as column expressions.
    """

    def __init__(self, trip, ydf, family: str, p: int, n: int, icol: float,
                 m: int = 1, row_col: str = "row_id", col_col: str = "col_id",
                 val_col: str = "value", lgamma_const: float | None = None):
        if family not in ("gaussian", "binomial", "poisson", "multinomial"):
            raise ValueError(f"unknown family {family!r}")
        self.trip = trip
        self.ydf = ydf  # (row_col, _y0.._y{m-1}) in internal encoding
        self.family = family
        self.p_pen = p
        self.p = p + 1  # +intercept, solver-facing
        self.m = m
        self.n = n
        self.icol = icol
        self.row_col, self.col_col, self.val_col = row_col, col_col, val_col
        self.scans = 0  # distributed jobs issued (solver cost accounting)
        self._hess = None  # gaussian-only: X'WX with W=1 is constant
        if lgamma_const is not None:
            self._lg = lgamma_const
        elif family == "poisson":
            # sum lgamma(y+1) is constant in beta; computed once so the
            # SQL primal/dual stay builtin-only (Spark lacks lgamma).
            # Poisson responses are counts with few distinct values, so
            # groupBy(y).count() collects O(distinct y) rows — never the
            # n-sized column itself. The limit guards the collect against
            # a continuous-valued response (distinct ~ n), which would
            # otherwise OOM the driver silently.
            from math import lgamma

            max_distinct = 1_000_000
            groups = (
                ydf.groupBy("_y0")
                .agg(F.count(F.lit(1)).alias("_c"))
                .limit(max_distinct + 1)
                .collect()
            )
            if len(groups) > max_distinct:
                raise ValueError(
                    "poisson sparse fit: response has more than "
                    f"{max_distinct} distinct values — not a count "
                    "response; the lgamma(y+1) constant cannot be set up "
                    "driver-side"
                )
            self._lg = float(
                sum(lgamma(float(r["_y0"]) + 1.0) * int(r["_c"]) for r in groups)
            )
            self.scans += 1
        else:
            self._lg = 0.0

    # -- family math as column expressions over (_y*, _lp*) ---------------
    # returns (primal_term, dual_term, [g_0..g_{m-1}])
    def _exprs(self):
        if self.family == "multinomial":
            lps = [F.col(f"_lp{t}") for t in range(self.m)]
            ys = [F.col(f"_y{t}") for t in range(self.m)]
            mx = F.greatest(*lps) if self.m > 1 else lps[0]
            ssum = F.exp(-mx)
            for t in range(self.m):
                ssum = ssum + F.exp(F.least(lps[t] - mx, F.lit(_EXP_MAX)))
            lse = F.log(ssum) + mx
            ylp = ys[0] * lps[0]
            lpe = lps[0] * F.exp(lps[0] - lse)
            for t in range(1, self.m):
                ylp = ylp + ys[t] * lps[t]
                lpe = lpe + lps[t] * F.exp(lps[t] - lse)
            gs = [F.exp(lps[t] - lse) - ys[t] for t in range(self.m)]
            return lse - ylp, lse - lpe, gs
        y, lp = F.col("_y0"), F.col("_lp0")
        if self.family == "gaussian":
            r = y - lp
            return 0.5 * r * r, 0.5 * y * y - 0.5 * lp * lp, [lp - y]
        if self.family == "binomial":
            eneg = F.exp(F.least(-y * lp, F.lit(_EXP_MAX)))
            epos = F.exp(F.least(y * lp, F.lit(_EXP_MAX)))
            r = F.lit(1.0) / (F.lit(1.0) + epos)
            logr = F.log(F.greatest(r, F.lit(1e-300)))
            log1mr = F.log(F.greatest(F.lit(1.0) - r, F.lit(1e-300)))
            return (
                F.log1p(eneg),
                (r - 1.0) * log1mr - r * logr,
                [-y / (F.lit(1.0) + epos)],
            )
        mu = F.exp(F.least(lp, F.lit(_EXP_MAX)))
        return -(y * lp - mu), -(mu * (lp - 1.0)), [mu - y]

    def _rows(self, beta):
        B = np.asarray(beta, dtype=np.float64).reshape(self.p, self.m)
        spark = self.trip.sparkSession
        nz = np.flatnonzero(np.any(B[1:] != 0, axis=1))
        rows = self.ydf
        if len(nz):
            bdf = spark.createDataFrame(
                [
                    (int(j), *[float(B[1 + j, t]) for t in range(self.m)])
                    for j in nz
                ],
                f"{self.col_col} int, "
                + ", ".join(f"_b{t} double" for t in range(self.m)),
            )
            lp = (
                self.trip.join(F.broadcast(bdf), self.col_col)
                .groupBy(self.row_col)
                .agg(
                    *[
                        F.sum(F.col(self.val_col) * F.col(f"_b{t}")).alias(f"_lp{t}")
                        for t in range(self.m)
                    ]
                )
            )
            rows = rows.join(lp, self.row_col, "left")
            for t in range(self.m):
                rows = rows.withColumn(
                    f"_lp{t}", F.coalesce(F.col(f"_lp{t}"), F.lit(0.0))
                )
        else:
            for t in range(self.m):
                rows = rows.withColumn(f"_lp{t}", F.lit(0.0))
        for t in range(self.m):
            rows = rows.withColumn(
                f"_lp{t}", F.col(f"_lp{t}") + F.lit(self.icol * float(B[0, t]))
            )
        return rows

    def eval(self, beta):
        rows = self._rows(beta)
        pe, de, ges = self._exprs()
        for t, ge in enumerate(ges):
            rows = rows.withColumn(f"_g{t}", ge)
        # the joined per-row frame feeds TWO jobs (scalar sums + the
        # per-column gradient join); persist it so the lp join + family
        # expressions run once, not twice
        rows = rows.persist()
        try:
            head = rows.agg(
                F.sum(pe).alias("_p"), F.sum(de).alias("_d"),
                *[F.sum(f"_g{t}").alias(f"_gi{t}") for t in range(self.m)],
            ).first()
            grad = np.zeros((self.p, self.m))
            for t in range(self.m):
                grad[0, t] = self.icol * float(head[f"_gi{t}"])
            gcols = [f"_g{t}" for t in range(self.m)]
            for r in (
                self.trip.join(rows.select(self.row_col, *gcols), self.row_col)
                .groupBy(self.col_col)
                .agg(
                    *[
                        F.sum(F.col(self.val_col) * F.col(g)).alias(f"_gc{t}")
                        for t, g in enumerate(gcols)
                    ]
                )
                .collect()
            ):
                for t in range(self.m):
                    grad[1 + int(r[self.col_col]), t] = float(r[f"_gc{t}"])
        finally:
            rows.unpersist()
        self.scans += 2
        return float(head["_p"]) + self._lg, float(head["_d"]) + self._lg, grad

    def primal(self, beta):
        rows = self._rows(beta)
        pe, _, _ = self._exprs()
        self.scans += 1
        return float(rows.agg(F.sum(pe)).first()[0]) + self._lg

    def _weight_exprs(self):
        """Per-row IRLS curvature columns (core.families.hessian_weights as
        SQL expressions): m=1 families yield the diagonal weight; the
        multinomial yields the class probabilities, from which the Hessian
        blocks are X^T diag(p_k (delta_kl - p_l)) X."""
        if self.family == "multinomial":
            lps = [F.col(f"_lp{t}") for t in range(self.m)]
            mx = F.greatest(*lps) if self.m > 1 else lps[0]
            ssum = F.exp(-mx)
            for t in range(self.m):
                ssum = ssum + F.exp(F.least(lps[t] - mx, F.lit(_EXP_MAX)))
            lse = F.log(ssum) + mx
            return [F.exp(lps[t] - lse) for t in range(self.m)]
        lp = F.col("_lp0")
        if self.family == "gaussian":
            return [F.lit(1.0)]
        if self.family == "binomial":
            s = F.lit(1.0) / (F.lit(1.0) + F.exp(F.least(-lp, F.lit(_EXP_MAX))))
            return [s * (F.lit(1.0) - s)]
        return [F.exp(F.least(lp, F.lit(_EXP_MAX)))]  # poisson

    def eval_hessian(self, beta):
        """(primal, dual, gradient, X^T W X) for the prox-Newton outer
        loop, in THREE O(nnz) jobs regardless of iteration count:

        1. scalar sums (primal, dual, intercept gradient, block weight
           totals — the intercept x intercept Hessian cells);
        2. per-column join+groupBy: gradient AND the weighted column sums
           (the intercept x column Hessian cells) in one aggregation;
        3. triplet self-join on row_id for the column x column cells
           H[j,k] = sum_i w_i x_ij x_ik (pair volume sum_i nnz_i^2 —
           bounded for row-sparse designs).
        """
        m, p = self.m, self.p
        pm = p * m
        if self.family == "gaussian" and self._hess is not None:
            # unit IRLS weights make X'WX constant — reuse the first
            # Hessian and pay only the 2-job eval() for (primal, dual,
            # gradient) on subsequent outer iterations / probes
            p_val, d_val, grad = self.eval(beta)
            return p_val, d_val, grad, self._hess
        rows = self._rows(beta)
        pe, de, ges = self._exprs()
        for t, ge in enumerate(ges):
            rows = rows.withColumn(f"_g{t}", ge)
        wexprs = self._weight_exprs()
        for t, we in enumerate(wexprs):
            rows = rows.withColumn(f"_w{t}", we)
        # block weight w_kl = W_k (delta_kl - W_l); m=1 collapses to w_0
        blocks = []
        if self.family == "multinomial":
            for kk in range(m):
                for ll in range(kk, m):
                    d = 1.0 if kk == ll else 0.0
                    blocks.append(
                        (kk, ll,
                         F.col(f"_w{kk}") * (F.lit(d) - F.col(f"_w{ll}")))
                    )
        else:
            blocks.append((0, 0, F.col("_w0")))
        for bi, (_, _, be) in enumerate(blocks):
            rows = rows.withColumn(f"_wb{bi}", be)

        rows = rows.persist()
        try:
            head = rows.agg(
                F.sum(pe).alias("_p"), F.sum(de).alias("_d"),
                *[F.sum(f"_g{t}").alias(f"_gi{t}") for t in range(m)],
                *[F.sum(f"_wb{bi}").alias(f"_wt{bi}") for bi in range(len(blocks))],
            ).first()

            grad = np.zeros((p, m))
            for t in range(m):
                grad[0, t] = self.icol * float(head[f"_gi{t}"])
            H = np.zeros((pm, pm))
            for bi, (kk, ll, _) in enumerate(blocks):
                v = self.icol * self.icol * float(head[f"_wt{bi}"])
                H[kk * p, ll * p] = v
                H[ll * p, kk * p] = v

            gcols = [f"_g{t}" for t in range(m)]
            wbcols = [f"_wb{bi}" for bi in range(len(blocks))]
            joined = self.trip.join(
                rows.select(self.row_col, *gcols, *wbcols), self.row_col
            )
            for r in (
                joined.groupBy(self.col_col)
                .agg(
                    *[F.sum(F.col(self.val_col) * F.col(g)).alias(f"_gc{t}")
                      for t, g in enumerate(gcols)],
                    *[F.sum(F.col(self.val_col) * F.col(wb)).alias(f"_wc{bi}")
                      for bi, wb in enumerate(wbcols)],
                )
                .collect()
            ):
                j = 1 + int(r[self.col_col])
                for t in range(m):
                    grad[j, t] = float(r[f"_gc{t}"])
                for bi, (kk, ll, _) in enumerate(blocks):
                    v = self.icol * float(r[f"_wc{bi}"])
                    H[kk * p, ll * p + j] = v
                    H[ll * p + j, kk * p] = v
                    H[ll * p, kk * p + j] = v
                    H[kk * p + j, ll * p] = v

            a = self.trip.alias("_ha")
            b = self.trip.join(
                rows.select(self.row_col, *wbcols), self.row_col
            ).alias("_hb")
            rc, cc, vc = self.row_col, self.col_col, self.val_col
            for r in (
                a.join(b, F.col(f"_ha.{rc}") == F.col(f"_hb.{rc}"))
                .filter(F.col(f"_ha.{cc}") <= F.col(f"_hb.{cc}"))
                .groupBy(
                    F.col(f"_ha.{cc}").alias("_ci"),
                    F.col(f"_hb.{cc}").alias("_cj"),
                )
                .agg(
                    *[
                        F.sum(
                            F.col(f"_ha.{vc}") * F.col(f"_hb.{vc}") * F.col(f"_hb.{wb}")
                        ).alias(f"_h{bi}")
                        for bi, wb in enumerate(wbcols)
                    ]
                )
                .collect()
            ):
                i, j = 1 + int(r["_ci"]), 1 + int(r["_cj"])
                for bi, (kk, ll, _) in enumerate(blocks):
                    v = float(r[f"_h{bi}"])
                    H[kk * p + i, ll * p + j] = v
                    H[ll * p + j, kk * p + i] = v
                    H[ll * p + i, kk * p + j] = v
                    H[kk * p + j, ll * p + i] = v
        finally:
            rows.unpersist()
        self.scans += 3
        if self.family == "gaussian":
            self._hess = H
        return (
            float(head["_p"]) + self._lg,
            float(head["_d"]) + self._lg,
            grad,
            H,
        )

    def full_gradient(self, beta):
        """X^T pseudo-gradient over ALL p+1 columns in ONE job (vs eval's
        two): the intercept column is appended as pseudo-triplets
        (col = -1, value = icol) via a union, so a single join + groupBy
        yields the intercept row and every feature row together."""
        rows = self._rows(beta)
        _, _, ges = self._exprs()
        gcols = []
        for t, ge in enumerate(ges):
            rows = rows.withColumn(f"_g{t}", ge)
            gcols.append(f"_g{t}")
        aug = self.trip.select(
            self.row_col, F.col(self.col_col), F.col(self.val_col)
        ).unionByName(
            rows.select(
                self.row_col,
                F.lit(-1).alias(self.col_col),
                F.lit(self.icol).alias(self.val_col),
            )
        )
        grad = np.zeros((self.p, self.m))
        for r in (
            aug.join(rows.select(self.row_col, *gcols), self.row_col)
            .groupBy(self.col_col)
            .agg(
                *[
                    F.sum(F.col(self.val_col) * F.col(g)).alias(f"_gc{t}")
                    for t, g in enumerate(gcols)
                ]
            )
            .collect()
        ):
            c = int(r[self.col_col])
            for t in range(self.m):
                grad[0 if c < 0 else 1 + c, t] = float(r[f"_gc{t}"])
        self.scans += 1
        return grad

    def subset(self, idx):
        """Column-pruned design for screening / KKT-repair subset fits
        (the sparse analogue of ``matrixSubset``, ``src/utils.h:7-25``):
        only triplets of the active columns survive the solver joins.
        ``idx``: sorted solver indices over [0, p]; 0 (intercept) must be
        included — it is unpenalized and handled analytically."""
        idx = np.asarray(idx, dtype=np.intp)
        if len(idx) == 0 or idx[0] != 0:
            raise ValueError("sparse subset requires the intercept index 0")
        cols = [int(j) - 1 for j in idx if j >= 1]
        spark = self.trip.sparkSession
        mdf = spark.createDataFrame(
            [(c, pos) for pos, c in enumerate(cols)],
            f"{self.col_col} int, _newcol int",
        )
        trip_sub = (
            self.trip.join(F.broadcast(mdf), self.col_col)
            .select(
                self.row_col,
                F.col("_newcol").alias(self.col_col),
                self.val_col,
            )
        )
        sub = SparseLongDesign(
            trip_sub, self.ydf, self.family, len(cols), self.n, self.icol,
            m=self.m, row_col=self.row_col, col_col=self.col_col,
            val_col=self.val_col, lgamma_const=self._lg,
        )
        return sub


def fit_sparse(
    triplets: DataFrame,
    y_df: DataFrame,
    label: str,
    family: str = "gaussian",
    *,
    n_cols: int,
    row_col: str = "row_id",
    col_col: str = "col_id",
    val_col: str = "value",
    scale: str = "l2",
    lambda_type: str = "gaussian",
    q: float = 0.2,
    n_sigma: int = 20,
    sigma=None,
    lambda_min_ratio: float | None = None,
    screening: bool = True,
    gram_limit: int = 2048,
    incore_limit: int | None = None,
    max_passes: int = 10**5,
    tol_rel_gap: float = 1e-5,
    tol_infeas: float = 1e-3,
    tol_abs: float = 1e-5,
    tol_rel: float = 1e-4,
    tol_dev_change: float = 1e-5,
    tol_dev_ratio: float = 0.995,
    max_variables: int | None = None,
):
    """End-to-end SLOPE path fit on a long-format sparse design WITHOUT
    densification — the wide-p scale path (p far beyond what array rows
    could hold; only p-vectors ever reach the driver).

    Mirrors the reference's sparse entry (``src/owl.cpp:398-412``):
    scale-only standardization (``src/standardize.h:42-71`` — centering is
    forbidden for sparse input, ``R/owl.R:339, 353-360``), same penalty
    machinery and stopping rules as the dense ``fit()``.

    Scale architecture (cluster cost = number of data scans, not FLOPs):

    - gaussian with p <= ``gram_limit`` and a bounded self-join budget:
      the (p+1)x(p+1) Gram of the standardized design is built ONCE from
      the triplets (self-join on row_id, O(sum_i nnz_i^2) pairs), after
      which the ENTIRE path is driver-side ADMM — zero per-path-point
      scans (the reference's one-time factorization, src/owl.cpp:178-203,
      carried over to the sparse entry).
    - past ``gram_limit`` (the wide-p regime), strong-rule screening +
      KKT repair (``src/screening.h``, ``src/kktCheck.h``) prune each
      path point to a small active set that solves driver-side. The
      route is priced before any bulk transfer, by the one job that
      counts the y rows and the triplets, against ``incore_limit`` (y
      plus 36 B per triplet, ``_bulk_incore_bytes``):
    - in budget (the bulk in-core route): the raw label and the raw
      triplets are each fetched ONCE through Arrow; the response is
      encoded driver-side (``preprocess_response_local``, as ``fit``'s
      in-core route does) and the whole setup — scales, X'y, column
      sums, squares and nnz, y moments — is NumPy. The fit runs 4 Spark
      jobs in all (the pricing count, 2 under AQE, and the two fetches):
      no response job, no y or scaled-triplet cache, and zero
      distributed jobs along the path (every strong-rule / KKT gradient
      is a driver-side bincount). A multinomial is priced at one target
      until its classes are known; when its one-hot y then breaks the
      budget, the fetched arrays are dropped and the fit takes the
      route below.
    - over budget: a distributed setup (scale pass, a persisted scaled-
      triplet cache, ONE setup aggregation) and, while y fits, the
      ACTIVE COLUMNS — never the p-wide design — are fetched into a
      budget-guarded driver cache (per-column nnz from the setup pass
      prices every fetch in advance): each subset problem solves in-core,
      so the per-path-point cluster cost collapses to one fused KKT-
      gradient job plus an occasional column fetch (~2-3 scans/point,
      see ``diagnostics["scans_per_path_point"]``).
    - when a subset breaches the in-core budgets, the distributed
      fallbacks take over: prox-Newton (3 O(nnz) jobs/outer iteration)
      under the Hessian-payload and pair-volume guards, else FISTA with a
      FIXED Lipschitz step from the trace bound eigmax(X'X) <=
      trace(X'X) (piggybacked on the setup pass — no extra scan), so no
      line-search probe scans; poisson has no global Lipschitz bound and
      keeps backtracking.
    - scan counts are recorded in ``model.diagnostics["sparse_scans"]``.

    ``triplets``: (row_col, col_col, val_col) with col ids in [0, n_cols);
    ``y_df``: (row_col, label) with one row per observation (the row
    universe — all-zero rows included). A null label raises
    ``ValueError`` on every route.
    """
    from ..core.families import setup_family
    from ..core.lambdas import lambda_sequence
    from ..core.path import run_path
    from ..core.solver import (
        STEP_FACTOR, GramData, fista, gaussian_step, lipschitz_step,
        prox_newton,
    )
    from ..design import LocalDesign, SparseLocalDesign
    from ..fit import (
        DEFAULT_INCORE_LIMIT, HESS_CELL_GUARD, _lambda_max_from_stats, _rescale,
    )
    from ..model import SlopeModel
    from .response import (
        Y_COL, preprocess_response, preprocess_response_local, raw_label,
    )

    spark = triplets.sparkSession
    raw = triplets.select(row_col, col_col, val_col)
    fam_obj = setup_family(family)
    limit = DEFAULT_INCORE_LIMIT if incore_limit is None else int(incore_limit)
    nnz_sq = None
    scans = 0  # distributed jobs issued outside the SparseLongDesign

    def _pair_volume():
        # self-join output size = sum over rows of nnz_row^2; measured
        # once per design (the fits below reuse it)
        return (
            raw.groupBy(row_col)
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(F.sum(F.col("_c") * F.col("_c")))
            .first()[0]
        )

    gram_route = family == "gaussian" and n_cols <= gram_limit
    if gram_route:
        nnz_sq = _pair_volume()
        scans += 1
        gram_route = nnz_sq is not None and float(nnz_sq) <= PAIR_VOLUME_LIMIT

    # ---- in-core state (the glmnet regime, kept honest at cluster scale):
    # off the Gram route, y is collected once whenever it fits the in-core
    # budget, and screened subset problems solve driver-side (see
    # solve). The route is PRICED before any transfer — one job counts the
    # raw y rows and the triplets. When y plus EVERY triplet fits (the
    # bulk route), the raw label is fetched once through Arrow and encoded
    # driver-side (preprocess_response_local, as fit's in-core route
    # does), then the triplets are fetched, and the whole setup (scales,
    # X'y, column sums / squares / nnz, y moments) is NumPy over the
    # fetched arrays: no response job, no y cache, no scale pass, no
    # scaled-triplet cache, no setup aggregation — four jobs in all — and
    # the path loop issues zero distributed jobs (the strong-rule / KKT
    # gradients are a bincount over the flat copy, see _full_gradient).
    # Designs over the budget keep the distributed setup below and fetch
    # active columns on demand.
    rinfo = ydf = Y_loc = None
    n = nnz_all = None

    def _bulk_fits(m_):
        # y's in-core state (4 copies of the n x m responses) and the
        # bulk price both fit the budget
        return (0 < nnz_all and n * m_ * 8 * 4 <= limit
                and _bulk_incore_bytes(n, m_, nnz_all) <= limit)

    if not gram_route and limit > 0:
        cnt = (
            y_df.select(F.lit(1).alias("_yn"), F.lit(0).alias("_tn"))
            .unionByName(raw.select(F.lit(0).alias("_yn"), F.lit(1).alias("_tn")))
            .agg(F.sum("_yn"), F.sum("_tn"))
            .first()
        )
        n, nnz_all = int(cnt[0] or 0), int(cnt[1] or 0)
        scans += 1
        # priced at one target: a multinomial's m is known only after
        # encoding, and its one-hot payload is re-priced then
        if _bulk_fits(1):
            ytbl = y_df.select(
                F.col(row_col), raw_label(label, family).alias("_lbl")
            ).toArrow()
            scans += 1
            rinfo, Y_all = preprocess_response_local(
                ytbl.column("_lbl"), family, label
            )
            if _bulk_fits(rinfo.n_targets):
                rid_raw = ytbl.column(row_col).to_numpy()
                order = np.argsort(rid_raw, kind="stable")
                rid_sorted, Y_loc = rid_raw[order], Y_all[order]
            else:
                # the one-hot payload breaks the budget after all: release
                # the arrays and take the distributed response flow
                rinfo = None
            del ytbl, Y_all
    bulk = Y_loc is not None
    if rinfo is None:
        ydf2, rinfo = preprocess_response(y_df, label, family)
    m = rinfo.n_targets
    if not bulk:
        if m > 1:
            ycols = [F.col(Y_COL)[t].alias(f"_y{t}") for t in range(m)]
        else:
            ycols = [F.col(Y_COL).alias("_y0")]
        ydf = ydf2.select(F.col(row_col), *ycols).persist()
    if n is None:
        n, nnz_all = ydf.count(), 0
    icol = 1.0 / np.sqrt(n) if scale == "l2" else 1.0

    xty = np.zeros((n_cols + 1, m))
    sums_x = np.zeros(n_cols + 1)
    col_sq = np.zeros(n_cols + 1)
    col_nnz = np.zeros(n_cols + 1, dtype=np.int64)
    sums_y = np.zeros(m)
    yty = 0.0
    gram = None

    if not bulk and not gram_route and limit > 0 and n * m * 8 * 4 <= limit:
        ypdf = ydf.toPandas()  # Arrow transfer; budget-checked above
        scans += 1
        rid_raw = ypdf[row_col].to_numpy()
        order = np.argsort(rid_raw, kind="stable")
        rid_sorted = rid_raw[order]
        Y_loc = np.empty((n, m))
        for t in range(m):
            Y_loc[:, t] = ypdf[f"_y{t}"].to_numpy(dtype=np.float64)[order]
        del ypdf
    incore = None if Y_loc is None else dict(
        row_ids=rid_sorted, Y=Y_loc, cols={},
        bytes=rid_sorted.nbytes + Y_loc.nbytes, limit=limit,
    )
    incore_flat = None

    if bulk:
        tpdf = raw.toPandas()  # Arrow transfer; priced above
        scans += 1
        cc = tpdf[col_col].to_numpy(dtype=np.int64)
        rr = tpdf[row_col].to_numpy()
        vv = tpdf[val_col].to_numpy(dtype=np.float64)
        del tpdf
        bad = (cc < 0) | (cc >= n_cols)
        if bad.any():
            raise _bad_col_error(int(cc[bad].min()), n_cols)
        # scales over ALL triplets (sparse_scales' semantics); the setup
        # statistics over the in-universe ones (the distributed setup
        # aggregation joins on ydf)
        s_vec = np.concatenate(([1.0], _local_scales(cc, vv, n, n_cols, scale)))
        pos = np.minimum(np.searchsorted(rid_sorted, rr), n - 1)
        ok = rid_sorted[pos] == rr
        order = np.argsort(cc[ok], kind="stable")
        cc, rpos = cc[ok][order], pos[ok][order].astype(np.intp)
        vv = vv[ok][order] / s_vec[1 + cc]
        del rr, pos, ok, order
        for t in range(m):
            xty[1:, t] = np.bincount(cc, weights=vv * Y_loc[rpos, t],
                                     minlength=n_cols)
        sums_x[1:] = np.bincount(cc, weights=vv, minlength=n_cols)
        col_sq[1:] = np.bincount(cc, weights=vv * vv, minlength=n_cols)
        col_nnz[1:] = np.bincount(cc, minlength=n_cols)
        sums_y = Y_loc.sum(axis=0)
        yty = float(Y_loc[:, 0] @ Y_loc[:, 0])
        xty[0, :] = icol * sums_y
        sums_x[0] = n * icol
        col_sq[0] = n * icol * icol
        # per-column cache entries are zero-copy views of the flat arrays
        bounds = np.searchsorted(cc, np.arange(n_cols + 1))
        for c in range(n_cols):
            lo, hi = int(bounds[c]), int(bounds[c + 1])
            incore["cols"][c] = (rpos[lo:hi], vv[lo:hi])
        incore["bytes"] += rpos.nbytes + vv.nbytes + cc.nbytes
        incore_flat = (rpos, cc, vv)
    else:
        scales = sparse_scales(raw, n, scale=scale, row_col=row_col,
                               col_col=col_col, val_col=val_col)
        bad = [k_ for k_ in scales if not 0 <= int(k_) < n_cols]
        if bad:
            raise _bad_col_error(int(min(bad)), n_cols)
        # per-column scale vector (index 1.. = feature columns; 0 = intercept)
        s_vec = np.ones(n_cols + 1)
        for k_, v_ in scales.items():
            s_vec[1 + int(k_)] = float(v_)

    if gram_route or bulk:
        # The gaussian Gram route never scans the data again after setup,
        # and the bulk route never scans it after its fetch, so the
        # scaled-triplet cache is never built: the Gram self-join runs on
        # the RAW triplets and the standardization is applied to the
        # collected statistics driver-side (G /= s_i s_j).
        trip = raw
    else:
        sdf = spark.createDataFrame(
            [(int(k), float(v)) for k, v in scales.items()],
            f"{col_col} int, _s double",
        )
        trip = (
            raw.join(F.broadcast(sdf), col_col)
            .withColumn(val_col, F.col(val_col) / F.col("_s"))
            .drop("_s")
            .persist()
        )

    # the distributed design; the bulk route has none: with every column
    # cached, each subset solve and gradient stays driver-side (see
    # solve and _full_gradient), so no distributed fallback can run
    design = None if bulk else SparseLongDesign(
        trip, ydf, family, n_cols, n, icol, m=m, row_col=row_col,
        col_col=col_col, val_col=val_col,
    )

    if gram_route:
        # FUSED moments + Gram: extend the triplets with two pseudo-columns
        # — an all-ones column (id 0) and the response (id 1); the single
        # row_id self-join then yields EVERY setup statistic at once:
        # (0,0) -> n, (0,c) -> column sums, (0,1) -> sum y, (1,1) -> y'y,
        # (1,c) -> X'y, (c,c') -> X'X. One shuffle replaces the three
        # separate moment/y/Gram passes (pair volume grows by (nnz+2)^2 -
        # nnz^2 per row, covered by the same PAIR_VOLUME_LIMIT budget).
        ext = (
            raw.select(
                F.col(row_col),
                (F.col(col_col) + F.lit(2)).alias("_ec"),
                F.col(val_col).alias("_ev"),
            )
            .unionByName(
                ydf.select(
                    F.col(row_col), F.lit(0).alias("_ec"),
                    F.lit(1.0).alias("_ev"),
                )
            )
            .unionByName(
                ydf.select(
                    F.col(row_col), F.lit(1).alias("_ec"),
                    F.col("_y0").alias("_ev"),
                )
            )
        )
        a, b = ext.alias("_a"), ext.alias("_b")
        G = np.zeros((n_cols + 1, n_cols + 1))
        for r in (
            a.join(b, F.col(f"_a.{row_col}") == F.col(f"_b.{row_col}"))
            .filter(F.col("_a._ec") <= F.col("_b._ec"))
            .groupBy(
                F.col("_a._ec").alias("_ci"), F.col("_b._ec").alias("_cj")
            )
            .agg(F.sum(F.col("_a._ev") * F.col("_b._ev")).alias("_g"))
            .collect()
        ):
            ci, cj, g = int(r["_ci"]), int(r["_cj"]), float(r["_g"])
            if ci == 0 and cj == 0:
                pass  # n, already known
            elif ci == 0 and cj == 1:
                sums_y[0] = g
            elif ci == 0:
                sums_x[cj - 1] = g / s_vec[cj - 1]
            elif ci == 1 and cj == 1:
                yty = g
            elif ci == 1:
                xty[cj - 1, 0] = g / s_vec[cj - 1]
            else:
                gs = g / (s_vec[ci - 1] * s_vec[cj - 1])
                G[ci - 1, cj - 1] = G[cj - 1, ci - 1] = gs
        col_sq[1:] = np.diag(G)[1:]
        G[0, 0] = n * icol * icol
        G[0, 1:] = icol * sums_x[1:]
        G[1:, 0] = icol * sums_x[1:]
        xty[0, 0] = icol * sums_y[0]
        sums_x[0] = n * icol
        col_sq[0] = n * icol * icol
        gram = GramData(gram=G, xty=xty[:, 0].copy(), yty=yty, n=n)
        scans += 1
    elif not bulk:
        # ONE setup pass: lambda_max cross-moments + column sums + per-
        # column sum of squares (trace Lipschitz bound) + per-column nnz
        # (the in-core fetch budget below) in one aggregation; the p-row
        # result lands via Arrow and scatters vectorized
        spdf = (
            trip.join(ydf, row_col)
            .groupBy(col_col)
            .agg(
                *[F.sum(F.col(val_col) * F.col(f"_y{t}")).alias(f"_xy{t}")
                  for t in range(m)],
                F.sum(val_col).alias("_sx"),
                F.sum(F.col(val_col) * F.col(val_col)).alias("_sq"),
                F.count(F.lit(1)).alias("_cnt"),
            )
            .toPandas()
        )
        ci = 1 + spdf[col_col].to_numpy(dtype=np.int64)
        for t in range(m):
            xty[ci, t] = spdf[f"_xy{t}"].to_numpy(dtype=np.float64)
        sums_x[ci] = spdf["_sx"].to_numpy(dtype=np.float64)
        col_sq[ci] = spdf["_sq"].to_numpy(dtype=np.float64)
        col_nnz[ci] = spdf["_cnt"].to_numpy(dtype=np.int64)
        head = ydf.agg(
            *[F.sum(f"_y{t}").alias(f"_sy{t}") for t in range(m)],
            F.sum(F.col("_y0") * F.col("_y0")).alias("_yy"),
        ).first()
        sums_y = np.array([float(head[f"_sy{t}"]) for t in range(m)])
        yty = float(head["_yy"])
        xty[0, :] = icol * sums_y
        sums_x[0] = n * icol
        col_sq[0] = n * icol * icol
        scans += 2
    lambda_max = _lambda_max_from_stats(
        family, xty, sums_x, sums_y, n, intercept=True
    )

    def _incore_fetch(cols_needed) -> bool:
        """Ensure the given feature columns (0-based) are cached driver-
        side; fetches the missing ones as ONE broadcast-pruned collect.
        Returns False (fetching nothing) when the fetch would break the
        budget."""
        nonlocal scans
        missing = [c for c in cols_needed if c not in incore["cols"]]
        if not missing:
            return True
        fetch_bytes = int(col_nnz[[1 + c for c in missing]].sum()) * 16
        if incore["bytes"] + fetch_bytes > incore["limit"]:
            return False
        mdf = spark.createDataFrame(
            [(int(c),) for c in missing], f"{col_col} int"
        )
        pdf = (
            trip.join(F.broadcast(mdf), col_col)
            # restrict to the row universe BEFORE collecting: col_nnz (the
            # price) comes from the setup aggregation, which joins on ydf
            # and so counts only in-universe triplets — without this semi
            # join a triplet frame with extra rows could ship a driver
            # payload larger than what was budgeted (the scatter below
            # would drop those rows anyway, so semantics are unchanged)
            .join(ydf.select(row_col), row_col, "leftsemi")
            .select(col_col, row_col, val_col)
            .toPandas()  # Arrow transfer, then one vectorized groupby
        )
        scans += 1
        rid = incore["row_ids"]
        grouped = dict(iter(pdf.groupby(col_col))) if len(pdf) else {}
        for c in missing:
            grp = grouped.get(c)
            if grp is not None and len(grp):
                rr = grp[row_col].to_numpy()
                vv = grp[val_col].to_numpy(dtype=np.float64)
                pos = np.searchsorted(rid, rr)
                pos_c = np.minimum(pos, len(rid) - 1)
                ok = rid[pos_c] == rr  # drop triplets outside the row
                entry = (pos_c[ok].astype(np.intp), vv[ok])  # universe
            else:
                entry = (np.empty(0, dtype=np.intp), np.empty(0))
            incore["cols"][c] = entry
            incore["bytes"] += entry[0].nbytes + entry[1].nbytes
        return True

    def _square_bytes(p_act):
        # the in-core Hessian (or Gram) square of a p_act-column subset
        return (p_act * m) ** 2 * 8

    def _incore_design(idx):
        """LocalDesign over the active columns, or None when any budget
        would be breached."""
        need = [int(j) - 1 for j in idx if j >= 1]
        dense_bytes = n * len(idx) * 8
        if incore["bytes"] + dense_bytes + _square_bytes(len(idx)) > incore["limit"]:
            return None
        if not _incore_fetch(need):
            return None
        X = np.zeros((n, len(idx)))
        X[:, 0] = icol
        for out_j, c in enumerate(need, start=1):
            pos, vv = incore["cols"][c]
            # np.add.at, not fancy-index assignment: duplicate (row, col)
            # triplets must SUM here exactly as the distributed joins sum
            # them via groupBy, or the two routes silently diverge
            np.add.at(X[:, out_j], pos, vv)
        return LocalDesign(X, incore["Y"], fam_obj)

    def _incore_sparse_design(idx):
        """SparseLocalDesign over the active columns — the step between
        the dense in-core subset and the distributed fallback: when the
        (n x p_act) DENSE materialization would breach the budget but the
        fetched sparse columns themselves fit (their cost is the nnz,
        already priced by _incore_fetch), the subset still solves
        driver-side on O(nnz) matvecs. Removes the budget cliff where a
        path point a few hundred columns past the dense limit would
        otherwise pay a trace-bound distributed FISTA (hundreds of
        scans)."""
        need = [int(j) - 1 for j in idx if j >= 1]
        if not _incore_fetch(need):
            return None
        rows_parts, cols_parts, vals_parts = [], [], []
        for out_j, c in enumerate(need, start=1):
            pos, vv = incore["cols"][c]
            if len(pos):
                rows_parts.append(pos)
                cols_parts.append(np.full(len(pos), out_j, dtype=np.intp))
                vals_parts.append(vv)
        cat = lambda ps, dt: (
            np.concatenate(ps) if ps else np.empty(0, dtype=dt)
        )
        return SparseLocalDesign(
            cat(rows_parts, np.intp), cat(cols_parts, np.intp),
            cat(vals_parts, np.float64), n, len(idx), incore["Y"], fam_obj,
            icol=icol,
        )

    def _full_gradient(beta):
        """Full p+1 gradient X^T g(beta). When the in-core state holds every
        active column, the per-row pseudo-gradient g is computed driver-side
        (lp from the cached sparse columns) and shipped as a broadcast n-row
        frame, so the distributed part is ONE map-side-combined
        join + groupBy(col) — no lp shuffle join, roughly 3x cheaper than
        the generic SparseLongDesign.full_gradient job at wide p.

        On the bulk in-core route (incore_flat) the whole gradient
        is driver-side NumPy — lp from the cached columns, pseudo-gradient,
        then ONE bincount scatter over the flat (row_pos, col, val) copy —
        and the path loop issues ZERO distributed jobs per path point."""
        nonlocal scans
        if incore is not None:
            B = np.asarray(beta, dtype=np.float64).reshape(n_cols + 1, m)
            nz = np.flatnonzero(np.any(B[1:] != 0, axis=1))
            if all(int(c) in incore["cols"] for c in nz):
                lp = np.tile(icol * B[0], (n, 1))
                for c in nz:
                    pos, vv = incore["cols"][int(c)]
                    # summing accumulate (duplicate-triplet parity with the
                    # distributed groupBy route — see _incore_design)
                    np.add.at(lp, pos, vv[:, np.newaxis] * B[1 + c])
                g = fam_obj.pseudo_gradient(incore["Y"], lp)
                if g.ndim == 1:
                    g = g[:, np.newaxis]
                grad = np.zeros((n_cols + 1, m))
                grad[0] = icol * g.sum(axis=0)
                if incore_flat is not None:
                    rpos, ccol, vflat = incore_flat
                    for t in range(m):
                        grad[1:, t] = np.bincount(
                            ccol, weights=vflat * g[rpos, t], minlength=n_cols
                        )
                    return grad
                import pandas as pd

                gdf = spark.createDataFrame(
                    pd.DataFrame(
                        {row_col: incore["row_ids"],
                         **{f"_g{t}": g[:, t] for t in range(m)}}
                    )
                )
                # the per-row g frame is n x (1+m) doubles; broadcast is the
                # map-side win only while it is comfortably small — near the
                # in-core budget n can reach ~16M rows, where a broadcast
                # approaches executor/driver memory and Spark's hard cap.
                # Past 64 MiB let the join shuffle instead of risking the job.
                if n * (1 + m) * 8 <= 64 * 1024 * 1024:
                    gdf = F.broadcast(gdf)
                gpdf = (
                    trip.join(gdf, row_col)
                    .groupBy(col_col)
                    .agg(
                        *[
                            F.sum(F.col(val_col) * F.col(f"_g{t}")).alias(f"_gc{t}")
                            for t in range(m)
                        ]
                    )
                    .toPandas()  # p rows via Arrow, vectorized scatter
                )
                gi = 1 + gpdf[col_col].to_numpy(dtype=np.int64)
                for t in range(m):
                    grad[gi, t] = gpdf[f"_gc{t}"].to_numpy(dtype=np.float64)
                scans += 1
                return grad
        return design.full_gradient(beta)

    # pair-volume guard for the prox-Newton route: eval_hessian's triplet
    # self-join pays sum_i nnz_i^2 on EVERY outer iteration (the gaussian
    # Gram path pays it once, and only after passing this same budget).
    # Past the budget those fits take the trace-bound FISTA fallback,
    # whose per-iteration joins stay O(nnz). Measured LAZILY — only when a
    # fit actually routes to the distributed prox-Newton (the in-core
    # subset route above never needs it, so its scan is never paid there).
    _pv = {"nnz_sq": nnz_sq, "ok": True if gram is not None else None}

    def _pair_volume_ok():
        nonlocal scans
        if _pv["ok"] is None:
            if _pv["nnz_sq"] is None:
                _pv["nnz_sq"] = _pair_volume()
                scans += 1
            _pv["ok"] = (
                _pv["nnz_sq"] is not None
                and float(_pv["nnz_sq"]) <= PAIR_VOLUME_LIMIT
            )
        return _pv["ok"]

    if gram is not None:
        null_deviance = yty  # 2 * primal(0) = y'y for centered/scaled y
    elif incore is not None:
        # y is already on the driver: the null primal needs no scan
        null_deviance = 2.0 * fam_obj.primal(incore["Y"], np.zeros((n, m)))
    else:
        null_deviance = 2.0 * design.primal(np.zeros((n_cols + 1, m)))

    p_total = n_cols + 1

    # which route each subset solve took (observability for the plan
    # audit: dense in-core ADMM/prox-Newton, sparse in-core matvec FISTA,
    # or a distributed fallback)
    route_counts = {"incore_dense": 0, "incore_sparse": 0, "distributed": 0}
    admm_kw = dict(max_passes=max_passes, tol_abs=tol_abs, tol_rel=tol_rel)
    newton_kw = dict(n_unpenalized=1, max_passes=max_passes,
                     tol_rel_gap=tol_rel_gap, tol_infeas=tol_infeas,
                     tol_abs=tol_abs, tol_rel=tol_rel)
    fista_kw = dict(n_unpenalized=1, max_passes=max_passes,
                    tol_rel_gap=tol_rel_gap, tol_infeas=tol_infeas)

    def solve(idx, beta_init, lam_scaled, z, u):
        nonlocal scans
        if gram is not None:
            gd = gram if len(idx) == p_total else gram.subset(idx)
            return gaussian_step(gd, beta_init, z, u, lam_scaled, **admm_kw)
        # in-core subset solve: the whole fit is driver-side NumPy — zero
        # distributed jobs beyond the (cached) column fetch
        if incore is not None:
            # prefer the SPARSE in-core design when its pair expansion
            # (sum_r nnz_r^2 scatter, see SparseLocalDesign.eval_hessian
            # and .gram) is clearly cheaper than the dense (X*w)^T X
            # product it replaces, whose n * p_act^2 multiply-adds
            # dominate each dense prox-Newton outer iteration: at the
            # wide-p bench shapes the dense IRLS Hessian was ~35% of the
            # whole fit wall while the active columns are >99% zeros.
            # SCATTER_PAIR_COST prices one scattered pair in BLAS
            # multiply-adds; denser subsets keep the dense route below.
            # The admission charges the Hessian (or Gram) square AND the
            # pair expansion itself (PAIR_BYTES per pair) against the
            # in-core budget: at shapes where n*p_act is large but nnz is
            # small the expansion is the dominant allocation. Gaussian
            # needs only the Gram sufficient statistics, so it skips the
            # (n x p_act) dense materialization and its O(n p_act^2)
            # product; len(idx) <= n keeps from_xy's Woodbury regime out
            # of scope (a wider-than-n subset would have picked the
            # kernel factorization, which the pair expansion does not
            # build).
            sld = _incore_sparse_design(idx)
            if (
                sld is not None
                and (family != "gaussian" or len(idx) <= n)
                and incore["bytes"] + _square_bytes(len(idx))
                + PAIR_BYTES * sld.hess_pair_volume() <= incore["limit"]
                and SCATTER_PAIR_COST * sld.hess_pair_volume()
                <= n * len(idx) ** 2
            ):
                route_counts["incore_sparse"] += 1
                if family == "gaussian":
                    return gaussian_step(sld.gram(), beta_init, z, u,
                                         lam_scaled, **admm_kw)
                return prox_newton(sld, beta_init, lam_scaled, **newton_kw), z, u
            ld = _incore_design(idx)
            if ld is not None:
                route_counts["incore_dense"] += 1
                if family == "gaussian":
                    # exact quadratic: one Gram + warm-started ADMM over
                    # the active columns — cheaper than nesting ADMM
                    # inside prox-Newton outer iterations
                    return gaussian_step(ld.gram(), beta_init, z, u,
                                         lam_scaled, **admm_kw)
                return prox_newton(ld, beta_init, lam_scaled, **newton_kw), z, u
            if sld is not None:
                # dense materialization over budget: FISTA on the sparse
                # in-core design (budget = active nnz, already fetched)
                # with a power-iteration eigmax, which is TIGHT where the
                # distributed fallback's trace bound is hundreds of times
                # loose at wide p. Power iteration converges from BELOW,
                # so the estimate is not a provable 1/L bound (clustered
                # spectra can beat the 10% margin): it seeds backtracking
                # instead of fixing the step — probes are in-core O(nnz)
                # matvecs (no scans), and the majorization check halves
                # any over-large step. Poisson has no global bound.
                route_counts["incore_sparse"] += 1
                lr_in = (
                    lipschitz_step(family, 1.1 * sld.power_eigmax())
                    if family in STEP_FACTOR else None
                )
                res = fista(sld, beta_init, lam_scaled,
                            initial_learning_rate=lr_in, **fista_kw)
                return res, z, u
        # iterative families: prox-Newton (3 O(nnz) jobs per outer
        # iteration, 2-6 outer iterations) unless the Hessian payload
        # would be too wide or the self-join pair volume too large; else
        # FISTA with the fixed trace-bound step. The column-pruned Spark
        # design costs a createDataFrame + join to BUILD, so only this
        # fallback builds it.
        route_counts["distributed"] += 1
        newton = (len(idx) * m) ** 2 <= HESS_CELL_GUARD and _pair_volume_ok()
        sub = design if len(idx) == p_total else design.subset(idx)
        if newton:
            res = prox_newton(sub, beta_init, lam_scaled, **newton_kw)
        else:
            lr = lipschitz_step(family, float(col_sq[idx].sum()))
            res = fista(sub, beta_init, lam_scaled, fixed_learning_rate=lr,
                        **fista_kw)
        if sub is not design:
            scans += sub.scans
        return res, z, u

    lam = lambda_sequence(n_cols * m, n, lambda_type, q)
    # max_variables stop (src/owl.cpp:358-359): the default cap is n*m
    # (R/owl.R:288) — but with a USER-SUPPLIED sigma grid the reference
    # disables the rule entirely (R/owl.R:390), so frozen-sigma refits
    # (cv_fit_sparse cells) never truncate; an EXPLICIT max_variables is
    # honored either way (documented delta — at wide p it is the rule that
    # keeps the path out of the dense-solution regime, where the active
    # set approaches p and the screening + in-core architecture correctly
    # stops applying).
    cap = max_variables
    if cap is None and sigma is None:
        cap = n * m
    # pre-fit dense-regime guard (only with an explicit max_variables):
    # once the screening/repair set grows past this many ACTIVE columns,
    # the point's solution is far denser than the requested support budget
    # and would be discarded by the max_variables rule — but fitting it
    # distributed costs thousands of O(nnz) passes first. Abandon the path
    # instead. Semantic delta vs the reference (which has no such guard
    # because its in-core fit of the dense point is cheap): a point with
    # > 4*max_variables active columns that SLOPE-clusters back under
    # max_variables unique values would have been kept by the reference;
    # with the cap unset the loop is reference-exact.
    path = run_path(
        lam, lambda_max, solve, n=n, p_total=p_total, m=m, intercept=True,
        null_deviance=null_deviance, full_gradient=_full_gradient,
        sigma=sigma, n_sigma=n_sigma, lambda_min_ratio=lambda_min_ratio,
        # screening prunes the per-iteration joins to the active columns;
        # the Gram path has no per-iteration scans to prune, and at tiny p
        # the strong-rule/KKT full-gradient scans cost more than they save
        screening=bool(screening) and gram is None and n_cols > 8,
        stop_screening_when_full=False,
        max_variables=None if cap is None else int(cap),
        abandon_limit=None if max_variables is None else 4 * int(max_variables),
        tol_infeas=tol_infeas, tol_dev_change=tol_dev_change,
        tol_dev_ratio=tol_dev_ratio,
    )

    trip.unpersist()
    if ydf is not None:
        ydf.unpersist()
    if design is not None:
        scans += design.scans
    betas = path.betas
    betas[:, 0, :] *= icol
    x_scale = s_vec[1:].copy()
    out = _rescale(
        betas, np.zeros(n_cols), x_scale, rinfo.y_center, rinfo.y_scale, True
    )
    dev_scale = float(np.prod(np.asarray(rinfo.y_scale) ** 2))
    return SlopeModel(
        family=family,
        feature_names=[f"x{j}" for j in range(n_cols)],
        intercept=True,
        betas=out,
        sigma=path.sigma,
        lam=lam / n,
        null_deviance=null_deviance * dev_scale,
        deviances=path.deviances * dev_scale,
        deviance_ratios=path.deviance_ratios,
        passes=path.passes,
        active_sets=[np.flatnonzero(np.any(b != 0, axis=1)) for b in out],
        n_unique=path.n_unique,
        class_names=rinfo.class_names,
        n_targets=m,
        x_center=np.zeros(n_cols),
        x_scale=x_scale,
        y_center=rinfo.y_center,
        y_scale=rinfo.y_scale,
        # scan accounting: total distributed jobs the fit issued and the
        # per-path-point average (the cluster cost metric; the gaussian
        # Gram path amortizes to <1 scan per path point)
        diagnostics=dict(
            primals=[], duals=[], time=[],
            sparse_scans=scans,
            scans_per_path_point=scans / max(len(path.sigma), 1),
            hessian_pair_volume=(
                None if _pv["nnz_sq"] is None else float(_pv["nnz_sq"])
            ),
            pair_volume_ok=_pv["ok"],
            incore_subset_fits=incore is not None,
            subset_fit_routes=dict(route_counts),
            path_abandoned_dense=path.abandoned,
        ),
    )


def predict_sparse(
    triplets: DataFrame,
    model,
    *,
    rows: DataFrame | None = None,
    path_idx: int | None = None,
    type: str = "link",
    row_col: str = "row_id",
    col_col: str = "col_id",
    val_col: str = "value",
    out: str = "pred",
) -> DataFrame:
    """Predictions for a model (from ``fit_sparse`` or ``fit``) directly on
    long-format triplets — no densification (R/predict.R semantics on the
    sparse input path). One broadcast join + one groupBy(row_id): O(nnz).

    ``rows`` optionally supplies the full row universe so all-zero rows
    predict the intercept. ``type``: link | response | class. Returns
    (row_col, ``out``) — for multinomial response an array of class
    probabilities, for class the predicted label."""
    spark = triplets.sparkSession
    if path_idx is None:
        path_idx = model.n_path - 1
    B = np.asarray(model.betas[path_idx], dtype=np.float64)  # (p+1|p, m)
    m = model.n_targets
    start = 1 if model.intercept else 0
    b0 = B[0] if model.intercept else np.zeros(m)
    pen = B[start:]

    nz = np.flatnonzero(np.any(pen != 0, axis=1))
    lps = [F.lit(float(b0[t])) for t in range(m)]
    if len(nz):
        bdf = spark.createDataFrame(
            [(int(j), *[float(pen[j, t]) for t in range(m)]) for j in nz],
            f"{col_col} int, " + ", ".join(f"_b{t} double" for t in range(m)),
        )
        agg = (
            triplets.join(F.broadcast(bdf), col_col)
            .groupBy(row_col)
            .agg(
                *[
                    F.sum(F.col(val_col) * F.col(f"_b{t}")).alias(f"_s{t}")
                    for t in range(m)
                ]
            )
        )
        base = rows.select(row_col).join(agg, row_col, "left") if rows is not None else agg
        lps = [
            F.coalesce(F.col(f"_s{t}"), F.lit(0.0)) + F.lit(float(b0[t]))
            for t in range(m)
        ]
    else:
        if rows is None:
            base = triplets.select(row_col).distinct()
        else:
            base = rows.select(row_col)

    fam = model.family
    if fam in ("gaussian", "binomial", "poisson"):
        lp = lps[0]
        if type == "link" or (type == "response" and fam == "gaussian"):
            expr = lp
        elif fam == "binomial" and type == "response":
            expr = F.lit(1.0) / (F.lit(1.0) + F.exp(-lp))
        elif fam == "binomial" and type == "class":
            c1, c2 = model.class_names
            expr = F.when(lp > 0, F.lit(c2)).otherwise(F.lit(c1))
        elif fam == "poisson" and type == "response":
            expr = F.exp(lp)
        else:
            raise ValueError(f"type {type!r} not supported for {fam!r}")
        return base.select(row_col, expr.alias(out))

    # multinomial
    lps_full = lps + [F.lit(0.0)]
    if type == "link":
        return base.select(row_col, F.array(*lps).alias(out))
    mx = F.greatest(*lps_full)
    exps = [F.exp(e - mx) for e in lps_full]
    den = exps[0]
    for e in exps[1:]:
        den = den + e
    probs = [e / den for e in exps]
    if type == "response":
        return base.select(row_col, F.array(*probs).alias(out))
    if type == "class":
        classes = model.class_names
        best = F.greatest(*probs)
        chain = None
        for i, cls in enumerate(classes):
            cond = probs[i] == best
            chain = F.when(cond, F.lit(cls)) if chain is None else chain.when(cond, F.lit(cls))
        return base.select(row_col, chain.alias(out))
    raise ValueError(f"type {type!r} not supported for multinomial")


def score_sparse(
    triplets: DataFrame,
    y_df: DataFrame,
    model,
    label: str,
    measure: str = "mse",
    *,
    path_idx: int | None = None,
    row_col: str = "row_id",
    col_col: str = "col_id",
    val_col: str = "value",
) -> float:
    """Score one path slice directly on long-format triplets — the sparse
    leg of ``R/score.R`` (completes fit_sparse -> predict_sparse ->
    score_sparse so a sparse-input user never densifies).

    ``y_df`` supplies both the row universe (all-zero rows predict the
    intercept, exactly as the dense path sees them) and the labels.
    Measures per family as the dense :func:`prague_spark.ops.score.score`
    (shared ``measure_from_pred`` arithmetic): gaussian/poisson mse|mae,
    binomial mse|mae|deviance|misclass|auc, multinomial mse|mae|deviance.
    Cost: one broadcast coef join + one groupBy(row) + the measure
    aggregation — O(nnz)."""
    from .score import measure_from_pred

    fam = model.family
    out_col = {"binomial": "_prob", "multinomial": "_probs"}.get(fam, "_pred")
    preds = predict_sparse(
        triplets, model, rows=y_df.select(row_col), path_idx=path_idx,
        type="response", row_col=row_col, col_col=col_col, val_col=val_col,
        out=out_col,
    )
    pred = preds.join(y_df.select(F.col(row_col), F.col(label)), row_col)
    return measure_from_pred(pred, label, measure, fam, model.class_names)


def score_path_sparse(
    triplets: DataFrame,
    y_df: DataFrame,
    model,
    label: str,
    measures: list[str],
    *,
    row_col: str = "row_id",
    col_col: str = "col_id",
    val_col: str = "value",
) -> dict:
    """Score EVERY path slice for every measure on long-format triplets in
    TWO distributed jobs total (the sparse analogue of
    ``ops.score.score_path_spark``): ONE broadcast coef join + groupBy(row)
    emits every path point's linear predictor as columns of a per-row
    frame, then the shared path-measure aggregation
    (``score_path_from_lp``) reduces all (path point x measure) cells in
    one scan of it. auc adds ONE batched rank job covering every slice.
    Used by ``ops.cv.cv_fit_sparse``. Returns {measure: [value per path
    point]}."""
    from .score import score_path_from_lp

    spark = triplets.sparkSession
    n_path = model.n_path
    m = model.n_targets
    start = 1 if model.intercept else 0
    B = np.asarray(model.betas, dtype=np.float64)  # (n_path, p_tot, m)
    pen = B[:, start:, :]
    b0 = B[:, 0, :] if model.intercept else np.zeros((n_path, m))

    nz = np.flatnonzero(np.any(pen != 0, axis=(0, 2)))
    names = [f"_lp_{i}_{t}" for i in range(n_path) for t in range(m)]
    if len(nz):
        bdf = spark.createDataFrame(
            [
                (
                    int(j),
                    *[
                        float(pen[i, j, t])
                        for i in range(n_path)
                        for t in range(m)
                    ],
                )
                for j in nz
            ],
            f"{col_col} int, " + ", ".join(f"_b{c} double" for c in names),
        )
        agg = (
            triplets.join(F.broadcast(bdf), col_col)
            .groupBy(row_col)
            .agg(
                *[
                    F.sum(F.col(val_col) * F.col(f"_b{c}")).alias(f"_s{c}")
                    for c in names
                ]
            )
        )
        rows = y_df.join(agg, row_col, "left")
        for i in range(n_path):
            for t in range(m):
                c = f"_lp_{i}_{t}"
                rows = rows.withColumn(
                    c,
                    F.coalesce(F.col(f"_s{c}"), F.lit(0.0))
                    + F.lit(float(b0[i, t])),
                )
    else:
        rows = y_df
        for i in range(n_path):
            for t in range(m):
                rows = rows.withColumn(
                    f"_lp_{i}_{t}", F.lit(float(b0[i, t]))
                )

    def lp_fn(i: int, t: int = 0):
        return F.col(f"_lp_{i}_{t}")

    return score_path_from_lp(
        rows, lp_fn, label, measures, model.family, model.class_names,
        n_path, m,
    )


def cv_fit_sparse(
    triplets: DataFrame,
    y_df: DataFrame,
    label: str,
    family: str = "gaussian",
    *,
    n_cols: int,
    q_values=(0.2,),
    n_folds: int = 5,
    n_repeats: int = 1,
    measures: list[str] | None = None,
    seed: int = 42,
    row_col: str = "row_id",
    col_col: str = "col_id",
    val_col: str = "value",
    optimum: str = "reference",
    **fit_kwargs,
):
    """Repeated k-fold CV on the long-format sparse input path — trainOwl
    (``R/trainOwl.R:44-201``) for designs that never densify. Mirrors
    ``ops.cv.cv_fit``: an initial full fit freezes the sigma grid, each
    (q, repeat, fold) cell refits on the train rows and scores the whole
    path on the test rows, and the aggregation/optima logic is shared —
    including ``optimum='reference'|'best'`` (the reference's
    which.min applies argmin to EVERY measure, auc included; 'best'
    argmaxes auc; the default warns when auc is requested, exactly like
    the dense ``cv_fit``).

    Fold assignment hashes ``row_col`` (xxhash64, seeded per repeat), so
    the SAME expression filters both the triplets and the y frame without
    a join, deterministically under any partitioning. Each cell's fit
    takes the wide-p screening + in-core subset route when within budget
    (scans per path point stay ~2-3); test scoring is two jobs per cell
    (``score_path_sparse``)."""
    from .cv import _OK_MEASURES, _aggregate

    ok = _OK_MEASURES[family]
    measures = [mm for mm in (measures or ok[:1]) if mm in ok]
    if not measures:
        raise ValueError(f"measure needs to be one of {ok}")
    if optimum not in ("reference", "best"):
        raise ValueError(
            f"cv_fit_sparse: optimum must be 'reference' or 'best', "
            f"got {optimum!r}"
        )
    if optimum == "reference" and "auc" in measures:
        import warnings

        warnings.warn(
            "cv_fit_sparse: optimum='reference' applies the reference's "
            "argmin to auc, selecting the LOWEST-auc path point "
            "(R/trainOwl.R:165); pass optimum='best' for the argmax",
            UserWarning, stacklevel=2,
        )

    base = fit_sparse(
        triplets, y_df, label, family, n_cols=n_cols, q=q_values[0],
        row_col=row_col, col_col=col_col, val_col=val_col, **fit_kwargs,
    )
    sigma = base.sigma

    triplets = triplets.persist()
    y_df = y_df.persist()
    cells = []
    for rep in range(n_repeats):
        fold_of = F.pmod(
            F.xxhash64(F.col(row_col), F.lit(seed + rep)), F.lit(n_folds)
        )
        for fold in range(n_folds):
            tr_t = triplets.filter(fold_of != fold)
            tr_y = y_df.filter(fold_of != fold)
            te_t = triplets.filter(fold_of == fold)
            te_y = y_df.filter(fold_of == fold)
            for qv in q_values:
                mdl = fit_sparse(
                    tr_t, tr_y, label, family, n_cols=n_cols, q=qv,
                    sigma=sigma, row_col=row_col, col_col=col_col,
                    val_col=val_col, **fit_kwargs,
                )
                per_meas = score_path_sparse(
                    te_t, te_y, mdl, label, measures,
                    row_col=row_col, col_col=col_col, val_col=val_col,
                )
                for meas in measures:
                    vals = per_meas[meas]
                    for si in range(min(len(vals), mdl.n_path)):
                        cells.append(
                            dict(q=qv, rep=rep, fold=fold, sigma_idx=si,
                                 measure=meas, value=float(vals[si]))
                        )
    triplets.unpersist()
    y_df.unpersist()
    return _aggregate(cells, sigma, q_values, measures, n_folds, n_repeats,
                      base, optimum=optimum)


def sparse_xtv(
    triplets: DataFrame,
    v: DataFrame,
    row_col: str = "row_id",
    col_col: str = "col_id",
    val_col: str = "value",
    v_col: str = "v",
) -> DataFrame:
    """Distributed ``X^T v`` directly on the long format: join the triplets
    to the per-row vector ``v`` on row_id, then one groupBy(col_id) sum.

    This is the wide-p scale path (p too large to densify into array rows
    or to ship a p-vector to the driver): shuffle volume is O(nnz) for the
    join plus O(distinct col_id) for the aggregation, and the result stays
    a DataFrame — the gradient never has to exist as one dense object.
    Returns (col_id, xtv)."""
    return (
        triplets.join(v.select(F.col(row_col), F.col(v_col)), row_col)
        .groupBy(col_col)
        .agg(F.sum(F.col(val_col) * F.col(v_col)).alias("xtv"))
    )
