"""Distributed linear-algebra primitives (Arrow-batched partial aggregation).

This is the treeAggregate pattern MLlib uses for its GLM cost aggregators:
each partition reduces its rows to one small partial vector with vectorized
NumPy over Arrow batches (``mapInArrow`` — no per-row Python), the driver
sums the <= #partitions partials. Nothing n-sized ever reaches the driver.

At 100 TB the per-evaluation cost is one scan of the cached feature
DataFrame; the partial result is O(p*m) per partition. For very large p,
switch ``payload`` to upper-triangular Gram packing — noted inline.
"""

from __future__ import annotations

import numpy as np


def _list_col_to_2d(col, width: int) -> np.ndarray:
    """Arrow ListArray / FixedSizeListArray of uniform-length lists -> (n, width)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if isinstance(col, pa.FixedSizeListArray):
        vals = col.values.to_numpy(zero_copy_only=False)
        return vals.reshape(len(col), width)
    offsets = col.offsets.to_numpy()
    vals = col.values.to_numpy(zero_copy_only=False)
    start, end = int(offsets[0]), int(offsets[-1])
    return np.asarray(vals[start:end], dtype=np.float64).reshape(len(col), width)


def _batch_xy(batch, x_name: str, y_name: str, p: int, m: int):
    """Extract (X, Y) NumPy arrays from one Arrow RecordBatch."""
    X = _list_col_to_2d(batch.column(batch.schema.get_field_index(x_name)), p)
    X = np.ascontiguousarray(X, dtype=np.float64)
    ycol = batch.column(batch.schema.get_field_index(y_name))
    if m > 1:
        return X, _list_col_to_2d(ycol, m)
    return X, ycol.to_numpy(zero_copy_only=False).astype(np.float64)[:, np.newaxis]


def partial_aggregate(df, out_len: int, make_partial):
    """Run ``make_partial(batch) -> 1-D ndarray (out_len)`` over every Arrow
    batch, sum per task, then sum the collected per-task partials on the
    driver. Returns the global sum as a 1-D ndarray."""
    import pyarrow as pa

    def fn(batches):
        acc = np.zeros(out_len, dtype=np.float64)
        seen = False
        for b in batches:
            if b.num_rows == 0:
                continue
            acc += make_partial(b)
            seen = True
        if seen:
            yield pa.RecordBatch.from_arrays(
                [pa.array([acc.tolist()], type=pa.list_(pa.float64()))],
                names=["partial"],
            )

    rows = df.mapInArrow(fn, "partial array<double>").collect()
    total = np.zeros(out_len, dtype=np.float64)
    for r in rows:
        total += np.asarray(r["partial"], dtype=np.float64)
    return total


def gram_xty_pass(df, x_col: str, y_col: str, p: int, m: int = 1):
    """Single distributed pass producing the gaussian sufficient statistics
    (X^T X, X^T y, y^T y, n). Mirrors the reference's one-time Gram
    factorization setup (``src/owl.cpp:178-203`` in jolars/prague) — after
    this pass the whole gaussian path is driver-side.

    Payload per partition: p^2 + p*m + m + 1 doubles (use triangular packing
    for p over ~5k)."""
    out_len = p * p + p * m + 1 + 1

    def make_partial(batch):
        X, Y = _batch_xy(batch, x_col, y_col, p, m)
        part = np.empty(out_len, dtype=np.float64)
        part[: p * p] = (X.T @ X).ravel()
        part[p * p : p * p + p * m] = (X.T @ Y).ravel(order="F")
        part[-2] = float(np.sum(Y * Y))
        part[-1] = float(X.shape[0])
        return part

    tot = partial_aggregate(df.select(x_col, y_col), out_len, make_partial)
    gram = tot[: p * p].reshape(p, p)
    xty = tot[p * p : p * p + p * m].reshape((p, m), order="F")
    yty = float(tot[-2])
    n = int(round(tot[-1]))
    return gram, (xty.ravel() if m == 1 else xty), yty, n


def gram_xty_pass_keyed(df, x_col: str, y_col: str, key_col: str, p: int, n_keys: int):
    """Per-key gaussian sufficient statistics in ONE distributed pass.

    For each key k in [0, n_keys): raw (un-standardized) X^T X, X^T y,
    column sums of X, y^T y, sum of y, and row count — everything a
    gaussian path fit AND its standardization AND its mse scoring need.
    This is what makes one-pass cross-validation possible: train-fold
    stats are total-minus-fold, so k-fold CV costs ONE scan of the data
    regardless of k (payload: n_keys * (p^2 + 2p + 3) doubles/partition).
    """
    block = p * p + p + p + 1 + 1 + 1
    out_len = n_keys * block

    def make_partial(batch):
        X, Y = _batch_xy(batch, x_col, y_col, p, 1)
        keys = (
            batch.column(batch.schema.get_field_index(key_col))
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        y = Y.ravel()
        part = np.zeros(out_len, dtype=np.float64)
        for k in np.unique(keys):
            if k < 0 or k >= n_keys:
                raise ValueError(
                    f"key {k} outside [0, {n_keys}); use pmod when deriving keys"
                )
            msk = keys == k
            Xk, yk = X[msk], y[msk]
            o = int(k) * block
            part[o : o + p * p] = (Xk.T @ Xk).ravel()
            part[o + p * p : o + p * p + p] = Xk.T @ yk
            part[o + p * p + p : o + p * p + 2 * p] = Xk.sum(axis=0)
            part[o + p * p + 2 * p] = float(yk @ yk)
            part[o + p * p + 2 * p + 1] = float(yk.sum())
            part[o + p * p + 2 * p + 2] = float(len(yk))
        return part

    tot = partial_aggregate(df.select(x_col, y_col, key_col), out_len, make_partial)
    out = []
    for k in range(n_keys):
        o = k * block
        out.append(
            dict(
                gram=tot[o : o + p * p].reshape(p, p),
                xty=tot[o + p * p : o + p * p + p].copy(),
                sums_x=tot[o + p * p + p : o + p * p + 2 * p].copy(),
                yty=float(tot[o + p * p + 2 * p]),
                sum_y=float(tot[o + p * p + 2 * p + 1]),
                n=int(round(tot[o + p * p + 2 * p + 2])),
            )
        )
    return out


def glm_setup_pass(df, x_col: str, y_col: str, p: int, m: int = 1,
                   need_xtx: bool = True, need_xsq: bool = False, family=None):
    """ONE fused scan producing every setup statistic the iterative GLM
    families need: optionally X^T X (Lipschitz bound), X^T Y, column sums
    of X, optionally per-column sums of squares (standardization scales),
    column sums of Y, n, and (when ``family`` is given) the primal
    objective at beta = 0 — i.e. the null deviance / 2 — so the path loop
    needs no dedicated null-model or standardizer pass. Replaces up to
    five separate scans; at cluster scale each avoided pass is one full
    read of the data."""
    nx = p * p if need_xtx else 0
    nq = p if need_xsq else 0
    with_null = family is not None
    out_len = nx + p * m + p + nq + m + m + (1 if with_null else 0) + 1

    def make_partial(batch):
        X, Y = _batch_xy(batch, x_col, y_col, p, m)
        part = np.empty(out_len, dtype=np.float64)
        if need_xtx:
            part[:nx] = (X.T @ X).ravel()
        o = nx
        part[o : o + p * m] = (X.T @ Y).ravel(order="F")
        o += p * m
        part[o : o + p] = X.sum(axis=0)
        o += p
        if need_xsq:
            part[o : o + p] = (X * X).sum(axis=0)
            o += p
        part[o : o + m] = Y.sum(axis=0)
        o += m
        part[o : o + m] = (Y * Y).sum(axis=0)
        if with_null:
            part[-2] = family.primal(Y, np.zeros_like(Y, dtype=np.float64))
        part[-1] = float(X.shape[0])
        return part

    tot = partial_aggregate(df.select(x_col, y_col), out_len, make_partial)
    o = nx
    xty = tot[o : o + p * m].reshape((p, m), order="F")
    o += p * m
    sums_x = tot[o : o + p].copy()
    o += p
    sumsq_x = tot[o : o + p].copy() if need_xsq else None
    o += nq
    sums_y = tot[o : o + m].copy()
    o += m
    sumsq_y = tot[o : o + m].copy()
    return dict(
        xtx=tot[:nx].reshape(p, p) if need_xtx else None,
        xty=xty,
        sums_x=sums_x,
        sumsq_x=sumsq_x,
        sums_y=sums_y,
        sumsq_y=sumsq_y,
        primal0=float(tot[-2]) if with_null else None,
        n=int(round(tot[-1])),
    )


def xtv_pass(df, x_col: str, v_col: str, p: int, m: int = 1):
    """Distributed ``X^T v`` (used for lambda_max, ``src/lambdaMax.h:8-60``)."""

    def make_partial(batch):
        X, V = _batch_xy(batch, x_col, v_col, p, m)
        return (X.T @ V).ravel(order="F")

    out = partial_aggregate(df.select(x_col, v_col), p * m, make_partial)
    return out if m == 1 else out.reshape((p, m), order="F")
