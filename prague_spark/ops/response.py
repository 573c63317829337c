"""Per-family response validation and encoding.

DataFrame re-expression of the reference's ``preprocessResponse``
(``R/preProcessResponse.R:1-104`` in jolars/prague):

- gaussian: numeric response, mean-centered; center recorded.
- binomial: exactly two classes (each with > 1 observation), encoded to
  {-1, +1} by sorted class order (first class -> -1).
- multinomial: > 2 classes, one-hot n x (m-1) with the last class dropped.
- poisson: non-negative numeric response, passed through.

Class discovery is a ``groupBy(label).count()`` over a low-cardinality
column — a tiny map-side-combined aggregation at any scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, functions as F

Y_COL = "_y_internal"


@dataclass
class ResponseInfo:
    family: str
    y_center: np.ndarray
    y_scale: np.ndarray
    n_classes: int
    n_targets: int
    class_names: list[str] = field(default_factory=list)


def _check_no_null_labels(n_null, label: str) -> None:
    """Fail loudly on null responses: the aggregates would skip those rows
    while the encoded column kept them (NaN or a silently defaulted
    class). Every route reports the same message."""
    if n_null:
        raise ValueError(
            f"response column {label!r} has {int(n_null)} null value(s)"
        )


def _n_null_double(label: str):
    # a value that does not cast to double is as missing as a null
    return F.sum(F.col(label).cast("double").isNull().cast("long")).alias("_nnull")


def preprocess_response(
    df: DataFrame, label: str, family: str
) -> tuple[DataFrame, ResponseInfo]:
    if family == "gaussian":
        row = df.agg(
            F.avg(F.col(label).cast("double")).alias("m"),
            F.stddev_samp(F.col(label).cast("double")).alias("s"),
            _n_null_double(label),
        ).first()
        _check_no_null_labels(row["_nnull"], label)
        y_center = float(row["m"])
        # Internal unit-variance scaling (the glmnet convention). The
        # reference keeps y_scale = 1 but its rescale step supports any
        # y_scale (src/rescale.h:8-31); unit scale keeps the ADMM/FISTA
        # absolute stopping tolerances meaningful on raw-unit responses.
        y_scale = float(row["s"]) if row["s"] and float(row["s"]) > 0 else 1.0
        out = df.withColumn(
            Y_COL, (F.col(label).cast("double") - F.lit(y_center)) / F.lit(y_scale)
        )
        return out, ResponseInfo(
            family, np.array([y_center]), np.array([y_scale]), 1, 1
        )

    if family == "binomial":
        counts = (
            df.groupBy(F.col(label).cast("string").alias("cls"))
            .count()
            .collect()
        )
        by = {r["cls"]: r["count"] for r in counts}
        _check_no_null_labels(by.get(None), label)
        classes = sorted(by)
        if len(classes) > 2:
            raise ValueError("more than two classes in response")
        if len(classes) < 2:
            raise ValueError("only one class in response.")
        min_class = min(by.values())
        if min_class <= 1:
            raise ValueError(f"one class only has {min_class} observations.")
        out = df.withColumn(
            Y_COL,
            F.when(F.col(label).cast("string") == F.lit(classes[0]), -1.0).otherwise(1.0),
        )
        return out, ResponseInfo(
            family, np.array([0.0]), np.array([1.0]), 1, 1, classes
        )

    if family == "multinomial":
        counts = (
            df.groupBy(F.col(label).cast("string").alias("cls")).count().collect()
        )
        by = {r["cls"]: r["count"] for r in counts}
        _check_no_null_labels(by.get(None), label)
        classes = sorted(by)
        n_classes = len(classes)
        if n_classes == 2:
            raise ValueError(
                "only two classes in response. Are you looking for family='binomial'?"
            )
        if n_classes < 2:
            raise ValueError("only one class in response")
        if min(by.values()) <= 1:
            raise ValueError(f"one class only has {min(by.values())} observations.")
        n_targets = n_classes - 1
        out = df.withColumn(
            Y_COL,
            F.array(
                *[
                    F.when(
                        F.col(label).cast("string") == F.lit(classes[k]), 1.0
                    ).otherwise(0.0)
                    for k in range(n_targets)
                ]
            ),
        )
        return out, ResponseInfo(
            family,
            np.zeros(n_targets),
            np.ones(n_targets),
            n_classes,
            n_targets,
            classes,
        )

    if family == "poisson":
        row = df.agg(F.min(F.col(label).cast("double")), _n_null_double(label)).first()
        _check_no_null_labels(row["_nnull"], label)
        ymin = row[0]
        if ymin is not None and ymin < 0:
            raise ValueError("cannot have negative responses in poisson model")
        out = df.withColumn(Y_COL, F.col(label).cast("double"))
        return out, ResponseInfo(family, np.array([0.0]), np.array([1.0]), 1, 1)

    raise ValueError(f"unknown family {family!r}")


def _factorize_labels(y):
    """(sorted class list, per-row sorted-rank codes int64, per-class
    counts in sorted order) from an Arrow string array/chunked-array or
    any Python/NumPy sequence of labels."""
    try:
        import pyarrow as pa
    except ImportError:  # pragma: no cover
        pa = None
    if pa is not None and isinstance(y, (pa.Array, pa.ChunkedArray)):
        arr = y.combine_chunks() if isinstance(y, pa.ChunkedArray) else y
        enc = arr.dictionary_encode()
        seen = [str(v) for v in enc.dictionary.to_pylist()]
        codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    else:
        labels = np.asarray([str(v) for v in y], dtype=object)
        seen_arr, codes = np.unique(labels, return_inverse=True)
        seen = [str(c) for c in seen_arr]
    order = sorted(range(len(seen)), key=seen.__getitem__)
    rank = np.empty(len(seen), dtype=np.int64)
    for r, i in enumerate(order):
        rank[i] = r
    ranked = rank[codes]
    counts_sorted = np.bincount(ranked, minlength=len(seen))
    return [seen[i] for i in order], ranked, counts_sorted


def raw_label(label: str, family: str):
    """The label column as :func:`preprocess_response_local` reads it:
    strings for the classification families, doubles otherwise (the casts
    :func:`preprocess_response` applies)."""
    as_str = family in ("binomial", "multinomial")
    return F.col(label).cast("string" if as_str else "double")


def preprocess_response_local(
    y, family: str, label: str
) -> tuple[ResponseInfo, np.ndarray]:
    """NumPy twin of :func:`preprocess_response` for the driver-side
    routes: identical validation and encoding over an already-collected
    label array — the Arrow column of :func:`raw_label` (whose nulls fail
    as on the Spark route), or any array of the same values. Returns
    ``(info, Y)`` with Y shaped (n, n_targets) float64."""
    _check_no_null_labels(getattr(y, "null_count", 0), label)
    if family == "gaussian":
        yv = np.asarray(y, dtype=np.float64)
        y_center = float(yv.mean())
        s = float(yv.std(ddof=1)) if yv.size > 1 else 0.0
        y_scale = s if np.isfinite(s) and s > 0 else 1.0
        info = ResponseInfo(family, np.array([y_center]), np.array([y_scale]), 1, 1)
        return info, ((yv - y_center) / y_scale)[:, np.newaxis]

    if family in ("binomial", "multinomial"):
        # class discovery on the dictionary, not the rows: Arrow
        # dictionary_encode is vectorized C++; ranks then map per-row codes
        # to sorted-class order without ever touching Python strings
        classes_l, ranked, counts_sorted = _factorize_labels(y)
        n_classes = len(classes_l)
        if family == "binomial":
            if n_classes > 2:
                raise ValueError("more than two classes in response")
            if n_classes < 2:
                raise ValueError("only one class in response.")
            min_class = int(counts_sorted.min())
            if min_class <= 1:
                raise ValueError(f"one class only has {min_class} observations.")
            Y = np.where(ranked == 0, -1.0, 1.0)[:, np.newaxis]
            return ResponseInfo(
                family, np.array([0.0]), np.array([1.0]), 1, 1, classes_l
            ), Y
        if n_classes == 2:
            raise ValueError(
                "only two classes in response. Are you looking for family='binomial'?"
            )
        if n_classes < 2:
            raise ValueError("only one class in response")
        if int(counts_sorted.min()) <= 1:
            raise ValueError(f"one class only has {int(counts_sorted.min())} observations.")
        n_targets = n_classes - 1
        Y = (ranked[:, np.newaxis] == np.arange(n_targets)[np.newaxis, :]).astype(np.float64)
        return ResponseInfo(
            family, np.zeros(n_targets), np.ones(n_targets),
            n_classes, n_targets, classes_l,
        ), Y

    if family == "poisson":
        yv = np.asarray(y, dtype=np.float64)
        if yv.size and float(yv.min()) < 0:
            raise ValueError("cannot have negative responses in poisson model")
        return ResponseInfo(family, np.array([0.0]), np.array([1.0]), 1, 1), yv[:, np.newaxis]

    raise ValueError(f"unknown family {family!r}")
