"""Driver-contract query registry: one entry per implemented operator
(SURVEY.md §2 + the pipeline extensions), each with a DuckDB-SQL oracle
where the semantics are SQL-expressible.

Conventions that make cross-engine hash comparison robust:
- every float column is ROUND()ed identically on both sides (4-6 dp
  depending on how much aggregation/transcendental error can accumulate);
- counts are cast to BIGINT on both sides;
- hashes derive from md5 (portable), never engine-private hash();
- any constant that both sides need (coefficients, t-quantiles, minhash
  (a, b) params) is computed once here and embedded as literals in BOTH
  the Spark plan and the SQL string.
"""

from __future__ import annotations

import os
from functools import lru_cache

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .core.stats import t_ppf
from .ops.features import one_hot
from .ops.response import Y_COL, preprocess_response
from .ops.standardize import StandardizerModel, fit_standardizer
from .pipeline import dedup, similarity, text
from .scope import generation, pin as scope_pin

# The driver's correctness gate runs both engines at this scale factor;
# data-dependent oracle literals are derived from it at import time.
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Scratch directories for registry queries whose plan gates against a
# side artifact (a written index / saved model), keyed by (kind, sf_dir):
# the driver's correctness pass and the bench's best-of-N both invoke a
# registry entry several times per process, and an uncached mkdtemp per
# invocation both re-pays the eager index write at plan-construction
# time and leaks one orphan /tmp tree per call. Cached dirs are removed
# at interpreter exit.
_SCRATCH_DIRS: dict = {}
_SCRATCH_BUILD_LOCKS: dict = {}
_SCRATCH_LOCK = __import__("threading").Lock()
# per-invocation model-sink subdir sequence (itertools.count is atomic
# under the GIL) — see q_model_sink
_MODEL_SINK_SEQ = __import__("itertools").count()


def _cleanup_scratch() -> None:
    import shutil

    for d in _SCRATCH_DIRS.values():
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH_DIRS.clear()


def _scratch_artifact(kind: str, sf_dir: str, build) -> str:
    """Process-cached scratch directory for ``kind``'s side artifact
    over ``sf_dir``'s tables: on first call run ``build(dir)`` and cache
    the directory ONLY after the build succeeds — a failed/interrupted
    first write must not poison every later invocation with a
    half-written (or missing) artifact, and a concurrent second caller
    must wait for the build rather than read mid-write (per-key build
    lock; the global lock guards only the dicts)."""
    import atexit
    import shutil
    import tempfile
    import threading

    key = (kind, sf_dir)
    with _SCRATCH_LOCK:
        d = _SCRATCH_DIRS.get(key)
        if d is not None:
            return d
        if not _SCRATCH_BUILD_LOCKS:
            atexit.register(_cleanup_scratch)
        bl = _SCRATCH_BUILD_LOCKS.setdefault(key, threading.Lock())
    with bl:
        with _SCRATCH_LOCK:
            d = _SCRATCH_DIRS.get(key)
        if d is not None:
            return d
        d = tempfile.mkdtemp(prefix=f"prague_{kind}_")
        try:
            build(d)
        except BaseException:
            shutil.rmtree(d, ignore_errors=True)
            raise
        with _SCRATCH_LOCK:
            _SCRATCH_DIRS[key] = d
        return d


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has been parquet TIMESTAMP(NANOS) in some testdata
        # generations (Spark needs the legacy long read + an explicit
        # micros conversion; integer division — a double round-trip loses
        # sub-microsecond precision) and plain TIMESTAMP(MICROS) in
        # others, where it reads as a timestamp directly.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") in ("bigint", "long"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# shared fixtures: standardized lineitem columns + fixed coefficient slice
# ---------------------------------------------------------------------------

ZCOLS = ["l_quantity", "l_extendedprice", "l_discount"]
# fixed coefficients for the prediction/scoring oracle queries
B0, BQ, BP, BD = 0.1, 0.8, 0.3, -0.5
# second multinomial target
C0, CQ, CP, CD = -0.02, -0.3, 0.6, 0.2
T_MULT_5 = t_ppf(0.975, 4)  # 5 folds -> df=4, embedded in both sides


@lru_cache(maxsize=None)
def _li_moments(sf_dir: str) -> dict:
    """Deterministic (mean, sample-sd) for the standardized lineitem
    columns, computed ONCE on the driver from the parquet with NumPy
    (single canonical summation order) and embedded as literals in BOTH
    the Spark plan and the DuckDB oracle.

    Why literals: a distributed sum and DuckDB's serial sum differ in the
    last ulp; standardizing by each engine's own aggregate occasionally
    lands a z-score's 5th decimal exactly on a ROUND(.,4) boundary, which
    flips the rounded digit (the round-1 p1/p2 hash FAILs). With shared
    literals both engines do bit-identical per-row IEEE arithmetic. The
    engine's own distributed aggregates stay oracle-verified separately
    by p2_standardize_scales / p1_response_info."""
    import pyarrow.parquet as pq
    import numpy as np

    tbl = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=ZCOLS)
    out = {}
    for c in ZCOLS:
        v = tbl.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
        out[c] = (float(v.mean()), float(v.std(ddof=1)))
    return out


def _z_sql(sf_dir: str) -> str:
    mom = _li_moments(sf_dir)
    (mq, sq), (mp, sp), (md, sd) = (mom[c] for c in ZCOLS)
    return f"""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
           l_quantity AS w_raw,
           (l_quantity      - {mq!r}) / {sq!r} AS zq,
           (l_extendedprice - {mp!r}) / {sp!r} AS zp,
           (l_discount      - {md!r}) / {sd!r} AS zd,
           (l_extendedprice - {mp!r}) / {sp!r} AS ys
    FROM lineitem
"""


# Placeholder embedded into the SQL templates at module import; the
# data-dependent literals are substituted per sf_dir by build_oracles().
# (Every use site wraps it in parentheses already.)
_Z_SQL = "%%Z_SQL%%"


def _zdf(spark, sf_dir) -> DataFrame:
    """Engine-side z-scores through StandardizerModel.transform (the
    engine's projection path), with the center/scale constants pinned to
    the shared literals (see _li_moments). ``ys`` is the standardized
    response (= zp: the fixture response IS l_extendedprice)."""
    li = load(spark, sf_dir, "lineitem")
    mom = _li_moments(sf_dir)
    std = StandardizerModel(
        cols=list(ZCOLS),
        center={c: mom[c][0] for c in ZCOLS},
        scale={c: mom[c][1] for c in ZCOLS},
        do_center=True,
        scale_type="sd",
    )
    out = std.transform(li, suffix="_z")
    return out.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        F.col("l_quantity").alias("w_raw"),
        F.col("l_quantity_z").alias("zq"),
        F.col("l_extendedprice_z").alias("zp"),
        F.col("l_discount_z").alias("zd"),
        F.col("l_extendedprice_z").alias("ys"),
    )


def _lp_expr():
    return (
        F.lit(B0)
        + F.lit(BQ) * F.col("zq")
        + F.lit(BP) * F.col("zp")
        + F.lit(BD) * F.col("zd")
    )


_LP_SQL = f"({B0!r} + {BQ!r}*zq + {BP!r}*zp + {BD!r}*zd)"
_LP2_SQL = f"({C0!r} + {CQ!r}*zq + {CP!r}*zp + {CD!r}*zd)"


def _lp2_expr():
    return (
        F.lit(C0)
        + F.lit(CQ) * F.col("zq")
        + F.lit(CP) * F.col("zp")
        + F.lit(CD) * F.col("zd")
    )


# ---------------------------------------------------------------------------
# §2.2 preprocessing operators
# ---------------------------------------------------------------------------

def q_p1_response(spark, sf_dir):
    """All per-row response encodings of preprocessResponse in ONE
    projection (P1, R/preProcessResponse.R:1-104): gaussian center +
    unit-variance scale (10-13), binomial {-1,+1} by sorted class order
    (42), multinomial one-hot with last class dropped (62-68). The
    gaussian center/scale are the shared driver literals (_li_moments) so
    the per-row arithmetic is bit-identical across engines; the aggregates
    themselves are verified by p1_response_info.

    Quantization: floor(x*1e4 + 0.5) instead of round(x, 4) — Spark's
    round() goes through BigDecimal HALF_UP on the exact binary value
    while DuckDB rounds via scaled-double arithmetic, so 5th-decimal
    boundary values flip differently; floor on the same double product is
    bit-identical in both engines."""
    li = load(spark, sf_dir, "lineitem").withColumn(
        "flag", F.when(F.col("l_returnflag") == "R", "ret").otherwise("ok")
    )
    c, s = _li_moments(sf_dir)["l_extendedprice"]
    b, _ = preprocess_response(li, "flag", "binomial")
    b = b.withColumnRenamed(Y_COL, "_yb")
    m, _ = preprocess_response(b, "l_returnflag", "multinomial")
    zy = (F.col("l_extendedprice") - F.lit(c)) / F.lit(s)
    return m.select(
        "l_orderkey", "l_linenumber",
        F.floor(zy * F.lit(1e4) + F.lit(0.5)).cast("long").alias("y_std_q"),
        F.col("_yb").alias("y_enc"),
        F.col(Y_COL)[0].alias("y0"),
        F.col(Y_COL)[1].alias("y1"),
    )


SQL_P1_RESPONSE = """
    SELECT l_orderkey, l_linenumber,
           CAST(floor((l_extendedprice - %%P1C%%) / %%P1S%% * 1e4 + 0.5) AS BIGINT) AS y_std_q,
           CASE WHEN (CASE WHEN l_returnflag = 'R' THEN 'ret' ELSE 'ok' END) = 'ok'
                THEN -1.0 ELSE 1.0 END AS y_enc,
           CASE WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.0 END AS y0,
           CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END AS y1
    FROM lineitem
"""


def q_p1_response_info(spark, sf_dir):
    """The response-preprocessing AGGREGATES themselves (y_center, y_scale,
    class inventory) for all four families, oracle-checked at 2 dp — this
    is what keeps preprocess_response's distributed statistics verified
    now that the per-row queries use shared literals."""
    li = load(spark, sf_dir, "lineitem").withColumn(
        "flag", F.when(F.col("l_returnflag") == "R", "ret").otherwise("ok")
    )
    rows = []
    _, gi = preprocess_response(li, "l_extendedprice", "gaussian")
    rows.append(("gaussian", round(float(gi.y_center[0]), 2),
                 round(float(gi.y_scale[0]), 2), int(gi.n_targets), ""))
    _, bi = preprocess_response(li, "flag", "binomial")
    rows.append(("binomial", 0.0, 1.0, int(bi.n_targets), ",".join(bi.class_names)))
    _, mi = preprocess_response(li, "l_returnflag", "multinomial")
    rows.append(("multinomial", 0.0, 1.0, int(mi.n_targets), ",".join(mi.class_names)))
    _, pi = preprocess_response(li, "l_quantity", "poisson")
    rows.append(("poisson", 0.0, 1.0, int(pi.n_targets), ""))
    return spark.createDataFrame(
        rows, "family string, y_center double, y_scale double, "
              "n_targets int, classes string"
    )


SQL_P1_INFO = """
    SELECT 'gaussian' AS family,
           round(avg(l_extendedprice), 2) AS y_center,
           round(stddev_samp(l_extendedprice), 2) AS y_scale,
           1::INTEGER AS n_targets, '' AS classes
    FROM lineitem
    UNION ALL
    SELECT 'binomial', 0.0, 1.0, 1::INTEGER, 'ok,ret' FROM (SELECT 1)
    UNION ALL
    SELECT 'multinomial', 0.0, 1.0,
           (count(DISTINCT l_returnflag) - 1)::INTEGER,
           string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'poisson', 0.0, 1.0, 1::INTEGER, '' FROM (SELECT 1)
"""


def q_p2_standardize(spark, sf_dir):
    """Per-column center/scale standardization (src/standardize.h:8-40)."""
    z = _zdf(spark, sf_dir)

    def q4(c):
        # engine-identical quantization (see q_p1_response_gaussian)
        return F.floor(F.col(c) * F.lit(1e4) + F.lit(0.5)).cast("long").alias(c + "_q")

    return z.select("l_orderkey", "l_linenumber", q4("zq"), q4("zp"), q4("zd"))


SQL_P2_STANDARDIZE = f"""
    SELECT l_orderkey, l_linenumber,
           CAST(floor(zq * 1e4 + 0.5) AS BIGINT) AS zq_q,
           CAST(floor(zp * 1e4 + 0.5) AS BIGINT) AS zp_q,
           CAST(floor(zd * 1e4 + 0.5) AS BIGINT) AS zd_q
    FROM ({_Z_SQL})
"""


#: Columns the profile_table slice runs over (3 numeric + 1 string so
#: both type branches of the profiler are exercised).
_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_returnflag"]
_PROFILE_QS = (0.25, 0.5, 0.75)


def q_p2_standardize_scales(spark, sf_dir):
    """All four scale norms (l1/l2/sd/max) of the centered columns
    (src/standardize.h:17-39) — one row per feature column.

    Round-7 merge: the one-pass table profiler (ops.profile.profile_table)
    rides as 'profile_*' tagged rows over 3 numeric + 1 string lineitem
    columns. Exact metrics (count / nulls / min / max / mean) are
    hash-verified directly; the sketch metrics (HLL approx_distinct, GK
    approx quantiles — approximate by design, so no cross-engine value
    equality exists) are pinned as a per-column 'profile_sketch_ok'
    bound-check row: 1.0 iff the HLL estimate is within 3*rsd of the
    exact distinct count AND every approx quantile lies inside the exact
    [p-0.01, p+0.01] quantile band (GK accuracy 10^4 guarantees rank
    error ~1e-4 << 0.01) AND the string column's min/max text match the
    exact min/max. Deterministic on fixed data: both sketches are
    deterministic algorithms."""
    li = load(spark, sf_dir, "lineitem")
    rows = []
    for scale in ("l1", "l2", "sd", "max"):
        m = fit_standardizer(li, ZCOLS, center=True, scale=scale)
        for c in ZCOLS:
            rows.append((scale, c, float(m.scale[c])))

    from .ops.profile import profile_table

    prof = profile_table(li, _PROFILE_COLS, quantiles=_PROFILE_QS, rsd=0.05)
    pv = {(r["column"], r["metric"]): r for r in prof.collect()}
    numeric = [c for c in _PROFILE_COLS if c != "l_returnflag"]
    # exact reference stats for the sketch bound-check (gate-SF-sized agg)
    band = [p + d for p in _PROFILE_QS for d in (-0.01, 0.01)]
    ex = li.agg(
        *[F.countDistinct(c).alias(f"d_{c}") for c in _PROFILE_COLS],
        *[
            F.expr(f"percentile({c}, array({', '.join(map(repr, band))}))").alias(f"q_{c}")
            for c in numeric
        ],
        F.min("l_returnflag").alias("rf_min"),
        F.max("l_returnflag").alias("rf_max"),
    ).collect()[0]
    for c in _PROFILE_COLS:
        rows.append(("profile_count", c, float(pv[(c, "count")]["value"])))
        rows.append(("profile_nulls", c, float(pv[(c, "nulls")]["value"])))
        exact_d = float(ex[f"d_{c}"])
        ok = abs(pv[(c, "approx_distinct")]["value"] - exact_d) <= max(
            1.0, 3 * 0.05 * exact_d
        )
        if c in numeric:
            for m_ in ("min", "max", "mean"):
                rows.append((f"profile_{m_}", c, float(pv[(c, m_)]["value"])))
            qs = ex[f"q_{c}"]
            for i, p in enumerate(_PROFILE_QS):
                lo, hi = float(qs[2 * i]), float(qs[2 * i + 1])
                v = float(pv[(c, f"q{p}")]["value"])
                ok = ok and (min(lo, hi) - 1e-9 <= v <= max(lo, hi) + 1e-9)
        else:
            ok = (
                ok
                and pv[(c, "min")]["text_value"] == str(ex["rf_min"])
                and pv[(c, "max")]["text_value"] == str(ex["rf_max"])
            )
        rows.append(("profile_sketch_ok", c, 1.0 if ok else 0.0))
    return spark.createDataFrame(
        rows, "scale_type string, feature string, value double"
    ).select("scale_type", "feature", F.round("value", 2).alias("value"))


def _profile_sql() -> str:
    """Oracle block for the profile_table slice: exact metrics recomputed
    from first principles; the sketch bound-check rows are literal 1.0
    (the Spark side computes the indicator against Spark-exact stats —
    see q_p2_standardize_scales; a sketch drifting out of tolerance flips
    the Spark value to 0.0 and the hash mismatches)."""
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            f"SELECT 'profile_count' AS scale_type, '{c}' AS feature, "
            f"count({c})::DOUBLE AS value FROM lineitem"
        )
        parts.append(
            f"SELECT 'profile_nulls', '{c}', "
            f"(count(*) - count({c}))::DOUBLE FROM lineitem"
        )
        if c != "l_returnflag":
            parts.append(f"SELECT 'profile_min', '{c}', min({c})::DOUBLE FROM lineitem")
            parts.append(f"SELECT 'profile_max', '{c}', max({c})::DOUBLE FROM lineitem")
            parts.append(f"SELECT 'profile_mean', '{c}', avg({c}) FROM lineitem")
        parts.append(f"SELECT 'profile_sketch_ok', '{c}', 1.0 FROM (SELECT 1)")
    return "\n        UNION ALL ".join(parts)


SQL_P2_SCALES = f"""
    WITH c AS (
        SELECT l_quantity      - avg(l_quantity)      OVER () AS cq,
               l_extendedprice - avg(l_extendedprice) OVER () AS cp,
               l_discount      - avg(l_discount)      OVER () AS cd
        FROM lineitem
    ), longf AS (
        SELECT 'l_quantity' AS feature, cq AS v FROM c
        UNION ALL SELECT 'l_extendedprice', cp FROM c
        UNION ALL SELECT 'l_discount', cd FROM c
    )
    SELECT scale_type, feature, round(value, 2) AS value FROM (
        SELECT 'l1' AS scale_type, feature, sum(abs(v)) AS value FROM longf GROUP BY feature
        UNION ALL SELECT 'l2', feature, sqrt(sum(v*v)) FROM longf GROUP BY feature
        UNION ALL SELECT 'sd', feature, stddev_samp(v) FROM longf GROUP BY feature
        UNION ALL SELECT 'max', feature, max(v) FROM longf GROUP BY feature
        UNION ALL {_profile_sql()}
    )
"""


def q_p5_dummy_code(spark, sf_dir):
    """One-hot dummy coding with reference level dropped
    (data-raw/datasets.R:51; StringIndexer+OneHotEncoder(dropLast) analogue)."""
    li = load(spark, sf_dir, "lineitem")
    out, cols = one_hot(li, "l_returnflag", prefix="flag", drop_last=True)
    return out.select("l_orderkey", "l_linenumber", *cols)


SQL_P5_DUMMY = """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.0 END AS flag_A,
           CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END AS flag_N
    FROM lineitem
"""


def q_r5_lambda_max(spark, sf_dir):
    """|X^T y| penalty scale per standardized feature vs the standardized
    response (src/lambdaMax.h:8-60, gaussian branch). z-scores and ys come
    from the shared literal standardization (one scan, no join)."""
    z = _zdf(spark, sf_dir)
    rows = []
    for name, col in [("l_quantity", "zq"), ("l_extendedprice", "zp"), ("l_discount", "zd")]:
        rows.append((name, F.abs(F.sum(F.col(col) * F.col("ys")))))
    agg = z.agg(*[e.alias(n) for n, e in rows])
    stacked = None
    for name, _ in rows:
        one = agg.select(F.lit(name).alias("feature"), F.round(F.col(name), 2).alias("lambda_max"))
        stacked = one if stacked is None else stacked.unionByName(one)
    return stacked


SQL_R5_LAMBDA_MAX = f"""
    WITH j AS ({_Z_SQL})
    SELECT 'l_quantity' AS feature, round(abs(sum(zq*ys)), 2) AS lambda_max FROM j
    UNION ALL SELECT 'l_extendedprice', round(abs(sum(zp*ys)), 2) FROM j
    UNION ALL SELECT 'l_discount', round(abs(sum(zd*ys)), 2) FROM j
"""


# ---------------------------------------------------------------------------
# §2.5 prediction + scoring with fixed coefficients
# ---------------------------------------------------------------------------

def q_q1_predict_link(spark, sf_dir):
    """Linear predictor x'beta for a fixed coefficient slice
    (Q1, R/predict.R:32-69) plus the gaussian response prediction —
    the identity link (Q2, R/predict.R:73-87) — as a second column.

    Round-7 merge (session 2): 'grouped' tagged rows pin the NEW
    ops.grouped.predict_grouped — per-segment scoring via coefficients
    flat-pivoted to broadcast double columns. The coefficient frame is built
    from the SAME pinned per-group reference fits the f11 grouped slices
    verify (deepest path point, original units), so the oracle recomputes
    every row's linear predictor as a per-group CASE over the raw
    columns — hash-verifying the join + dot-product mechanics."""
    import numpy as np

    from .ops.grouped import INTERCEPT, predict_grouped

    z = _zdf(spark, sf_dir)
    base = z.select(
        F.lit("base").alias("slice"),
        "l_orderkey", "l_linenumber",
        F.round(_lp_expr(), 4).alias("lp"),
        F.round(_lp_expr(), 4).alias("response"),
    )
    feats = _GROUPED_SPEC["features"]
    rows = []
    for gv, pin in sorted(_pinned_fit_grouped(sf_dir).items()):
        B = pin["betas"]
        k = B.shape[0] - 1
        rows.append((gv, k, INTERCEPT, float(B[k, 0, 0])))
        for j, f in enumerate(feats):
            if B[k, 1 + j, 0] != 0.0:
                rows.append((gv, k, f, float(B[k, 1 + j, 0])))
    coefs = spark.createDataFrame(
        rows, "l_returnflag string, path_idx int, feature string, beta double"
    ).withColumn("cls", F.lit(0))
    li = load(spark, sf_dir, "lineitem")
    pred = predict_grouped(
        li, coefs, feats, ["l_returnflag"],
        family="gaussian", type="link", out="_lp",
    )
    grouped = pred.select(
        F.lit("grouped").alias("slice"),
        "l_orderkey", "l_linenumber",
        F.round("_lp", 4).alias("lp"),
        F.round("_lp", 4).alias("response"),
    )
    return base.unionByName(grouped)


def _q1_grouped_sql(sf_dir: str) -> str:
    """The 'grouped' slice of q1's oracle: each segment's deepest pinned
    linear predictor as a CASE over l_returnflag (original units, zero
    betas omitted — adding Spark's coalesce-to-0.0 terms is exact)."""
    feats = _GROUPED_SPEC["features"]
    cases = []
    for gv, pin in sorted(_pinned_fit_grouped(sf_dir).items()):
        B = pin["betas"]
        k = B.shape[0] - 1
        terms = [repr(float(B[k, 0, 0]))] + [
            f"{float(B[k, 1 + j, 0])!r}*{feats[j]}"
            for j in range(len(feats)) if B[k, 1 + j, 0] != 0.0
        ]
        cases.append(f"WHEN l_returnflag = '{gv}' THEN ({' + '.join(terms)})")
    lp = "CASE " + " ".join(cases) + " END"
    return (
        f"SELECT l_orderkey, l_linenumber, round({lp}, 4) AS lp, "
        f"round({lp}, 4) AS response FROM lineitem"
    )


SQL_Q1_LINK = f"""
    SELECT l_orderkey, l_linenumber, round({_LP_SQL}, 4) AS lp,
           round({_LP_SQL}, 4) AS response
    FROM ({_Z_SQL})
"""


def q_q3_q4_predict_response(spark, sf_dir):
    """Binomial sigmoid response + thresholded class (Q3,
    R/predict.R:91-121) AND the poisson exp-link response (Q4,
    R/predict.R:125-147) over the same fixed coefficient slice, in one
    projection."""
    z = _zdf(spark, sf_dir)
    lp = _lp_expr()
    return z.select(
        "l_orderkey", "l_linenumber",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-lp)), 4).alias("prob"),
        F.when(lp > 0, "ret").otherwise("ok").alias("pred_class"),
        F.round(F.exp(lp), 4).alias("mu"),
    )


SQL_Q3_Q4_RESPONSE = f"""
    SELECT l_orderkey, l_linenumber,
           round(1.0 / (1.0 + exp(-{_LP_SQL})), 4) AS prob,
           CASE WHEN {_LP_SQL} > 0 THEN 'ret' ELSE 'ok' END AS pred_class,
           round(exp({_LP_SQL}), 4) AS mu
    FROM ({_Z_SQL})
"""


def q_q5_predict_multinomial(spark, sf_dir):
    """Stabilized softmax over (m-1) targets + implicit last class, and
    argmax class (R/predict.R:151-197).

    Round-8 merge: 'grpm' tagged rows pin the grouped layer's LAST
    family — ops.grouped.predict_grouped for MULTINOMIAL per-segment
    models (one 3-class model per l_linestatus segment, coefficients
    FLAT-PIVOTED to (m-1)x(p+1) broadcast double columns — not a
    per-row map, which costs an object deserialization per lookup —
    per-segment softmax + argmax class). The engine's fit_grouped must
    agree with the independently
    pinned per-segment reference fits (fit_agrees), and the oracle
    re-derives every row's class simplex from those pinned betas as
    per-group CASE expressions over the raw columns."""
    import numpy as np

    from .ops.grouped import INTERCEPT, fit_grouped, predict_grouped

    z = _zdf(spark, sf_dir)
    lp1, lp2 = _lp_expr(), _lp2_expr()
    mx = F.greatest(lp1, lp2, F.lit(0.0))
    e1, e2, e3 = F.exp(lp1 - mx), F.exp(lp2 - mx), F.exp(F.lit(0.0) - mx)
    den = e1 + e2 + e3
    p1, p2, p3 = e1 / den, e2 / den, e3 / den
    cls = (
        F.when((p1 >= p2) & (p1 >= p3), "A")
        .when(p2 >= p3, "N")
        .otherwise("R")
    )
    base = z.select(
        F.lit("base").alias("slice"),
        "l_orderkey", "l_linenumber",
        F.round(p1, 4).alias("p_a"),
        F.round(p2, 4).alias("p_n"),
        F.round(p3, 4).alias("p_r"),
        cls.alias("pred_class"),
        F.lit(True).alias("fit_agrees"),
    )

    spec = _GROUPED_MULTI_SPEC
    feats = spec["features"]
    li = load(spark, sf_dir, "lineitem")
    pins = _pinned_fit_grouped_multi(sf_dir)
    # the per-segment engine fit must agree with the pinned reference
    got = fit_grouped(
        li, feats, spec["label"], "multinomial", [spec["group_col"]],
        n_sigma=spec["n_sigma"], lambda_min_ratio=spec["lambda_min_ratio"],
    ).collect()
    jidx = {INTERCEPT: 0}
    jidx.update({f: j + 1 for j, f in enumerate(feats)})
    agree = True
    for gv, pin in pins.items():
        B = pin["betas"]
        grows = [r for r in got if r[spec["group_col"]] == gv]
        ok = bool(grows) and max(r["path_idx"] for r in grows) + 1 == B.shape[0]
        if ok:
            gb = np.zeros_like(B)
            for r in grows:
                gb[r["path_idx"], jidx[r["feature"]], r["cls"]] = r["beta"]
            ok = bool(np.allclose(gb, B, rtol=5e-2, atol=5e-3))
        agree = agree and ok
    # scoring mechanics hash-verified from the PINNED betas (the same
    # deterministic-literals scheme as q1's grouped slice)
    rows = []
    for gv, pin in sorted(pins.items()):
        B = pin["betas"]
        k = B.shape[0] - 1
        for t in range(B.shape[2]):
            rows.append((gv, k, INTERCEPT, t, float(B[k, 0, t])))
            for j, f in enumerate(feats):
                if B[k, 1 + j, t] != 0.0:
                    rows.append((gv, k, f, t, float(B[k, 1 + j, t])))
    coefs = spark.createDataFrame(
        rows,
        f"{spec['group_col']} string, path_idx int, feature string, "
        "cls int, beta double",
    )
    classes = [str(c) for c in next(iter(pins.values()))["class_names"]]
    pred = predict_grouped(
        li, coefs, feats, [spec["group_col"]],
        family="multinomial", type="response", out="_probs", classes=classes,
    )
    pred = predict_grouped(
        pred, coefs, feats, [spec["group_col"]],
        family="multinomial", type="class", out="_cls", classes=classes,
    )
    grpm = pred.select(
        F.lit("grpm").alias("slice"),
        "l_orderkey", "l_linenumber",
        F.round(F.col("_probs")[0], 4).alias("p_a"),
        F.round(F.col("_probs")[1], 4).alias("p_n"),
        F.round(F.col("_probs")[2], 4).alias("p_r"),
        F.col("_cls").alias("pred_class"),
        F.lit(bool(agree)).alias("fit_agrees"),
    )
    return base.unionByName(grpm)


def _q5_grouped_sql(sf_dir: str) -> str:
    """The 'grpm' slice of q5's oracle: each l_linestatus segment's
    deepest pinned (m-1) linear predictors as CASE expressions (original
    units, zero betas omitted — Spark's coalesce-to-0.0 terms are
    exact), then the identical stabilized softmax + first-match argmax
    the base slice uses."""
    spec = _GROUPED_MULTI_SPEC
    feats = spec["features"]
    gcol = spec["group_col"]
    lps = []
    for t in range(2):
        cases = []
        for gv, pin in sorted(_pinned_fit_grouped_multi(sf_dir).items()):
            B = pin["betas"]
            k = B.shape[0] - 1
            terms = [repr(float(B[k, 0, t]))] + [
                f"{float(B[k, 1 + j, t])!r}*{feats[j]}"
                for j in range(len(feats)) if B[k, 1 + j, t] != 0.0
            ]
            cases.append(f"WHEN {gcol} = '{gv}' THEN ({' + '.join(terms)})")
        lps.append("CASE " + " ".join(cases) + " END")
    return f"""
    WITH lp AS (
        SELECT l_orderkey, l_linenumber,
               {lps[0]} AS lp1, {lps[1]} AS lp2,
               greatest({lps[0]}, {lps[1]}, 0.0) AS mx
        FROM lineitem
    ), e AS (
        SELECT l_orderkey, l_linenumber,
               exp(lp1 - mx) AS e1, exp(lp2 - mx) AS e2, exp(0.0 - mx) AS e3
        FROM lp
    )
    SELECT l_orderkey, l_linenumber,
           round(e1/(e1+e2+e3), 4) AS p_a,
           round(e2/(e1+e2+e3), 4) AS p_n,
           round(e3/(e1+e2+e3), 4) AS p_r,
           CASE WHEN e1 >= e2 AND e1 >= e3 THEN 'A'
                WHEN e2 >= e3 THEN 'N'
                ELSE 'R' END AS pred_class
    FROM e
    """


SQL_Q5_MULTINOMIAL = f"""
    WITH z AS ({_Z_SQL}), lp AS (
        SELECT l_orderkey, l_linenumber,
               {_LP_SQL} AS lp1, {_LP2_SQL} AS lp2,
               greatest({_LP_SQL}, {_LP2_SQL}, 0.0) AS mx
        FROM z
    ), e AS (
        SELECT l_orderkey, l_linenumber,
               exp(lp1 - mx) AS e1, exp(lp2 - mx) AS e2, exp(0.0 - mx) AS e3
        FROM lp
    )
    SELECT l_orderkey, l_linenumber,
           round(e1/(e1+e2+e3), 4) AS p_a,
           round(e2/(e1+e2+e3), 4) AS p_n,
           round(e3/(e1+e2+e3), 4) AS p_r,
           CASE WHEN e1 >= e2 AND e1 >= e3 THEN 'A'
                WHEN e2 >= e3 THEN 'N'
                ELSE 'R' END AS pred_class
    FROM e
"""


def q_q8_q9_score(spark, sf_dir):
    """Q8 + Q9 in one row (registry merge, round 4 — same _zdf fixture,
    same linear predictor): gaussian MSE/MAE of the fixed-coefficient
    prediction vs the standardized response (R/score.R:29-41) AND the
    clipped binomial deviance + misclassification (R/score.R:45-78).
    ONE aggregation scan computes all four measures."""
    z = _zdf(spark, sf_dir)
    lp = _lp_expr()
    err = lp - F.col("ys")
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-lp))
    probc = F.least(F.greatest(prob, F.lit(1e-5)), F.lit(1.0 - 1e-5))
    y2 = F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    y1 = F.lit(1.0) - y2
    dev = -2.0 * (y1 * F.log(1.0 - probc) + y2 * F.log(probc))
    mis = y1 * F.when(prob > 0.5, 1.0).otherwise(0.0) + y2 * F.when(
        prob <= 0.5, 1.0
    ).otherwise(0.0)
    return z.agg(
        F.round(F.avg(err * err), 4).alias("mse"),
        F.round(F.avg(F.abs(err)), 4).alias("mae"),
        F.round(F.avg(dev), 4).alias("deviance"),
        F.round(F.avg(mis), 4).alias("misclass"),
    )


SQL_Q8_Q9_SCORE = f"""
    WITH z AS ({_Z_SQL}), s AS (
        SELECT {_LP_SQL} - ys AS err,
               1.0/(1.0 + exp(-{_LP_SQL})) AS prob,
               CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y2
        FROM z
    ), c AS (
        SELECT err, least(greatest(prob, 1e-5), 1.0 - 1e-5) AS probc,
               prob, y2, 1.0 - y2 AS y1
        FROM s
    )
    SELECT round(avg(err*err), 4) AS mse, round(avg(abs(err)), 4) AS mae,
           round(avg(-2.0*(y1*ln(1.0-probc) + y2*ln(probc))), 4) AS deviance,
           round(avg(y1*(CASE WHEN prob > 0.5 THEN 1.0 ELSE 0.0 END)
                   + y2*(CASE WHEN prob <= 0.5 THEN 1.0 ELSE 0.0 END)), 4) AS misclass
    FROM c
"""


def q_q10_score_auc(spark, sf_dir):
    """Rank-based AUC with average-rank ties (R/score.R:137-166), both
    UNWEIGHTED and WEIGHTED (weight = l_quantity) in one row, computed
    via the grouped cumulative form (no global row sort — see
    ops.score.auc). The weighted variant is the EXPECTATION form of the
    reference's randomized tie-breaking (R/score.R:152-166) — see the
    ops.score.auc docstring for the semantic delta. Probabilities are
    rounded to 6 dp BEFORE grouping on both sides so the tie structure is
    engine-independent.

    Round-8 merge: 'grp' tagged rows pin the NEW per-SEGMENT AUC
    (ops.score.auc_grouped, the statistic every segment-scored binomial
    model needs) — one l_linestatus row each, unweighted + weighted,
    re-derived in SQL through the identical grouped-cumulative form with
    the windows PARTITIONed by the segment."""
    z = _zdf(spark, sf_dir)
    lp = _lp_expr()
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-lp)), 6)
    y2 = F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    from .ops.score import auc as auc_fn, auc_grouped

    val = auc_fn(z.select(prob.alias("p"), y2.alias("y2")), "p", F.col("y2"))
    val_w = auc_fn(
        z.select(prob.alias("p"), y2.alias("y2"), F.col("w_raw").alias("w")),
        "p", F.col("y2"), weight_col="w",
    )
    base = spark.createDataFrame(
        [("_all", round(val, 6), round(val_w, 6))],
        "grp string, auc double, auc_w double",
    )
    # round-8 'grp' slices: the per-SEGMENT rank statistic
    # (ops.score.auc_grouped — one partitioned running-sum window, the
    # shape that scales where the global bucket trick isn't needed),
    # unweighted and weighted, per l_linestatus
    zs = z.select(
        F.col("l_linestatus").alias("grp"), prob.alias("p"),
        y2.alias("y2"), F.col("w_raw").alias("w"),
    )
    gu = auc_grouped(zs, "p", F.col("y2"), ["grp"], out="auc")
    gw = auc_grouped(zs, "p", F.col("y2"), ["grp"], weight_col="w",
                     out="auc_w")
    grp = gu.join(gw, "grp").select(
        "grp", F.round("auc", 6).alias("auc"),
        F.round("auc_w", 6).alias("auc_w"),
    )
    return base.unionByName(grp)


SQL_Q10_AUC = f"""
    WITH z AS ({_Z_SQL}), s AS (
        SELECT round(1.0/(1.0 + exp(-{_LP_SQL})), 6) AS p,
               CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y2,
               w_raw AS w, l_linestatus AS grp
        FROM z
    ), g AS (
        SELECT p, sum(y2) AS n1_g, sum(1.0 - y2) AS n0_g,
               sum(w*y2) AS wn1_g, sum(w*(1.0 - y2)) AS wn0_g
        FROM s GROUP BY p
    ), cum AS (
        SELECT n1_g, n0_g, wn1_g, wn0_g,
               coalesce(sum(n0_g) OVER (ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS below,
               coalesce(sum(wn0_g) OVER (ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS wbelow
        FROM g
    ), gg AS (
        SELECT grp, p, sum(y2) AS n1_g, sum(1.0 - y2) AS n0_g,
               sum(w*y2) AS wn1_g, sum(w*(1.0 - y2)) AS wn0_g
        FROM s GROUP BY grp, p
    ), gcum AS (
        SELECT grp, n1_g, n0_g, wn1_g, wn0_g,
               coalesce(sum(n0_g) OVER (PARTITION BY grp ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS below,
               coalesce(sum(wn0_g) OVER (PARTITION BY grp ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS wbelow
        FROM gg
    )
    SELECT '_all' AS grp,
           round(sum(n1_g*(below + n0_g/2.0)) / (sum(n1_g)*sum(n0_g)), 6) AS auc,
           round(sum(wn1_g*(wbelow + wn0_g/2.0)) / (sum(wn1_g)*sum(wn0_g)), 6) AS auc_w
    FROM cum
    UNION ALL
    SELECT grp,
           round(sum(n1_g*(below + n0_g/2.0)) / (sum(n1_g)*sum(n0_g)), 6) AS auc,
           round(sum(wn1_g*(wbelow + wn0_g/2.0)) / (sum(wn1_g)*sum(wn0_g)), 6) AS auc_w
    FROM gcum GROUP BY grp
"""


# ---------------------------------------------------------------------------
# §2.6 CV aggregation operators (deterministic key-mod folds)
# ---------------------------------------------------------------------------

def q_c1_cv_folds(spark, sf_dir):
    """Per-fold MSE of the fixed prediction, folds = l_orderkey % 5
    (the trainOwl worker loop's score step, R/trainOwl.R:102-123)."""
    z = _zdf(spark, sf_dir)
    err = _lp_expr() - F.col("ys")
    return (
        z.withColumn("fold", F.col("l_orderkey") % 5)
        .groupBy("fold")
        .agg(
            F.round(F.avg(err * err), 4).alias("mse"),
            F.count("*").cast("bigint").alias("n"),
        )
    )


SQL_C1_FOLDS = f"""
    WITH z AS ({_Z_SQL}), j AS (
        SELECT l_orderkey % 5 AS fold, {_LP_SQL} - ys AS err FROM z
    )
    SELECT fold, round(avg(err*err), 4) AS mse, count(*)::BIGINT AS n
    FROM j GROUP BY fold
"""


def q_c1_cv_summary(spark, sf_dir):
    """CV aggregation: mean / se / 95% t-CI over folds
    (R/trainOwl.R:146-161); the t quantile is an embedded constant."""
    folds = q_c1_cv_folds(spark, sf_dir)
    return folds.agg(
        F.round(F.avg("mse"), 4).alias("mean"),
        F.round(F.stddev_samp("mse") / F.sqrt(F.count("*")), 4).alias("se"),
        F.round(
            F.avg("mse") - F.lit(T_MULT_5) * F.stddev_samp("mse") / F.sqrt(F.count("*")), 4
        ).alias("lo"),
        F.round(
            F.avg("mse") + F.lit(T_MULT_5) * F.stddev_samp("mse") / F.sqrt(F.count("*")), 4
        ).alias("hi"),
    )


SQL_C1_SUMMARY = f"""
    WITH f AS ({SQL_C1_FOLDS})
    SELECT round(avg(mse), 4) AS mean,
           round(stddev_samp(mse)/sqrt(count(*)), 4) AS se,
           round(avg(mse) - {T_MULT_5!r}*stddev_samp(mse)/sqrt(count(*)), 4) AS lo,
           round(avg(mse) + {T_MULT_5!r}*stddev_samp(mse)/sqrt(count(*)), 4) AS hi
    FROM f
"""


def q_c1_cv_optima(spark, sf_dir):
    """Per-measure optimum via window argmin (R/trainOwl.R:163-166):
    three scaled coefficient slices act as the sigma grid; the argmin row
    per measure (mse, mae) is returned."""
    z = _zdf(spark, sf_dir)
    slices = None
    for sidx, scale in [(0, 0.25), (1, 1.0), (2, 4.0)]:
        err = F.lit(scale) * _lp_expr() - F.col("ys")
        one = z.agg(
            F.avg(err * err).alias("mse"), F.avg(F.abs(err)).alias("mae")
        ).select(F.lit(sidx).alias("sigma_idx"), "mse", "mae")
        slices = one if slices is None else slices.unionByName(one)
    longf = slices.selectExpr(
        "sigma_idx", "stack(2, 'mse', mse, 'mae', mae) as (measure, mean)"
    )
    w = Window.partitionBy("measure").orderBy("mean", "sigma_idx")
    return (
        longf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("measure", F.col("sigma_idx").cast("int").alias("sigma_idx"),
                F.round("mean", 4).alias("mean"))
    )


SQL_C1_OPTIMA = f"""
    WITH z AS ({_Z_SQL}), j AS (
        SELECT {_LP_SQL} AS lp, ys FROM z
    ), grid AS (
        SELECT 0 AS sigma_idx, 0.25 AS s UNION ALL
        SELECT 1, 1.0 UNION ALL SELECT 2, 4.0
    ), scored AS (
        SELECT g.sigma_idx,
               avg((g.s*j.lp - j.ys)*(g.s*j.lp - j.ys)) AS mse,
               avg(abs(g.s*j.lp - j.ys)) AS mae
        FROM grid g CROSS JOIN j GROUP BY g.sigma_idx
    ), longf AS (
        SELECT sigma_idx, 'mse' AS measure, mse AS mean FROM scored
        UNION ALL SELECT sigma_idx, 'mae', mae FROM scored
    ), ranked AS (
        SELECT measure, sigma_idx, mean,
               row_number() OVER (PARTITION BY measure ORDER BY mean, sigma_idx) AS rn
        FROM longf
    )
    SELECT measure, sigma_idx::INTEGER AS sigma_idx, round(mean, 4) AS mean
    FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# §2.5 path summary over a literal coefficient cube (Q12)
# ---------------------------------------------------------------------------

_COEF_ROWS = [
    # (path_idx, feature, coef)
    (0, "(Intercept)", 0.10), (0, "l_quantity", 0.0), (0, "l_extendedprice", 0.0), (0, "l_discount", 0.0),
    (1, "(Intercept)", 0.12), (1, "l_quantity", 0.5), (1, "l_extendedprice", 0.0), (1, "l_discount", -0.2),
    (2, "(Intercept)", 0.13), (2, "l_quantity", 0.8), (2, "l_extendedprice", 0.3), (2, "l_discount", -0.5),
]


def q_q12_path_summary(spark, sf_dir):
    """print.Owl path table: nonzero count + max |coef| per path point
    (R/print.R:14-31) over a literal coefficient table."""
    cdf = spark.createDataFrame(_COEF_ROWS, "path_idx int, feature string, coef double")
    return (
        cdf.filter(F.col("feature") != "(Intercept)")
        .groupBy("path_idx")
        .agg(
            F.sum(F.when(F.col("coef") != 0.0, 1).otherwise(0)).cast("bigint").alias("n_nonzero"),
            F.round(F.max(F.abs("coef")), 6).alias("max_abs_coef"),
        )
    )


SQL_Q12_PATH = (
    "WITH coefs(path_idx, feature, coef) AS (VALUES "
    + ", ".join(f"({p}, '{f}', {c!r})" for p, f, c in _COEF_ROWS)
    + """)
    SELECT path_idx::INTEGER AS path_idx,
           sum(CASE WHEN coef != 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_nonzero,
           round(max(abs(coef)), 6) AS max_abs_coef
    FROM coefs WHERE feature != '(Intercept)' GROUP BY path_idx
"""
)


# ---------------------------------------------------------------------------
# pipeline extensions: dedup / similarity / text
# ---------------------------------------------------------------------------

_SPAN_K = 5  # duplicate-span window: k=5 is the adversarial regime on the
             # word-bag fixture (vocab-collision grams die off, real
             # near-dup runs survive — 2266 dup positions / 71 docs at sf0.01)


def q_dedup_exact(spark, sf_dir):
    """Exact content dedup (one md5 hash-agg), plus — round-9 'spans'
    slice — the exact-substring duplicate-span pass
    (dedup.duplicate_spans at k=5: positions of corpus k-grams recurring
    >= 2x, merged into maximal spans by the gaps-and-islands windows —
    the Lee et al. 2022 substring-dedup tier, re-derived in SQL with the
    identical md5 gram hashes and window chain), and a round-9
    session-2 'sfrac' slice (the span-gate metric span_dup_stats
    thresholds on: per-document covered-token count aggregated straight
    off the span frame plus the shared-tokenizer token count,
    INTEGER-exact, one row per document that has at least one span). Columns are
    slice-tagged: exact -> (a=n_copies, b=-1, c=-1); spans ->
    (a=span_start, b=span_end, c=n_dup_grams); sfrac ->
    (a=covered_tokens, b=n_tokens, c=-1)."""
    docs = load(spark, sf_dir, "documents")
    base = dedup.exact_dedup(docs, "text", "doc_id").select(
        F.lit("exact").alias("slice"),
        "doc_id",
        F.col("n_copies").cast("bigint").alias("a"),
        F.lit(-1).cast("bigint").alias("b"),
        F.lit(-1).cast("bigint").alias("c"),
    )
    span_frame = dedup.duplicate_spans(docs, "doc_id", "text", k=_SPAN_K)
    spans = span_frame.select(
        F.lit("spans").alias("slice"),
        "doc_id",
        F.col("span_start").cast("bigint").alias("a"),
        F.col("span_end").cast("bigint").alias("b"),
        F.col("n_dup_grams").cast("bigint").alias("c"),
    )
    from .pipeline.text import tokens_expr as _tokens_expr

    # covered-token counts aggregated DIRECTLY from the span frame (the
    # SQL mirror's sp/cov CTE) — integers end to end, no float
    # round-trip through the fraction; ntok via the SHARED tokenizer
    # expression so the denominator can never drift from the operators'
    sfrac = (
        span_frame.groupBy("doc_id")
        .agg(F.sum(F.col("span_end") - F.col("span_start") + 1).alias("_cov"))
        .join(docs.select("doc_id", "text"), "doc_id")
        .select(
            F.lit("sfrac").alias("slice"),
            "doc_id",
            F.col("_cov").cast("bigint").alias("a"),
            F.size(_tokens_expr(F.col("text"))).cast("bigint").alias("b"),
            F.lit(-1).cast("bigint").alias("c"),
        )
    )
    # round-10 'xinc' slice: the incremental exact gate — index the
    # doc_id % 4 != 0 corpus once (write_content_index), flag the
    # % 4 == 0 shard in O(shard) (exact_dedup_against): one row per
    # shard doc, a = canonical id (index wins over shard min; -1 =
    # keeper). Hash-verifies the whole write/gate path against SQL's
    # md5 semantics.
    cidx_path = _scratch_artifact(
        "xinc", sf_dir,
        lambda d: dedup.write_content_index(
            docs.filter(F.col("doc_id") % 4 != 0), d + "/idx", "doc_id",
            "text",
        ),
    ) + "/idx"
    xinc = dedup.exact_dedup_against(
        docs.filter(F.col("doc_id") % 4 == 0),
        spark.read.parquet(cidx_path), "doc_id", "text",
    ).select(
        F.lit("xinc").alias("slice"),
        "doc_id",
        F.coalesce(F.col("dup_of"), F.lit(-1)).cast("bigint").alias("a"),
        F.lit(-1).cast("bigint").alias("b"),
        F.lit(-1).cast("bigint").alias("c"),
    )
    # round-11 'keep' slice: the COMPOSED keep policy
    # (curate.select_keepers) over real exact + span gates — keepers
    # are each content's canonical (the whole corpus gated against a
    # content index of itself: re-gated canonicals keep, duplicates
    # flag) whose duplicated-token fraction stays within 0.5. This
    # pins the policy's semi-join composition itself, not just the
    # tier outputs it consumes.
    from .pipeline.curate import select_keepers

    kidx_path = _scratch_artifact(
        "keep", sf_dir,
        lambda d: dedup.write_content_index(docs, d + "/idx", "doc_id",
                                            "text"),
    ) + "/idx"
    keep = select_keepers(
        docs,
        {
            "exact": dedup.exact_dedup_against(
                docs, spark.read.parquet(kidx_path), "doc_id", "text",
                unique_index=True,
            ),
            "spans": span_frame,
        },
        "doc_id", "text", max_dup_token_frac=0.5,
    ).select(
        F.lit("keep").alias("slice"),
        "doc_id",
        F.lit(-1).cast("bigint").alias("a"),
        F.lit(-1).cast("bigint").alias("b"),
        F.lit(-1).cast("bigint").alias("c"),
    )
    return (
        base.unionByName(spans).unionByName(sfrac)
        .unionByName(xinc).unionByName(keep)
    )


SQL_DEDUP_EXACT = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x != '') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, g.i AS pos,
               md5(array_to_string(t[g.i+1:g.i+{_SPAN_K}], ' ')) AS h
        FROM toks,
             LATERAL unnest(range(0, len(t)-{_SPAN_K}+1)) AS g(i)
        WHERE len(t) >= {_SPAN_K}
    ), hits AS (
        SELECT doc_id, pos FROM grams
        WHERE h IN (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2)
    ), flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER
                    (PARTITION BY doc_id ORDER BY pos) > {_SPAN_K}
                    THEN 1 ELSE 0 END AS brk
        FROM hits
    ), isl AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS i
        FROM flagged
    ), sp AS (
        SELECT doc_id, min(pos)::BIGINT AS a,
               (max(pos) + {_SPAN_K} - 1)::BIGINT AS b,
               count(*)::BIGINT AS c
        FROM isl GROUP BY doc_id, i
    )
    SELECT 'exact' AS slice, min(doc_id) AS doc_id,
           count(*)::BIGINT AS a, (-1)::BIGINT AS b, (-1)::BIGINT AS c
    FROM documents GROUP BY md5(text)
    UNION ALL
    SELECT 'spans' AS slice, doc_id, a, b, c FROM sp
    UNION ALL
    SELECT 'sfrac' AS slice, cov.doc_id, cov.cv AS a,
           len(toks.t)::BIGINT AS b, (-1)::BIGINT AS c
    FROM (
        SELECT doc_id, sum(b - a + 1)::BIGINT AS cv
        FROM sp GROUP BY doc_id
    ) cov JOIN toks USING (doc_id)
    UNION ALL
    -- round-10 'xinc': the incremental exact gate (index = % 4 != 0
    -- corpus, shard = % 4 == 0; index id wins over the shard min,
    -- never self)
    SELECT 'xinc' AS slice, s.doc_id,
           coalesce(
               CASE WHEN x.cid IS NOT NULL AND x.cid != s.doc_id
                    THEN x.cid END,
               CASE WHEN s.doc_id != m.mn THEN m.mn END,
               -1
           )::BIGINT AS a,
           (-1)::BIGINT AS b, (-1)::BIGINT AS c
    FROM (SELECT doc_id, md5(text) AS h FROM documents
          WHERE doc_id % 4 = 0) s
    LEFT JOIN (SELECT md5(text) AS h, min(doc_id) AS cid FROM documents
               WHERE doc_id % 4 != 0 GROUP BY 1) x ON x.h = s.h
    JOIN (SELECT md5(text) AS h, min(doc_id) AS mn FROM documents
          WHERE doc_id % 4 = 0 GROUP BY 1) m ON m.h = s.h
    UNION ALL
    -- round-11 'keep': the composed keep policy — exact canonical
    -- (min doc_id of the content) AND duplicated-token fraction
    -- <= 0.5, compared integer-exactly as 2*covered <= n_tokens
    -- (docs with no spans cover 0; token-less docs keep)
    SELECT 'keep' AS slice, d.doc_id,
           (-1)::BIGINT AS a, (-1)::BIGINT AS b, (-1)::BIGINT AS c
    FROM documents d
    JOIN (SELECT md5(text) AS h, min(doc_id) AS mn
          FROM documents GROUP BY 1) km
      ON md5(d.text) = km.h AND d.doc_id = km.mn
    JOIN toks ON toks.doc_id = d.doc_id
    LEFT JOIN (SELECT doc_id, sum(b - a + 1)::BIGINT AS cv
               FROM sp GROUP BY doc_id) kcov ON kcov.doc_id = d.doc_id
    WHERE 2 * coalesce(kcov.cv, 0) <= len(toks.t)
"""


def q_dedup_token_jaccard(spark, sf_dir):
    """Unigram-token Jaccard pairs >= 0.5 (the n-gram Jaccard operator at
    n=1, where the SQL oracle is exact)."""
    docs = load(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=1, threshold=0.5, max_df=None
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_DEDUP_JACCARD = """
    WITH toks AS (
        SELECT DISTINCT doc_id, t.tok FROM documents,
        LATERAL unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x != '')) AS t(tok)
    ), sizes AS (
        SELECT doc_id, count(*) AS set_size FROM toks GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(i::DOUBLE / (sa.set_size + sb.set_size - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE i::DOUBLE / (sa.set_size + sb.set_size - i) >= 0.5
"""


_MH_N = 4
_MH_A, _MH_B = dedup._minhash_params(_MH_N, seed=42)


_SH_BITS = 16


def q_dedup_simhash(spark, sf_dir):
    """SimHash signature (16 bits for the oracle variant) of the token bag."""
    docs = load(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text", bits=_SH_BITS)


SQL_DEDUP_SIMHASH = (
    """
    WITH toks AS (
        SELECT doc_id, t.tok FROM documents,
        LATERAL unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x != '')) AS t(tok)
    ), hx AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS x FROM toks
    ), bits AS (
        SELECT doc_id, """
    + ", ".join(
        f"sum(CASE WHEN (x >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(_SH_BITS)
    )
    + """
        FROM hx GROUP BY doc_id
    )
    SELECT doc_id, ("""
    + " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(_SH_BITS)
    )
    + ")::BIGINT AS simhash FROM bits"
)


#: BM25 registry queries: fixed strings over the documents vocabulary.
#: Terms are distinct within each query (bm25_search scores DISTINCT
#: query terms — document this is the semantics both engines pin).
BM25_QUERIES = [(100, "table scan merge"), (101, "window sort hash")]


def q_sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for three query vectors taken from the
    corpus itself (vec_id 0, 1, 2).

    Round-6 merge (session 2): 'bm25' tagged rows pin the NEW lexical
    retrieval path (pipeline.search: inverted-index postings + Lucene
    BM25 top-5 over the documents table, query terms broadcast into the
    postings join). The oracle recomputes idf/tf normalization from
    first principles in SQL; `score` carries cosine for 'cosine' rows
    and BM25 for 'bm25' rows, both rounded to 4.

    Round-7 merge: 'rrf' tagged rows pin search.rrf_fuse — the hybrid
    reciprocal-rank fusion of the two slices above. BM25 query ids
    (100, 101) are remapped onto cosine query ids (0, 1) so each fused
    query genuinely combines a lexical and an embedding ranking; the
    oracle re-derives every 1/(60+rank) contribution sum and the fused
    re-ranking (score desc, id asc) in SQL over the same CTEs."""
    from .pipeline.search import (
        bm25_search, build_postings, corpus_stats_from_docs, rrf_fuse,
    )

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "vec", F.transform("embedding", lambda x: x.cast("double"))
    )
    qrows = emb.filter(F.col("vec_id").isin([0, 1, 2])).select("vec_id", "vec").collect()
    queries = [(int(r["vec_id"]), [float(x) for x in r["vec"]]) for r in qrows]
    out = similarity.cosine_topk(emb, "vec_id", "vec", queries, k=5)
    cos = out.select(
        F.lit("cosine").alias("tag"),
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round("cosine", 4).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )
    docs = load(spark, sf_dir, "documents")
    n_docs, avgdl = corpus_stats_from_docs(docs, "text")
    post = build_postings(docs, "doc_id", "text")
    bm_raw = bm25_search(post, BM25_QUERIES, k=5, n_docs=n_docs, avgdl=avgdl)
    bm = bm_raw.select(
        F.lit("bm25").alias("tag"),
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("doc_id").cast("bigint").alias("vec_id"),
        F.round("score", 4).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )
    sem = out.filter(F.col("query_id").isin([0, 1])).select(
        "query_id", "vec_id", "rank"
    )
    lex = bm_raw.select(
        (F.col("query_id") - 100).alias("query_id"),
        F.col("doc_id").alias("vec_id"),
        "rank",
    )
    rrf = rrf_fuse([sem, lex], id_col="vec_id", k=60).select(
        F.lit("rrf").alias("tag"),
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round("rrf_score", 4).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )
    return cos.unionByName(bm).unionByName(rrf)


_BM25_QTERMS_SQL = ", ".join(
    f"({qid}, '{t}')"
    for qid, qtext in BM25_QUERIES
    for t in sorted(set(qtext.lower().split()))
)

SQL_SIM_TOPK = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2)
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cosine
        FROM q CROSS JOIN embeddings e
    ), ranked AS (
        SELECT query_id, vec_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rank
        FROM scored
    ), d AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t != '') AS toks
        FROM documents
    ), post AS (
        SELECT doc_id, dl, term, count(*)::BIGINT AS tf
        FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d)
        GROUP BY doc_id, dl, term
    ), stats AS (
        -- all-docs semantics (corpus_stats_from_docs): N counts empty
        -- documents too, matching the Spark side's zero-shuffle stats
        SELECT count(*)::DOUBLE AS n, avg(len(toks)) AS avgdl FROM d
    ), bq(query_id, term) AS (VALUES {_BM25_QTERMS_SQL}
    ), m AS (
        SELECT bq.query_id, p.doc_id, p.dl, p.term, p.tf
        FROM post p JOIN bq ON p.term = bq.term
    ), dfreq AS (
        SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM m GROUP BY term
    ), bscored AS (
        SELECT m.query_id, m.doc_id,
               sum(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
                   * m.tf * 2.2
                   / (m.tf + 1.2 * (0.25 + 0.75 * m.dl / s.avgdl))) AS score
        FROM m JOIN dfreq f ON m.term = f.term CROSS JOIN stats s
        GROUP BY m.query_id, m.doc_id
    ), branked AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM bscored
    )
    , fused AS (
        SELECT query_id, id, sum(c) AS rrf_score FROM (
            SELECT query_id, vec_id AS id, 1.0 / (60.0 + rank) AS c
            FROM ranked WHERE rank <= 5 AND query_id IN (0, 1)
            UNION ALL
            SELECT query_id - 100, doc_id, 1.0 / (60.0 + rank)
            FROM branked WHERE rank <= 5
        ) GROUP BY query_id, id
    ), franked AS (
        SELECT query_id, id, rrf_score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rrf_score DESC, id) AS rank
        FROM fused
    )
    SELECT 'cosine' AS tag, query_id::BIGINT AS query_id,
           vec_id::BIGINT AS vec_id, round(cosine, 4) AS score,
           rank::INTEGER AS rank
    FROM ranked WHERE rank <= 5
    UNION ALL
    SELECT 'bm25', query_id::BIGINT, doc_id::BIGINT, round(score, 4),
           rank::INTEGER
    FROM branked WHERE rank <= 5
    UNION ALL
    SELECT 'rrf', query_id::BIGINT, id::BIGINT, round(rrf_score, 4),
           rank::INTEGER
    FROM franked
"""


def q_text_stats(spark, sf_dir):
    """Per-document text analysis in ONE projection: token counting
    (whitespace + BPE-ish regex), quality scoring (length / punctuation /
    digit / stopword ratios), n-gram-heuristic language ID, and PII-span
    triage counts (emails / URLs / phone shapes) — all pure codegen
    column expressions chained over a single documents scan.

    Round-6 merge (session 2): the NEW Gopher-rule battery
    (text.gopher_quality_flags — word bounds, mean word length,
    alpha-word ratio, duplicate-2-gram fraction, distinct-stopword
    floor) rides the same projection as five boolean columns + the
    conjunction; min_words=20 fits the short synthetic documents.

    Round-7 merge: the C4-style line-frequency boilerplate remover
    (text.boilerplate_lines + strip_boilerplate) joins on as two columns.
    The synthetic documents are single-line word bags, so the slice runs
    the SAME operators with sep=' ' — 'lines' are words, the index is
    every word in >= 390 of the 500 distinct docs (16 of the 30-word vocabulary) — which exercises the full
    mechanism (normalize-hash index, broadcast anti-join, positional
    re-assembly) harder than real lines would: most positions are removed
    and order of the residue must survive. bp_clean_md5 = md5 of the
    rebuilt text pins the reconstruction byte-exactly; bp_n_kept counts
    surviving words. The oracle rebuilds index + cleaned text from first
    principles in SQL.

    Round-7 merge (session 2): the NEW C4-style blocklist filters ride
    the same projection — text.badword_flags (distinct blocked-token
    count over the shared tokenization) and text.domain_flags (host
    extraction + exact/subdomain blocklist match) over a deterministic
    synthesized URL ('https://{lang}.{source}.example.com/doc/{doc_id}'
    — the fixture has no URL column; the synthesis is identical SQL on
    both engines so host parsing and suffix matching are hash-pinned)."""
    docs = load(spark, sf_dir, "documents")
    out = text.token_count(docs, "text")
    out = text.quality_score(out, "text")
    out = text.lang_id(out, "text")
    out = text.pii_counts(out, "text")
    out = text.repetition_ratio(out, "text")
    out = text.gopher_quality_flags(out, "text", min_words=20)
    out = text.badword_flags(out, "text", _C4_BADWORDS)
    out = out.withColumn(
        "_url",
        F.concat(
            F.lit("https://"), F.col("lang"), F.lit("."), F.col("source"),
            F.lit(".example.com/doc/"), F.col("doc_id"),
        ),
    )
    out = text.domain_flags(out, "_url", _C4_BLOCKED)
    idx = text.boilerplate_lines(docs, "text", min_docs=390, sep=" ")
    bp = text.strip_boilerplate(
        docs, "doc_id", "text", idx, out="bp_clean", sep=" "
    ).select(
        "doc_id",
        F.md5("bp_clean").alias("bp_clean_md5"),
        F.size(
            F.filter(F.split("bp_clean", " "), lambda w: w != F.lit(""))
        ).cast("bigint").alias("bp_n_kept"),
    )
    out = out.join(bp, "doc_id")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_tokens_bpe").cast("bigint").alias("n_tokens_bpe"),
        F.col("q_n_chars").alias("n_chars"),
        F.col("q_n_words").alias("n_words"),
        F.round("q_avg_word_len", 4).alias("avg_word_len"),
        F.round("q_punct_ratio", 4).alias("punct_ratio"),
        F.round("q_digit_ratio", 4).alias("digit_ratio"),
        F.round("q_stopword_ratio", 4).alias("stopword_ratio"),
        "lang_pred",
        F.col("n_emails").cast("bigint").alias("n_emails"),
        F.col("n_urls").cast("bigint").alias("n_urls"),
        F.col("n_phones").cast("bigint").alias("n_phones"),
        F.round("rep_ratio", 4).alias("rep_ratio"),
        "gq_words_ok", "gq_word_len_ok", "gq_alpha_ok",
        "gq_rep_ok", "gq_stop_ok", "gq_keep",
        "bp_clean_md5", "bp_n_kept",
        "c4_n_badwords", "c4_badword_ok", "c4_domain", "c4_domain_ok",
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in text.EN_STOPWORDS)

# blocked tokens / domains for the text_stats C4 slice: two mid-frequency
# vocabulary words (so the flag varies) and one suffix + one exact host
# (so both blocklist branches are exercised)
_C4_BADWORDS = ["slow", "dup"]
_C4_BLOCKED = ["src1.example.com", "zh.src0.example.com"]


def _text_stats_sql() -> str:
    # the raw patterns drop into DuckDB single-quoted literals verbatim
    # (standard SQL strings do not interpret backslashes); built outside
    # the f-string because the patterns contain regex braces
    pii = ", ".join(
        f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS {name}"
        for name, pat in text.PII_PATTERNS.items()
    )
    gstop = ", ".join(f"'{s}'" for s in text.GOPHER_STOPWORDS)
    bad = ", ".join(f"'{w}'" for w in _C4_BADWORDS)
    host = (
        "regexp_extract(lower('https://' || base.lang || '.' || base.source || "
        f"'.example.com/doc/' || base.doc_id), '{text.URL_HOST_RE}', 1)"
    )
    dom_block = " OR ".join(
        f"(c4_domain = '{d}' OR c4_domain LIKE '%.{d}')" for d in _C4_BLOCKED
    )
    c4 = f"""
           len(list_intersect(toks, [{bad}]))::BIGINT AS c4_n_badwords,
           (len(list_intersect(toks, [{bad}])) = 0) AS c4_badword_ok,
           {host} AS c4_domain
    """
    # Gopher-rule flags recomputed from first principles (g2 below is the
    # 2-gram list; thresholds mirror q_text_stats' min_words=20 call)
    gq = f"""
           (len(toks) >= 20 AND len(toks) <= 100000) AS gq_words_ok,
           (CASE WHEN len(toks) > 0
                 THEN list_sum(list_transform(toks, t -> length(t)))::DOUBLE
                      / len(toks) ELSE 0.0 END BETWEEN 3.0 AND 10.0)
               AS gq_word_len_ok,
           (CASE WHEN len(toks) > 0
                 THEN len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
                      / len(toks) ELSE 0.0 END >= 0.8) AS gq_alpha_ok,
           (CASE WHEN len(g2) > 0
                 THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2)
                 ELSE 0.0 END <= 0.2) AS gq_rep_ok,
           (len(list_intersect(toks, [{gstop}])) >= 2) AS gq_stop_ok
    """
    return f"""
    WITH base AS (
        SELECT doc_id, text, lang, source,
               length(text) AS n_chars,
               list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
        FROM documents
    ), lid AS ({_langid_sql()}
    ), bl AS (
        -- boilerplate index: normalized 'lines' (sep=' ': words) in
        -- >= 390 distinct documents, mirroring text.boilerplate_lines
        SELECT line FROM (
            SELECT DISTINCT doc_id,
                   trim(lower(unnest(string_split(text, ' ')))) AS line
            FROM documents
        ) WHERE line != '' GROUP BY line HAVING count(*) >= 390
    ), hx AS (
        SELECT coalesce(list(md5(line)), []) AS hs FROM bl
    ), bpc AS (
        SELECT doc_id, md5(clean) AS bp_clean_md5,
               len(list_filter(string_split(clean, ' '),
                               w -> w != ''))::BIGINT AS bp_n_kept
        FROM (
            SELECT doc_id,
                   -- coalesce: array_to_string of an all-removed (empty)
                   -- list is NULL in DuckDB; Spark rebuilds ''
                   coalesce(array_to_string(
                       list_filter(string_split(text, ' '),
                           w -> NOT list_contains(hx.hs, md5(trim(lower(w))))),
                       ' '), '') AS clean
            FROM documents, hx
        )
    )
    SELECT *, (gq_words_ok AND gq_word_len_ok AND gq_alpha_ok
               AND gq_rep_ok AND gq_stop_ok) AS gq_keep,
           NOT ({dom_block}) AS c4_domain_ok
    FROM (
    SELECT base.doc_id, bpc.bp_clean_md5, bpc.bp_n_kept,
           len(toks)::BIGINT AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens_bpe,
           n_chars::BIGINT AS n_chars,
           len(toks)::BIGINT AS n_words,
           round(CASE WHEN len(toks) > 0 THEN n_chars::DOUBLE/len(toks) ELSE 0.0 END, 4) AS avg_word_len,
           round(CASE WHEN n_chars > 0 THEN (n_chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE/n_chars ELSE 0.0 END, 4) AS punct_ratio,
           round(CASE WHEN n_chars > 0 THEN (n_chars - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE/n_chars ELSE 0.0 END, 4) AS digit_ratio,
           round(CASE WHEN len(toks) > 0 THEN len(list_filter(toks, t -> t IN ({_STOP_SQL})))::DOUBLE/len(toks) ELSE 0.0 END, 4) AS stopword_ratio,
           lid.lang_pred,
           {pii},
           round(CASE WHEN len(g3) > 0
                      THEN 1.0 - len(list_distinct(g3))::DOUBLE / len(g3)
                      ELSE 0.0 END, 4) AS rep_ratio,
           {c4},
           {gq}
    FROM (
        SELECT *, list_transform(
                   range(1, greatest(len(toks) - 3, 0) + 2),
                   i -> array_to_string(toks[i:i+2], ' ')) AS g3,
               list_transform(
                   range(1, greatest(len(toks) - 2, 0) + 2),
                   i -> array_to_string(toks[i:i+1], ' ')) AS g2
        FROM base
    ) base JOIN lid ON base.doc_id = lid.doc_id
           JOIN bpc ON base.doc_id = bpc.doc_id
    ) flagged
"""


def _langid_sql() -> str:
    # lang_id's lean argmax, mirrored: one hits list, 1-based
    # first-match position of the max (ties break to lang-list order on
    # both engines), 'und' when no marker hits
    langs = list(text.LANG_MARKERS)
    hits = ", ".join(
        "len(list_filter(toks, t -> t IN ("
        + ", ".join(f"'{m}'" for m in text.LANG_MARKERS[lg])
        + ")))"
        for lg in langs
    )
    names = "[" + ", ".join(f"'{lg}'" for lg in langs) + "]"
    return f"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
            FROM documents
        ), h AS (
            SELECT doc_id, [{hits}] AS hits FROM base
        )
        SELECT doc_id,
               CASE WHEN list_aggregate(hits, 'max') <= 0 THEN 'und'
                    ELSE {names}[list_position(hits,
                                 list_aggregate(hits, 'max'))]
               END AS lang_pred FROM h
    """


def q_text_fingerprint(spark, sf_dir):
    """Document fingerprinting, both forms in one projection: the sorted-
    distinct-token content fingerprint AND the rolling-hash winnowing
    fingerprint (k=8 char-grams, window 4: digest of the sorted distinct
    window-minimum hashes).

    Round-6 merge (session 2): the NEW stupid-backoff bigram LM quality
    score (text.bigram_lm_index + lm_logprob — the CCNet-style
    perplexity filter, self-trained on this corpus) joins on as the
    ``lm_logprob`` column; the oracle re-trains the counts and re-scores
    every bigram from first principles in SQL."""
    docs = load(spark, sf_dir, "documents")
    out = text.fingerprint(docs, "text")
    out = text.winnow_fingerprint(out, "text", k=8, w=4)
    uni, big, total = text.bigram_lm_index(docs, "text")
    out = text.lm_logprob(out, "doc_id", "text", uni, big, total)
    return out.select(
        "doc_id", "fingerprint", "winnow_fp",
        F.col("winnow_fp_size").alias("n_minima"),
        F.round("lm_logprob", 4).alias("lm_logprob"),
    )


SQL_TEXT_FINGERPRINT = """
    WITH g AS (
        SELECT doc_id, p.i,
               ('0x' || substr(md5(substr(lower(text), p.i, 8)), 1, 8))::BIGINT AS h,
               greatest(length(text) - 8 + 1, 1) AS n_grams
        FROM documents,
        LATERAL (SELECT unnest(range(1, greatest(length(text) - 8 + 1, 1) + 1)) AS i) p
    ), m AS (
        SELECT doc_id, i,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
               n_grams
        FROM g
    ), sel AS (
        SELECT DISTINCT doc_id, wmin FROM m
        WHERE i <= greatest(n_grams - 4 + 1, 1)
    ), wn AS (
        SELECT doc_id,
               md5(string_agg(wmin::VARCHAR, ',' ORDER BY wmin)) AS winnow_fp,
               count(*)::BIGINT AS n_minima
        FROM sel GROUP BY doc_id
    ), fp AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   list_filter(string_split_regex(lower(text), '\\s+'), t -> t != ''))), ' ')) AS fingerprint
        FROM documents
    ), d AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t != '') AS toks
        FROM documents
    ), uni AS (
        SELECT term, count(*)::BIGINT AS c1
        FROM (SELECT unnest(toks) AS term FROM d) GROUP BY term
    ), tot AS (
        SELECT sum(c1)::DOUBLE AS total FROM uni
    ), bpairs AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM d, LATERAL (SELECT unnest(range(1, len(toks))) AS i) p
        WHERE len(toks) >= 2
    ), big AS (
        SELECT w1, w2, count(*)::BIGINT AS c12 FROM bpairs GROUP BY w1, w2
    ), lp AS (
        SELECT bp.doc_id,
               CASE WHEN big.c12 IS NOT NULL AND u1.c1 IS NOT NULL
                    THEN ln(big.c12::DOUBLE / u1.c1)
                    ELSE ln(0.4 * coalesce(u2.c1, 1)::DOUBLE / tot.total)
               END AS l
        FROM bpairs bp
        LEFT JOIN uni u1 ON u1.term = bp.w1
        LEFT JOIN uni u2 ON u2.term = bp.w2
        LEFT JOIN big ON big.w1 = bp.w1 AND big.w2 = bp.w2
        CROSS JOIN tot
    ), lm AS (
        SELECT doc_id, round(avg(l), 4) AS lm_logprob FROM lp GROUP BY doc_id
    )
    SELECT fp.doc_id, fp.fingerprint, wn.winnow_fp, wn.n_minima,
           lm.lm_logprob
    FROM fp JOIN wn ON fp.doc_id = wn.doc_id
    LEFT JOIN lm ON lm.doc_id = fp.doc_id
"""


def q_dedup_ngram3_jaccard(spark, sf_dir):
    """Word 3-gram shingle Jaccard pairs >= 0.3 with the document-frequency
    cap at its default (the production n-gram dedup config). The operator
    is exact SQL (inverted index + pre-cap sizes), so the oracle is too.

    Round-6 merge (session 2): 'edit' tagged rows pin the NEW exact-
    verification tier (dedup.edit_distance_verify — Levenshtein distance
    + normalized similarity over the SAME candidate pairs, both engines'
    builtin edit distance pinned against each other). Columns: v1 =
    jaccard / edit_sim, v2 = null / edit_dist."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.3, max_df=100
    )
    jac = pairs.select(
        F.lit("jaccard").alias("tag"),
        "id_a", "id_b",
        F.round("jaccard", 6).alias("v1"),
        F.lit(None).cast("bigint").alias("v2"),
    )
    edit = dedup.edit_distance_verify(
        pairs.select("id_a", "id_b"), docs, "doc_id", "text"
    ).select(
        F.lit("edit").alias("tag"),
        "id_a", "id_b",
        F.round("edit_sim", 6).alias("v1"),
        F.col("edit_dist").cast("bigint").alias("v2"),
    )
    return jac.unionByName(edit)


SQL_DEDUP_NGRAM3 = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ts
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, s.shingle FROM toks,
        LATERAL unnest(list_transform(range(1, greatest(len(ts) - 3, 0) + 2),
                       i -> array_to_string(ts[i:i+2], ' '))) AS s(shingle)
    ), sizes AS (
        SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), dfc AS (
        SELECT shingle, count(*) AS c FROM sh GROUP BY shingle
    ), sh2 AS (
        SELECT sh.doc_id, sh.shingle FROM sh JOIN dfc USING (shingle) WHERE dfc.c <= 100
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    , pairsq AS (
        SELECT id_a, id_b,
               round(i::DOUBLE / (sa.set_size + sb.set_size - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE i::DOUBLE / (sa.set_size + sb.set_size - i) >= 0.3
    )
    SELECT 'jaccard' AS tag, id_a, id_b, jaccard AS v1, NULL::BIGINT AS v2
    FROM pairsq
    UNION ALL
    SELECT 'edit', p.id_a, p.id_b,
           round(CASE WHEN greatest(length(substr(da.text, 1, 2000)),
                               length(substr(db.text, 1, 2000))) > 0
                 THEN 1.0 - levenshtein(substr(da.text, 1, 2000),
                                        substr(db.text, 1, 2000))::DOUBLE
                      / greatest(length(substr(da.text, 1, 2000)),
                                 length(substr(db.text, 1, 2000)))
                 ELSE 1.0 END, 6),
           levenshtein(substr(da.text, 1, 2000),
                       substr(db.text, 1, 2000))::BIGINT
    FROM pairsq p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
"""


@generation
def q_dedup_minhash_lsh(spark, sf_dir):
    """The full sub-quadratic MinHash dedup pipeline in one tagged tall
    output (registry merge, round 4 — absorbs the former dedup_minhash
    signature check): 'sig' rows carry the raw per-document MinHash
    signature slots (universal hash family h_i(x) = (a_i x + b_i) mod
    (2^31 - 1), x md5-derived), 'pair' rows the LSH banding candidate
    pairs (2 bands x 2 rows: documents sharing >= 1 band key) with the
    verify step's estimated Jaccard (fraction of equal signature slots).
    Columns: (part, id_a, id_b, v) — for 'sig', id_b is the hash index
    and v the signature value; for 'pair', v is the Jaccard estimate.

    Round-10 merged slice 'inc': the INCREMENTAL gate — an LSH
    band-bucket index written from the doc_id % 5 != 0 corpus
    (write_minhash_index) and probed with the % 5 == 0 shard
    (minhash_candidates_against, shard-vs-index AND shard-vs-shard
    pairs). By the operator's parity contract those are EXACTLY the
    one-shot pairs touching the shard, so the oracle is the same pair
    CTE with a shard-membership WHERE — hash-verifying the whole
    write/validate/gate path against SQL."""
    docs = load(spark, sf_dir, "documents")
    # the caller owns the signatures cache (minhash_lsh_candidates pins
    # only its own frames): pin it here, where the signature pipeline
    # feeds the banding AND both sides of the estimate's join. The body
    # is one generation: its pins and the generators' stay live for the
    # returned frame and are freed by this thread's next pinning call.
    sig = scope_pin(dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=_MH_N, shingle_n=1
    ))
    pairs = dedup.minhash_lsh_candidates(sig, "doc_id", bands=2, rows_per_band=2)
    out = dedup.minhash_jaccard_estimate(sig, pairs)
    sig_rows = sig.select(
        F.col("doc_id").cast("bigint").alias("id_a"),
        F.posexplode(F.array(*[F.col("signature")[i] for i in range(_MH_N)])),
    ).select(
        F.lit("sig").alias("part"),
        "id_a",
        F.col("pos").cast("bigint").alias("id_b"),
        F.col("col").cast("double").alias("v"),
    )
    pair_rows = out.select(
        F.lit("pair").alias("part"),
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.round("jaccard_est", 6).alias("v"),
    )
    # round-10 'inc' slice: the incremental write-index/gate path
    idx_path = _scratch_artifact(
        "mh_inc", sf_dir,
        lambda d: dedup.write_minhash_index(
            docs.filter(F.col("doc_id") % 5 != 0), d + "/idx", "doc_id",
            "text",
            num_hashes=_MH_N, shingle_n=1, seed=42, bands=2,
            rows_per_band=2,
        ),
    ) + "/idx"
    inc = dedup.minhash_candidates_against(
        docs.filter(F.col("doc_id") % 5 == 0),
        spark.read.parquet(idx_path), "doc_id", "text",
        num_hashes=_MH_N, shingle_n=1, seed=42, bands=2, rows_per_band=2,
        max_bucket=None,
    )
    inc_rows = inc.select(
        F.lit("inc").alias("part"),
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.lit(0.0).alias("v"),
    )
    return sig_rows.unionByName(pair_rows).unionByName(inc_rows)


_MH_SIG_SQL = (
    """
    WITH toks AS (
        SELECT DISTINCT doc_id, t.tok FROM documents,
        LATERAL unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x != '')) AS t(tok)
    ), hx AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS x FROM toks
    ), sig AS (
        SELECT doc_id, """
    + ", ".join(
        f"min(({_MH_A[i]}*x + {_MH_B[i]}) % 2147483647)::BIGINT AS h{i}"
        for i in range(_MH_N)
    )
    + " FROM hx GROUP BY doc_id)"
)

def q_dedup_cc(spark, sf_dir):
    """Duplicate-CLUSTER assignment: connected components (min-label
    propagation, one join+groupBy per iteration) over the MinHash-LSH
    candidate pairs, with canonical-document selection (the cluster's
    minimum doc_id). The step a production dedup pipeline runs after the
    pair generators; the oracle re-derives the transitive closure with a
    recursive CTE from the identical pair set.

    Round-10 merged slice 'canon': the RETENTION POLICY —
    ``canonical_by_score`` keeps each cluster's best-QUALITY member
    (here score = text length, SQL-replicable; desc, doc_id asc
    tie-break) with its member count, hash-verified against DuckDB's
    row_number window over the same recursive closure.

    Round-10 merged slice 'incm': the INCREMENTAL cluster merge —
    ``connected_components_against`` folds the shard-touching pairs
    (doc_id % 5 == 0, the same shard as dedup_minhash_lsh's 'inc'
    slice) into a prior assignment built from the non-shard pairs; the
    merged labels must coincide exactly with the one-shot closure the
    oracle recomputes."""
    docs = load(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=_MH_N, shingle_n=1)
    pairs = dedup.minhash_lsh_candidates(sig, "doc_id", bands=2, rows_per_band=2)
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    cc_rows = cc.select(
        F.lit("cc").alias("part"),
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        (F.col("node") == F.col("cluster_id")).alias("flag"),
        F.lit(0.0).alias("v"),
        F.lit(0).cast("bigint").alias("n"),
    )
    scored = docs.select(
        "doc_id", F.length("text").cast("double").alias("len_score")
    )
    canon = dedup.canonical_by_score(cc, scored, "doc_id", "len_score")
    canon_rows = canon.select(
        F.lit("canon").alias("part"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.lit(True).alias("flag"),
        F.col("len_score").alias("v"),
        F.col("n_members").cast("bigint").alias("n"),
    )
    # round-10 'incm' slice: reach the SAME labels incrementally — a
    # prior assignment over the non-shard pairs, then
    # connected_components_against folds in the shard-touching pairs
    # (the doc_id % 5 == 0 shard, matching the 'inc' slice of
    # dedup_minhash_lsh); the oracle recomputes the one-shot closure
    prior = dedup.connected_components(
        pairs.filter((F.col("id_a") % 5 != 0) & (F.col("id_b") % 5 != 0)),
        "id_a", "id_b",
    )
    merged = dedup.connected_components_against(
        prior,
        pairs.filter((F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0)),
        "id_a", "id_b",
    )
    incm_rows = merged.select(
        F.lit("incm").alias("part"),
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        (F.col("node") == F.col("cluster_id")).alias("flag"),
        F.lit(0.0).alias("v"),
        F.lit(0).cast("bigint").alias("n"),
    )
    return cc_rows.unionByName(canon_rows).unionByName(incm_rows)


# shared banding + candidate-pair CTE block (2 bands x 2 rows over the
# 4-hash signature) — ONE definition appended to every oracle that
# consumes the LSH pairs, so the banding config can never drift between
# them while the Spark side builds pairs from the single
# minhash_lsh_candidates implementation
_MH_PAIRS_SQL = """, banded AS (
        SELECT doc_id, 0 AS band, md5(h0::VARCHAR || ',' || h1::VARCHAR) AS key FROM sig
        UNION ALL
        SELECT doc_id, 1, md5(h2::VARCHAR || ',' || h3::VARCHAR) FROM sig
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )"""

SQL_DEDUP_MINHASH_LSH = (
    _MH_SIG_SQL
    + _MH_PAIRS_SQL
    + """
    SELECT 'pair' AS part, p.id_a::BIGINT AS id_a, p.id_b::BIGINT AS id_b,
           round(((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END)
                + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END))::DOUBLE / 4.0, 6)
           AS v
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
    UNION ALL
    -- round-10 'inc': the incremental gate's contract — one-shot pairs
    -- restricted to those touching the doc_id % 5 == 0 shard
    SELECT 'inc' AS part, id_a::BIGINT, id_b::BIGINT, 0.0 AS v
    FROM pairs
    WHERE id_a % 5 = 0 OR id_b % 5 = 0
"""
    + "".join(
        f"""
    UNION ALL
    SELECT 'sig' AS part, doc_id::BIGINT AS id_a, {i}::BIGINT AS id_b,
           h{i}::DOUBLE AS v
    FROM sig"""
        for i in range(_MH_N)
    )
)


SQL_DEDUP_CC = (
    _MH_SIG_SQL.replace("WITH toks AS", "WITH RECURSIVE toks AS", 1)
    + _MH_PAIRS_SQL
    + """, und AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach(node, lbl) AS (
        SELECT src, src FROM und
        UNION
        SELECT u.src, r.lbl FROM und u JOIN reach r ON r.node = u.dst
    ), lbl AS (
        SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
    ), ranked AS (
        SELECT l.cluster_id, l.node, length(d.text)::DOUBLE AS s,
               count(*) OVER (PARTITION BY l.cluster_id) AS nm,
               row_number() OVER (
                   PARTITION BY l.cluster_id
                   ORDER BY length(d.text) DESC, l.node ASC
               ) AS rk
        FROM lbl l JOIN documents d ON d.doc_id = l.node
    )
    SELECT 'cc' AS part, CAST(node AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           (node = cluster_id) AS flag, 0.0 AS v, CAST(0 AS BIGINT) AS n
    FROM lbl
    UNION ALL
    SELECT 'canon', CAST(node AS BIGINT), CAST(cluster_id AS BIGINT),
           TRUE, s, CAST(nm AS BIGINT)
    FROM ranked WHERE rk = 1
    UNION ALL
    -- round-10 'incm': the incremental cluster-merge contract — the
    -- Spark side reaches these labels by folding the shard-touching
    -- pairs into a PRIOR assignment (connected_components_against);
    -- the oracle is the one-shot closure over everything, so the two
    -- paths must coincide exactly
    SELECT 'incm', CAST(node AS BIGINT), CAST(cluster_id AS BIGINT),
           (node = cluster_id), 0.0, CAST(0 AS BIGINT)
    FROM lbl
"""
)


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact all-pairs baseline,
    threshold 0.4). The sub-quadratic scale paths are the LSH-blocked
    variant (dedup_embedding_lsh, rows-only) and — round-8 'cells'
    slice — the SemDeDup cluster-blocked variant
    (dedup.embedding_cell_pairs over the PINNED IVF centroids: cell
    assignment + within-cell equi-join + exact cosine, every step
    re-derived in SQL from the same literals)."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "vec", F.transform("embedding", lambda x: x.cast("double"))
    )
    out = dedup.embedding_cosine_pairs(emb, "vec_id", "vec", threshold=0.4)
    base = out.select(
        F.lit("exact").alias("slice"),
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.round("cosine", 4).alias("cosine"),
    )
    C = np.array(_ivf_pin_centroids(sf_dir))
    cells = dedup.embedding_cell_pairs(
        emb, "vec_id", "vec", C, threshold=0.4, max_cell=None
    )
    cells = cells.select(
        F.lit("cells").alias("slice"),
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.round("cosine", 4).alias("cosine"),
    )
    return base.unionByName(cells)


def _dedup_embedding_sql(sf_dir: str) -> str:
    """Oracle for q_dedup_embedding: the exact all-pairs slice plus the
    round-8 'cells' slice — nearest-centroid assignment from the pinned
    literals (the _ivf_assign_sql formula) and the within-cell pair
    join."""
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), s AS (
        SELECT vec_id, v, {_ivf_sims_sql(sf_dir)} AS sims FROM e
    ), asg AS (
        SELECT vec_id, v,
               list_position(sims, list_aggregate(sims, 'max')) - 1
                   AS cell
        FROM s
    )
    SELECT 'exact' AS slice, a.vec_id::BIGINT AS id_a,
           b.vec_id::BIGINT AS id_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    UNION ALL
    SELECT 'cells' AS slice, a.vec_id::BIGINT AS id_a,
           b.vec_id::BIGINT AS id_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cosine
    FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.4
"""


_LSH_RECALL_BOUND = 0.7  # measured 0.799 (sf0.01) / 0.826 (sf0.001) with
# r=4 planes x b=12 bands at threshold 0.3; deterministic (fixed planes +
# fixed data), so the bound cannot drift between runs


def q_dedup_embedding_lsh(spark, sf_dir):
    """Banded hyperplane-LSH embedding near-dup (12 independent 4-bit
    signatures -> band+bucket equi-join on slim signature rows -> distinct
    candidate ids -> exact cosine), the plan shape that survives 100 TB.

    Recall < 1 by design, so instead of pair-row equality the oracle
    asserts the LSH output's CONTRACT: every emitted pair is a true pair
    (subset_ok — zero spurious), recall against the exact all-pairs
    baseline meets the pinned bound (recall_ok), and both engines agree on
    the exact-pair universe size (n_exact, recomputed independently by
    DuckDB).

    Parameter note: threshold 0.3 on near-random synthetic vectors is the
    ADVERSARIAL regime for hyperplane LSH (collision prob/plane ~0.6), so
    hitting recall 0.8 needs aggressive 4-bit bands whose candidate volume
    approaches all-pairs on a large fixture. Production near-dup
    thresholds (cosine >= 0.9, p ~0.86/plane) reach recall ~0.99 with
    8-bit bands and SPARSE candidates — tune (n_planes, n_bands) to the
    threshold; the plan shape is identical."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "vec", F.transform("embedding", lambda x: x.cast("double"))
    )
    lsh = dedup.embedding_cosine_pairs(
        emb, "vec_id", "vec", threshold=0.3, n_planes=4, n_bands=12
    ).select("id_a", "id_b")
    exact = dedup.embedding_cosine_pairs(
        emb, "vec_id", "vec", threshold=0.3
    ).select("id_a", "id_b")
    hits = exact.join(lsh.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left")
    agg = hits.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
    )
    spurious = lsh.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_spurious")
    )
    return agg.crossJoin(spurious).select(
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (F.col("n_hit") / F.col("n_exact") >= F.lit(_LSH_RECALL_BOUND)).alias(
            "recall_ok"
        ),
        (F.col("n_spurious") == 0).alias("subset_ok"),
        F.lit(_LSH_RECALL_BOUND).alias("recall_bound"),
    )


SQL_DEDUP_EMBEDDING_LSH = f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           TRUE AS recall_ok,
           TRUE AS subset_ok,
           {_LSH_RECALL_BOUND!r} AS recall_bound
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.3
"""


# ---------------------------------------------------------------------------
# §2.5 remaining predict/score surface (Q7, Q11)
# ---------------------------------------------------------------------------

_DEV_ROWS = [(0, 0.0), (1, 0.35), (2, 0.62), (3, 0.81)]
_NULL_DEV = 1234.5


def q_q7_deviance(spark, sf_dir):
    """deviance = (1 - deviance_ratio) * null_deviance (R/deviance.R:13-18)
    over a literal path table."""
    cdf = spark.createDataFrame(_DEV_ROWS, "path_idx int, dev_ratio double")
    return cdf.select(
        "path_idx",
        F.round((F.lit(1.0) - F.col("dev_ratio")) * F.lit(_NULL_DEV), 6).alias("deviance"),
    )


SQL_Q7_DEVIANCE = (
    "WITH p(path_idx, dev_ratio) AS (VALUES "
    + ", ".join(f"({i}, {d!r})" for i, d in _DEV_ROWS)
    + f""")
    SELECT path_idx::INTEGER AS path_idx,
           round((1.0 - dev_ratio) * {_NULL_DEV!r}, 6) AS deviance
    FROM p
"""
)


def q_q11_score_multinomial(spark, sf_dir):
    """Multinomial deviance / mse / mae (R/score.R:82-118): clipped
    per-class log-loss and elementwise errors of the softmax probabilities
    against the one-hot truth."""
    z = _zdf(spark, sf_dir)
    lp1, lp2 = _lp_expr(), _lp2_expr()
    mx = F.greatest(lp1, lp2, F.lit(0.0))
    e1, e2, e3 = F.exp(lp1 - mx), F.exp(lp2 - mx), F.exp(F.lit(0.0) - mx)
    den = e1 + e2 + e3
    probs = [e1 / den, e2 / den, e3 / den]
    ys = [
        F.when(F.col("l_returnflag") == c, 1.0).otherwise(0.0)
        for c in ("A", "N", "R")
    ]
    clip = lambda p: F.least(F.greatest(p, F.lit(1e-5)), F.lit(1.0 - 1e-5))
    dev = sum(
        (-2.0) * y * F.log(clip(p)) for y, p in zip(ys, probs)
    )
    mse = sum((p - y) * (p - y) for y, p in zip(ys, probs)) / 3.0
    mae = sum(F.abs(p - y) for y, p in zip(ys, probs)) / 3.0
    return z.agg(
        F.round(F.avg(dev), 4).alias("deviance"),
        F.round(F.avg(mse), 4).alias("mse"),
        F.round(F.avg(mae), 4).alias("mae"),
    )


SQL_Q11_MULTINOMIAL = f"""
    WITH z AS ({_Z_SQL}), lp AS (
        SELECT l_returnflag, {_LP_SQL} AS lp1, {_LP2_SQL} AS lp2,
               greatest({_LP_SQL}, {_LP2_SQL}, 0.0) AS mx
        FROM z
    ), e AS (
        SELECT l_returnflag,
               exp(lp1 - mx) AS e1, exp(lp2 - mx) AS e2, exp(0.0 - mx) AS e3
        FROM lp
    ), p AS (
        SELECT e1/(e1+e2+e3) AS p1, e2/(e1+e2+e3) AS p2, e3/(e1+e2+e3) AS p3,
               CASE WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.0 END AS y1,
               CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END AS y2,
               CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y3
        FROM e
    ), c AS (
        SELECT y1, y2, y3, p1, p2, p3,
               least(greatest(p1, 1e-5), 1.0 - 1e-5) AS c1,
               least(greatest(p2, 1e-5), 1.0 - 1e-5) AS c2,
               least(greatest(p3, 1e-5), 1.0 - 1e-5) AS c3
        FROM p
    )
    SELECT round(avg(-2.0*(y1*ln(c1) + y2*ln(c2) + y3*ln(c3))), 4) AS deviance,
           round(avg(((p1-y1)*(p1-y1) + (p2-y2)*(p2-y2) + (p3-y3)*(p3-y3))/3.0), 4) AS mse,
           round(avg((abs(p1-y1) + abs(p2-y2) + abs(p3-y3))/3.0), 4) AS mae
    FROM c
"""


def q_multimodal_frame_plan(spark, sf_dir):
    """Video frame-sampling plan: uniform (doc_id, frame_idx, ts_ms) rows
    (pure explode, no shuffle); decode is a downstream mapInPandas stage."""
    from .pipeline import multimodal as mm

    docs = load(spark, sf_dir, "documents")
    out = mm.frame_sample_plan(docs, "doc_id", n_frames=4)
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("ts_ms").cast("bigint").alias("ts_ms"),
    )


SQL_MM_FRAME_PLAN = """
    SELECT doc_id, f.frame_idx::INTEGER AS frame_idx,
           (f.frame_idx * 4000 / 4)::BIGINT AS ts_ms
    FROM documents, LATERAL (SELECT unnest(range(4)) AS frame_idx) f
"""


_LSEQ_K, _LSEQ_N, _LSEQ_Q = 20, 1000, 0.2

# Pinned literal inputs for the penalty-machinery micro-oracles merged into
# r_lambda_sequences (round 6 — the last four pytest-only operators gain
# hash oracles; see each section of _lambda_seq_sql):
#   R6 sigma grid       — src/regularizationPath.h:57-71
#   F1 sorted-L1 prox   — src/prox.h:8-56 (FastProxSL1)
#   F8 strong rule      — src/screening.h:7-53
#   F9 KKT check        — src/kktCheck.h:8-37
# Inputs exercise ties, zeros, and sign mixes; every row also carries the
# input value in `tail` so the hash pins inputs AND outputs.
_R6_LM = [abs(((j * 37) % 19) - 9) + 0.25 * j + 0.5 for j in range(_LSEQ_K)]
_R6_NSIGMA, _R6_RATIO = 8, 0.1
_F1_V = [1.2, -3.4, 0.0, 3.4, 2.2, -0.7, 0.7, 5.0]
_F1_LAM = [2.0, 1.5, 1.0, 0.8, 0.5, 0.3, 0.2, 0.1]
_F8_G = [3.1, -2.4, 2.4, 0.0, 1.7, -0.6, 0.6, 4.5, -0.2, 1.1]
_F8_LAM = [2.0 - 0.18 * j for j in range(10)]
_F8_LAM_PREV = [1.25 * (2.0 - 0.18 * j) for j in range(10)]
_F9_G = _F8_G
_F9_B = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -2.0, 0.0, 0.0]
_F9_LAM = [2.5 - 0.1 * j for j in range(10)]  # mixes flagged/unflagged zero-beta features
_F9_TOL = 1e-3

# Polynomial for log(upper normal tail) on y in [1.25, 2.62] — the range
# every BH lambda of this fixture lands in — fitted (np.polyfit, degree 12,
# centered at y=1.9) against statistics.NormalDist; max relative error of
# the exp'd tail is 3.4e-14. Lets DuckDB verify the engine's qnorm through
# the FORWARD CDF in pure SQL: round(tail(lambda_i), 8) must equal the
# target tail probability i*q/(2k).
_TAIL_POLY = (
    -4.982428340924787e-10, 5.180981311228062e-09, -3.694376138880692e-08,
    1.73883472394336e-07, -4.388049837518235e-07, -1.471915062886157e-06,
    2.9736601900937025e-05, -0.000260001944860869, 0.0017681779373720794,
    -0.010574503878652372, -0.439791633570298, -2.2849469154767403,
    -3.5502813255421333,
)


def _tail_sql(y: str) -> str:
    """SQL for the standard-normal upper tail at ``y`` (fixture range only)."""
    expr = repr(_TAIL_POLY[0])
    for c in _TAIL_POLY[1:]:
        expr = f"(({expr})*(({y}) - 1.9) + {c!r})"
    return f"exp({expr})"


def _lambda_seq_sql() -> str:
    """Oracle for q_r_lambda_sequences: bh quantiles verified through the
    forward CDF; the gaussian sequence's SEQUENTIAL sqrt(1 + cumsum/w)
    adjustment (src/regularizationPath.h:35-46) re-derived from the
    CDF-verified bh literals with WITH RECURSIVE; oscar by closed formula.

    Round-6 merged sections over the pinned literal inputs (_R6_/_F1_/
    _F8_/_F9_ constants), each a FIRST-PRINCIPLES recomputation:
    - sigma_grid: sorted-cumsum sigma_max + the exact linspace-in-log
      arithmetic (src/regularizationPath.h:57-71);
    - prox: non-increasing isotonic regression via its minimax
      characterization y_i = min_{a<=i} max_{b>=i} mean(z[a..b]) (the
      closed form of the PAVA fixed point of src/prox.h:8-56), then
      clip / re-sign / unsort;
    - strong_rule: the sequential i/k/s screening loop of
      src/screening.h:7-53 replayed with WITH RECURSIVE, emitted as
      per-feature membership;
    - kkt_check: the sorted-cumsum violation window math of
      src/kktCheck.h:8-37, per-feature membership with the nonzero-beta
      mask applied."""
    from .core.lambdas import lambda_sequence

    k, n, qq = _LSEQ_K, _LSEQ_N, _LSEQ_Q
    bh = lambda_sequence(k, n, "bh", qq)
    assert all(1.25 < float(v) < 2.62 for v in bh), "fixture out of poly range"
    bh_rows = ", ".join(f"({i}, {float(bh[i])!r})" for i in range(k))
    adj = f"b.lam * sqrt(1.0 + g.cum / greatest(1.0, {float(n)!r} - b.idx - 1))"

    lm_rows = ", ".join(f"({j}, {float(v)!r})" for j, v in enumerate(_R6_LM))
    nsig, ratio = _R6_NSIGMA, float(_R6_RATIO)
    f1v_rows = ", ".join(f"({i}, {float(v)!r})" for i, v in enumerate(_F1_V))
    f1l_rows = ", ".join(
        f"({r + 1}, {float(l)!r})" for r, l in enumerate(_F1_LAM)
    )
    f8g_rows = ", ".join(f"({j}, {float(g)!r})" for j, g in enumerate(_F8_G))
    f8l_rows = ", ".join(
        f"({r}, {float(a)!r}, {float(b)!r})"
        for r, (a, b) in enumerate(zip(_F8_LAM, _F8_LAM_PREV))
    )
    p8 = len(_F8_G)
    f9g_rows = ", ".join(
        f"({j}, {float(g)!r}, {float(b)!r})"
        for j, (g, b) in enumerate(zip(_F9_G, _F9_B))
    )
    f9l_rows = ", ".join(
        f"({r + 1}, {float(l)!r})" for r, l in enumerate(_F9_LAM)
    )
    rh = max(float(np.sqrt(np.finfo(np.float64).eps)), _F9_TOL * _F9_LAM[0])

    return f"""
    WITH RECURSIVE bh(idx, lam) AS (
        SELECT * FROM (VALUES {bh_rows}) AS t(idx, lam)
    ), gadj(idx, lam, cum) AS (
        SELECT 0, {float(bh[0])!r}, {float(bh[0])!r} * {float(bh[0])!r}
        UNION ALL
        SELECT b.idx, {adj}, g.cum + ({adj}) * ({adj})
        FROM gadj g JOIN bh b ON b.idx = g.idx + 1
    ), gmin AS (SELECT min(lam) AS mn FROM gadj),
    gargmin AS (
        SELECT min(idx) AS am FROM gadj, gmin WHERE gadj.lam = gmin.mn
    ), gfinal AS (
        SELECT idx, CASE WHEN idx >= (SELECT am FROM gargmin)
                         THEN (SELECT mn FROM gmin) ELSE lam END AS lam
        FROM gadj
    ), r6lm(j, val) AS (
        SELECT * FROM (VALUES {lm_rows}) AS t(j, val)
    ), r6cs AS (
        SELECT row_number() OVER (ORDER BY val DESC, j ASC) AS r,
               sum(val) OVER (ORDER BY val DESC, j ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS clm
        FROM r6lm
    ), r6cl AS (
        SELECT idx + 1 AS r,
               sum(lam) OVER (ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl
        FROM bh
    ), r6smax AS (
        SELECT max(r6cs.clm / r6cl.cl) AS s FROM r6cs JOIN r6cl USING (r)
    ), f1v(i, v) AS (
        SELECT * FROM (VALUES {f1v_rows}) AS t(i, v)
    ), f1l(r, lam) AS (
        SELECT * FROM (VALUES {f1l_rows}) AS t(r, lam)
    ), f1z AS (
        SELECT rr.r, rr.i, rr.v, rr.av - f1l.lam AS z
        FROM (
            SELECT i, v, abs(v) AS av,
                   row_number() OVER (ORDER BY abs(v) DESC, i ASC) AS r
            FROM f1v
        ) rr JOIN f1l ON rr.r = f1l.r
    ), f1seg AS (
        SELECT za.r AS a, zb.r AS b, avg(zm.z) AS mu
        FROM f1z za JOIN f1z zb ON za.r <= zb.r
        JOIN f1z zm ON zm.r BETWEEN za.r AND zb.r
        GROUP BY za.r, zb.r
    ), f1mx AS (
        SELECT zi.r AS r, s.a AS a, max(s.mu) AS mx
        FROM f1z zi JOIN f1seg s ON s.a <= zi.r AND s.b >= zi.r
        GROUP BY zi.r, s.a
    ), f1iso AS (
        SELECT r, min(mx) AS y FROM f1mx GROUP BY r
    ), f8g(j, g) AS (
        SELECT * FROM (VALUES {f8g_rows}) AS t(j, g)
    ), f8l(r, lam, lamp) AS (
        SELECT * FROM (VALUES {f8l_rows}) AS t(r, lam, lamp)
    ), f8rank AS (
        SELECT j, g, row_number() OVER (ORDER BY abs(g) DESC, j ASC) - 1 AS r
        FROM f8g
    ), f8t AS (
        SELECT f8rank.r, abs(f8rank.g) + f8l.lamp - 2.0 * f8l.lam AS tmp
        FROM f8rank JOIN f8l ON f8rank.r = f8l.r
    ), f8loop(step, i, k, s) AS (
        SELECT 0, 0, 0, CAST(0.0 AS DOUBLE)
        UNION ALL
        SELECT st.step + 1,
               CASE WHEN st.s + t.tmp >= 0.0 THEN 0 ELSE st.i + 1 END,
               CASE WHEN st.s + t.tmp >= 0.0 THEN st.k + st.i + 1 ELSE st.k END,
               CASE WHEN st.s + t.tmp >= 0.0 THEN 0.0 ELSE st.s + t.tmp END
        FROM f8loop st JOIN f8t t ON t.r = st.k + st.i
        WHERE st.i + st.k < {p8}
    ), f8k AS (
        SELECT k FROM f8loop ORDER BY step DESC LIMIT 1
    ), f9g(j, g, b) AS (
        SELECT * FROM (VALUES {f9g_rows}) AS t(j, g, b)
    ), f9l(r, lam) AS (
        SELECT * FROM (VALUES {f9l_rows}) AS t(r, lam)
    ), f9c AS (
        SELECT rr.j, rr.g, rr.b,
               sum(rr.ag - f9l.lam) OVER (ORDER BY rr.r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM (
            SELECT j, g, b, abs(g) AS ag,
                   row_number() OVER (ORDER BY abs(g) DESC, j ASC) AS r
            FROM f9g
        ) rr JOIN f9l ON rr.r = f9l.r
    )
    SELECT 'bh' AS seq_type, CAST(idx AS INTEGER) AS idx,
           round(lam, 6) AS lam, round({_tail_sql("lam")}, 8) AS tail
    FROM bh
    UNION ALL
    SELECT 'gaussian', CAST(idx AS INTEGER), round(lam, 6), 0.0 FROM gfinal
    UNION ALL
    SELECT 'oscar', CAST(i AS INTEGER),
           round({qq!r} * ({k} - i - 1) + 1.0, 6), 0.0
    FROM range(0, {k}) AS t(i)
    UNION ALL
    SELECT 'sigma_grid', CAST(t.i AS INTEGER),
           round(exp(ln(s) + t.i * (ln(s * {ratio!r}) - ln(s)) / {nsig - 1}),
                 6),
           0.0
    FROM range(0, {nsig}) AS t(i), r6smax
    UNION ALL
    SELECT 'prox', CAST(z.i AS INTEGER),
           round(CASE WHEN z.v < 0 THEN -greatest(iso.y, 0.0)
                      ELSE greatest(iso.y, 0.0) END, 6),
           round(z.v, 6)
    FROM f1z z JOIN f1iso iso ON z.r = iso.r
    UNION ALL
    SELECT 'strong_rule', CAST(j AS INTEGER),
           CASE WHEN r < (SELECT k FROM f8k) THEN 1.0 ELSE 0.0 END,
           round(g, 6)
    FROM f8rank
    UNION ALL
    SELECT 'kkt_check', CAST(j AS INTEGER),
           CASE WHEN cum > {rh!r} AND b = 0.0 THEN 1.0 ELSE 0.0 END,
           round(g, 6)
    FROM f9c
"""


def q_r_lambda_sequences(spark, sf_dir):
    """The three named lambda sequences (bh / gaussian / oscar;
    src/regularizationPath.h:28-50) for k=20, q=0.2, n=1000, with a REAL
    oracle: DuckDB verifies the BH quantiles through the forward normal
    CDF (Cody's rational approximation in SQL), re-derives the gaussian
    sequence's sequential sqrt(1+cumsum/w) adjustment with WITH RECURSIVE
    from the (CDF-verified) BH values, and checks OSCAR by its closed
    formula. ``tail`` is the upper-tail probability for bh rows, 0 for
    the other sequences.

    Registry merge, round 6 — the remaining penalty-machinery operators
    ride as tagged rows over pinned literal inputs, each computed by the
    REAL driver function here and recomputed FROM FIRST PRINCIPLES by
    DuckDB (see _lambda_seq_sql):

    - 'sigma_grid' (R6): sigma_max = max(cumsum(sort_desc|lm|)/cumsum(lam))
      + the log-linear grid (src/regularizationPath.h:57-71);
    - 'prox' (F1): FastProxSL1 vs the minimax characterization of
      non-increasing isotonic regression (src/prox.h:8-56);
    - 'strong_rule' (F8): the sequential screening loop re-run with
      WITH RECURSIVE (src/screening.h:7-53), membership per feature;
    - 'kkt_check' (F9): sorted-cumsum violation flags vs plain window
      math (src/kktCheck.h:8-37), membership per feature."""
    from .core.lambdas import lambda_sequence, sigma_grid
    from .core.prox import sorted_l1_prox
    from .core.screening import kkt_check, strong_rule_active_set

    k, n, qq = _LSEQ_K, _LSEQ_N, _LSEQ_Q
    rows = []
    for seq in ("bh", "gaussian", "oscar"):
        lam = lambda_sequence(k, n, seq, qq)
        for i, v in enumerate(lam):
            tail = (i + 1) * qq / (2.0 * k) if seq == "bh" else 0.0
            rows.append((seq, i, round(float(v), 6), round(tail, 8)))

    lam_bh = lambda_sequence(k, n, "bh", qq)
    grid, _smax = sigma_grid(
        np.asarray(_R6_LM), lam_bh,
        n_sigma=_R6_NSIGMA, lambda_min_ratio=_R6_RATIO,
    )
    for i, s in enumerate(grid):
        rows.append(("sigma_grid", i, round(float(s), 6), 0.0))

    pr = sorted_l1_prox(np.asarray(_F1_V), np.asarray(_F1_LAM))
    for i, (vv, pv) in enumerate(zip(_F1_V, pr)):
        rows.append(("prox", i, round(float(pv), 6), round(float(vv), 6)))

    act = set(
        int(j) for j in strong_rule_active_set(
            np.asarray(_F8_G), np.asarray(_F8_LAM),
            np.asarray(_F8_LAM_PREV), False,
        )
    )
    for j, gv in enumerate(_F8_G):
        rows.append(
            ("strong_rule", j, 1.0 if j in act else 0.0, round(float(gv), 6))
        )

    vio = set(
        int(j) for j in kkt_check(
            np.asarray(_F9_G), np.asarray(_F9_B), np.asarray(_F9_LAM),
            _F9_TOL, False,
        )
    )
    for j, gv in enumerate(_F9_G):
        rows.append(
            ("kkt_check", j, 1.0 if j in vio else 0.0, round(float(gv), 6))
        )
    return spark.createDataFrame(
        rows, "seq_type string, idx int, lam double, tail double"
    )


# ---------------------------------------------------------------------------
# solver queries with HARD KKT-residual oracles.
#
# Scheme: a deterministic driver-only NumPy reference fit
# (core.ref_fit.numpy_path_fit over pyarrow-loaded parquet) pins the path
# coefficients per sf_dir. ONE dialect-neutral SQL text — run by Spark via
# spark.sql() on a temp view AND by DuckDB verbatim — recomputes, from the
# raw data with the pinned betas embedded as literals, the standardized-
# space gradient and the sorted-cumsum infeasibility of src/kktCheck.h /
# src/infeasibility.h, emitting per path point:
#   (path_idx, n_nonzero, kkt_ok)      kkt_ok := infeas <= tol_infeas*lam0*sigma
# The Spark query ALSO runs the real distributed/in-core fit and appends
# fit_agrees := (its betas match the pinned betas within solver tolerance),
# which the oracle asserts TRUE. A hash match therefore proves: the engine
# fit converged to the same optimum AND both engines agree that optimum
# satisfies the KKT conditions on the actual data.
# ---------------------------------------------------------------------------

_SOLVER_SPECS = {
    "f2_binomial_fit": dict(
        family="binomial",
        features=["l_quantity", "l_discount", "l_tax"],
        n_sigma=5, lambda_min_ratio=0.1,
    ),
    "f6_poisson_fit": dict(
        family="poisson",
        features=["l_discount", "l_tax"],
        n_sigma=4, lambda_min_ratio=0.1,
    ),
    "f7_multinomial_fit": dict(
        family="multinomial",
        features=["l_quantity", "l_extendedprice"],
        n_sigma=4, lambda_min_ratio=0.1,
    ),
    "f11_gaussian_path": dict(
        family="gaussian",
        features=["l_quantity", "l_discount", "l_tax"],
        n_sigma=10, lambda_min_ratio=None,
    ),
    # pinned for the q6 interpolation oracle only (skipped by the KKT loop)
    "q6_coef_interpolation": dict(
        family="gaussian",
        features=["l_quantity", "l_discount"],
        n_sigma=8, lambda_min_ratio=None,
    ),
    # pinned for the f13 diagnostics oracle (skipped by the KKT loop)
    "f13_diagnostics": dict(
        family="binomial",
        features=["l_quantity", "l_discount"],
        n_sigma=5, lambda_min_ratio=0.1,
    ),
}
_NON_KKT_SPECS = {"q6_coef_interpolation", "f13_diagnostics"}
_KKT_ORACLE_NAMES = [k for k in _SOLVER_SPECS if k not in _NON_KKT_SPECS]

# label SQL per family (the same derived columns the Spark fit uses)
_SOLVER_Y_SQL = {
    "binomial": "CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE -1.0 END",  # ok->-1, ret->+1
    "poisson": "round(l_quantity)",
    "gaussian": "l_extendedprice",
    "multinomial": None,  # one-hot built inline
}


@lru_cache(maxsize=None)
def _pinned_fit(sf_dir: str, qname: str):
    import numpy as np
    import pyarrow.parquet as pq

    from .core.ref_fit import numpy_path_fit

    spec = _SOLVER_SPECS[qname]
    cols = list({*spec["features"], "l_quantity", "l_returnflag", "l_extendedprice"})
    tbl = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=cols)
    X = np.column_stack(
        [tbl.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
         for c in spec["features"]]
    )
    fam = spec["family"]
    if fam == "binomial":
        rf = np.asarray(tbl.column("l_returnflag").to_pylist())
        y = np.where(rf == "R", "ret", "ok")
    elif fam == "poisson":
        y = np.round(
            tbl.column("l_quantity").to_numpy(zero_copy_only=False).astype(np.float64)
        )
    elif fam == "multinomial":
        y = np.asarray(tbl.column("l_returnflag").to_pylist())
    else:
        y = tbl.column("l_extendedprice").to_numpy(zero_copy_only=False).astype(np.float64)
    # pinned tighter than the engine's stopping tolerance so the pinned
    # betas are effectively exact; the engine fit then sits within its own
    # ~1% duality-gap wiggle of them
    return numpy_path_fit(
        X, y, fam,
        n_sigma=spec["n_sigma"], lambda_min_ratio=spec["lambda_min_ratio"],
        tol_rel_gap=1e-7, tol_infeas=1e-4,
    )


def _kkt_parts(pin, feats, fam, sfx: str, where: str = "", grp: str | None = None):
    """One KKT-residual slice as (CTE definitions, final SELECT), with
    every CTE name suffixed by ``sfx`` so multiple slices can share a
    single WITH and be UNION ALLed (the round-7 grouped-fit slices of
    f11_gaussian_path). ``where`` filters the base rows (per-group
    slices); ``grp`` (if set) is emitted as a literal tag column."""
    p = len(feats)
    m = pin["m"]
    B = pin["betas"]  # (K, p+1, m) original units
    K = B.shape[0]
    cj = pin["x_center"]
    sj = pin["x_scale"]
    ys = float(pin["y_scale"][0])

    def lp(k, t):
        terms = [repr(float(B[k, 0, t]))]
        terms += [
            f"{float(B[k, 1 + j, t])!r}*{feats[j]}" for j in range(p)
            if B[k, 1 + j, t] != 0.0
        ]
        return "(" + " + ".join(terms) + ")"

    # per-(k, t) pseudo-gradient column expressions over the base row
    pg_exprs = []
    if fam == "gaussian":
        for k in range(K):
            pg_exprs.append(f"({lp(k,0)} - l_extendedprice) / {ys!r} AS pg_{k}_0")
    elif fam == "binomial":
        yv = _SOLVER_Y_SQL["binomial"]
        for k in range(K):
            pg_exprs.append(
                f"-({yv}) / (1.0 + exp(({yv}) * {lp(k,0)})) AS pg_{k}_0"
            )
    elif fam == "poisson":
        yv = _SOLVER_Y_SQL["poisson"]
        for k in range(K):
            pg_exprs.append(f"exp({lp(k,0)}) - ({yv}) AS pg_{k}_0")
    else:  # multinomial, m explicit targets + implicit last class
        classes = pin["class_names"]
        for k in range(K):
            lps = [lp(k, t) for t in range(m)]
            mx = "greatest(" + ", ".join(lps + ["0.0"]) + ")"
            den = " + ".join([f"exp({e} - ({mx}))" for e in lps] + [f"exp(0.0 - ({mx}))"])
            for t in range(m):
                yt = f"CASE WHEN l_returnflag = '{classes[t]}' THEN 1.0 ELSE 0.0 END"
                pg_exprs.append(
                    f"exp({lps[t]} - ({mx})) / ({den}) - ({yt}) AS pg_{k}_{t}"
                )

    # standardized-space gradient sums, one per (k, t, j) penalized coord
    g_exprs = [
        f"sum(((({feats[j]}) - {float(cj[j])!r}) / {float(sj[j])!r}) * pg_{k}_{t}) AS g_{k}_{t}_{j}"
        for k in range(K) for t in range(m) for j in range(p)
    ]
    long_selects = " UNION ALL ".join(
        f"SELECT {k} AS k, abs(g_{k}_{t}_{j}) AS a FROM g_{sfx}"
        for k in range(K) for t in range(m) for j in range(p)
    )
    lam = pin["lam"]  # length p*m, non-increasing
    sig = pin["sigma"]
    lam_rows = ", ".join(
        f"({k}, {r + 1}, {float(lam[r] * sig[k])!r})"
        for k in range(K) for r in range(p * m)
    )
    # feasibility threshold at the ENGINE's default tolerance (1e-3) even
    # though the pinned fit converged 10x tighter — margin for the two
    # engines' ulp-level aggregation differences
    tol = max(pin["tol_infeas"], 1e-3)
    meta_rows = ", ".join(
        f"({k}, {pin['n_nonzero'][k]}, {float(tol * lam[0] * sig[k])!r})"
        for k in range(K)
    )

    where_sql = f" WHERE {where}" if where else ""
    ctes = [
        f"""pgt_{sfx} AS (
        SELECT l_quantity, l_discount, l_tax, l_extendedprice, l_returnflag,
               {", ".join(pg_exprs)}
        FROM lineitem{where_sql}
    )""",
        f"g_{sfx} AS (SELECT {', '.join(g_exprs)} FROM pgt_{sfx})",
        f"longg_{sfx} AS ({long_selects})",
        f"lamt_{sfx} AS (SELECT * FROM (VALUES {lam_rows}) AS t(k, r, lam))",
        f"""ranked_{sfx} AS (
        SELECT k, a, row_number() OVER (PARTITION BY k ORDER BY a DESC) AS r
        FROM longg_{sfx}
    )""",
        f"""cum_{sfx} AS (
        SELECT ranked_{sfx}.k AS k,
               sum(ranked_{sfx}.a - lamt_{sfx}.lam) OVER (
                   PARTITION BY ranked_{sfx}.k ORDER BY ranked_{sfx}.r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM ranked_{sfx} JOIN lamt_{sfx}
          ON ranked_{sfx}.k = lamt_{sfx}.k AND ranked_{sfx}.r = lamt_{sfx}.r
    )""",
        f"""inf_{sfx} AS (
        SELECT k, max(CASE WHEN c > 0.0 THEN c ELSE 0.0 END) AS infeas
        FROM cum_{sfx} GROUP BY k
    )""",
        f"meta_{sfx} AS (SELECT * FROM (VALUES {meta_rows}) AS t(k, nnz, tol))",
    ]
    grp_sel = f"'{grp}' AS grp, " if grp is not None else ""
    final = (
        f"SELECT {grp_sel}CAST(meta_{sfx}.k AS INTEGER) AS path_idx, "
        f"CAST(meta_{sfx}.nnz AS BIGINT) AS n_nonzero, "
        f"(inf_{sfx}.infeas <= meta_{sfx}.tol) AS kkt_ok "
        f"FROM inf_{sfx} JOIN meta_{sfx} ON inf_{sfx}.k = meta_{sfx}.k"
    )
    return ctes, final


def _kkt_sql(sf_dir: str, qname: str) -> str:
    """Dialect-neutral KKT-residual SQL for one solver query (see the
    section comment). All data-dependent constants are pinned literals."""
    spec = _SOLVER_SPECS[qname]
    ctes, final = _kkt_parts(
        _pinned_fit(sf_dir, qname), spec["features"], spec["family"], "b"
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + final


# --- round-7 merge: per-segment fits (ops.grouped.fit_grouped) ride
# f11_gaussian_path as per-group KKT slices. The grouped spec is its own
# (smaller) pinned problem: gaussian on two features, one independent
# path per l_returnflag segment.
_GROUPED_SPEC = dict(
    family="gaussian",
    features=["l_quantity", "l_discount"],
    n_sigma=4, lambda_min_ratio=0.1,
    group_col="l_returnflag",
)


@lru_cache(maxsize=None)
def _pinned_fit_grouped(sf_dir: str):
    """Per-group reference fits for the grouped f11 slices: the same
    tightly-converged numpy_path_fit as _pinned_fit, once per distinct
    group value."""
    import numpy as np
    import pyarrow.parquet as pq

    from .core.ref_fit import numpy_path_fit

    spec = _GROUPED_SPEC
    cols = list({*spec["features"], "l_extendedprice", spec["group_col"]})
    tbl = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=cols)
    gvals = np.asarray(tbl.column(spec["group_col"]).to_pylist())
    X = np.column_stack(
        [tbl.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
         for c in spec["features"]]
    )
    y = tbl.column("l_extendedprice").to_numpy(zero_copy_only=False).astype(
        np.float64
    )
    pins = {}
    for gv in sorted(set(gvals.tolist())):
        mask = gvals == gv
        pins[gv] = numpy_path_fit(
            X[mask], y[mask], spec["family"],
            n_sigma=spec["n_sigma"], lambda_min_ratio=spec["lambda_min_ratio"],
            tol_rel_gap=1e-7, tol_infeas=1e-4,
        )
    return pins


# --- round-8 merge: per-segment MULTINOMIAL models (the grouped layer's
# last family) ride q5_predict_multinomial as a 'grpm' slice. One
# independent 3-class model per l_linestatus segment; the oracle
# re-derives every row's per-class softmax from the pinned deepest-point
# betas as CASE expressions over the raw columns.
_GROUPED_MULTI_SPEC = dict(
    family="multinomial",
    features=["l_quantity", "l_discount"],
    label="l_returnflag",
    n_sigma=3, lambda_min_ratio=0.1,
    group_col="l_linestatus",
)


@lru_cache(maxsize=None)
def _pinned_fit_grouped_multi(sf_dir: str):
    """Per-l_linestatus multinomial reference fits for the q5 grpm slice
    (same recipe as _pinned_fit_grouped)."""
    import numpy as np
    import pyarrow.parquet as pq

    from .core.ref_fit import numpy_path_fit

    spec = _GROUPED_MULTI_SPEC
    cols = list({*spec["features"], spec["label"], spec["group_col"]})
    tbl = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=cols)
    gvals = np.asarray(tbl.column(spec["group_col"]).to_pylist())
    X = np.column_stack(
        [tbl.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
         for c in spec["features"]]
    )
    y = np.asarray(tbl.column(spec["label"]).to_pylist())
    pins = {}
    for gv in sorted(set(gvals.tolist())):
        mask = gvals == gv
        pins[gv] = numpy_path_fit(
            X[mask], y[mask], spec["family"],
            n_sigma=spec["n_sigma"], lambda_min_ratio=spec["lambda_min_ratio"],
            tol_rel_gap=1e-7, tol_infeas=1e-4,
        )
    return pins


def _f11_full_sql(sf_dir: str) -> str:
    """f11's base KKT slice (grp='_all') UNION ALL one KKT slice per
    l_returnflag segment, all under one WITH (suffix-namespaced CTEs)."""
    spec = _SOLVER_SPECS["f11_gaussian_path"]
    ctes, finals = [], []
    c, f = _kkt_parts(
        _pinned_fit(sf_dir, "f11_gaussian_path"), spec["features"],
        spec["family"], "b", grp="_all",
    )
    ctes += c
    finals.append(f)
    gspec = _GROUPED_SPEC
    for i, (gv, pin) in enumerate(sorted(_pinned_fit_grouped(sf_dir).items())):
        cg, fg = _kkt_parts(
            pin, gspec["features"], gspec["family"], f"g{i}",
            where=f"{gspec['group_col']} = '{gv}'", grp=gv,
        )
        ctes += cg
        finals.append(fg)
    return "WITH " + ",\n    ".join(ctes) + "\n    " + " UNION ALL ".join(finals)


def _solver_kkt_query(qname):
    spec = _SOLVER_SPECS[qname]

    def q(spark, sf_dir):
        import numpy as np

        from .fit import fit as _fit

        li = load(spark, sf_dir, "lineitem")
        fam = spec["family"]
        if fam == "binomial":
            df, label = li.withColumn(
                "flag", F.when(F.col("l_returnflag") == "R", "ret").otherwise("ok")
            ), "flag"
        elif fam == "poisson":
            df, label = li.withColumn(
                "cnt", F.round("l_quantity").cast("double")
            ), "cnt"
        elif fam == "multinomial":
            df, label = li, "l_returnflag"
        else:
            df, label = li, "l_extendedprice"
        model = _fit(
            df, spec["features"], label, fam,
            n_sigma=spec["n_sigma"], lambda_min_ratio=spec["lambda_min_ratio"],
        )
        pin = _pinned_fit(sf_dir, qname)
        # the engine fit stops at duality gap 1e-5 -> ~1% coefficient
        # wiggle around the (tightly pinned) optimum; 5% catches a wrong
        # solver (orders of magnitude off) without flaking on solver noise
        agree = model.betas.shape == pin["betas"].shape and bool(
            np.allclose(model.betas, pin["betas"], rtol=5e-2, atol=5e-3)
        )
        li.createOrReplaceTempView("lineitem")
        return spark.sql(_kkt_sql(sf_dir, qname)).withColumn(
            "fit_agrees", F.lit(bool(agree))
        )

    q.__name__ = f"q_{qname}"
    q.__doc__ = (
        f"{spec['family']} SLOPE path fit with a hard KKT-residual oracle: "
        "the engine fit must agree with the pinned reference betas, and both "
        "engines verify sorted-L1 KKT feasibility of those betas from the "
        "raw data (src/kktCheck.h:8-37, src/infeasibility.h:8-12)."
    )
    return q


q_f2_binomial_fit = _solver_kkt_query("f2_binomial_fit")
q_f6_poisson_fit = _solver_kkt_query("f6_poisson_fit")
q_f7_multinomial_fit = _solver_kkt_query("f7_multinomial_fit")


def q_f11_gaussian_path(spark, sf_dir):
    """gaussian SLOPE path with a hard KKT-residual oracle (base slice,
    grp='_all' — see _solver_kkt_query), PLUS, per l_returnflag segment,
    the round-7 grouped-fit slices: ops.grouped.fit_grouped runs one
    in-core path per segment through ONE applyInPandas shuffle, and each
    segment's betas must agree with its independently pinned reference
    fit, whose KKT feasibility both engines re-verify from the segment's
    raw rows (src/kktCheck.h:8-37 per segment)."""
    import numpy as np

    from .fit import fit as _fit
    from .ops.grouped import INTERCEPT, fit_grouped

    spec = _SOLVER_SPECS["f11_gaussian_path"]
    li = load(spark, sf_dir, "lineitem")
    model = _fit(
        li, spec["features"], "l_extendedprice", "gaussian",
        n_sigma=spec["n_sigma"], lambda_min_ratio=spec["lambda_min_ratio"],
    )
    pin = _pinned_fit(sf_dir, "f11_gaussian_path")
    agree = {
        "_all": model.betas.shape == pin["betas"].shape and bool(
            np.allclose(model.betas, pin["betas"], rtol=5e-2, atol=5e-3)
        )
    }

    gspec = _GROUPED_SPEC
    pins = _pinned_fit_grouped(sf_dir)
    rows = fit_grouped(
        li, gspec["features"], "l_extendedprice", gspec["family"],
        [gspec["group_col"]],
        n_sigma=gspec["n_sigma"], lambda_min_ratio=gspec["lambda_min_ratio"],
    ).collect()
    jidx = {INTERCEPT: 0}
    jidx.update({f: j + 1 for j, f in enumerate(gspec["features"])})
    for gv, gpin in pins.items():
        B = gpin["betas"]
        grows = [r for r in rows if r[gspec["group_col"]] == gv]
        ok = bool(grows) and max(r["path_idx"] for r in grows) + 1 == B.shape[0]
        if ok:
            got = np.zeros_like(B)
            for r in grows:
                got[r["path_idx"], jidx[r["feature"]], r["cls"]] = r["beta"]
            ok = bool(np.allclose(got, B, rtol=5e-2, atol=5e-3))
        agree[gv] = ok

    li.createOrReplaceTempView("lineitem")
    case = None
    for gv, ok in agree.items():
        cond = F.col("grp") == F.lit(gv)
        case = (F.when if case is None else case.when)(cond, F.lit(bool(ok)))
    return spark.sql(_f11_full_sql(sf_dir)).withColumn("fit_agrees", case)


def _q6_mids(pin):
    import numpy as np

    sig = pin["sigma"]
    return np.sqrt(sig[:-1] * sig[1:]) if len(sig) > 1 else sig


_Q6_FEATS = ["(Intercept)", "l_quantity", "l_discount"]


def q_q6_coef_interpolation(spark, sf_dir):
    """Off-grid sigma coefficients with a HARD oracle. The engine's
    interpolation code (R/interpolatePenalty.R port) runs on the PINNED
    reference path; DuckDB re-derives the same interpolation from the
    pinned (sigma, beta) literals in closed form — cross-engine
    verification of the interpolation math. Two booleans check the live
    behaviors: fit_agrees (the real fit matches the pinned path) and
    exact_agrees (coef(exact=True)'s refit at the mid sigmas matches an
    independently pinned NumPy refit at those sigmas)."""
    import numpy as np

    from .core.interpolate import interpolate_coefficients
    from .fit import fit as _fit

    spec = _SOLVER_SPECS["q6_coef_interpolation"]
    li = load(spark, sf_dir, "lineitem")
    model = _fit(
        li, spec["features"], "l_extendedprice", "gaussian",
        n_sigma=spec["n_sigma"],
    )
    pin = _pinned_fit(sf_dir, "q6_coef_interpolation")
    mids = _q6_mids(pin)

    fit_agrees = model.betas.shape == pin["betas"].shape and bool(
        np.allclose(model.betas, pin["betas"], rtol=5e-2, atol=5e-3)
    )
    exact = model.coef(mids, exact=True)
    pin_exact = _pinned_fit_at(sf_dir, "q6_coef_interpolation", tuple(float(x) for x in mids))
    exact_agrees = exact.shape == pin_exact["betas"].shape and bool(
        np.allclose(exact, pin_exact["betas"], rtol=5e-2, atol=5e-3)
    )

    cube = interpolate_coefficients(pin["betas"], pin["sigma"], mids)
    rows = [
        (int(i), _Q6_FEATS[j], round(float(cube[i, j, 0]), 6),
         bool(fit_agrees), bool(exact_agrees))
        for i in range(cube.shape[0])
        for j in range(cube.shape[1])
    ]
    return spark.createDataFrame(
        rows,
        "interp_idx int, feature string, coef double, "
        "fit_agrees boolean, exact_agrees boolean",
    )


@lru_cache(maxsize=None)
def _pinned_fit_at(sf_dir: str, qname: str, sigmas: tuple):
    """Pinned NumPy reference fit at EXPLICIT sigma values (the oracle for
    coef(exact=True)'s refit)."""
    import numpy as np
    import pyarrow.parquet as pq

    from .core.ref_fit import numpy_path_fit

    spec = _SOLVER_SPECS[qname]
    tbl = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=list(spec["features"]) + ["l_extendedprice"],
    )
    X = np.column_stack(
        [tbl.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
         for c in spec["features"]]
    )
    y = tbl.column("l_extendedprice").to_numpy(zero_copy_only=False).astype(np.float64)
    return numpy_path_fit(
        X, y, spec["family"], sigma=np.asarray(sigmas),
        tol_rel_gap=1e-7, tol_infeas=1e-4,
    )


def _q6_interp_sql(sf_dir: str) -> str:
    """Closed-form re-derivation of the interpolation: each mid sigma m_i
    lies between grid points s_i (left) and s_{i+1} (right), and the
    glmnet-style weight reduces to frac = (s_r - m)/(s_r - s_l), so
    coef = frac*b_l + (1-frac)*b_r (R/interpolatePenalty.R:10-37)."""
    pin = _pinned_fit(sf_dir, "q6_coef_interpolation")
    mids = _q6_mids(pin)
    B = pin["betas"]
    sig = pin["sigma"]
    beta_rows = ", ".join(
        f"({k}, '{_Q6_FEATS[j]}', {float(B[k, j, 0])!r})"
        for k in range(B.shape[0]) for j in range(len(_Q6_FEATS))
    )
    mid_rows = ", ".join(
        f"({i}, {float(mids[i])!r}, {float(sig[i])!r}, {float(sig[i + 1])!r})"
        for i in range(len(mids))
    )
    return f"""
    WITH b(k, feature, coef) AS (VALUES {beta_rows}),
    m(i, mid, s_l, s_r) AS (VALUES {mid_rows}),
    f AS (
        SELECT i, mid, (s_r - mid) / (s_r - s_l) AS frac FROM m
    )
    SELECT CAST(f.i AS INTEGER) AS interp_idx, bl.feature,
           round(f.frac * bl.coef + (1.0 - f.frac) * br.coef, 6) AS coef,
           TRUE AS fit_agrees, TRUE AS exact_agrees
    FROM f
    JOIN b bl ON bl.k = f.i
    JOIN b br ON br.k = f.i + 1 AND br.feature = bl.feature
"""


_CV_FEATS = ["l_quantity", "l_discount"]
_CV_KW = dict(n_folds=3, n_sigma=4, lambda_min_ratio=0.01)
_T_CV3 = t_ppf(0.975, _CV_KW["n_folds"] - 1)


@lru_cache(maxsize=None)
def _pinned_cv(sf_dir: str):
    """Driver-only mirror of the one-pass gaussian gram CV (ops.cv gram
    path): per-fold raw moments from pyarrow arrays, train = total - fold,
    per-fold path refit + mse as pure arithmetic. Deterministic, so its
    per-(fold, sigma) betas/mses can be embedded as oracle literals."""
    import numpy as np
    import pyarrow.parquet as pq

    from .core.gram_path import (
        fit_gaussian_path_from_stats, mse_from_stats, subtract_stats,
    )

    tbl = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=_CV_FEATS + ["l_extendedprice", "l_orderkey"],
    )
    X = np.column_stack(
        [tbl.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
         for c in _CV_FEATS]
    )
    y = tbl.column("l_extendedprice").to_numpy(zero_copy_only=False).astype(np.float64)
    keys = tbl.column("l_orderkey").to_numpy(zero_copy_only=False).astype(np.int64) % _CV_KW["n_folds"]

    def stats(mask):
        Xk, yk = X[mask], y[mask]
        return dict(
            gram=Xk.T @ Xk, xty=Xk.T @ yk, sums_x=Xk.sum(axis=0),
            yty=float(yk @ yk), sum_y=float(yk.sum()), n=int(mask.sum()),
        )

    per_fold = [stats(keys == f) for f in range(_CV_KW["n_folds"])]
    total = stats(np.ones(len(y), dtype=bool))
    base = fit_gaussian_path_from_stats(
        total, n_sigma=_CV_KW["n_sigma"],
        lambda_min_ratio=_CV_KW["lambda_min_ratio"],
    )
    sigma = base["sigma"]
    fold_betas = []
    fold_mses = []
    for f in range(_CV_KW["n_folds"]):
        train = subtract_stats(total, per_fold[f])
        res = fit_gaussian_path_from_stats(train, sigma=sigma)
        fold_betas.append(res["betas"])  # (K, p+1) original units
        fold_mses.append(
            [mse_from_stats(per_fold[f], res["betas"][si]) for si in range(len(sigma))]
        )
    return dict(sigma=sigma, fold_betas=fold_betas, fold_mses=fold_mses)


def q_c1_cv_fit(spark, sf_dir):
    """Real one-pass CV run (trainOwl, gaussian gram path) with a HARD
    oracle: DuckDB recomputes every fold's test mse from the pinned fold
    refit betas (driver-deterministic, embedded as literals) and the
    mean/se/t-CI aggregation (R/trainOwl.R:146-161). Values reported in
    millions at 4 dp; sigma at 6 dp.

    Round-7 merge (session 2): per-l_returnflag 'grp' slices pin the NEW
    ops.grouped.cv_fit_grouped — the trainOwl recipe running IN-CORE per
    segment through one applyInPandas shuffle (rows ordered by the
    unique l_orderkey*10+l_linenumber key so the executor fits match the
    pinned driver fits to BLAS ulps); the oracle re-derives every
    segment's per-fold test mse from its pinned fold-refit betas over
    the raw rows, exactly like the base slice."""
    from .ops.cv import cv_fit
    from .ops.grouped import cv_fit_grouped

    li = load(spark, sf_dir, "lineitem")
    res = cv_fit(
        li, _CV_FEATS, "l_extendedprice", "gaussian",
        measures=["mse"], fold_col="l_orderkey", **_CV_KW,
    )
    base = spark.createDataFrame(
        [
            (
                "_all",
                float(r["q"]), int(r["sigma_idx"]), round(float(r["sigma"]), 6),
                r["measure"], round(float(r["mean"]) / 1e6, 4),
                round(float(r["se"]) / 1e6, 4), round(float(r["lo"]) / 1e6, 4),
                round(float(r["hi"]) / 1e6, 4),
            )
            for r in res.summary
        ],
        "grp string, q double, sigma_idx int, sigma double, measure string, "
        "mean_mm double, se_mm double, lo_mm double, hi_mm double",
    )
    gdf = cv_fit_grouped(
        li.withColumn(
            "_ok", F.col("l_orderkey") * 10 + F.col("l_linenumber")
        ),
        _CV_FEATS, "l_extendedprice", "gaussian", ["l_returnflag"],
        fold_col="l_orderkey", order_col="_ok", tol_rel_gap=1e-7, **_CV_KW,
    )
    grouped = gdf.select(
        F.col("l_returnflag").alias("grp"),
        F.lit(0.2).alias("q"),
        F.col("sigma_idx").cast("int").alias("sigma_idx"),
        F.round("sigma", 6).alias("sigma"),
        F.col("measure"),
        F.round(F.col("mean") / 1e6, 4).alias("mean_mm"),
        F.round(F.col("se") / 1e6, 4).alias("se_mm"),
        F.round((F.col("mean") - _T_CV3 * F.col("se")) / 1e6, 4).alias("lo_mm"),
        F.round((F.col("mean") + _T_CV3 * F.col("se")) / 1e6, 4).alias("hi_mm"),
    )
    return base.unionByName(grouped)


def _cv_parts(pin, sfx: str, where: str = "", grp: str = "_all"):
    """One CV-oracle slice (suffix-namespaced CTEs + final SELECT), the
    same composition scheme as _kkt_parts: pinned fold-refit betas ->
    per-(fold, sigma) test mse from the raw rows -> mean/se/t-CI. The
    round-7 grouped slices reuse it with a l_returnflag WHERE."""
    sigma = pin["sigma"]
    K = len(sigma)
    n_folds = _CV_KW["n_folds"]
    mse_exprs = []
    for f in range(n_folds):
        for si in range(K):
            b = pin["fold_betas"][f][si]
            lp = " + ".join(
                [repr(float(b[0]))]
                + [f"{float(b[1 + j])!r}*{_CV_FEATS[j]}" for j in range(len(_CV_FEATS))]
            )
            mse_exprs.append(
                f"avg(CASE WHEN fold = {f} THEN (l_extendedprice - ({lp}))"
                f"*(l_extendedprice - ({lp})) END) AS mse_{f}_{si}"
            )
    long_sel = " UNION ALL ".join(
        f"SELECT {si} AS sigma_idx, mse_{f}_{si} AS mse FROM m_{sfx}"
        for f in range(n_folds) for si in range(K)
    )
    sig_rows = ", ".join(f"({si}, {round(float(sigma[si]), 6)!r})" for si in range(K))
    where_sql = f" WHERE {where}" if where else ""
    ctes = [
        f"""m_{sfx} AS (
        SELECT {", ".join(mse_exprs)}
        FROM (SELECT l_extendedprice, {_CV_FEATS[0]}, {_CV_FEATS[1]},
                     l_orderkey % {n_folds} AS fold FROM lineitem{where_sql}) t
    )""",
        f"longm_{sfx} AS ({long_sel})",
        f"""agg_{sfx} AS (
        SELECT sigma_idx, avg(mse) AS mean, stddev_samp(mse)/sqrt(count(*)) AS se
        FROM longm_{sfx} GROUP BY sigma_idx
    )""",
        f"sg_{sfx} AS (SELECT * FROM (VALUES {sig_rows}) AS t(sigma_idx, sigma))",
    ]
    final = (
        f"SELECT '{grp}' AS grp, 0.2 AS q, "
        f"CAST(agg_{sfx}.sigma_idx AS INTEGER) AS sigma_idx, sg_{sfx}.sigma, "
        f"'mse' AS measure, "
        f"round(mean/1000000.0, 4) AS mean_mm, "
        f"round(se/1000000.0, 4) AS se_mm, "
        f"round((mean - {_T_CV3!r}*se)/1000000.0, 4) AS lo_mm, "
        f"round((mean + {_T_CV3!r}*se)/1000000.0, 4) AS hi_mm "
        f"FROM agg_{sfx} JOIN sg_{sfx} ON agg_{sfx}.sigma_idx = sg_{sfx}.sigma_idx"
    )
    return ctes, final


@lru_cache(maxsize=None)
def _pinned_cv_grouped(sf_dir: str):
    """Per-l_returnflag CV pins for the grouped c1 slice: EXACTLY the
    cv_fit_grouped algorithm (numpy_path_fit full fit fixes the group's
    sigma grid; per-fold refits at those sigmas), on rows sorted by the
    unique l_orderkey*10+l_linenumber key the registry query passes as
    order_col — so the operator sees the identical row order and its
    betas match the pin to BLAS ulps."""
    import numpy as np
    import pyarrow.parquet as pq

    from .core.ref_fit import numpy_path_fit

    tbl = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=_CV_FEATS + ["l_extendedprice", "l_orderkey",
                             "l_linenumber", "l_returnflag"],
    )
    X = np.column_stack(
        [tbl.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
         for c in _CV_FEATS]
    )
    y = tbl.column("l_extendedprice").to_numpy(zero_copy_only=False).astype(
        np.float64
    )
    ok = tbl.column("l_orderkey").to_numpy(zero_copy_only=False).astype(np.int64)
    ln = tbl.column("l_linenumber").to_numpy(zero_copy_only=False).astype(np.int64)
    gvals = np.asarray(tbl.column("l_returnflag").to_pylist())
    key = ok * 10 + ln
    n_folds = _CV_KW["n_folds"]
    pins = {}
    for gv in sorted(set(gvals.tolist())):
        mask = gvals == gv
        order = np.argsort(key[mask], kind="stable")
        Xg, yg = X[mask][order], y[mask][order]
        folds = (ok[mask][order]) % n_folds
        full = numpy_path_fit(
            Xg, yg, "gaussian", n_sigma=_CV_KW["n_sigma"],
            lambda_min_ratio=_CV_KW["lambda_min_ratio"], tol_rel_gap=1e-7,
        )
        sig = full["sigma"]
        fold_betas = []
        for f in range(n_folds):
            tr = folds != f
            fit = numpy_path_fit(
                Xg[tr], yg[tr], "gaussian", sigma=sig, tol_rel_gap=1e-7,
            )
            fold_betas.append(fit["betas"][:, :, 0])  # (K, p+1)
        pins[gv] = dict(sigma=sig, fold_betas=fold_betas)
    return pins


def _cv_fit_sql(sf_dir: str) -> str:
    ctes, finals = [], []
    c, f = _cv_parts(_pinned_cv(sf_dir), "b")
    ctes += c
    finals.append(f)
    for i, (gv, pin) in enumerate(sorted(_pinned_cv_grouped(sf_dir).items())):
        cg, fg = _cv_parts(pin, f"g{i}", where=f"l_returnflag = '{gv}'", grp=gv)
        ctes += cg
        finals.append(fg)
    return "WITH " + ",\n    ".join(ctes) + "\n    " + " UNION ALL ".join(finals)


def q_sim_ivf_topk(spark, sf_dir):
    """IVF probed ANN top-5 for two corpus queries (nprobe=4 of 8 cells)
    with PINNED literal centroids (the same _ivf_pin_centroids used by
    sim_ivf_assign) so the whole probe path — cell assignment, probe-cell
    ranking, within-cell exact cosine top-k — is deterministic and
    hash-verified by a DuckDB oracle that re-derives it from the literals.
    The k-means centroid training itself (a driver-side artifact) is
    covered by pytest (tests/test_pipeline.py). This is the sub-linear
    scale path for similarity search: with the corpus written partitioned
    by cell, the probe filter becomes partition pruning.

    Round-7 merge (session 2): 'pq' tagged rows pin the NEW product-
    quantization path (similarity.assign_pq_codes + pq_adc_topk) — every
    per-block nearest-code assignment and every ADC lookup-table score is
    re-derived in SQL from the pinned codebook literals, hash-verifying
    the compressed-index ranking end to end (training stays a driver
    artifact like the IVF k-means, pinned via pq_kmeans on the pyarrow-
    loaded corpus). 'ivfpq' rows pin the two-level composition
    (similarity.assign_ivfpq + ivfpq_topk — residual coding against the
    assigned coarse centroid, then probed ADC scored as q.centroid[cell]
    + the residual lookup sum): the oracle rebuilds the residual with
    DuckDB's list_zip and re-derives every code and score from the same
    pinned constants.

    Round-8 merge: 'knn' rows pin ivf_knn_join (queries as a DataFrame).
    Round-9 merges: 'knnpq' rows pin the COMPRESSED join ivfpq_knn_join
    (DataFrame queries vs the codes-only index — probes, celldots and
    residual-ADC LUTs computed as Spark folds, re-derived in SQL with
    list_dot_product over the same literals); 'recon' rows pin
    reconstruct_pq's element-wise decode (codebook element_at + cell
    centroid add-back) for vec_id < 4."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "vec", F.transform("embedding", lambda x: x.cast("double"))
    )
    C = np.array(_ivf_pin_centroids(sf_dir))
    cells = similarity.assign_ivf_cells(emb, "vec", C)
    queries = [(i, [float(x) for x in C[i]]) for i in (0, 1)]
    ivf = similarity.ivf_topk(cells, "vec_id", "vec", C, queries, k=5, nprobe=4)
    ivf = ivf.select(
        F.lit("ivf").alias("slice"),
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round("cosine", 4).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )
    books = np.array(_pq_pin_codebooks(sf_dir))
    coded = similarity.assign_pq_codes(emb, "vec", books)
    pq = similarity.pq_adc_topk(coded, "vec_id", "pq_code", books, queries, k=5)
    pq = pq.select(
        F.lit("pq").alias("slice"),
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round("score", 4).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )
    ibooks = np.array(_ivfpq_pin_codebooks(sf_dir))
    idx = similarity.assign_ivfpq(emb, "vec", C, ibooks)
    ivfpq = similarity.ivfpq_topk(
        idx, "vec_id", C, ibooks, queries, k=5, nprobe=4
    )
    ivfpq = ivfpq.select(
        F.lit("ivfpq").alias("slice"),
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round("score", 4).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )
    # round-8 'knn' slice: the NEW many-queries k-NN JOIN form — queries
    # as a DataFrame (two corpus rows), probe cells from the pinned
    # centroid cosines, cell EQUI-join + exact cosine + rank, all
    # re-derived in SQL from the same literals
    qdf = emb.filter(F.col("vec_id").isin(2, 3)).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    knn = similarity.ivf_knn_join(qdf, cells, C, k=5, nprobe=4)
    knn = knn.select(
        F.lit("knn").alias("slice"),
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round("cosine", 4).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )
    # round-9 'knnpq' slice: the COMPRESSED many-queries k-NN join
    # (similarity.ivfpq_knn_join) — the same two query rows against the
    # CODES-ONLY ivfpq index, scored by residual ADC with the lookup
    # tables computed Spark-side as codegen folds; the oracle re-derives
    # the probes, the per-cell centroid dot, and every LUT entry from
    # the identical literals with DuckDB list arithmetic
    knnpq = similarity.ivfpq_knn_join(
        qdf, idx.select("vec_id", "cell", "pq_code"), C, ibooks,
        k=5, nprobe=4,
    )
    knnpq = knnpq.select(
        F.lit("knnpq").alias("slice"),
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.round("score", 4).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )
    # round-9 'recon' slice: reconstruct_pq's codegen decode of the
    # IVF-PQ residual codes back to floats (codebook element_at + cell
    # centroid add-back), element-wise: one output row per (decoded
    # vec_id, 1-based element position); rank carries the cell id
    rec = similarity.reconstruct_pq(
        idx.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("_rid"), "cell", "pq_code"
        ),
        "pq_code", ibooks, out="_rv", centroids=C, cell_col="cell",
    )
    recon = rec.select(
        "_rid", "cell", F.posexplode("_rv").alias("pos", "val")
    ).select(
        F.lit("recon").alias("slice"),
        F.col("_rid").cast("bigint").alias("query_id"),
        (F.col("pos") + 1).cast("bigint").alias("vec_id"),
        F.round("val", 4).alias("score"),
        F.col("cell").cast("int").alias("rank"),
    )
    return (
        ivf.unionByName(pq).unionByName(ivfpq).unionByName(knn)
        .unionByName(knnpq).unionByName(recon)
    )


def _ivf_topk_sql(sf_dir: str) -> str:
    """Oracle for q_sim_ivf_topk, two slices:
    - 'ivf': assignment (same formula as _ivf_assign_sql), probe-cell
      ranking by query-centroid cosine (the normalized-dot argsort of
      similarity.ivf_topk), candidate union over the top-4 cells, exact
      cosine rank within candidates.
    - 'pq': every per-block nearest-code assignment (argmax of
      x.c - |c|^2/2 over the pinned codebook literals, first-match
      tie-break — the exact when-chain of assign_pq_codes) and every ADC
      lookup-table score re-derived from the same literals.
    - 'ivfpq': the two-level composition — the residual is rebuilt with
      list_zip subtraction against the assigned cell's centroid literal
      (bit-matching Spark's zip_with), residual codes re-derived like
      'pq', and the probed score = q.centroid[cell] literal lookup + the
      residual ADC sum, restricted to each query's nprobe cells."""
    import numpy as np

    cents = _ivf_pin_centroids(sf_dir)

    def lst(ci):
        return "[" + ", ".join(repr(x) for x in cents[ci]) + "]"

    cent_rows = ", ".join(
        f"({i}, CAST({lst(i)} AS DOUBLE[]))" for i in range(len(cents))
    )
    q_rows = ", ".join(f"({i}, CAST({lst(i)} AS DOUBLE[]))" for i in (0, 1))

    # --- pq slice constants: identical literals to the Spark side ---
    books = np.array(_pq_pin_codebooks(sf_dir))
    M, K, dsub = books.shape

    def clst(m, j):
        return "[" + ", ".join(repr(float(x)) for x in books[m, j]) + "]"

    pq_s_exprs = []
    for m in range(M):
        a, b = m * dsub + 1, (m + 1) * dsub
        for j in range(K):
            hn = repr(float(np.dot(books[m, j], books[m, j]) / 2.0))
            pq_s_exprs.append(
                f"(list_dot_product(nv[{a}:{b}], {clst(m, j)}) - {hn})"
                f" AS ps_{m}_{j}"
            )
    pq_best = ", ".join(
        "greatest(" + ", ".join(f"ps_{m}_{j}" for j in range(K)) + f") AS pb_{m}"
        for m in range(M)
    )
    pq_codes = ", ".join(
        "CASE "
        + " ".join(f"WHEN ps_{m}_{j} = pb_{m} THEN {j}" for j in range(K))
        + f" END AS pc_{m}"
        for m in range(M)
    )
    # per-query ADC: the same numpy LUTs pq_adc_topk builds
    adc_selects = []
    for qid in (0, 1):
        q = np.asarray(cents[qid], dtype=np.float64)
        qn = q / max(float(np.linalg.norm(q)), 1e-12)
        terms = []
        for m in range(M):
            lut = qn[m * dsub:(m + 1) * dsub] @ books[m].T
            lut_lst = "[" + ", ".join(repr(float(x)) for x in lut) + "]"
            terms.append(f"({lut_lst})[pc_{m} + 1]")
        adc_selects.append(
            f"SELECT {qid} AS qid, vec_id, {' + '.join(terms)} AS score FROM cd"
        )
    adc_union = " UNION ALL ".join(adc_selects)

    # --- ivfpq slice constants ---
    ibooks = np.array(_ivfpq_pin_codebooks(sf_dir))
    Cr = np.asarray(cents, dtype=np.float64)
    cent_case = "CASE cell " + " ".join(
        f"WHEN {i} THEN CAST({lst(i)} AS DOUBLE[])" for i in range(len(cents))
    ) + " END"
    iv_s_exprs = []
    for m in range(M):
        a, b = m * dsub + 1, (m + 1) * dsub
        for j in range(K):
            cl = "[" + ", ".join(repr(float(x)) for x in ibooks[m, j]) + "]"
            hn = repr(float(np.dot(ibooks[m, j], ibooks[m, j]) / 2.0))
            iv_s_exprs.append(
                f"(list_dot_product(rv[{a}:{b}], {cl}) - {hn}) AS is_{m}_{j}"
            )
    iv_best = ", ".join(
        "greatest(" + ", ".join(f"is_{m}_{j}" for j in range(K)) + f") AS ib_{m}"
        for m in range(M)
    )
    iv_codes = ", ".join(
        "CASE "
        + " ".join(f"WHEN is_{m}_{j} = ib_{m} THEN {j}" for j in range(K))
        + f" END AS ic_{m}"
        for m in range(M)
    )
    Crn = Cr / np.maximum(np.linalg.norm(Cr, axis=1, keepdims=True), 1e-12)
    iv_adc_selects = []
    for qid in (0, 1):
        q = np.asarray(cents[qid], dtype=np.float64)
        qn = q / max(float(np.linalg.norm(q)), 1e-12)
        probes = np.argsort(-(Crn @ qn))[:4].tolist()
        celldot = "[" + ", ".join(repr(float(x)) for x in (Cr @ qn)) + "]"
        terms = [f"({celldot})[cell + 1]"]
        for m in range(M):
            lut = qn[m * dsub:(m + 1) * dsub] @ ibooks[m].T
            lut_lst = "[" + ", ".join(repr(float(x)) for x in lut) + "]"
            terms.append(f"({lut_lst})[ic_{m} + 1]")
        iv_adc_selects.append(
            f"SELECT {qid} AS qid, vec_id, {' + '.join(terms)} AS score "
            f"FROM icd WHERE cell IN ({', '.join(map(str, probes))})"
        )
    iv_adc_union = " UNION ALL ".join(iv_adc_selects)

    # --- knnpq slice: the DataFrame-queries compressed join re-derived
    # with DuckDB list arithmetic (the Spark side computes LUTs/celldots
    # as codegen folds per query ROW, not numpy literals — so the oracle
    # must fold too; list_dot_product bit-matches Spark's fold) ---
    centn_rows = ", ".join(
        "({}, CAST([{}] AS DOUBLE[]))".format(
            i, ", ".join(repr(float(x)) for x in Crn[i])
        )
        for i in range(len(cents))
    )
    knnpq_terms = []
    for m in range(M):
        a, b = m * dsub + 1, (m + 1) * dsub
        lut_list = ", ".join(
            "list_dot_product(p.qnv[{}:{}], [{}])".format(
                a, b, ", ".join(repr(float(x)) for x in ibooks[m, j])
            )
            for j in range(K)
        )
        knnpq_terms.append(f"([{lut_list}])[i.ic_{m} + 1]")
    knnpq_score = "p.celldot + " + " + ".join(knnpq_terms)

    # --- recon slice: decode the residual codes + add the cell centroid
    # back, then explode element-wise ---
    d = len(cents[0])
    recon_cases = ", ".join(
        "CASE ic_{} {} END".format(
            m,
            " ".join(
                "WHEN {} THEN CAST([{}] AS DOUBLE[])".format(
                    j, ", ".join(repr(float(x)) for x in ibooks[m, j])
                )
                for j in range(K)
            ),
        )
        for m in range(M)
    )

    return f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), s AS (
        SELECT vec_id, v, {_ivf_sims_sql(sf_dir)} AS sims FROM v
    ), asg AS (
        SELECT vec_id, v,
               list_position(sims, list_aggregate(sims, 'max')) - 1
                   AS cell
        FROM s
    ), cents(ci, cv) AS (VALUES {cent_rows}),
    q(qid, qv) AS (VALUES {q_rows}),
    probe AS (
        SELECT qid, ci,
               row_number() OVER (PARTITION BY qid
                   ORDER BY list_cosine_similarity(qv, cv) DESC, ci) AS pr
        FROM q CROSS JOIN cents
    ), cand AS (
        SELECT q.qid, a.vec_id, list_cosine_similarity(a.v, q.qv) AS cosine
        FROM q JOIN probe p ON p.qid = q.qid AND p.pr <= 4
        JOIN asg a ON a.cell = p.ci
    ), ranked AS (
        SELECT qid, vec_id, cosine,
               row_number() OVER (PARTITION BY qid
                   ORDER BY cosine DESC, vec_id) AS rank
        FROM cand
    ), nvt AS (
        SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        FROM v
    ), psc AS (
        SELECT vec_id, {", ".join(pq_s_exprs)} FROM nvt
    ), pbt AS (
        SELECT *, {pq_best} FROM psc
    ), cd AS (
        SELECT vec_id, {pq_codes} FROM pbt
    ), adc AS (
        {adc_union}
    ), pqr AS (
        SELECT qid, vec_id, score,
               row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, vec_id) AS rank
        FROM adc
    ), rz AS (
        SELECT nvt.vec_id, asg.cell,
               list_transform(list_zip(nvt.nv, {cent_case}),
                              s -> s[1] - s[2]) AS rv
        FROM nvt JOIN asg ON nvt.vec_id = asg.vec_id
    ), isc AS (
        SELECT vec_id, cell, {", ".join(iv_s_exprs)} FROM rz
    ), ibt AS (
        SELECT *, {iv_best} FROM isc
    ), icd AS (
        SELECT vec_id, cell, {iv_codes} FROM ibt
    ), iadc AS (
        {iv_adc_union}
    ), iqr AS (
        SELECT qid, vec_id, score,
               row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, vec_id) AS rank
        FROM iadc
    ), centsn(ci, cvn) AS (VALUES {centn_rows}),
    kpq AS (
        SELECT vec_id AS qid,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qnv
        FROM v WHERE vec_id IN (2, 3)
    ), kpqp AS (
        SELECT q.qid, q.qnv, c.ci,
               list_dot_product(q.qnv, c.cv) AS celldot,
               row_number() OVER (PARTITION BY q.qid
                   ORDER BY list_dot_product(q.qnv, n.cvn) DESC, c.ci) AS pr
        FROM kpq q CROSS JOIN cents c JOIN centsn n ON n.ci = c.ci
    ), kpqc AS (
        SELECT p.qid, i.vec_id, {knnpq_score} AS score
        FROM kpqp p JOIN icd i ON i.cell = p.ci
        WHERE p.pr <= 4
    ), kpqr AS (
        SELECT qid, vec_id, score,
               row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, vec_id) AS rank
        FROM kpqc
    ), krc AS (
        SELECT vec_id, cell,
               list_transform(
                   list_zip(flatten([{recon_cases}]), {cent_case}),
                   s -> s[1] + s[2]) AS rv
        FROM icd WHERE vec_id < 4
    ), krx AS (
        SELECT vec_id, cell, g AS pos, rv[g] AS val
        FROM krc, generate_series(1, {d}) AS s(g)
    ), kq AS (
        SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id IN (2, 3)
    ), kprobe AS (
        SELECT qid, ci,
               row_number() OVER (PARTITION BY qid
                   ORDER BY list_cosine_similarity(qv, cv) DESC, ci) AS pr
        FROM kq CROSS JOIN cents
    ), kcand AS (
        SELECT kq.qid, a.vec_id, list_cosine_similarity(a.v, kq.qv) AS cosine
        FROM kq JOIN kprobe p ON p.qid = kq.qid AND p.pr <= 4
        JOIN asg a ON a.cell = p.ci
    ), kr AS (
        SELECT qid, vec_id, cosine,
               row_number() OVER (PARTITION BY qid
                   ORDER BY cosine DESC, vec_id) AS rank
        FROM kcand
    )
    SELECT 'ivf' AS slice, CAST(qid AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           round(cosine, 4) AS score, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    UNION ALL
    SELECT 'pq' AS slice, CAST(qid AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           round(score, 4) AS score, CAST(rank AS INTEGER) AS rank
    FROM pqr WHERE rank <= 5
    UNION ALL
    SELECT 'ivfpq' AS slice, CAST(qid AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           round(score, 4) AS score, CAST(rank AS INTEGER) AS rank
    FROM iqr WHERE rank <= 5
    UNION ALL
    SELECT 'knn' AS slice, CAST(qid AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           round(cosine, 4) AS score, CAST(rank AS INTEGER) AS rank
    FROM kr WHERE rank <= 5
    UNION ALL
    SELECT 'knnpq' AS slice, CAST(qid AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           round(score, 4) AS score, CAST(rank AS INTEGER) AS rank
    FROM kpqr WHERE rank <= 5
    UNION ALL
    SELECT 'recon' AS slice, CAST(vec_id AS BIGINT) AS query_id,
           CAST(pos AS BIGINT) AS vec_id,
           round(val, 4) AS score, CAST(cell AS INTEGER) AS rank
    FROM krx
"""


def q_model_sink(spark, sf_dir):
    """Model sink roundtrip (S5, R/owl.R:471-486): a model built from the
    FIXED literal path (_COEF_ROWS) -> save parquet -> load -> tidy coef
    table of the restored model. Deterministic, so the oracle is the same
    literal table — a hash match proves the sink/restore transport."""
    import numpy as np

    from .model import SlopeModel

    n_path = 1 + max(p for p, _, _ in _COEF_ROWS)
    names = ["(Intercept)", "l_quantity", "l_extendedprice", "l_discount"]
    betas = np.zeros((n_path, len(names), 1))
    for pidx, feat, coefv in _COEF_ROWS:
        betas[pidx, names.index(feat), 0] = coefv
    model = SlopeModel(
        family="gaussian", feature_names=names[1:], intercept=True,
        betas=betas, sigma=np.array([1.0, 0.5, 0.25]),
        lam=np.array([0.3, 0.2, 0.1]), null_deviance=100.0,
        deviances=np.array([90.0, 60.0, 30.0]),
        deviance_ratios=np.array([0.1, 0.4, 0.7]),
        passes=np.array([3, 4, 5]), active_sets=[],
        n_unique=np.array([0, 2, 3]),
    )
    # the save runs on EVERY invocation (the roundtrip is the operator
    # under test); only the ROOT directory is cached (build = no-op), so
    # repeated runs stop leaking /tmp trees, while each invocation saves
    # into its own numbered subdirectory — two concurrent invocations in
    # one process must never overwrite a save another caller is mid-load
    # on (the _scratch_artifact contract elsewhere is build-once/
    # read-only; this is the one write-per-call user)
    root = _scratch_artifact("model", sf_dir, lambda d: None)
    path = f"{root}/m{next(_MODEL_SINK_SEQ)}"
    model.save(spark, path)
    restored = SlopeModel.load(spark, path)
    return restored.coef_df(spark).select(
        "path_idx", "target", "feature", F.round("coef", 6).alias("coef")
    )


SQL_MODEL_SINK = (
    "SELECT CAST(path_idx AS INTEGER) AS path_idx, 0 AS target, feature, "
    "round(coef, 6) AS coef FROM (VALUES "
    + ", ".join(f"({p}, '{f}', {c!r})" for p, f, c in _COEF_ROWS)
    + ") AS t(path_idx, feature, coef)"
)


@lru_cache(maxsize=None)
def _ivf_pin_centroids(sf_dir: str):
    """Pinned literal centroids: the embeddings of vec_id 0..7 (read once
    with pyarrow, cast to double — identical literals on both engines)."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    by = dict(zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()))
    return tuple(tuple(float(x) for x in by[i]) for i in range(8))


@lru_cache(maxsize=None)
def _pq_pin_codebooks(sf_dir: str):
    """Pinned PQ codebooks: pq_kmeans (deterministic NumPy) over the
    pyarrow-loaded corpus in vec_id order — the same constants reach both
    engines as literals."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    order = np.argsort(np.asarray(t.column("vec_id").to_pylist()))
    X = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)[order]
    return similarity.pq_kmeans(X[:2000], n_subvectors=8, n_codes=16, seed=42)


@lru_cache(maxsize=None)
def _ivfpq_pin_codebooks(sf_dir: str):
    """Pinned RESIDUAL codebooks for the ivfpq slice: normalized corpus
    minus the pinned coarse centroid each row assigns to, then pq_kmeans
    WITHOUT re-normalization (residuals are not unit vectors)."""
    import numpy as np
    import pyarrow.parquet as pq

    C = np.asarray(_ivf_pin_centroids(sf_dir), dtype=np.float64)
    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    order = np.argsort(np.asarray(t.column("vec_id").to_pylist()))
    X = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)[order]
    X = X[:2000]
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    resid = Xn - C[np.argmax(Xn @ C.T, axis=1)]
    return similarity.pq_kmeans(
        resid, n_subvectors=8, n_codes=16, seed=42, normalize=False
    )


def q_sim_ivf_assign(spark, sf_dir):
    """IVF cell ASSIGNMENT with pinned literal centroids: the argmax
    routing of assign_ivf_cells (pure column expressions) is SQL-exact, so
    this piece of the IVF index is hash-verified; k-means training and
    probed search stay exercised by sim_ivf_cells / sim_ivf_topk
    (rows-only: driver k-means artifacts)."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "vec", F.transform("embedding", lambda x: x.cast("double"))
    )
    C = np.array(_ivf_pin_centroids(sf_dir))
    out = similarity.assign_ivf_cells(emb, "vec", C)
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("cell").cast("int").alias("cell"),
    )


def _ivf_assign_sql(sf_dir: str) -> str:
    # assign_ivf_cells' lean argmax, mirrored exactly: one list of raw
    # centroid dots (no norm division — argmax-invariant), 1-based
    # first-match position of the max, minus one (ties to the lowest
    # cell id on both engines)
    return f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), s AS (
        SELECT vec_id, {_ivf_sims_sql(sf_dir)} AS sims FROM v
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(list_position(sims, list_aggregate(sims, 'max')) - 1
                AS INTEGER) AS cell
    FROM s
"""


def _ivf_sims_sql(sf_dir: str, vec: str = "v") -> str:
    """The centroid-dots list literal shared by every oracle that
    re-derives assign_ivf_cells' routing."""
    cents = _ivf_pin_centroids(sf_dir)
    dots = ", ".join(
        f"list_dot_product({vec}, ["
        + ", ".join(repr(x) for x in cents[ci])
        + "])"
        for ci in range(len(cents))
    )
    return f"[{dots}]"


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing, image AND audio: binary payloads (from
    document text bytes) -> Arrow-batched mapInPandas feature extraction
    (image width/height/channels/intensity stats + audio n_samples/rms/
    peak), joined per doc.

    Hash oracle: the deterministic fake decoders are pure byte arithmetic
    on the payload (image: payload tiled to 48 bytes, first 16 doubled;
    audio: samples (byte-127.5)/127.5 tiled x8), so on docs whose first 32
    chars are single-byte (ASCII) the SAME features are recomputable from
    character codes in plain SQL — DuckDB re-derives every value from
    first principles while Spark runs the real mapInPandas decode path.

    Round-6 merge (session 2): the NEW perceptual average-hash
    (multimodal.image_ahash, grid=4 — the image near-dup signature)
    joins on as the ``ahash`` column; the operator's integer-exact bit
    rule (16 x cell-sum > board total) lets the oracle recompute every
    bit from character codes with no floats at all."""
    from .pipeline import multimodal as mm

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.substring("text", 1, 32).rlike(r"^[\x01-\x7f]{32}$"))
        .withColumn("payload", F.encode(F.substring("text", 1, 32), "utf-8"))
    )
    img = mm.extract_image_features(docs, "doc_id", "payload", decoder=mm.fake_image_decoder)
    aud = mm.extract_audio_features(docs, "doc_id", "payload", decoder=mm.fake_audio_decoder)
    ah = mm.image_ahash(
        docs, "doc_id", "payload", decoder=mm.fake_image_decoder, grid=4
    )
    return img.join(aud, "doc_id").join(ah.select("doc_id", "ahash"), "doc_id").select(
        "doc_id", "width", "height", "n_channels",
        F.round("mean_intensity", 5).alias("mean_intensity"),
        F.round("std_intensity", 5).alias("std_intensity"),
        "n_samples",
        F.round("rms", 5).alias("rms"),
        F.round("peak", 5).alias("peak"),
        "ahash",
    )


# image fake decoder: bytes tiled to 48 (the 32-byte payload repeats, so
# bytes 0..15 appear twice) -> weight 2 for j<16 else 1; audio fake
# decoder: payload x8 -> 256 samples = each byte 8 times, so per-byte
# stats over the 32 distinct bytes are exact
SQL_MULTIMODAL_FEATURES = """
    WITH d AS (
        SELECT doc_id, substring(text, 1, 32) AS s
        FROM documents
        WHERE regexp_matches(substring(text, 1, 32), '^[\\x01-\\x7f]{32}$')
    ), b AS (
        SELECT doc_id,
               ascii(substring(s, CAST(i AS INTEGER) + 1, 1)) AS a,
               CASE WHEN i < 16 THEN 2 ELSE 1 END AS w
        FROM d, range(32) t(i)
    ), agg AS (
        SELECT doc_id,
               SUM(w * a) AS w1,
               SUM(w * a * a) AS w2,
               SUM(((a - 127.5) / 127.5) * ((a - 127.5) / 127.5)) AS xsq,
               MAX(ABS((a - 127.5) / 127.5)) AS pk
        FROM b GROUP BY doc_id
    ), px AS (
        -- aHash pixels: the tiled-to-48 payload's byte triples, pure ints
        SELECT doc_id,
               CAST(k AS INTEGER) AS k,
               ascii(substring(s, CAST((3 * k) % 32 AS INTEGER) + 1, 1))
             + ascii(substring(s, CAST((3 * k + 1) % 32 AS INTEGER) + 1, 1))
             + ascii(substring(s, CAST((3 * k + 2) % 32 AS INTEGER) + 1, 1))
                 AS sk
        FROM d, range(16) t(k)
    ), ah AS (
        SELECT px.doc_id,
               SUM(CASE WHEN 16 * sk > tot.ts
                        THEN (1::BIGINT << (15 - k)) ELSE 0 END)::BIGINT
                   AS ahash
        FROM px JOIN (SELECT doc_id, SUM(sk) AS ts FROM px GROUP BY doc_id) tot
          ON px.doc_id = tot.doc_id
        GROUP BY px.doc_id
    )
    SELECT CAST(agg.doc_id AS BIGINT) AS doc_id,
           4 AS width, 4 AS height, 3 AS n_channels,
           round(w1 / 48.0, 5) AS mean_intensity,
           round(sqrt(w2 / 48.0 - (w1 / 48.0) * (w1 / 48.0)), 5)
               AS std_intensity,
           256 AS n_samples,
           round(sqrt(xsq / 32.0), 5) AS rms,
           round(pk, 5) AS peak,
           ah.ahash
    FROM agg JOIN ah ON agg.doc_id = ah.doc_id
"""


def q_events_windowed_agg(spark, sf_dir):
    """Event-time windowed aggregation (streaming-compatible: the same
    ``F.window`` expression runs under readStream with a watermark —
    see prague_spark.streaming). Batch oracle: date_trunc.

    Round-6 merge: 'asof' tagged rows pin the NEW as-of join
    (ops.asof.asof_join — union + ONE window carry, never a range join):
    every 'view' event attaches its user's most recent 'click' at or
    before it; the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the two
    engines' as-of semantics (backward, inclusive ties, null on no
    match) are pinned against each other row-for-row.

    Round-6 merge (session 2): 'funnel' tagged rows pin the NEW
    ops.funnel.funnel (per-user view -> click -> purchase depth within
    24 h of the first view; greedy earliest-match fold, one shuffle, no
    UDF). Greedy-earliest == the sequential min-after-t formulation, so
    the oracle recomputes it with one CTE per step."""
    from .ops.asof import asof_join
    from .ops.funnel import funnel

    ev = load(spark, sf_dir, "events")
    windowed = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.lit("window").alias("tag"),
            # epoch micros, not timestamps: the nullable union slices
            # would otherwise carry NaT, which no exact comparator
            # (driver hash or pandas !=) treats as equal to itself
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("window_start_us"),
            "event_type", "n", "avg_value",
            F.lit(None).cast("bigint").alias("event_id"),
            F.lit(None).cast("bigint").alias("click_ts_us"),
            F.lit(None).cast("double").alias("click_value"),
        )
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max("value").alias("click_value"),
        )
    )
    attached = asof_join(views, clicks, "ts", "user_id").select(
        F.lit("asof").alias("tag"),
        F.lit(None).cast("bigint").alias("window_start_us"),
        F.lit(None).cast("string").alias("event_type"),
        F.col("click_id_r").alias("n"),
        F.lit(None).cast("double").alias("avg_value"),
        "event_id",
        F.unix_micros(F.col("ts_r").cast("timestamp")).alias("click_ts_us"),
        F.col("click_value_r").alias("click_value"),
    )
    fl = funnel(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], within=86400.0,
    ).select(
        F.lit("funnel").alias("tag"),
        F.lit(None).cast("bigint").alias("window_start_us"),
        F.lit(None).cast("string").alias("event_type"),
        F.col("depth").cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("avg_value"),
        F.col("user_id").alias("event_id"),
        F.col("t1_us").alias("click_ts_us"),
        F.lit(None).cast("double").alias("click_value"),
    )
    return windowed.unionByName(attached).unionByName(fl)


SQL_EVENTS_WINDOW = """
    SELECT 'window' AS tag, epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type, count(*)::BIGINT AS n, round(avg(value), 4) AS avg_value,
           NULL::BIGINT AS event_id, NULL::BIGINT AS click_ts_us,
           NULL::DOUBLE AS click_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'asof', NULL, NULL, c.click_id, NULL,
           v.event_id, epoch_us(c.ts), c.click_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'view') v
    ASOF LEFT JOIN (
          SELECT user_id, ts, max(event_id) AS click_id,
                 max(value) AS click_value
          FROM events WHERE event_type = 'click' GROUP BY user_id, ts) c
      ON v.user_id = c.user_id AND v.ts >= c.ts
    UNION ALL
    SELECT 'funnel', NULL, NULL, depth, NULL, user_id, epoch_us(t1), NULL
    FROM (
        WITH fn1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), fn2 AS (
            SELECT e.user_id, f.t1, min(e.ts) AS t2
            FROM events e JOIN fn1 f ON e.user_id = f.user_id
            WHERE e.event_type = 'click' AND e.ts > f.t1
              AND epoch_us(e.ts) <= epoch_us(f.t1) + 86400000000
            GROUP BY e.user_id, f.t1
        ), fn3 AS (
            SELECT e.user_id, f.t1, min(e.ts) AS t3
            FROM events e JOIN fn2 f ON e.user_id = f.user_id
            WHERE e.event_type = 'purchase' AND e.ts > f.t2
              AND epoch_us(e.ts) <= epoch_us(f.t1) + 86400000000
            GROUP BY e.user_id, f.t1
        )
        SELECT u.user_id,
               CASE WHEN fn3.user_id IS NOT NULL THEN 3
                    WHEN fn2.user_id IS NOT NULL THEN 2
                    WHEN fn1.user_id IS NOT NULL THEN 1
                    ELSE 0 END::BIGINT AS depth,
               fn1.t1 AS t1
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN fn1 ON u.user_id = fn1.user_id
        LEFT JOIN fn2 ON u.user_id = fn2.user_id
        LEFT JOIN fn3 ON u.user_id = fn3.user_id
    ) fq
"""


def q_events_sessionize(spark, sf_dir):
    """Per-user sessionization with a 30-minute inactivity gap via
    ``F.session_window`` — the canonical stateful-streaming operator; the
    same expression runs under readStream with a watermark. Batch oracle:
    lag + cumulative session-id.

    Round-6 merge (session 2): two more temporal operators share the
    events fixture as tagged slices —
    * 'rollup_hour'/'rollup_day': the NEW ops.rollup.time_rollup
      (hypertable-style multi-grain aggregate: ONE shuffle for every
      grain via a (grain, date_trunc) explode); oracle = per-grain
      GROUP BY recomputation.
    * 'range': the NEW ops.rangejoin.range_join (point-in-interval as a
      bucket equi-join, never a theta join): every view event matched to
      each 12-hour window opened by one of its user's clicks; oracle =
      DuckDB's native inequality join, pinning the bucket decomposition
      against the direct formulation row-for-row.
    Timestamps cross the union as epoch micros (nullable-TIMESTAMP NaT
    rule, see q_events_windowed_agg)."""
    from .ops.rangejoin import range_join
    from .ops.rollup import time_rollup

    ev = load(spark, sf_dir, "events")
    sess = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.lit("session").alias("tag"),
            "user_id",
            F.lit(None).cast("string").alias("event_type"),
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("bucket_us"),
            F.lit(None).cast("bigint").alias("event_id"),
            F.col("n_events").alias("n"),
            "sum_value",
        )
    )
    rolled = time_rollup(
        ev, "ts", grains=("hour", "day"), keys=("event_type",),
        aggs=[
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ],
    ).select(
        F.concat(F.lit("rollup_"), F.col("grain")).alias("tag"),
        F.lit(None).cast("bigint").alias("user_id"),
        "event_type",
        F.unix_micros(F.col("bucket").cast("timestamp")).alias("bucket_us"),
        F.lit(None).cast("bigint").alias("event_id"),
        "n",
        "sum_value",
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    windows = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias("e"),
        F.col("event_id").alias("iid"),
    )
    ranged = range_join(
        views, windows, "ts", "s", "e", by="user_id", bucket=3600
    ).select(
        F.lit("range").alias("tag"),
        "user_id",
        F.lit(None).cast("string").alias("event_type"),
        F.unix_micros(F.col("s_r").cast("timestamp")).alias("bucket_us"),
        "event_id",
        F.col("iid_r").alias("n"),
        F.lit(None).cast("double").alias("sum_value"),
    )
    return sess.unionByName(rolled).unionByName(ranged)


SQL_EVENTS_SESSIONIZE = """
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ), s AS (
        SELECT user_id, ts, value,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM o
    )
    SELECT 'session' AS tag, user_id, NULL::VARCHAR AS event_type,
           epoch_us(min(ts)) AS bucket_us, NULL::BIGINT AS event_id,
           count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sess_id
    UNION ALL
    SELECT 'rollup_hour', NULL, event_type,
           epoch_us(date_trunc('hour', ts)), NULL,
           count(*)::BIGINT, round(sum(value), 4)
    FROM events GROUP BY event_type, date_trunc('hour', ts)
    UNION ALL
    SELECT 'rollup_day', NULL, event_type,
           epoch_us(date_trunc('day', ts)), NULL,
           count(*)::BIGINT, round(sum(value), 4)
    FROM events GROUP BY event_type, date_trunc('day', ts)
    UNION ALL
    SELECT 'range', v.user_id, NULL, epoch_us(c.s), v.event_id, c.iid, NULL
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'view') v
    JOIN (SELECT user_id, ts AS s, ts + INTERVAL 12 HOUR AS e,
                 event_id AS iid
          FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id AND v.ts >= c.s AND v.ts <= c.e
"""


def q_sparse_ingest(spark, sf_dir):
    """Sparse long-format ingest + scale-only standardization
    (src/standardize.h:42-71: no centering for sparse) + densification,
    PLUS the wide-p sparse gradient X^T v computed directly on long-format
    triplets (join on row_id + groupBy col_id — the scale path when p is
    too large to densify). Registry merge, round 4: both sections share
    the events-derived triplet fixture; unioned as a tagged tall frame
    ('ingest' rows key on row_id with the densified x0..x2, 'xtv' rows
    key on col_id with the gradient entry in x0).

    Round-6 merge (session 2): 'hashvec' tagged rows pin the NEW
    pipeline.vectorize.hashing_vectorizer — the feature-hashing text
    vectorizer whose output IS this query's long-format triplet
    contract (documents -> 64-bucket md5 hashing trick -> (row, col,
    tf)); the oracle recomputes every bucket from md5 arithmetic.

    Round-9 merge: 'qfilter' tagged rows pin quality_model.score_quality
    end-to-end with the pinned-beta model (_QF_BETAS): logtf hashing ->
    sparse predict -> sigmoid probability + 0.5 keep gate, all
    re-derived in SQL — a train/score featurization-config drift would
    trip this hash."""
    from .ops.sparse import long_to_features, sparse_scales, sparse_xtv
    from .pipeline.vectorize import hashing_vectorizer

    ev = load(spark, sf_dir, "events")
    trip = ev.select(
        F.col("event_id").alias("row_id"),
        (F.col("event_id") % 3).cast("int").alias("col_id"),
        F.col("value").alias("value"),
    )
    n_rows = ev.count()
    scales = sparse_scales(trip, n_rows, scale="l2")
    dense = long_to_features(trip, 3, scales=scales)
    ingest = dense.select(
        F.lit("ingest").alias("part"),
        F.col("row_id").alias("key"),
        F.round(F.col("features")[0], 6).alias("x0"),
        F.round(F.col("features")[1], 6).alias("x1"),
        F.round(F.col("features")[2], 6).alias("x2"),
    )
    trip7 = ev.select(
        F.col("event_id").alias("row_id"),
        (F.col("event_id") % 7).cast("int").alias("col_id"),
        F.col("value").alias("value"),
    )
    v = ev.select(
        F.col("event_id").alias("row_id"),
        (F.col("value") - 1.0).alias("v"),
    )
    xtv = sparse_xtv(trip7, v).select(
        F.lit("xtv").alias("part"),
        F.col("col_id").cast("bigint").alias("key"),
        F.round("xtv", 4).alias("x0"),
        F.lit(0.0).alias("x1"),
        F.lit(0.0).alias("x2"),
    )
    docs = load(spark, sf_dir, "documents")
    hashvec = hashing_vectorizer(docs, "doc_id", "text", n_features=64).select(
        F.lit("hashvec").alias("part"),
        (F.col("row_id") * 64 + F.col("col_id")).alias("key"),
        F.col("col_id").cast("double").alias("x0"),
        F.col("value").alias("x1"),
        F.lit(0.0).alias("x2"),
    )
    # round-9 'qfilter' slice: pipeline.quality_model.score_quality
    # END-TO-END with a PINNED-beta model — re-featurize (64-bucket md5
    # logtf hashing) -> O(nnz) sparse predict -> sigmoid -> keep gate.
    # The fit itself is KKT-oracled via sparse_fit; this slice pins the
    # scoring composition, so a featurization-config drift (hash space,
    # weighting) between train and score would trip the hash.
    qfilter = _quality_filter_scores(docs).select(
        F.lit("qfilter").alias("part"),
        F.col("doc_id").cast("bigint").alias("key"),
        F.round("q_prob", 4).alias("x0"),
        F.when(F.col("q_prob_keep"), 1.0).otherwise(0.0).alias("x1"),
        F.lit(0.0).alias("x2"),
    )
    return (
        ingest.unionByName(xtv).unionByName(hashvec).unionByName(qfilter)
    )


#: the pinned quality-filter coefficients: (col_id, beta) over the
#: 64-bucket hash space + the intercept — identical literals reach the
#: Spark model and the DuckDB oracle
_QF_BETAS = ((1, 0.6), (7, -0.9), (23, 1.1), (42, -0.4), (63, 0.3))
_QF_INTERCEPT = -0.2


def _quality_filter_scores(docs):
    """score_quality with a hand-pinned binomial model (the q_model_sink
    trick, applied to the quality gate): betas fixed at _QF_BETAS so the
    whole featurize->predict->threshold path is deterministic."""
    import numpy as np

    from .model import SlopeModel
    from .pipeline.quality_model import QualityFilter, score_quality

    betas = np.zeros((1, 65, 1))
    betas[0, 0, 0] = _QF_INTERCEPT
    for col, b in _QF_BETAS:
        betas[0, col + 1, 0] = b
    model = SlopeModel(
        family="binomial",
        feature_names=[f"h{j}" for j in range(64)],
        intercept=True, betas=betas, sigma=np.array([1.0]),
        lam=np.array([0.1]), null_deviance=1.0,
        deviances=np.array([1.0]), deviance_ratios=np.array([0.0]),
        passes=np.array([1]), active_sets=[],
        n_unique=np.array([len(_QF_BETAS)]),
        class_names=["bad", "good"],
    )
    qf = QualityFilter(
        model=model, n_features=64, weighting="logtf", l2_norm=False,
        positive_class="good",
    )
    return score_quality(
        docs, qf, "doc_id", "text", keep_threshold=0.5, out="q_prob"
    )


SQL_SPARSE_INGEST = """
    WITH trip AS (
        SELECT event_id AS row_id, (event_id % 3)::INTEGER AS col_id, value
        FROM events
    ), s AS (
        SELECT col_id, sqrt(sum(value*value)) AS sc FROM trip GROUP BY col_id
    ), scaled AS (
        SELECT t.row_id, t.col_id,
               t.value / (CASE WHEN s.sc = 0 OR s.sc IS NULL THEN 1.0 ELSE s.sc END) AS v
        FROM trip t JOIN s USING (col_id)
    ), trip7 AS (
        SELECT event_id AS row_id, (event_id % 7)::INTEGER AS col_id, value
        FROM events
    ), vv AS (
        SELECT event_id AS row_id, value - 1.0 AS v FROM events
    )
    SELECT 'ingest' AS part, row_id AS key,
           round(coalesce(max(CASE WHEN col_id = 0 THEN v END), 0.0), 6) AS x0,
           round(coalesce(max(CASE WHEN col_id = 1 THEN v END), 0.0), 6) AS x1,
           round(coalesce(max(CASE WHEN col_id = 2 THEN v END), 0.0), 6) AS x2
    FROM scaled GROUP BY row_id
    UNION ALL
    SELECT 'xtv' AS part, t.col_id::BIGINT AS key,
           round(sum(t.value * vv.v), 4) AS x0, 0.0 AS x1, 0.0 AS x2
    FROM trip7 t JOIN vv USING (row_id) GROUP BY t.col_id
    UNION ALL
    SELECT 'hashvec' AS part, row_id * 64 + col_id AS key,
           col_id::DOUBLE AS x0, count(*)::DOUBLE AS x1, 0.0 AS x2
    FROM (
        SELECT doc_id AS row_id,
               ('0x' || substr(md5(term), 1, 8))::BIGINT % 64 AS col_id
        FROM (
            SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lower(text), '\\s+'),
                       t -> t != '')) AS term
            FROM documents
        )
    ) GROUP BY row_id, col_id
    UNION ALL
    SELECT 'qfilter' AS part, key, x0,
           CASE WHEN p >= 0.5 THEN 1.0 ELSE 0.0 END AS x1, 0.0 AS x2
    FROM (
        SELECT d.doc_id AS key, round(p.p, 4) AS x0, p.p
        FROM documents d
        JOIN (
            SELECT f.row_id,
                   1.0 / (1.0 + exp(-(coalesce(l.s, 0.0) + ({intercept}))))
                       AS p
            FROM (SELECT DISTINCT doc_id AS row_id FROM documents) f
            LEFT JOIN (
                SELECT t.row_id, sum(t.value * b.beta) AS s
                FROM (
                    SELECT row_id, col_id,
                           1.0 + ln(count(*)::DOUBLE) AS value
                    FROM (
                        SELECT doc_id AS row_id,
                               ('0x' || substr(md5(term), 1, 8))::BIGINT % 64
                                   AS col_id
                        FROM (
                            SELECT doc_id,
                                   unnest(list_filter(
                                       string_split_regex(lower(text), '\\s+'),
                                       t -> t != '')) AS term
                            FROM documents
                        )
                    ) GROUP BY row_id, col_id
                ) t
                JOIN (VALUES {qf_betas}) AS b(col_id, beta) USING (col_id)
                GROUP BY t.row_id
            ) l ON l.row_id = f.row_id
        ) p ON p.row_id = d.doc_id
    )
""".format(
    intercept=repr(float(_QF_INTERCEPT)),
    qf_betas=", ".join(f"({c}, {repr(float(b))})" for c, b in _QF_BETAS),
)


_SPARSE_FIT_KW = dict(n_cols=5, n_sigma=2, lambda_min_ratio=0.5)


@lru_cache(maxsize=None)
def _pinned_sparse_fit(sf_dir: str):
    """Pinned NumPy reference for the sparse fixture: the same events-
    derived design densified in-core (tiny) and fitted with the scale-only
    (center=False) reference path."""
    import numpy as np
    import pyarrow.parquet as pq

    from .core.ref_fit import numpy_path_fit

    tbl = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id", "value"])
    ids = tbl.column("event_id").to_numpy(zero_copy_only=False).astype(np.int64)
    vals = tbl.column("value").to_numpy(zero_copy_only=False).astype(np.float64)
    msk = ids < 2000
    ids, vals = ids[msk], vals[msk]
    p = _SPARSE_FIT_KW["n_cols"]
    X = np.zeros((len(ids), p))
    X[np.arange(len(ids)), ids % p] = vals
    y = vals * 2.0 + (ids % 3).astype(np.float64)
    return numpy_path_fit(
        X, y, "gaussian", center=False,
        n_sigma=_SPARSE_FIT_KW["n_sigma"],
        lambda_min_ratio=_SPARSE_FIT_KW["lambda_min_ratio"],
        tol_rel_gap=1e-7, tol_infeas=1e-4,
    )


def _sparse_kkt_sql(sf_dir: str) -> str:
    """KKT-residual + post-fit-surface oracle for the sparse fit (tagged
    tall union, registry-merge round 6):

    - 'kkt' rows — DuckDB recomputes the scale-only standardized gradient
      directly from the events-derived triplets (each row has exactly one
      nonzero feature, col = id % 5) with the pinned betas as literals,
      then the sorted-cumsum infeasibility;
    - 'score' rows (one per path point) — mse/mae of the pinned betas
      recomputed from the raw rows; the Spark query emits the SAME numbers
      through the REAL ``score_path_sparse`` broadcast-coef join, so the
      hash match verifies the sparse path-scoring machinery end to end;
    - one 'pred' row — sum of the final path point's predictions
      (``predict_sparse`` on the Spark side, plain arithmetic here)."""
    import numpy as np

    pin = _pinned_sparse_fit(sf_dir)
    p = _SPARSE_FIT_KW["n_cols"]
    B = pin["betas"]
    K = B.shape[0]
    sj = pin["x_scale"]
    ys = float(pin["y_scale"][0])
    lam = pin["lam"]
    sig = pin["sigma"]
    tol = max(pin["tol_infeas"], 1e-3)

    def lp(k):
        # one nonzero feature per row: lp = b0 + b_{cid} * value
        chain = " ".join(
            f"WHEN cid = {j} THEN {float(B[k, 1 + j, 0])!r} * value"
            for j in range(p)
        )
        return f"({float(B[k, 0, 0])!r} + (CASE {chain} ELSE 0.0 END))"

    # intercept gradient: the scale-only (uncentered) design does NOT
    # decouple the intercept, so KKT needs BOTH the sorted-cumsum dual
    # feasibility of the penalized block AND stationarity of the
    # (unpenalized, 1/sqrt(n)-preconditioned) intercept column
    n_fix = int(pin.get("n", 2000))
    icol = 1.0 / np.sqrt(n_fix)
    g_exprs = [
        f"sum(CASE WHEN cid = {j} THEN (value / {float(sj[j])!r}) * (({lp(k)}) - y) / {ys!r} END) AS g_{k}_{j}"
        for k in range(K) for j in range(p)
    ] + [
        f"sum({icol!r} * (({lp(k)}) - y) / {ys!r}) AS gint_{k}"
        for k in range(K)
    ]
    long_selects = " UNION ALL ".join(
        f"SELECT {k} AS k, coalesce(abs(g_{k}_{j}), 0.0) AS a FROM g"
        for k in range(K) for j in range(p)
    )
    lam_rows = ", ".join(
        f"({k}, {r + 1}, {float(lam[r] * sig[k])!r})"
        for k in range(K) for r in range(p)
    )
    meta_rows = ", ".join(
        f"({k}, {pin['n_nonzero'][k]}, {float(tol * lam[0] * sig[k])!r})"
        for k in range(K)
    )
    gint_selects = " UNION ALL ".join(
        f"SELECT {k} AS k, abs(gint_{k}) AS gi FROM g" for k in range(K)
    )
    pred_selects = " UNION ALL ".join(
        f"SELECT {k} AS k, ({lp(k)}) AS pred, y FROM base" for k in range(K)
    )
    return f"""
    WITH base AS (
        SELECT CAST(event_id % {p} AS INTEGER) AS cid, value,
               value * 2.0 + CAST(event_id % 3 AS DOUBLE) AS y
        FROM events WHERE event_id < 2000
    ), g AS (
        SELECT {", ".join(g_exprs)} FROM base
    ), longg AS (
        {long_selects}
    ), gint AS (
        {gint_selects}
    ), lamt AS (
        SELECT * FROM (VALUES {lam_rows}) AS t(k, r, lam)
    ), ranked AS (
        SELECT k, a, row_number() OVER (PARTITION BY k ORDER BY a DESC) AS r
        FROM longg
    ), cum AS (
        SELECT ranked.k AS k,
               sum(ranked.a - lamt.lam) OVER (
                   PARTITION BY ranked.k ORDER BY ranked.r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM ranked JOIN lamt ON ranked.k = lamt.k AND ranked.r = lamt.r
    ), inf AS (
        SELECT k, max(CASE WHEN c > 0.0 THEN c ELSE 0.0 END) AS infeas
        FROM cum GROUP BY k
    ), meta AS (
        SELECT * FROM (VALUES {meta_rows}) AS t(k, nnz, tol)
    ), preds AS (
        {pred_selects}
    ), sc AS (
        SELECT k, round(avg((pred - y) * (pred - y)), 6) AS mse,
               round(avg(abs(pred - y)), 6) AS mae,
               round(sum(pred), 4) AS psum
        FROM preds GROUP BY k
    )
    SELECT 'kkt' AS part, CAST(meta.k AS INTEGER) AS path_idx,
           CAST(meta.nnz AS BIGINT) AS n_nonzero,
           (inf.infeas <= meta.tol AND gint.gi <= meta.tol) AS ok,
           TRUE AS fit_agrees, 0.0 AS v1, 0.0 AS v2
    FROM inf JOIN meta ON inf.k = meta.k JOIN gint ON gint.k = meta.k
    UNION ALL
    SELECT 'score', CAST(k AS INTEGER), CAST(0 AS BIGINT), TRUE, TRUE,
           mse, mae
    FROM sc
    UNION ALL
    SELECT 'pred', CAST(k AS INTEGER), CAST(0 AS BIGINT), TRUE, TRUE,
           psum, 0.0
    FROM sc WHERE k = {K - 1}
"""


def q_sparse_fit(spark, sf_dir):
    """End-to-end sparse SLOPE fit on long-format triplets WITHOUT
    densification (fit_sparse; reference sparse entry src/owl.cpp:398-412,
    scale-only standardization src/standardize.h:42-71), with the same
    hard KKT-residual oracle scheme as the dense solver queries: both
    engines verify sorted-L1 KKT feasibility of the pinned reference betas
    from the raw data, and fit_agrees checks the engine's sparse fit
    against them.

    Registry merge, round 6 — the sparse POST-FIT surface rides as tagged
    rows: 'score' rows carry per-path-point mse/mae computed by the REAL
    ``score_path_sparse`` (broadcast coef join + shared measure
    aggregation) over the pinned-beta model, the 'pred' row the
    ``predict_sparse`` prediction sum at the last path point; DuckDB
    recomputes the same values from the pinned betas, so the hash match
    verifies the sparse prediction/scoring joins value-exactly. ``ok`` on
    those rows asserts the FITTED model's ``score_sparse`` mse agrees with
    the pinned-model mse within solver tolerance (the fit -> score
    composition; ``cv_fit_sparse`` reuses exactly these pieces)."""
    import numpy as np

    from .model import SlopeModel
    from .ops.sparse import (
        fit_sparse, predict_sparse, score_path_sparse, score_sparse,
    )

    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    trip = ev.select(
        F.col("event_id").alias("row_id"),
        (F.col("event_id") % 5).cast("int").alias("col_id"),
        F.col("value").alias("value"),
    ).filter(F.col("value") != 0.0)
    ydf = ev.select(
        F.col("event_id").alias("row_id"),
        (F.col("value") * 2.0 + (F.col("event_id") % 3).cast("double")).alias("y"),
    )
    model = fit_sparse(trip, ydf, "y", "gaussian", **_SPARSE_FIT_KW)
    pin = _pinned_sparse_fit(sf_dir)
    agree = model.betas.shape == pin["betas"].shape and bool(
        np.allclose(model.betas, pin["betas"], rtol=5e-2, atol=5e-3)
    )

    # pinned-beta model: deterministic inputs for the post-fit surface so
    # DuckDB can recompute the exact values (path metadata is inert here)
    K = pin["betas"].shape[0]
    pinned_model = SlopeModel(
        family="gaussian",
        feature_names=[f"x{j}" for j in range(_SPARSE_FIT_KW["n_cols"])],
        intercept=True, betas=pin["betas"], sigma=pin["sigma"],
        lam=pin["lam"], null_deviance=0.0, deviances=np.zeros(K),
        deviance_ratios=np.zeros(K), passes=np.zeros(K, dtype=int),
        active_sets=[], n_unique=np.zeros(K, dtype=int),
    )
    sp = score_path_sparse(trip, ydf, pinned_model, "y", ["mse", "mae"])
    pred_sum = float(
        predict_sparse(
            trip, pinned_model, rows=ydf.select("row_id"),
            path_idx=K - 1, out="_p",
        ).agg(F.sum("_p")).first()[0]
    )
    # fitted-model surface agreement (fit -> score composition)
    mse_fit = score_sparse(trip, ydf, model, "y", "mse")
    ki = min(model.n_path, K) - 1
    surface_ok = bool(
        abs(mse_fit - sp["mse"][ki]) <= 5e-2 * max(abs(sp["mse"][ki]), 1e-9)
    )

    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    kkt = spark.sql(_sparse_kkt_sql(sf_dir)).filter(F.col("part") == "kkt")
    extra_rows = [
        ("score", k, 0, surface_ok, True,
         round(float(sp["mse"][k]), 6), round(float(sp["mae"][k]), 6))
        for k in range(K)
    ] + [("pred", K - 1, 0, surface_ok, True, round(pred_sum, 4), 0.0)]
    extra = spark.createDataFrame(
        extra_rows,
        "part string, path_idx int, n_nonzero bigint, ok boolean, "
        "fit_agrees boolean, v1 double, v2 double",
    )
    out = kkt.unionByName(extra)
    return out.drop("fit_agrees").withColumn("fit_agrees", F.lit(bool(agree)))


# Statistical oracle for the seeded generator: the rand STREAM is
# engine-specific (Spark's XORShift vs anything DuckDB could seed), but
# the generator's CONTRACT is not — column moments, the planted-signal
# support, and the signal-to-noise correlation all have closed-form
# expectations. Both engines emit the same (stat, ok, bound) rows: Spark
# computes the sample statistics and tests them against 4.5-sigma bounds
# (per-check false-alarm ~ 7e-6); DuckDB asserts the identical bounds as
# literals. A generator bug (wrong variance, missing signal, broken
# seed-plumbing) flips an `ok` to false and fails the hash.
_S4_N, _S4_P, _S4_SEED = 500, 5, 7
_S4_AMP, _S4_NOISE = 3.0, 1.0
# 4.5-sigma bounds, rounded up to clean literals shared by both engines:
#   mean of n N(0,1): 4.5/sqrt(500) = 0.2013           -> 0.21
#   sample var of N(0,1): 4.5*sqrt(2/499) = 0.285      -> 0.29
#   sample var of y ~ N(0, 10): 4.5*10*sqrt(2/499)     -> 2.9
#   corr(y, x_planted) = 3/sqrt(10); 4.5*(1-rho^2)/sqrt(n) = 0.020 -> 0.03
_S4_BOUNDS = {
    **{f"x{j}_mean": (0.0, 0.21) for j in range(1, _S4_P + 1)},
    **{f"x{j}_var": (1.0, 0.29) for j in range(1, _S4_P + 1)},
    "y_var": (_S4_AMP * _S4_AMP + _S4_NOISE * _S4_NOISE, 2.9),
    "y_corr_planted": (_S4_AMP / np.sqrt(_S4_AMP**2 + _S4_NOISE**2), 0.03),
    "n_rows": (float(_S4_N), 0.0),
    "support_size": (1.0, 0.0),
    "beta_l1": (_S4_AMP, 0.0),
}


def q_s4_random_problem(spark, sf_dir):
    """Synthetic problem generator (randomProblem, R/utils.R:15-76) with
    a closed-form statistical oracle (see _S4_BOUNDS). One distributed
    aggregation computes every sample statistic; the checks explode from
    the single stats row (no collect, no second scan)."""
    from .ops.synth import random_problem

    df, beta = random_problem(
        spark, n=_S4_N, p=_S4_P, family="gaussian", seed=_S4_SEED,
        amplitude=_S4_AMP, sigma_noise=_S4_NOISE,
    )
    jstar = int(np.flatnonzero(beta)[0]) + 1

    aggs = [F.count(F.lit(1)).alias("nn")]
    for j in range(1, _S4_P + 1):
        aggs += [F.avg(f"x{j}").alias(f"m{j}"),
                 F.var_samp(f"x{j}").alias(f"v{j}")]
    aggs += [F.var_samp("y").alias("vy"),
             F.abs(F.corr("y", f"x{jstar}")).alias("cy")]
    stats = df.agg(*aggs)

    def _chk(name, expr):
        target, bound = _S4_BOUNDS[name]
        return F.struct(
            F.lit(name).alias("stat"),
            (F.abs(expr - F.lit(float(target))) <= F.lit(float(bound))).alias("ok"),
            F.lit(float(bound)).alias("bound"),
        )

    structs = []
    for j in range(1, _S4_P + 1):
        structs.append(_chk(f"x{j}_mean", F.col(f"m{j}")))
        structs.append(_chk(f"x{j}_var", F.col(f"v{j}")))
    structs.append(_chk("y_var", F.col("vy")))
    structs.append(_chk("y_corr_planted", F.col("cy")))
    structs.append(_chk("n_rows", F.col("nn").cast("double")))
    # generator-contract facts, exact (driver-side beta is part of the API)
    structs.append(F.struct(
        F.lit("support_size").alias("stat"),
        F.lit(bool(int(np.count_nonzero(beta)) == 1)).alias("ok"),
        F.lit(0.0).alias("bound"),
    ))
    structs.append(F.struct(
        F.lit("beta_l1").alias("stat"),
        F.lit(bool(abs(float(np.abs(beta).sum()) - _S4_AMP) < 1e-12)).alias("ok"),
        F.lit(0.0).alias("bound"),
    ))
    return stats.select(F.explode(F.array(*structs)).alias("s")).select(
        "s.stat", "s.ok", "s.bound"
    )


def _s4_sql() -> str:
    rows = ", ".join(
        f"('{name}', {float(bound)!r})"
        for name, (_t, bound) in sorted(_S4_BOUNDS.items())
    )
    return (
        "SELECT stat, TRUE AS ok, CAST(bound AS DOUBLE) AS bound "
        f"FROM (VALUES {rows}) AS t(stat, bound)"
    )


# f13 oracle scheme: wall-clock columns can't hash, but the CONVERGED END
# of each path point's primal trajectory is anchored by the data. The
# pinned NumPy fit supplies beta literals; the internal-space primal at
# those betas P_pin(k) = sum_i log(1+exp(-y_i eta_i)) + sigma_k * J(beta_std)
# is recomputed from the raw lineitem rows INDEPENDENTLY by Spark (inside
# the query) and by DuckDB (inside the oracle SQL) — both compare to the
# same pinned literal, so a hash match proves cross-engine agreement on
# the objective surface. The engine-trajectory facts (last recorded primal
# lands on P_pin, every recorded dual lower-bounds its primal, the final
# duality gap is closed, the path length matches) are computed Spark-side
# from the REAL diagnostics trace and asserted TRUE by the oracle.
@lru_cache(maxsize=None)
def _f13_pin(sf_dir: str):
    import pyarrow.parquet as pq

    spec = _SOLVER_SPECS["f13_diagnostics"]
    pin = _pinned_fit(sf_dir, "f13_diagnostics")
    tbl = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=[*spec["features"], "l_returnflag"],
    )
    X = np.column_stack(
        [tbl.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
         for c in spec["features"]]
    )
    rf = np.asarray(tbl.column("l_returnflag").to_pylist())
    y = np.where(rf == "R", 1.0, -1.0)  # classes sorted: ok -> -1, ret -> +1

    B = pin["betas"]  # (K, p+1, 1), original units
    K = B.shape[0]
    sj = pin["x_scale"]
    lam, sig = pin["lam"], pin["sigma"]
    losses, pens, primals = [], [], []
    for k in range(K):
        eta = B[k, 0, 0] + X @ B[k, 1:, 0]
        z = y * eta
        # stable log(1+exp(-z)) = max(-z, 0) + log1p(exp(-|z|)) — the same
        # algebraic form the Spark/DuckDB recomputations use
        loss = float(np.sum(np.maximum(-z, 0.0) + np.log1p(np.exp(-np.abs(z)))))
        bstd = np.abs(B[k, 1:, 0] * sj)  # binomial: y_scale = 1
        pen = float(np.sum(np.sort(bstd)[::-1] * lam * sig[k]))
        losses.append(loss)
        pens.append(pen)
        primals.append(loss + pen)
    return dict(pin=pin, losses=losses, pens=pens, primals=primals, K=K)


def q_f13_diagnostics(spark, sf_dir):
    """Per-iteration solver diagnostics capture (src/families/family.h:119-130,
    R/setupDiagnostics.R) with a pinned-primal oracle (see _f13_pin): the
    engine's REAL in-core FISTA trace must terminate on the pinned optimum
    primal, keep every dual below its primal, and close the duality gap;
    the pinned primal itself is recomputed from the raw rows by both
    engines."""
    from .fit import fit as _fit

    spec = _SOLVER_SPECS["f13_diagnostics"]
    li = load(spark, sf_dir, "lineitem")
    df = li.withColumn(
        "flag", F.when(F.col("l_returnflag") == "R", "ret").otherwise("ok")
    )
    model = _fit(
        df, spec["features"], "flag", "binomial",
        n_sigma=spec["n_sigma"], lambda_min_ratio=spec["lambda_min_ratio"],
        diagnostics=True,
    )
    f13 = _f13_pin(sf_dir)
    K = f13["K"]
    B = f13["pin"]["betas"]
    prim = model.diagnostics["primals"]
    du = model.diagnostics["duals"]
    path_len_ok = len(prim) == K

    # Spark-side recompute of the pinned loss — ONE codegen aggregation
    y_expr = F.when(F.col("l_returnflag") == "R", F.lit(1.0)).otherwise(-1.0)
    aggs = []
    for k in range(K):
        eta = F.lit(float(B[k, 0, 0]))
        for j, c in enumerate(spec["features"]):
            if B[k, 1 + j, 0] != 0.0:
                eta = eta + F.lit(float(B[k, 1 + j, 0])) * F.col(c)
        z = y_expr * eta
        aggs.append(
            F.sum(F.greatest(-z, F.lit(0.0)) + F.log1p(F.exp(-F.abs(z))))
            .alias(f"loss_{k}")
        )
    loss_row = li.agg(*aggs).collect()[0]

    rows = []
    for k in range(K):
        p_pin = f13["primals"][k]
        scale = max(abs(p_pin), 1.0)
        recompute_ok = (
            abs(float(loss_row[f"loss_{k}"]) + f13["pens"][k] - p_pin)
            <= 1e-6 * scale
        )
        if path_len_ok and len(prim[k]) > 0:
            pl, dl = prim[k], du[k]
            # engine stops at rel gap 1e-5; 1e-3 catches a wrong solver
            # without flaking on tolerance-level wiggle
            traj_ok = abs(pl[-1] - p_pin) <= 1e-3 * scale
            # the family dual is a valid lower bound only at the stopping
            # point (solver.py's unpen_ok condition) — mid-trajectory
            # duals legitimately overshoot, so check the FINAL dual
            # against the pinned primal: G_final <= P* <= P(beta_pin)
            dual_ok = dl[-1] <= p_pin + 1e-6 * scale
            gap_ok = (pl[-1] - dl[-1]) <= 1e-3 * scale
        else:
            traj_ok = dual_ok = gap_ok = False
        rows.append((
            k, round(p_pin, 6), bool(recompute_ok), bool(traj_ok),
            bool(dual_ok), bool(gap_ok), bool(path_len_ok),
        ))
    return spark.createDataFrame(
        rows,
        "path_idx int, primal_pin double, recompute_ok boolean, "
        "traj_ok boolean, dual_ok boolean, gap_ok boolean, "
        "path_len_ok boolean",
    )


def _f13_sql(sf_dir: str) -> str:
    """DuckDB side of the f13 oracle: recompute the pinned-beta binomial
    loss from the raw lineitem rows, add the (pure-literal) sorted-L1
    penalty, and check it against the pinned primal literal."""
    spec = _SOLVER_SPECS["f13_diagnostics"]
    f13 = _f13_pin(sf_dir)
    B = f13["pin"]["betas"]
    feats = spec["features"]
    yv = _SOLVER_Y_SQL["binomial"]
    loss_exprs = []
    for k in range(f13["K"]):
        terms = [repr(float(B[k, 0, 0]))]
        terms += [
            f"{float(B[k, 1 + j, 0])!r}*{feats[j]}"
            for j in range(len(feats)) if B[k, 1 + j, 0] != 0.0
        ]
        eta = "(" + " + ".join(terms) + ")"
        z = f"(({yv}) * {eta})"
        loss_exprs.append(
            f"sum(greatest(-{z}, 0.0) + ln(1.0 + exp(-abs({z})))) AS loss_{k}"
        )
    check_rows = ", ".join(
        f"({k}, {round(f13['primals'][k], 6)!r}, {f13['pens'][k]!r}, "
        f"{f13['primals'][k]!r})"
        for k in range(f13["K"])
    )
    checks = " UNION ALL ".join(
        f"SELECT {k} AS path_idx, loss_{k} AS loss FROM l"
        for k in range(f13["K"])
    )
    return f"""
    WITH l AS (
        SELECT {", ".join(loss_exprs)} FROM lineitem
    ), lk AS (
        {checks}
    ), pin AS (
        SELECT * FROM (VALUES {check_rows})
               AS t(path_idx, primal_pin, pen, primal_exact)
    )
    SELECT CAST(pin.path_idx AS INTEGER) AS path_idx,
           CAST(pin.primal_pin AS DOUBLE) AS primal_pin,
           (abs(lk.loss + pin.pen - pin.primal_exact)
            <= 1e-6 * greatest(abs(pin.primal_exact), 1.0)) AS recompute_ok,
           TRUE AS traj_ok, TRUE AS dual_ok, TRUE AS gap_ok,
           TRUE AS path_len_ok
    FROM pin JOIN lk USING (path_idx)
"""


# ---------------------------------------------------------------------------
# V1-V3 tidy plot outputs (§2.7) with a hard literal-derived oracle
# ---------------------------------------------------------------------------

_V_SIGMA = [1.0, 0.5, 0.25]  # binary-exact literals
_V2_MEASURES = ("mse", "mae")
_V2_N_FOLDS = 4
_T_V2 = t_ppf(0.975, _V2_N_FOLDS - 1)

# Literal diagnostics trace (all values multiples of 1/16: binary-exact,
# <= 6 decimal digits, so round(.,6) is boundary-free in both engines).
_V3_DIAG = dict(
    primals=[[10.0, 5.25, 4.125], [3.5, 2.75], [2.0625, 1.5]],
    duals=[[9.5, 5.0, 4.0], [3.25, 2.5], [2.0, 1.4375]],
    time=[[0.5, 1.0, 1.5], [0.5, 1.0], [0.5, 1.0]],
)


def _v2_cells():
    """Deterministic literal per-(measure, sigma, fold) CV scores, all
    integer multiples of 1/16 so every 4-fold mean is an exact 6-decimal
    binary-representable value (se/lo/hi involve sqrt -> irrational ->
    far from any rounding boundary)."""
    cells = []
    for mi, meas in enumerate(_V2_MEASURES):
        for si in range(len(_V_SIGMA)):
            for f in range(_V2_N_FOLDS):
                k = 16 + 6 * mi + 6 * abs(si - 1 - mi) + ((f * 3 + si + mi) % 4)
                cells.append(
                    dict(q=0.2, rep=0, fold=f, sigma_idx=si,
                         measure=meas, value=k / 16.0)
                )
    return cells


def q_v_plot_data(spark, sf_dir):
    """V1-V3 plot-surface data outputs (§2.7 — the reference's lattice
    plots re-expressed as tidy DataFrames) in one tall frame, unified as
    (plot, path_idx, series, x, y, lo, hi):

    - V1 `coef_path` (plot.Owl, R/plot.R:19-109): non-intercept
      coefficient paths vs sigma, via the engine's model.coef_df
      projection over the literal path cube (_COEF_ROWS).
    - V2 `cv_curve` + `cv_optimum` (plot.TrainedOwl, R/plot.R:144-299):
      the REAL ops.cv._aggregate (mean/se/95% t-CI + per-measure argmin,
      R/trainOwl.R:146-166) run on literal fold scores; the oracle
      recomputes the aggregation independently in SQL.
    - V3 `diagnostics` (plotDiagnostics, R/plotDiagnostics.R:22-73): the
      engine's model.diagnostics_df projection of a literal trace,
      unpivoted to (primal, dual, time) series."""
    import numpy as np

    from .model import SlopeModel
    from .ops.cv import _aggregate

    names = ["(Intercept)", "l_quantity", "l_extendedprice", "l_discount"]
    betas = np.zeros((len(_V_SIGMA), len(names), 1))
    for pidx, feat, coefv in _COEF_ROWS:
        betas[pidx, names.index(feat), 0] = coefv
    model = SlopeModel(
        family="gaussian", feature_names=names[1:], intercept=True,
        betas=betas, sigma=np.array(_V_SIGMA), lam=np.array([0.3, 0.2, 0.1]),
        null_deviance=100.0, deviances=np.array([90.0, 60.0, 30.0]),
        deviance_ratios=np.array([0.1, 0.4, 0.7]),
        passes=np.array([3, 4, 5]), active_sets=[],
        n_unique=np.array([0, 2, 3]), diagnostics=_V3_DIAG,
    )

    sg = spark.createDataFrame(
        list(enumerate(_V_SIGMA)), "path_idx int, sigma double"
    )
    v1 = (
        model.coef_df(spark)
        .filter(F.col("feature") != "(Intercept)")
        .join(sg, "path_idx")
        .select(
            F.lit("coef_path").alias("plot"), "path_idx",
            F.col("feature").alias("series"),
            F.round("sigma", 6).alias("x"), F.round("coef", 6).alias("y"),
            F.lit(0.0).alias("lo"), F.lit(0.0).alias("hi"),
        )
    )

    res = _aggregate(
        _v2_cells(), np.array(_V_SIGMA), [0.2], list(_V2_MEASURES),
        _V2_N_FOLDS, 1, None,
    )
    v2_rows = [
        (tag, int(r["sigma_idx"]), r["measure"], round(float(r["sigma"]), 6),
         round(float(r["mean"]), 6), round(float(r["lo"]), 6),
         round(float(r["hi"]), 6))
        for tag, rows in (("cv_curve", res.summary), ("cv_optimum", res.optima))
        for r in rows
    ]
    v2 = spark.createDataFrame(
        v2_rows,
        "plot string, path_idx int, series string, x double, y double, "
        "lo double, hi double",
    )

    v3 = model.diagnostics_df(spark).selectExpr(
        "'diagnostics' AS plot", "path_idx",
        "stack(3, 'primal', primal, 'dual', dual, 'time', time_s) AS (series, y0)",
        "CAST(iteration AS DOUBLE) AS x",
    ).select(
        "plot", "path_idx", "series", "x",
        F.round("y0", 6).alias("y"),
        F.lit(0.0).alias("lo"), F.lit(0.0).alias("hi"),
    )

    return v1.unionByName(v2).unionByName(v3)


def _v_plot_sql() -> str:
    coef_rows = ", ".join(f"({p}, '{f}', {c!r})" for p, f, c in _COEF_ROWS)
    sig_rows = ", ".join(f"({i}, {s!r})" for i, s in enumerate(_V_SIGMA))
    cell_rows = ", ".join(
        f"('{c['measure']}', {c['sigma_idx']}, {c['fold']}, {c['value']!r})"
        for c in _v2_cells()
    )
    diag_rows = ", ".join(
        f"({pi}, {it}, {float(prim[it])!r}, {float(dual[it])!r}, {float(tim[it])!r})"
        for pi, (prim, dual, tim) in enumerate(
            zip(_V3_DIAG["primals"], _V3_DIAG["duals"], _V3_DIAG["time"])
        )
        for it in range(len(prim))
    )
    return f"""
    WITH coefs(path_idx, feature, coef) AS (VALUES {coef_rows}),
    sg(path_idx, sigma) AS (VALUES {sig_rows}),
    cvcells(measure, sigma_idx, fold, value) AS (VALUES {cell_rows}),
    diag(path_idx, iteration, primal, dual, time_s) AS (VALUES {diag_rows}),
    coefrows AS (
        SELECT 'coef_path' AS plot, c.path_idx AS path_idx,
               c.feature AS series, sg.sigma AS x, c.coef AS y,
               0.0 AS lo, 0.0 AS hi
        FROM coefs c JOIN sg ON sg.path_idx = c.path_idx
        WHERE c.feature != '(Intercept)'
    ), cvagg AS (
        SELECT measure, sigma_idx, avg(value) AS mean,
               stddev_samp(value)/sqrt(count(*)) AS se
        FROM cvcells GROUP BY measure, sigma_idx
    ), cvrows AS (
        SELECT 'cv_curve' AS plot, a.sigma_idx AS path_idx,
               a.measure AS series, sg.sigma AS x, a.mean AS y,
               a.mean - {_T_V2!r}*a.se AS lo, a.mean + {_T_V2!r}*a.se AS hi
        FROM cvagg a JOIN sg ON sg.path_idx = a.sigma_idx
    ), cvopt AS (
        SELECT 'cv_optimum' AS plot, path_idx, series, x, y, lo, hi FROM (
            SELECT *, row_number() OVER (
                PARTITION BY series ORDER BY y, path_idx) AS rn
            FROM cvrows
        ) WHERE rn = 1
    ), diagrows AS (
        SELECT 'diagnostics' AS plot, path_idx, 'primal' AS series,
               CAST(iteration AS DOUBLE) AS x, primal AS y, 0.0 AS lo, 0.0 AS hi
        FROM diag
        UNION ALL
        SELECT 'diagnostics', path_idx, 'dual', CAST(iteration AS DOUBLE),
               dual, 0.0, 0.0 FROM diag
        UNION ALL
        SELECT 'diagnostics', path_idx, 'time', CAST(iteration AS DOUBLE),
               time_s, 0.0, 0.0 FROM diag
    )
    SELECT plot, CAST(path_idx AS INTEGER) AS path_idx, series,
           round(x, 6) AS x, round(y, 6) AS y,
           round(lo, 6) AS lo, round(hi, 6) AS hi
    FROM (
        SELECT * FROM coefrows
        UNION ALL SELECT * FROM cvrows
        UNION ALL SELECT * FROM cvopt
        UNION ALL SELECT * FROM diagrows
    )
"""


# ---------------------------------------------------------------------------
# pipeline extensions round 4: sequence packing, decontamination,
# deterministic stratified sampling
# ---------------------------------------------------------------------------

def q_text_pack_chunks(spark, sf_dir):
    """Concat-and-chunk sequence packing (capacity 32 tokens, 8 shards):
    the LLM-pretraining batch layout. One row per (document, pack) span;
    prefix-sum per deterministic shard so packing parallelizes — no
    global window (see pipeline.text.pack_chunks).

    Round-6 merge (session 2): 'chunk' tagged rows pin the NEW
    text.chunk_text (sliding-window token chunking, size 16 / overlap 4
    — the retrieval/RAG layout, zero-shuffle projection); chunk_id rides
    pack_id, chunk_len rides n_tokens, the rejoined window text rides
    ``chunk``."""
    docs = load(spark, sf_dir, "documents")
    packed = text.pack_chunks(
        docs, "doc_id", "text", capacity=32, n_shards=8
    ).select(
        F.lit("pack").alias("tag"),
        "doc_id", "shard", "pack_id", "n_tokens", "tok_start", "tok_len",
        F.lit(None).cast("string").alias("chunk"),
    )
    chunked = text.chunk_text(
        docs, "doc_id", "text", size=16, overlap=4
    ).select(
        F.lit("chunk").alias("tag"),
        "doc_id",
        F.lit(None).cast("int").alias("shard"),
        F.col("chunk_id").cast("bigint").alias("pack_id"),
        F.col("chunk_len").cast("bigint").alias("n_tokens"),
        F.lit(None).cast("bigint").alias("tok_start"),
        F.lit(None).cast("bigint").alias("tok_len"),
        "chunk",
    )
    return packed.unionByName(chunked)


SQL_TEXT_PACK = """
    WITH d AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x != ''))::BIGINT AS n_tokens,
               (doc_id % 8)::INTEGER AS shard
        FROM documents
    ), dd AS (
        SELECT * FROM d WHERE n_tokens > 0
    ), c AS (
        SELECT doc_id, shard, n_tokens,
               coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0)::BIGINT AS pstart
        FROM dd
    ), e AS (
        SELECT doc_id, shard, n_tokens, pstart, p.pack_id
        FROM c, LATERAL (
            SELECT unnest(range(pstart // 32, (pstart + n_tokens - 1) // 32 + 1))
                   AS pack_id
        ) p
    )
    SELECT 'pack' AS tag, doc_id, shard, pack_id::BIGINT AS pack_id,
           n_tokens,
           (greatest(pstart, pack_id * 32) - pstart)::BIGINT AS tok_start,
           (least(pstart + n_tokens, (pack_id + 1) * 32)
            - greatest(pstart, pack_id * 32))::BIGINT AS tok_len,
           NULL::VARCHAR AS chunk
    FROM e
    UNION ALL
    SELECT 'chunk', doc_id, NULL, i::BIGINT,
           len(toks[CAST(i * 12 + 1 AS INTEGER):CAST(i * 12 + 16 AS INTEGER)])::BIGINT,
           NULL, NULL,
           array_to_string(
               toks[CAST(i * 12 + 1 AS INTEGER):CAST(i * 12 + 16 AS INTEGER)], ' ')
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ) dt, LATERAL (
        SELECT unnest(range(0, (len(toks) - 1) // 12 + 1)) AS i
    ) ch
    WHERE len(toks) > 0
"""


def q_text_decontaminate(spark, sf_dir):
    """Train/eval contamination check: training docs (source != 'src0')
    sharing >= 1 winnowing-fingerprint minimum (k=8, w=4 — the same
    definition text_fingerprint hash-verifies) with the eval corpus
    (source = 'src0'). Inverted-index equi-join on the minima — the
    GPT-3-style decontamination pass, sub-quadratic at any scale."""
    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    ev = docs.filter(F.col("source") == "src0")
    return dedup.contamination(train, ev, "doc_id", "text", k=8, w=4)


SQL_TEXT_DECONTAMINATE = """
    WITH g AS (
        SELECT doc_id, p.i,
               ('0x' || substr(md5(substr(lower(text), p.i, 8)), 1, 8))::BIGINT AS h,
               greatest(length(text) - 8 + 1, 1) AS n_grams
        FROM documents,
        LATERAL (SELECT unnest(range(1, greatest(length(text) - 8 + 1, 1) + 1)) AS i) p
    ), m AS (
        SELECT doc_id, i,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
               n_grams
        FROM g
    ), sel AS (
        SELECT DISTINCT doc_id, wmin FROM m
        WHERE i <= greatest(n_grams - 4 + 1, 1)
    ), src AS (
        SELECT doc_id, source FROM documents
    ), t AS (
        SELECT s.doc_id, s.wmin FROM sel s JOIN src USING (doc_id)
        WHERE src.source != 'src0'
    ), e_idx AS (
        SELECT s.wmin, count(*) AS eval_df FROM sel s JOIN src USING (doc_id)
        WHERE src.source = 'src0' GROUP BY s.wmin
    ), sizes AS (
        SELECT doc_id, count(*) AS n_minima FROM t GROUP BY doc_id
    ), hits AS (
        SELECT t.doc_id, count(*) AS n_shared, max(e.eval_df) AS max_eval_df
        FROM t JOIN e_idx e USING (wmin) GROUP BY t.doc_id
    )
    SELECT h.doc_id, h.n_shared, h.max_eval_df,
           round(h.n_shared::DOUBLE / s.n_minima, 6) AS contamination
    FROM hits h JOIN sizes s USING (doc_id)
"""

_SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "zh": 0.4}
_SAMPLE_DEFAULT = 0.1


_MIX_WEIGHTS = {"en": 2.5, "de": 1.0, "zh": 0.25}
_MIX_DEFAULT = 0.5


def q_docs_sample_stratified(spark, sf_dir):
    """Deterministic sampling / mixing / sharding — the three curation
    knobs of training-data construction, as a tagged union:

    - 'sample': hash-threshold stratified DOWNSAMPLING — keep iff
      md5(doc_id)[0:8]/2^32 < frac(lang). Zero shuffle (codegen filter).
    - 'mixshard': the UPSAMPLING mixture (per-language weights may exceed
      1 — weight 2.5 = two full epochs + a deterministic 50% third) fed
      through shard_assign: every (doc, epoch) copy gets an md5 shard in
      [0,8) and a reproducible in-shard order key, the writer layout of
      training shards (repartition(shard) + sortWithinPartitions(order))
      with NO global sort. One generator-explode projection, zero
      shuffle.

    All slices stay byte-reproducible across engines, partitionings and
    reruns — the oracle recomputes every row from md5 arithmetic.

    Round-6 merge (session 2): 'split' tagged rows pin the NEW
    sample.split_assign (deterministic train/val/test hash split,
    0.8/0.1/0.1 — sorted-label cumulative intervals over
    md5(doc_id)/2^32; the label rides ``order_key``).

    Round-7 merge (session 2): 'zorder' tagged rows pin the NEW
    sample.zorder_key (Morton bit-interleave over (n_chars, doc_id) with
    fixed bounds, 8 bits each — the multi-dimensional file-layout key
    whose write order makes footer min/max stats skip files on EITHER
    column's predicate; every shift/mask re-derived in SQL, the key
    rides ``order_key`` zero-padded).

    Round-9 merge (session 2): the NEW pipeline.dsir importance-
    resampling selector, two slices. 'dsirc' pins the index BUILD —
    hashed (uni+bi)gram bucket counts for target (lang='en') vs raw
    (whole corpus), INTEGER-exact cross-engine (doc_id=bucket,
    epoch=target count, shard=raw count). 'dsirw' pins the SCORING
    pass — every document's log importance weight under the pinned
    64-bucket literal ratio table (_DSIR_RATIOS), computed as a codegen
    left fold and re-derived BIT-exactly in SQL via
    list_dot_product(vals, ones) over the identical literals; the
    weight rides order_key as floor(logw * 1e6) so the compare stays
    integer-exact. A 'qbuck' slice pins text.score_buckets (CCNet-style
    per-language EXACT quantile terciles of n_chars — Spark's exact
    interpolated percentile bit-matches DuckDB quantile_cont, so the
    bucket ids compare integer-exact; bucket rides epoch).

    Round-12 merge: a 'cgate' slice pins the COMPOSED gate's cutoffs
    tier end to end — pipeline.curate.build_curation_artifacts freezes
    per-lang exact quality_score terciles on the % 4 != 0 reference
    corpus (cutoffs_exact=True), gate_shard buckets the % 4 == 0 shard
    against the artifact's own grouping columns (the authoritative-
    grouping discipline); the oracle re-derives the composite score
    (same IEEE-double op order), corpus terciles, and strict->
    bucketing from first principles. Bucket rides epoch."""
    from .pipeline.sample import (
        mix_corpus, shard_assign, split_assign, stratified_sample,
        zorder_key,
    )

    docs = load(spark, sf_dir, "documents")
    samp = stratified_sample(
        docs, "doc_id", "lang", _SAMPLE_FRACTIONS, _SAMPLE_DEFAULT
    ).select(
        F.lit("sample").alias("tag"), "doc_id", "lang", "source",
        F.lit(-1).alias("epoch"), F.lit(-1).alias("shard"),
        F.lit("").alias("order_key"),
    )
    mixed = mix_corpus(
        docs, "doc_id", "lang", _MIX_WEIGHTS, _MIX_DEFAULT
    )
    sharded = shard_assign(
        mixed, ["doc_id", "epoch"], 8, salt="e0"
    ).select(
        F.lit("mixshard").alias("tag"), "doc_id", "lang", "source",
        F.col("epoch").cast("int").alias("epoch"),
        F.col("shard").cast("int").alias("shard"), "order_key",
    )
    split = split_assign(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select(
        F.lit("split").alias("tag"), "doc_id", "lang", "source",
        F.lit(-1).alias("epoch"), F.lit(-1).alias("shard"),
        F.col("split").alias("order_key"),
    )
    zo = zorder_key(docs, _ZORDER_BOUNDS, bits=8).select(
        F.lit("zorder").alias("tag"), "doc_id", "lang", "source",
        F.lit(-1).alias("epoch"), F.lit(-1).alias("shard"),
        F.lpad(F.col("zorder").cast("string"), 6, "0").alias("order_key"),
    )
    from .pipeline.dsir import dsir_logweights, dsir_ngram_counts

    tcnt = dsir_ngram_counts(
        docs.filter(F.col("lang") == "en"), "text", n_buckets=_DSIR_B
    ).withColumnRenamed("cnt", "_ct")
    rcnt = dsir_ngram_counts(docs, "text", n_buckets=_DSIR_B)
    # left join FROM raw: the target corpus is a subset of raw, so every
    # target bucket is raw-occupied
    cnts = rcnt.join(tcnt, "bucket", "left").select(
        F.lit("dsirc").alias("tag"),
        F.col("bucket").cast("bigint").alias("doc_id"),
        F.lit("").alias("lang"), F.lit("").alias("source"),
        F.coalesce("_ct", F.lit(0)).cast("int").alias("epoch"),
        F.col("cnt").cast("int").alias("shard"),
        F.lit("").alias("order_key"),
    )
    wts = dsir_logweights(docs, "doc_id", "text", _DSIR_RATIOS).select(
        F.lit("dsirw").alias("tag"), "doc_id", "lang", "source",
        F.lit(-1).alias("epoch"), F.lit(-1).alias("shard"),
        F.floor(F.col("dsir_logw") * F.lit(1e6))
        .cast("bigint").cast("string").alias("order_key"),
    )
    from .pipeline.text import score_buckets

    qb = score_buckets(
        docs.withColumn("_s", F.col("n_chars").cast("double")),
        "_s", by=["lang"], n_buckets=3, exact=True, out="_qb",
    ).select(
        F.lit("qbuck").alias("tag"), "doc_id", "lang", "source",
        F.col("_qb").cast("int").alias("epoch"),
        F.lit(-1).alias("shard"), F.lit("").alias("order_key"),
    )
    # round-12 'cgate' slice: the COMPOSED gate's cutoffs tier —
    # build_curation_artifacts freezes per-lang EXACT quality-score
    # terciles on the % 4 != 0 reference corpus, gate_shard buckets the
    # % 4 == 0 shard against the ARTIFACT's own grouping columns (the
    # authoritative-grouping discipline, now oracle-pinned end to end:
    # quality_score composite -> frozen per-group cutoffs -> broadcast
    # apply; bucket rides epoch). The oracle recomputes the composite
    # score + corpus terciles + strict-> bucketing from first
    # principles in SQL.
    from .pipeline.curate import (
        CurationConfig, build_curation_artifacts, gate_shard,
    )

    _ccfg = CurationConfig(tiers=("cutoffs",), lang_col="lang",
                           quality_buckets=3, cutoffs_exact=True)
    _cd = _scratch_artifact(
        "cgate", sf_dir,
        lambda d: build_curation_artifacts(
            docs.filter(F.col("doc_id") % 4 != 0), d + "/art",
            "doc_id", "text", _ccfg,
        ),
    )
    cg = gate_shard(
        docs.filter(F.col("doc_id") % 4 == 0), _cd + "/art",
        "doc_id", "text", _ccfg,
    )["cutoffs"].select(
        F.lit("cgate").alias("tag"), "doc_id", "lang", "source",
        F.col("q_bucket").cast("int").alias("epoch"),
        F.lit(-1).alias("shard"), F.lit("").alias("order_key"),
    )
    return (
        samp.unionByName(sharded).unionByName(split).unionByName(zo)
        .unionByName(cnts).unionByName(wts).unionByName(qb)
        .unionByName(cg)
    )


_DSIR_B = 64
# pinned log importance-ratio table for the 'dsirw' slice (64 buckets;
# numpy default_rng(7).normal(0, 0.1) rounded to 6dp — arbitrary but
# realistic magnitudes, embedded as IDENTICAL literals in the Spark plan
# and the SQL text so the fold is bit-exact cross-engine)
_DSIR_RATIOS = [
    0.000123, 0.029875, -0.027414, -0.089059, -0.045467, -0.099165,
    0.006014, 0.134022, -0.049221, -0.062047, 0.048984, 0.035689,
    0.010541, -0.093047, -0.002925, 0.06953, -0.134421, -0.045762,
    -0.190122, -0.128954, -0.184174, -0.023509, -0.126745, 0.027126,
    0.015675, -0.018693, -0.251676, -0.053869, -0.00485, 0.011331,
    -0.153014, -0.047775, -0.097852, -0.080884, 0.10609, -0.080753,
    -0.003252, 0.088439, -0.05836, -0.01117, 0.011046, 0.006378,
    -0.122506, 0.007614, 0.135882, -0.154714, 0.085938, 0.011935,
    -0.064147, 0.200042, 0.076226, -0.119929, 0.007452, 0.057669,
    -0.018878, 0.068291, -0.006652, 0.066725, 0.143852, -0.067566,
    0.020314, -0.046331, 0.012727, -0.118719,
]


# zorder slice constants: fixed bounds (clamped; deterministic whatever
# the sf), 8 bits per column, (n_chars, doc_id) interleaved LSB-first
_ZORDER_BOUNDS = {"n_chars": (0.0, 1000.0), "doc_id": (0.0, 8192.0)}


def _zorder_cell_sql(col: str, lo: float, hi: float, bits: int = 8) -> str:
    """The exact arithmetic of sample.zorder_key's cell expression:
    clamp -> unit-scale -> floor to [0, 2^bits)."""
    top = (1 << bits) - 1
    return (
        f"least(CAST(floor(((least(greatest(CAST({col} AS DOUBLE), {lo!r}),"
        f" {hi!r}) - {lo!r}) / {hi - lo!r}) * {float(1 << bits)!r}) AS BIGINT),"
        f" {top})"
    )


def _zorder_key_sql(bits: int = 8) -> str:
    cells = [
        _zorder_cell_sql(c, lo, hi, bits)
        for c, (lo, hi) in _ZORDER_BOUNDS.items()
    ]
    n = len(cells)
    terms = [
        f"((({c} >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i, c in enumerate(cells)
    ]
    return " + ".join(terms)


SQL_DOCS_SAMPLE = f"""
    WITH samp AS (
        SELECT 'sample' AS tag, doc_id, lang, source,
               -1 AS epoch, -1 AS shard, '' AS order_key
        FROM documents
        WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                  / 4294967296.0 <
              CASE lang
                  WHEN 'en' THEN {_SAMPLE_FRACTIONS['en']!r}
                  WHEN 'de' THEN {_SAMPLE_FRACTIONS['de']!r}
                  WHEN 'zh' THEN {_SAMPLE_FRACTIONS['zh']!r}
                  ELSE {_SAMPLE_DEFAULT!r}
              END
    ), w AS (
        SELECT doc_id, lang, source,
               CASE lang
                   WHEN 'en' THEN {_MIX_WEIGHTS['en']!r}
                   WHEN 'de' THEN {_MIX_WEIGHTS['de']!r}
                   WHEN 'zh' THEN {_MIX_WEIGHTS['zh']!r}
                   ELSE {_MIX_DEFAULT!r}
               END AS wt
        FROM documents
    ), mixed AS (
        SELECT doc_id, lang, source, e.epoch
        FROM w, LATERAL (
            SELECT unnest(range(0, floor(wt)::BIGINT + 1)) AS epoch
        ) e
        WHERE e.epoch < floor(wt)
           OR ('0x' || substr(md5(doc_id::VARCHAR || ':' || e.epoch::VARCHAR),
                              1, 8))::BIGINT / 4294967296.0 < wt - floor(wt)
    ), sharded AS (
        SELECT 'mixshard' AS tag, doc_id, lang, source, epoch::INTEGER AS epoch,
               (('0x' || substr(h, 1, 8))::BIGINT % 8)::INTEGER AS shard,
               h AS order_key
        FROM (
            SELECT *, md5(doc_id::VARCHAR || ':' || epoch::VARCHAR || ':' || 'e0') AS h
            FROM mixed
        )
    )
    , splitq AS (
        SELECT 'split' AS tag, doc_id, lang, source, -1 AS epoch,
               -1 AS shard,
               CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                             / 4294967296.0 < 0.1 THEN 'test'
                    WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                             / 4294967296.0 < 0.9 THEN 'train'
                    ELSE 'val' END AS order_key
        FROM documents
    )
    , zo AS (
        SELECT 'zorder' AS tag, doc_id, lang, source, -1 AS epoch,
               -1 AS shard,
               lpad(CAST(({_zorder_key_sql()}) AS VARCHAR), 6, '0')
                   AS order_key
        FROM documents
    )
    , ds_toks AS (
        SELECT doc_id, lang, source,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ), ds_grams AS (
        SELECT doc_id, lang, source,
               list_concat(
                   toks,
                   CASE WHEN len(toks) >= 2 THEN
                       list_transform(range(1, len(toks)),
                                      i -> array_to_string(
                                          toks[i:i+1], ' '))
                   ELSE [] END
               ) AS grams
        FROM ds_toks
    ), ds_buckets AS (
        SELECT lang,
               ('0x' || substr(md5(g.gram), 1, 8))::BIGINT % {_DSIR_B}
                   AS bucket
        FROM ds_grams, LATERAL unnest(grams) AS g(gram)
    ), ds_t AS (
        SELECT bucket, count(*) AS c FROM ds_buckets
        WHERE lang = 'en' GROUP BY bucket
    ), ds_r AS (
        SELECT bucket, count(*) AS c FROM ds_buckets GROUP BY bucket
    ), dsirc AS (
        SELECT 'dsirc' AS tag, r.bucket::BIGINT AS doc_id,
               '' AS lang, '' AS source,
               coalesce(t.c, 0)::INTEGER AS epoch, r.c::INTEGER AS shard,
               '' AS order_key
        FROM ds_r r LEFT JOIN ds_t t USING (bucket)
    ), dsirw AS (
        SELECT 'dsirw' AS tag, doc_id, lang, source,
               -1 AS epoch, -1 AS shard,
               CAST(floor(
                   list_dot_product(vals, list_transform(vals, x -> 1.0))
                   * 1000000.0) AS BIGINT)::VARCHAR AS order_key
        FROM (
            SELECT doc_id, lang, source,
                   list_transform(
                       grams,
                       x -> ({_DSIR_RATIOS!r})[
                           ((('0x' || substr(md5(x), 1, 8))::BIGINT
                             % {_DSIR_B}) + 1)::INT]) AS vals
            FROM ds_grams
        )
    )
    , qcut AS (
        SELECT lang,
               quantile_cont(n_chars::DOUBLE, [1.0/3, 2.0/3]) AS th
        FROM documents GROUP BY lang
    ), qbuck AS (
        SELECT 'qbuck' AS tag, d.doc_id, d.lang, d.source,
               (1 + len(list_filter(qcut.th,
                                    t -> d.n_chars::DOUBLE > t)))::INTEGER
                   AS epoch,
               -1 AS shard, '' AS order_key
        FROM documents d
        JOIN qcut ON d.lang IS NOT DISTINCT FROM qcut.lang
    )
    -- round-12 'cgate': the composed gate's cutoffs tier — the
    -- quality_score composite re-derived term by term (same IEEE-double
    -- op order as the Spark expression), per-lang exact terciles frozen
    -- on the % 4 != 0 corpus, strict-> bucketing of the % 4 == 0 shard
    , cgq AS (
        SELECT doc_id, lang, source,
               least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
               + (1.0 - least((CASE WHEN n_chars > 0
                     THEN (n_chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE / n_chars
                     ELSE 0.0 END) * 4.0, 1.0)) * 0.3
               + (1.0 - least((CASE WHEN n_chars > 0
                     THEN (n_chars - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / n_chars
                     ELSE 0.0 END) * 4.0, 1.0)) * 0.2
               + least((CASE WHEN len(toks) > 0
                     THEN len(list_filter(toks, t -> t IN ({_STOP_SQL})))::DOUBLE / len(toks)
                     ELSE 0.0 END) * 5.0, 1.0) * 0.1 AS q,
               doc_id % 4 = 0 AS is_shard
        FROM (
            SELECT doc_id, lang, source, text, length(text) AS n_chars,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x != '') AS toks
            FROM documents
        )
    ), cgcut AS (
        SELECT lang, quantile_cont(q, [1.0/3, 2.0/3]) AS th
        FROM cgq WHERE NOT is_shard GROUP BY lang
    ), cgate AS (
        -- LEFT join: apply_cutoffs routes a shard group ABSENT from
        -- the reference corpus to a NULL bucket (never drops the row)
        SELECT 'cgate' AS tag, q.doc_id, q.lang, q.source,
               (1 + len(list_filter(cgcut.th, t -> q.q > t)))::INTEGER
                   AS epoch,
               -1 AS shard, '' AS order_key
        FROM cgq q
        LEFT JOIN cgcut ON q.lang IS NOT DISTINCT FROM cgcut.lang
        WHERE q.is_shard
    )
    SELECT * FROM samp UNION ALL SELECT * FROM sharded
    UNION ALL SELECT * FROM splitq UNION ALL SELECT * FROM zo
    UNION ALL SELECT * FROM dsirc UNION ALL SELECT * FROM dsirw
    UNION ALL SELECT * FROM qbuck UNION ALL SELECT * FROM cgate
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# Exactly 50 entries — the driver's correctness gate checks the FIRST 50
# registry positions, so the whole registered surface must fit inside that
# window (near-duplicate queries are merged rather than dropped: p1
# families -> p1_response, Q2 -> q1_predict_link, weighted AUC ->
# q10_score_auc, minhash estimate -> dedup_minhash_lsh, token/quality/
# langid -> text_stats, winnow -> text_fingerprint, audio ->
# multimodal_features; sim_ivf_cells was a pure projection of
# sim_ivf_assign and is gone).
#
# Round-4 merges (freeing slots for the packing / decontamination /
# sampling operators, every hash check preserved inside the merged
# output): Q8 + Q9 -> q8_q9_score (one row, all four measures);
# sparse_xtv -> sparse_ingest (tagged tall union over the shared events
# triplet fixture); dedup_minhash signatures -> dedup_minhash_lsh
# ('sig'-tagged rows alongside the 'pair' candidate rows).
#
# Round 5: no additions or merges (still exactly 50); the two remaining
# no_oracle entries gained oracles in place — multimodal_features is now
# a full per-doc value-hash oracle (DuckDB re-derives the deterministic
# fake-decoder byte math from character codes), dedup_embedding_lsh is a
# contract oracle (subset_ok / recall >= pinned bound / cross-engine
# exact-pair count) over the new banded OR-amplified LSH.
#
# Round-6 merges (still exactly 50): the sparse POST-FIT surface
# (predict_sparse / score_sparse / score_path_sparse — the pieces
# cv_fit_sparse composes) rides inside sparse_fit as tagged 'score'/'pred'
# rows computed by the REAL operators over the pinned-beta model and
# hash-matched against DuckDB's recomputation; r_lambda_sequences gains
# 'sigma_grid' / 'prox' / 'strong_rule' / 'kkt_check' tagged rows (R6, F1,
# F8, F9 — the last pytest-only operators) with first-principles SQL
# oracles; docs_sample_stratified gains a 'mixshard' tagged slice — the
# NEW mix_corpus (epoch upsampling, weights > 1) fed through shard_assign
# (md5 shard + reproducible order key, the training-shard writer layout),
# every row recomputed from md5 arithmetic in the oracle;
# events_windowed_agg gains an 'asof' tagged slice — the NEW
# ops.asof.asof_join (union + one window carry, never a range join)
# pinned against DuckDB's NATIVE ASOF LEFT JOIN.
#
# Round-6 session-2 merges (still exactly 50): events_sessionize gains
# 'rollup_hour'/'rollup_day' slices (the NEW ops.rollup.time_rollup —
# every grain in ONE shuffle via a grain/date_trunc explode; oracle =
# per-grain GROUP BY) and a 'range' slice (the NEW ops.rangejoin
# .range_join — point-in-interval as a bucket equi-join; oracle =
# DuckDB's direct inequality join); sim_cosine_topk gains a 'bm25'
# slice (the NEW pipeline.search inverted-index + Lucene-BM25 top-k,
# idf/tf-normalization recomputed from first principles in SQL);
# text_stats gains the NEW Gopher-rule flag columns (same projection,
# six boolean columns re-derived in SQL); sparse_ingest gains a
# 'hashvec' slice (the NEW pipeline.vectorize.hashing_vectorizer,
# md5-bucket arithmetic recomputed in SQL); dedup_ngram3_jaccard gains
# an 'edit' slice (the NEW dedup.edit_distance_verify exact-verification
# tier, both engines' builtin Levenshtein pinned); text_fingerprint
# gains the NEW stupid-backoff bigram-LM quality column (lm_logprob —
# counts re-trained and every bigram re-scored in SQL);
# multimodal_features gains the NEW perceptual average-hash column
# (multimodal.image_ahash — integer-exact bit rule so the oracle
# recomputes every bit from character codes, zero floats);
# text_pack_chunks gains a 'chunk' slice (the NEW text.chunk_text
# sliding-window RAG chunking, windows re-sliced in SQL);
# docs_sample_stratified gains a 'split' slice (the NEW
# sample.split_assign deterministic train/val/test hash split);
# events_windowed_agg gains a 'funnel' slice (the NEW ops.funnel.funnel
# greedy ordered-step conversion depth — one F.aggregate fold per key,
# oracle = sequential min-after-t CTEs, provably the same greedy).
#
# Round-7 merges (still exactly 50) — the last three operators without a
# CORRECTNESS row gain oracles: p2_standardize_scales gains 'profile_*'
# tagged rows (ops.profile.profile_table over 3 numeric + 1 string
# lineitem columns; exact metrics recomputed in SQL, sketch metrics
# pinned by a per-column bound-check indicator row — see the query
# docstring); sim_cosine_topk gains an 'rrf' slice (search.rrf_fuse of
# the already-oracled bm25 + cosine rankings, every 1/(60+rank)
# contribution and the fused re-rank re-derived in SQL); text_stats
# gains bp_clean_md5 / bp_n_kept columns (text.boilerplate_lines +
# strip_boilerplate with sep=' ' over the single-line word-bag fixture —
# index, anti-join, and positional re-assembly all rebuilt in SQL, the
# md5 pinning the reconstruction byte-exactly).
#
# Round-7 merge (session 2): f11_gaussian_path gains a 'grp' tag column —
# base slice grp='_all' (unchanged semantics), plus one KKT slice per
# l_returnflag segment pinning the NEW ops.grouped.fit_grouped (one
# in-core SLOPE path per segment through ONE applyInPandas shuffle): each
# segment's betas must match its independently pinned numpy_path_fit and
# both engines re-verify that optimum's sorted-L1 KKT feasibility from
# the segment's raw rows; sim_ivf_topk gains a 'pq' slice (the NEW
# product-quantization path: per-block nearest-code assignment + ADC
# lookup-table ranking, both re-derived in SQL from pinned codebook
# literals); text_stats gains c4_* columns (the NEW C4-style blocklist
# filters: text.badword_flags distinct-token hits + text.domain_flags
# host extraction with exact/subdomain blocking over a deterministic
# synthesized URL); docs_sample_stratified gains a 'zorder' slice (the
# NEW sample.zorder_key Morton file-layout key, every shift/mask
# re-derived in SQL); q1_predict_link gains a 'grouped' slice (the NEW
# ops.grouped.predict_grouped per-segment scoring: pivoted coefficient
# map + broadcast join, every row's lp re-derived as a per-group CASE
# from the pinned grouped-fit betas); sim_ivf_topk additionally gains an
# 'ivfpq' slice (the NEW two-level assign_ivfpq + ivfpq_topk: residual
# rebuilt via list_zip subtraction, residual codes + probed
# celldot-plus-ADC scores all re-derived from pinned literals);
# c1_cv_fit gains per-l_returnflag 'grp' slices (the NEW
# ops.grouped.cv_fit_grouped — in-core trainOwl CV per segment; every
# segment's per-fold test mse re-derived from pinned fold-refit betas).
#
# Round-8 merges (still exactly 50): q5_predict_multinomial gains a
# 'grpm' slice + fit_agrees column — the grouped layer's last family:
# one pinned 3-class model per l_linestatus segment, the engine's
# multinomial fit_grouped checked against the pins, and
# predict_grouped's flat-pivot broadcast softmax + argmax class
# re-derived in SQL as per-group CASE linear predictors through the
# identical stabilized-softmax template the base slice uses;
# q10_score_auc gains per-l_linestatus 'grp' rows (the NEW
# ops.score.auc_grouped per-SEGMENT rank AUC, unweighted + weighted,
# re-derived through the same grouped-cumulative SQL with the windows
# PARTITIONed by segment); sim_ivf_topk gains a 'knn' slice (the NEW
# similarity.ivf_knn_join many-queries k-NN JOIN — queries as a
# DataFrame, probe cells from the pinned centroid cosines, cell
# equi-join + exact cosine + rank, all re-derived in SQL);
# dedup_embedding gains a 'cells' slice (the NEW SemDeDup
# dedup.embedding_cell_pairs — pinned-centroid cell assignment +
# within-cell pair equi-join, both re-derived in SQL).
#
# Round-9 merges (still exactly 50): sim_ivf_topk gains a 'knnpq' slice
# (the NEW similarity.ivfpq_knn_join COMPRESSED many-queries k-NN join —
# queries as a DataFrame against the codes-only ivfpq index, probe
# ranking/celldot/residual-ADC lookup tables all computed Spark-side as
# codegen folds and re-derived in SQL with list_dot_product over the
# identical literals) and a 'recon' slice (similarity.reconstruct_pq's
# codegen decode of the residual codes + cell-centroid add-back,
# element-wise rows re-built in SQL from CASE-picked codebook literals);
# sparse_ingest gains a 'qfilter' slice (pipeline.quality_model
# .score_quality end-to-end with the pinned _QF_BETAS model: md5 logtf
# featurization -> O(nnz) sparse predict -> sigmoid + keep gate, every
# probability re-derived in SQL).
#
# Round-9 merges (session 2, still exactly 50): dedup_exact gains a
# 'spans' slice (the NEW dedup.duplicate_spans exact-substring pass —
# recurring k-gram positions merged into maximal spans via the
# gaps-and-islands windows, re-derived in SQL with the identical md5
# gram hashes); docs_sample_stratified gains 'dsirc' + 'dsirw' slices
# (the NEW pipeline.dsir importance-resampling selector: integer-exact
# hashed-ngram bucket counts for target-vs-raw, and the per-document
# log importance weight under the pinned _DSIR_RATIOS literal table,
# re-derived BIT-exactly via DuckDB list_dot_product over the same
# literals). Late session-2 merges: dedup_exact also gains an 'sfrac'
# slice (span_dup_stats' covered-token / token counts, integer-exact);
# docs_sample_stratified also gains a 'qbuck' slice (score_buckets
# exact per-language terciles, bit-matching quantile_cont).
#
# Round-10 merges (still exactly 50): dedup_cc gains a 'canon' slice —
# the duplicate-cluster RETENTION POLICY dedup.canonical_by_score
# (keep each cluster's best-quality member: score desc, id asc
# tie-break, with member counts), re-derived in SQL as a row_number
# window over the identical recursive-CTE closure with score =
# length(text); dedup_minhash_lsh gains an 'inc' slice (the NEW
# incremental near-dup gate: write_minhash_index over the % 5 != 0
# corpus probed by the % 5 == 0 shard via minhash_candidates_against —
# by the parity contract the oracle is the one-shot pair CTE with a
# shard-membership WHERE); dedup_exact gains an 'xinc' slice (the NEW
# incremental exact gate write_content_index + exact_dedup_against:
# per-shard-doc canonical ids, index-wins-over-shard-min, never self);
# dedup_cc also gains an 'incm' slice (the NEW incremental cluster
# merge connected_components_against: a prior assignment over the
# non-shard pairs folded with the shard-touching pairs must land on
# the one-shot closure's labels exactly, per the star-edge argument in
# its docstring — the oracle is the same recursive-CTE closure).
#
# Round-11 merge (still exactly 50): dedup_exact gains a 'keep' slice —
# the COMPOSED keep policy curate.select_keepers over real exact +
# span gates (keepers = each content's canonical whose duplicated-
# token fraction is <= 0.5), re-derived in SQL as the min-id-per-md5
# join filtered by the integer-exact 2*covered <= n_tokens condition
# over the shared sp/toks CTEs. Pins the policy's semi-join
# composition, not just the tier outputs it consumes.
#
# Round-12 merge (still exactly 50): docs_sample_stratified gains a
# 'cgate' slice — the COMPOSED gate's cutoffs tier
# (build_curation_artifacts with cutoffs_exact=True freezing per-lang
# quality_score terciles on the % 4 != 0 corpus, gate_shard bucketing
# the % 4 == 0 shard against the artifact's own grouping columns), the
# oracle re-deriving composite score + terciles + strict-> bucketing
# from first principles. The artifact-authoritative grouping fix
# (31632cb) is now oracle-pinned, not just pytest-pinned.
QUERIES = {
    # §2.2 preprocessing + §2.3 penalty machinery
    "p1_response": q_p1_response,
    "p1_response_info": q_p1_response_info,
    "p2_standardize": q_p2_standardize,
    "p2_standardize_scales": q_p2_standardize_scales,
    "p5_dummy_code": q_p5_dummy_code,
    "r5_lambda_max": q_r5_lambda_max,
    "r_lambda_sequences": q_r_lambda_sequences,
    # §2.5 predict / score
    "q1_predict_link": q_q1_predict_link,
    "q3_q4_predict_response": q_q3_q4_predict_response,
    "q5_predict_multinomial": q_q5_predict_multinomial,
    "q6_coef_interpolation": q_q6_coef_interpolation,
    "q7_deviance": q_q7_deviance,
    "q8_q9_score": q_q8_q9_score,
    "q10_score_auc": q_q10_score_auc,
    "q11_score_multinomial": q_q11_score_multinomial,
    "q12_path_summary": q_q12_path_summary,
    # §2.6 CV
    "c1_cv_folds": q_c1_cv_folds,
    "c1_cv_summary": q_c1_cv_summary,
    "c1_cv_optima": q_c1_cv_optima,
    "c1_cv_fit": q_c1_cv_fit,
    # §2.4 solver surface (hard KKT-residual oracles)
    "f2_binomial_fit": q_f2_binomial_fit,
    "f6_poisson_fit": q_f6_poisson_fit,
    "f7_multinomial_fit": q_f7_multinomial_fit,
    "f11_gaussian_path": q_f11_gaussian_path,
    "f13_diagnostics": q_f13_diagnostics,
    # §2.1 sources / sinks + §2.7 plot outputs
    "s4_random_problem": q_s4_random_problem,
    "model_sink": q_model_sink,
    "v_plot_data": q_v_plot_data,
    # sparse path (S2/P3)
    "sparse_ingest": q_sparse_ingest,
    "sparse_fit": q_sparse_fit,
    # streaming-compatible event ops
    "events_windowed_agg": q_events_windowed_agg,
    "events_sessionize": q_events_sessionize,
    # pipeline extensions: dedup / similarity / text / multimodal
    "dedup_exact": q_dedup_exact,
    "dedup_token_jaccard": q_dedup_token_jaccard,
    "dedup_ngram3_jaccard": q_dedup_ngram3_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_cc": q_dedup_cc,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "sim_cosine_topk": q_sim_cosine_topk,
    "sim_ivf_assign": q_sim_ivf_assign,
    "sim_ivf_topk": q_sim_ivf_topk,
    "text_stats": q_text_stats,
    "text_fingerprint": q_text_fingerprint,
    "text_pack_chunks": q_text_pack_chunks,
    "text_decontaminate": q_text_decontaminate,
    "docs_sample_stratified": q_docs_sample_stratified,
    "multimodal_features": q_multimodal_features,
    "multimodal_frame_plan": q_multimodal_frame_plan,
}

_RAW_ORACLES = {
    "p1_response": SQL_P1_RESPONSE,
    "p1_response_info": SQL_P1_INFO,
    "p2_standardize": SQL_P2_STANDARDIZE,
    "p2_standardize_scales": SQL_P2_SCALES,
    "p5_dummy_code": SQL_P5_DUMMY,
    "r5_lambda_max": SQL_R5_LAMBDA_MAX,
    "q1_predict_link": SQL_Q1_LINK,
    "q3_q4_predict_response": SQL_Q3_Q4_RESPONSE,
    "q5_predict_multinomial": SQL_Q5_MULTINOMIAL,
    "q7_deviance": SQL_Q7_DEVIANCE,
    "q8_q9_score": SQL_Q8_Q9_SCORE,
    "q10_score_auc": SQL_Q10_AUC,
    "q11_score_multinomial": SQL_Q11_MULTINOMIAL,
    "q12_path_summary": SQL_Q12_PATH,
    "c1_cv_folds": SQL_C1_FOLDS,
    "c1_cv_summary": SQL_C1_SUMMARY,
    "c1_cv_optima": SQL_C1_OPTIMA,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_token_jaccard": SQL_DEDUP_JACCARD,
    "dedup_ngram3_jaccard": SQL_DEDUP_NGRAM3,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
    "dedup_cc": SQL_DEDUP_CC,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_embedding_lsh": SQL_DEDUP_EMBEDDING_LSH,
    "sim_cosine_topk": SQL_SIM_TOPK,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "text_stats": _text_stats_sql(),
    "text_fingerprint": SQL_TEXT_FINGERPRINT,
    "text_pack_chunks": SQL_TEXT_PACK,
    "text_decontaminate": SQL_TEXT_DECONTAMINATE,
    "docs_sample_stratified": SQL_DOCS_SAMPLE,
    "events_windowed_agg": SQL_EVENTS_WINDOW,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "sparse_ingest": SQL_SPARSE_INGEST,
    "multimodal_frame_plan": SQL_MM_FRAME_PLAN,
    "model_sink": SQL_MODEL_SINK,
    "v_plot_data": _v_plot_sql(),
}


def build_oracles(sf_dir: str = ORACLE_SF_DIR) -> dict[str, str]:
    """Materialize the oracle SQL for a scale factor: the data-dependent
    standardization literals (see _li_moments) are substituted into the
    templates so Spark and DuckDB share bit-identical constants."""
    zs = _z_sql(sf_dir)
    c, s = _li_moments(sf_dir)["l_extendedprice"]
    out = {
        k: v.replace("%%Z_SQL%%", zs)
        .replace("%%P1C%%", repr(c))
        .replace("%%P1S%%", repr(s))
        for k, v in _RAW_ORACLES.items()
    }
    for qname in _KKT_ORACLE_NAMES:
        out[qname] = (
            "SELECT *, TRUE AS fit_agrees FROM (" + _kkt_sql(sf_dir, qname) + ") ksub"
        )
    # f11 carries the round-7 grouped-fit slices (grp tag column)
    out["f11_gaussian_path"] = (
        "SELECT *, TRUE AS fit_agrees FROM (" + _f11_full_sql(sf_dir) + ") ksub"
    )
    # q1 carries the round-7 grouped-predict slice (slice tag column)
    out["q1_predict_link"] = (
        "SELECT 'base' AS slice, t.* FROM (" + out["q1_predict_link"] + ") t "
        "UNION ALL SELECT 'grouped' AS slice, g.* FROM ("
        + _q1_grouped_sql(sf_dir) + ") g"
    )
    # q5 carries the round-8 grouped-MULTINOMIAL slice (slice tag +
    # fit_agrees columns, the f11/q1 composition scheme)
    out["q5_predict_multinomial"] = (
        "SELECT 'base' AS slice, t.*, TRUE AS fit_agrees FROM ("
        + out["q5_predict_multinomial"] + ") t "
        "UNION ALL SELECT 'grpm' AS slice, g.*, TRUE AS fit_agrees FROM ("
        + _q5_grouped_sql(sf_dir) + ") g"
    )
    out["q6_coef_interpolation"] = _q6_interp_sql(sf_dir)
    out["f13_diagnostics"] = _f13_sql(sf_dir)
    out["s4_random_problem"] = _s4_sql()
    out["c1_cv_fit"] = _cv_fit_sql(sf_dir)
    out["r_lambda_sequences"] = _lambda_seq_sql()
    out["sim_ivf_assign"] = _ivf_assign_sql(sf_dir)
    out["sim_ivf_topk"] = _ivf_topk_sql(sf_dir)
    out["dedup_embedding"] = _dedup_embedding_sql(sf_dir)
    out["sparse_fit"] = _sparse_kkt_sql(sf_dir)
    return out


# The driver's correctness gate runs at ORACLE_SF_DIR (sf0.01). Built
# lazily (PEP 562): materializing the oracles runs the pinned reference
# fits, which bench/import paths that never read ORACLES shouldn't pay for.
def __getattr__(name):
    if name == "ORACLES":
        val = build_oracles(ORACLE_SF_DIR)
        globals()["ORACLES"] = val
        return val
    raise AttributeError(name)
