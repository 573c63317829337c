"""prague_spark — a PySpark-native SLOPE (sorted-L1 regularized GLM) engine
with the query and data-processing capabilities of jolars/prague (the
``owl`` R package), rebuilt Spark-first, plus large-scale data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns).

Layering:
- ``prague_spark.core``     driver-side NumPy math (p-sized objects only)
- ``prague_spark.design``   distributed/in-core design-matrix backends
- ``prague_spark.ops``      DataFrame operators (SQL-verifiable)
- ``prague_spark.pipeline`` LLM-data-pipeline operators
- ``prague_spark.fit``      the path-fitting orchestration
"""

from .fit import fit
from .ops.asof import asof_join
from .ops.grouped import (
    cap_group_rows, cv_fit_grouped, cv_optimum_path, fit_grouped,
    load_grouped, predict_grouped, save_grouped, score_grouped,
)
from .ops.rangejoin import range_join
from .ops.rollup import time_rollup
from .model import SlopeModel
from .ops.cv import cv_fit
from .ops.predict import predict, predict_path
from .ops.score import auc, score, score_path, score_path_spark
from .ops.sparse import (
    cv_fit_sparse, fit_sparse, predict_sparse, score_path_sparse, score_sparse,
)
from .plan_audit import assert_scale_shape, audit
from .scope import scope
from .session import get_spark

__all__ = [
    "fit",
    "fit_grouped",
    "cv_fit_grouped",
    "cv_optimum_path",
    "cap_group_rows",
    "save_grouped",
    "load_grouped",
    "predict_grouped",
    "score_grouped",
    "asof_join",
    "range_join",
    "time_rollup",
    "SlopeModel",
    "cv_fit",
    "cv_fit_sparse",
    "predict",
    "predict_path",
    "score",
    "score_path",
    "score_path_spark",
    "score_path_sparse",
    "score_sparse",
    "fit_sparse",
    "predict_sparse",
    "auc",
    "audit",
    "assert_scale_shape",
    "get_spark",
    "scope",
]

__version__ = "0.1.0"
