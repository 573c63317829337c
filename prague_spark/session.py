"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset: a
    quarter of physical memory, at most 48 GiB, and at least 1 GiB (half
    of memory on machines under 2 GiB), so the heap never asks for more
    than the machine has."""
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):  # no sysconf: non-POSIX
        return "4g"
    return f"{min(max(phys_mb // 4, min(1024, phys_mb // 2)), 48 * 1024)}m"


def get_spark(app_name: str = "prague_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # single-JVM local mode: driver heap IS the executor heap. With
        # 32 task threads an 8g heap GC-thrashes on wide codegen
        # aggregates (multi-second pauses showing up as 5-10x per-query
        # variance), so default generously: 32g on a 128 GiB box
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
