"""SparkSession builder for tests and bench runs.

The driver supplies its own session to ``__spark_entry__``; this
builder exists for local pytest / bench use and encodes the local-mode
tuning from SURVEY.md §4: shuffle partitions ≈ cores (the default 200
would dominate sub-second queries), AQE on, UTC timezone (hash-parity
with the DuckDB oracle), Arrow for pandas interchange.

At cluster scale the same code works unchanged: shuffle partitions and
memory are deploy-time settings, and every operator here builds a
declarative plan that AQE re-sizes at runtime.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores a local session runs on: ``SPARK_GRAFT_CPUS``, else all."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "ukis-kafka-spark", cpus: int | None = None) -> SparkSession:
    from pyspark.sql import SparkSession

    if cpus is None:
        cpus = local_cpus()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
