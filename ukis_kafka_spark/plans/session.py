"""SparkSession builder for tests and bench runs.

The driver supplies its own session to ``__spark_entry__``; this
builder exists for local pytest / bench use and encodes the local-mode
tuning from SURVEY.md §4: shuffle partitions ≈ cores (the default 200
would dominate sub-second queries), AQE on, UTC timezone (hash-parity
with the DuckDB oracle), Arrow for pandas interchange.

At cluster scale the same code works unchanged: shuffle partitions and
memory are deploy-time settings, and every operator here builds a
declarative plan that AQE re-sizes at runtime.

Python workers fork from ``plans.pydaemon`` (``spark.python.daemon.module``),
not from ``pyspark.daemon`` directly. On CPython ≤ 3.12 PySpark's
per-task ``importlib.invalidate_caches()`` makes every cached
zipimporter re-read ``pyspark.zip`` or the spark-core jar, ~170 ms per
Python task; the daemon module makes that re-read happen only when the
archive changed. On CPython ≥ 3.13 the refresh is already lazy and the
module only hands over to ``pyspark.daemon``. The package's parent
directory goes into ``spark.executorEnv.PYTHONPATH`` so the daemon can
import the module from any working directory (Spark puts its own
entries first).

Streaming checkpoints go through Spark's
``FileSystemBasedCheckpointFileManager``
(``spark.sql.streaming.checkpointFileManagerClass``), not the default
``FileContext``-based one. Every micro-batch writes an offset-log entry,
a commit-log entry, a file-source log entry and a state-store delta per
shuffle partition, each renamed in from a temp file. Without
``libhadoop``, ``FileContext.rename`` on the local file system resolves
symlinks by forking a ``readlink`` shell per path, 88 forks per batch of
the stream consumer; ``FileSystem.rename`` (``File.renameTo``, an atomic
replace on POSIX) forks none. The manager keeps what matters: Spark
still wraps the state files in its checksum manager (``.crc`` files
and state-file checksums stay), and ``createAtomic(path,
overwriteIfPossible=False)`` still refuses an existing file, so a
second writer on the same offset log still fails. ``setPermission``
still forks one ``chmod`` per written file (31 per batch); no setting
removes those without ``libhadoop``.
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
    package_parent = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
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
        .config("spark.python.daemon.module", "ukis_kafka_spark.plans.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", package_parent)
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        )
        .getOrCreate()
    )
