"""SparkSession builder for tests and bench runs.

The driver supplies its own session to ``__spark_entry__``; this
builder exists for local pytest / bench use and encodes the local-mode
tuning from SURVEY.md §4: shuffle partitions ≈ cores (the default 200
would dominate sub-second queries), AQE on (Spark's default), UTC
timezone (hash-parity with the DuckDB oracle), Arrow for pandas.

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
still forks one ``chmod`` per directory and per file a write creates;
no setting removes those without ``libhadoop``. A one-file Spark write
forks 9: the target, ``_temporary``, ``0``, ``_temporary`` and the
task attempt directory, the part file and its ``.crc``, and
``_SUCCESS`` and its ``.crc`` (``upsert_parquet`` writes no
``_SUCCESS``).

Python workers, the accumulator server and the local-data transfers
of ``createDataFrame`` / ``collect`` reach the JVM over Unix domain
sockets (``spark.python.unix.domain.socket.enabled``), not loopback
TCP. Over TCP every small Python task's job took ~45 ms longer: the
JVM's ends of those sockets set no ``TCP_NODELAY`` (``PythonWorkerFactory``
and ``BasePythonRunner`` never call ``setTcpNoDelay``), which leaves
Nagle's algorithm to meet the delayed ACK, and no Spark setting reaches
them. A 1-partition, 10-row ``mapInArrow`` job went 68–81 → 28–32 ms
(medians of 20, 4 vCPU); a traced ``stream_consume`` micro-batch
339 → 281 ms (p50). The sockets live in a directory of their own
(``spark.python.unix.domain.socket.dir``): ``/tmp/spark-uds-*``,
mode 0700, made once per process and removed when that process exits,
also when it never stops its session. Spark's default,
``<java.io.tmpdir>/.<uuid>.sock``, fails with ``AF_UNIX path too long``
under a deep ``java.io.tmpdir`` (the benchmark points it into the
checkout) and leaves a socket file behind for every session that is
not stopped.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores a local session runs on: ``SPARK_GRAFT_CPUS``, else all."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


# pid -> the socket directory that process made (a fork inherits the
# dict and the atexit hook, but makes and removes its own)
_socket_dirs: dict[int, str] = {}


def _remove_socket_dir(pid: int, path: str) -> None:
    if os.getpid() == pid:
        shutil.rmtree(path, ignore_errors=True)


def _python_socket_dir() -> str:
    """This process's private (0700) directory for the Unix domain
    sockets between the JVM and Python: made on first use, short enough
    for an ``AF_UNIX`` path, and removed when the process exits."""
    pid = os.getpid()
    if pid not in _socket_dirs:
        _socket_dirs[pid] = tempfile.mkdtemp(prefix="spark-uds-", dir="/tmp")
        atexit.register(_remove_socket_dir, pid, _socket_dirs[pid])
    return _socket_dirs[pid]


def get_spark(app_name: str = "ukis-kafka-spark") -> SparkSession:
    from pyspark.sql import SparkSession

    cpus = local_cpus()
    package_parent = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
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
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _python_socket_dir())
        .getOrCreate()
    )
