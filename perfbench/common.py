"""Environment pinning, statistics and memory probes shared by the
benchmark workloads."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints without
    OMP_NUM_THREADS): the affinity mask, not ``os.cpu_count()``."""
    return len(os.sched_getaffinity(0))


def pin_env(workload: str, trace: bool) -> str:
    """Point every scratch location of Spark, the program and Python at
    a fresh directory inside the checkout, and size Spark to ``nproc``.

    Must run before the JVM starts: the settings are read at launch.
    Returns the run's work directory (wiped here)."""
    work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("local", "scratch", "tmp", "warehouse", "events", "data")}
    for d in dirs.values():
        os.makedirs(d)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = dirs["local"]
    env["SPARK_GRAFT_SCRATCH"] = dirs["scratch"]
    env["TMPDIR"] = dirs["tmp"]
    env["SPARK_DRIVER_MEMORY"] = "2g"
    env.pop("UKIS_KAFKA_BROKERS", None)  # the file twin of the topic, never a broker
    # every JVM (the spark-submit launcher too) keeps its temp files in
    # the work dir and writes no /tmp/hsperfdata file. C1 only: in a JVM
    # that lives well under a minute, C2 compiler threads compete with
    # the workload for the cores and spread run times by ~25 % from run
    # to run at the same seed (~7 % without C2)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    confs = [
        f"spark.sql.warehouse.dir={dirs['warehouse']}",
        "spark.sql.streaming.numRecentProgressUpdates=1000",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={dirs['events']}",
            "spark.eventLog.rolling.enabled=false",  # one plain JSON-lines file
            "spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(f'--conf "{c}"' for c in confs) + " pyspark-shell"
    tempfile.tempdir = dirs["tmp"]
    return work


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)
    except OSError:
        pass


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def parquet_rows(path: str) -> int:
    """Rows of a parquet directory, read from the file footers (no
    Spark job)."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Python driver plus the Spark JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    driver, jvm = _vm_hwm_kb("self") / 1024.0, _vm_hwm_kb(jvm_pid) / 1024.0
    log(f"peak RSS: driver {driver:.1f} MB, JVM {jvm:.1f} MB")
    return driver + jvm


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_steal_share() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
