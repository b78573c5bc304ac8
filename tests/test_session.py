"""The Python worker daemon and the JVM ↔ Python sockets of
``plans.session.get_spark``.

``plans.pydaemon`` makes a zipimporter skip the per-task re-read of an
unchanged archive (CPython ≤ 3.12). These tests pin the saving inside
a real worker, the correctness of the skip on a zip that changes, the
CPython 3.13 guard, and that the daemon starts from any working
directory. The workers reach the JVM over Unix domain sockets in a
private directory per process: the tests pin the socket family inside
a worker, a deep ``java.io.tmpdir``, that no socket file or directory
outlives the process, and that a worker whose output is cut short
prints no ``BrokenPipeError`` traceback. ``get_spark`` leaves adaptive query
execution to Spark's defaults; a test pins that they stay on.
"""

from __future__ import annotations

import glob
import os
import stat
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from importlib.util import module_from_spec

import pytest

from ukis_kafka_spark.plans import pydaemon

from .conftest import REPO

LAZY_ZIPIMPORT = hasattr(zipimport.zipimporter, "_get_files")


def test_get_spark_relies_on_adaptive_execution_defaults(spark):
    """AQE and its partition coalescing are on without a setting of ours."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"


def test_python_worker_skips_unchanged_archive_rereads(spark):
    """Inside a worker, a refresh re-reads no archive (the parent read
    16: every cached importer over ``pyspark.zip`` and the spark-core jar)."""
    if LAZY_ZIPIMPORT:
        pytest.skip("zipimport refresh is already lazy on this CPython")

    def count_reads(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        original = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return original(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    rows = spark.range(40).repartition(4).mapInPandas(count_reads, "reads long").collect()
    assert len(rows) == 4
    assert [r.reads for r in rows] == [0, 0, 0, 0]


def test_python_worker_reaches_the_jvm_over_unix_sockets(spark):
    """Every socket a worker holds is ``AF_UNIX`` (``AF_INET`` over
    loopback TCP without the setting), in the session's socket
    directory, which only its owner may enter."""

    def sockets(batches):
        import os
        import socket

        import pandas as pd

        families = []
        for fd in os.listdir("/proc/self/fd"):
            try:
                if not os.readlink(f"/proc/self/fd/{fd}").startswith("socket:"):
                    continue
                with socket.socket(fileno=os.dup(int(fd))) as sock:
                    families.append(sock.family.name)
            except OSError:  # the listing's own fd, closed meanwhile
                pass
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"families": [",".join(sorted(set(families)))], "dir": [os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR")]}
        )

    sock_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    rows = spark.range(4).repartition(2).mapInPandas(sockets, "families string, dir string").collect()
    assert [(r.families, r.dir) for r in rows] == [("AF_UNIX", sock_dir)] * 2
    assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700


def _write_zip(path, module: str, padding: int = 0) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", f"NAME = {module!r}\n" + "#" * padding + "\n")


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    module = module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.skipif(LAZY_ZIPIMPORT, reason="zipimport refresh is already lazy on this CPython")
def test_zipimporter_refresh_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "m_a")
    monkeypatch.setattr(pydaemon, "_reads", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    assert pydaemon.install()
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    try:
        first, second = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
        assert _load(first, "m_a").NAME == "m_a"
        first.invalidate_caches()  # records the archive's stamp
        reads.clear()

        first.invalidate_caches()
        second.invalidate_caches()
        assert reads == []
        assert _load(second, "m_a").NAME == "m_a"

        before = os.stat(archive).st_mtime_ns
        _write_zip(archive, "m_b", padding=64)
        os.utime(archive, ns=(before + 10**9, before + 10**9))
        first.invalidate_caches()
        assert reads == [archive]
        assert _load(first, "m_b").NAME == "m_b"
        assert _load(first, "m_a") is None

        # the other importer still holds the old directory; it takes the
        # new one without reading the archive again
        second.invalidate_caches()
        assert reads == [archive]
        assert _load(second, "m_b").NAME == "m_b"

        os.remove(archive)  # stat fails: the original method runs
        first.invalidate_caches()
        assert _load(first, "m_b") is None
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


def test_install_leaves_lazy_zipimport_untouched(monkeypatch):
    """CPython ≥ 3.13 (``zipimporter._get_files``) keeps its own method."""
    monkeypatch.setattr(zipimport.zipimporter, "_get_files", lambda self: {}, raising=False)
    before = zipimport.zipimporter.invalidate_caches
    assert not pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_get_spark_runs_python_udf_outside_repo(tmp_path):
    """The daemon module is importable when neither the cwd nor
    ``PYTHONPATH`` leads to the repo: else every Python UDF fails. Also
    with a ``java.io.tmpdir`` of ≥ 90 characters (the benchmark points
    it into the checkout) the sockets bind: Spark's default socket path
    there is too long for ``AF_UNIX``."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from ukis_kafka_spark.plans import get_spark

        spark = get_spark("out-of-cwd")
        rows = spark.range(10).repartition(2).mapInPandas(lambda it: it, "id long").collect()
        assert sorted(r.id for r in rows) == list(range(10)), rows
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_CPUS="2")
    deep = tmp_path / ("d" * 90)
    deep.mkdir()
    for java_options in ({}, {"JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={deep}"}):
        proc = subprocess.run(
            [sys.executable, "-c", script],
            cwd=tmp_path,
            env=dict(env, **java_options),
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert proc.returncode == 0, (java_options, proc.stderr[-4000:])


def test_python_worker_cut_short_prints_no_broken_pipe(tmp_path):
    """``first()`` and ``take()`` stop reading a Python task's output
    early. Over a Unix socket the worker's last flush then fails with
    ``BrokenPipeError``; the daemon module ends that worker without
    printing the traceback, and the rows stay right."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from ukis_kafka_spark.plans import get_spark

        spark = get_spark("broken-pipe")
        for i in range(4):
            df = spark.createDataFrame([(i, '{{"a": %d}}' % i)], "id long, j string")
            assert df.select(F.get_json_object("j", "$.a").alias("a")).first().a == str(i)
            rows = spark.range(20).repartition(4).mapInPandas(lambda it: it, "id long")
            first, two = rows.first(), rows.take(2)
            assert 0 <= first.id < 20 and len(two) == 2 and len({{r.id for r in two}}) == 2, (first, two)
        spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=dict(os.environ, SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_CPUS="2"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "Broken pipe" not in proc.stderr, proc.stderr[-4000:]


def _marked_pids(marker: str) -> set[int]:
    """Live processes whose environment holds ``marker``."""
    pids = set()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if marker.encode() in fh.read():
                    pids.add(int(pid))
        except OSError:  # exited meanwhile, or not ours to read
            pass
    return pids


def test_no_process_outlives_a_stopped_session(tmp_path):
    """The JVM, the Python worker daemon and its workers all exit with a
    session stopped the way the benchmark stops it
    (``perfbench/common.stop_spark``). Every process of the run inherits
    a marker in its environment; the worker checks that it carries it,
    and afterwards no process with the marker may remain."""
    import time
    import uuid

    marker = f"session-leak-check-{uuid.uuid4().hex}"
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path[:0] = [{REPO!r}, {os.path.join(REPO, "perfbench")!r}]
        from common import stop_spark
        from ukis_kafka_spark.plans import get_spark

        def marker(batches):
            import os
            import pandas as pd
            for _ in batches:
                pass
            yield pd.DataFrame({{"m": [os.environ.get("UKIS_TEST_MARKER", "")]}})

        spark = get_spark("leak-check")
        print(spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir"))
        rows = spark.range(10).repartition(2).mapInPandas(marker, "m string").collect()
        assert [r.m for r in rows] == [{marker!r}] * 2, rows
        stop_spark(spark)
        """
    )
    env = dict(os.environ, UKIS_TEST_MARKER=marker, SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    deadline = time.monotonic() + 30  # the daemon may take a moment to see its JVM gone
    while _marked_pids(marker) and time.monotonic() < deadline:
        time.sleep(0.5)
    left = _marked_pids(marker)
    assert not left, [open(f"/proc/{pid}/cmdline", "rb").read()[:200] for pid in left]
    sock_dir = proc.stdout.split()[-1]
    assert sock_dir.startswith("/tmp/spark-uds-") and not os.path.exists(sock_dir)


def _uds_leftovers() -> set[str]:
    """Socket directories of ``get_spark`` and Spark's own default
    socket files in ``/tmp``."""
    return set(glob.glob("/tmp/spark-uds-*")) | set(glob.glob("/tmp/.*.sock"))


def test_unstopped_session_leaves_no_socket_files(tmp_path):
    """``cli consume-files`` never stops its session; its process exit
    still removes the socket directory with every socket in it."""
    from ukis_kafka_spark import cli

    from .test_cli import _write_geojson

    gj, topic = tmp_path / "in.geojson", str(tmp_path / "topic")
    _write_geojson(gj, n=5)
    assert cli.main(["produce", "--geojson", str(gj), "--topic-dir", topic]) == 0  # no JVM
    before = _uds_leftovers()
    proc = subprocess.run(
        [sys.executable, "-m", "ukis_kafka_spark.cli", "consume-files", "--topic-dir", topic, "--out", str(tmp_path / "out")],
        cwd=tmp_path,
        env=dict(os.environ, SPARK_DRIVER_MEMORY="1g", PYTHONPATH=REPO),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "wrote 5 features" in proc.stdout
    assert _uds_leftovers() - before == set()
