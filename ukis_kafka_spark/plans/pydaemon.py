"""Python worker daemon: PySpark's own, with a cheap ``zipimport`` refresh.

``get_spark`` names this module in ``spark.python.daemon.module``, so
Spark runs ``python -m ukis_kafka_spark.plans.pydaemon`` once and forks
every Python worker from it. Run as a script, the module patches
``zipimport.zipimporter.invalidate_caches`` (see ``install``) and then
hands over to ``pyspark.daemon.manager``.

Why: PySpark calls ``importlib.invalidate_caches()`` at the start of
every task, also on a reused worker. Up to CPython 3.12 a zipimporter
answers that by re-reading the whole central directory of its archive,
once for each cached importer: about 16 in a warm worker, over
``pyspark.zip`` and the spark-core jar that Spark puts on the worker's
``sys.path``. That is ~170 ms of fixed cost on every Python task. The
patched method re-reads an archive only when its ``(st_mtime_ns,
st_size)`` differs from the last read, the same kind of stamp that
``importlib``'s ``FileFinder`` keeps for a directory. CPython 3.13
made the call lazy (the class grew ``_get_files``); there ``install``
changes nothing.
"""

from __future__ import annotations

import os
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> ((st_mtime_ns, st_size) taken before the read, the
# ``_files`` dict that read produced)
_reads: dict[str, tuple[tuple[int, int], dict]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    An importer whose archive still has the stamp of its last read gets
    that read's directory (each importer holds its own ``_files``
    reference, so one that holds an older dict is brought up to date
    without a read). Otherwise, and whenever ``stat`` fails, this is
    the original method, which reads the directory again.
    """
    try:
        st = os.stat(self.archive)
    except OSError:
        _eager_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    last = _reads.get(self.archive)
    if last is not None and last[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _eager_invalidate(self)
    if self.archive in zipimport._zip_directory_cache:  # else the read failed
        _reads[self.archive] = (stamp, self._files)


def install() -> bool:
    """Patch ``zipimporter`` where its refresh is still eager (CPython
    ≤ 3.12); return whether it was patched."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    import importlib

    install()
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # one read per archive; forked workers inherit it
    manager()
