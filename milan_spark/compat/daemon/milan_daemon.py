"""PySpark worker daemon that makes Python task launch cheap on CPython < 3.12.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module and
puts its directory on the workers' ``PYTHONPATH``; it is a top-level module
so the daemon does not import the whole ``milan_spark`` package before it
forks workers.

The cost it removes: PySpark calls ``importlib.invalidate_caches()`` at the
start of every task (``worker_util.setup_spark_files``). On CPython 3.11 and
earlier, ``zipimporter.invalidate_caches`` re-reads the whole archive
directory, and a worker holds one zipimporter per package it imported from
``pyspark.zip`` (about 16, each re-reading the same 1 328-entry directory).
That is about 80 ms of CPU per task before any UDF code runs: 0.311 s of a
0.329 s trivial task under cProfile, and the time before a ``mapInPandas``
body starts falls from 109 to 30 ms without it. CPython 3.12 made the re-read
lazy (gh-103200), so there this module only delegates.

The guard keeps the invalidation contract: an archive is re-read when its
``(mtime_ns, size)`` differs from the one recorded at its last re-read, so a
zip that changed on disk is still picked up. Importers of an unchanged
archive rebind to the shared directory cache, which the importer that did
the re-read refreshed.

Run as ``python -m milan_daemon <worker module>``, the way Spark starts
``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_at: dict[str, tuple[int, int]] = {}  # archive -> (mtime_ns, size) at its last re-read
_reread = zipimport.zipimporter.invalidate_caches


def _archive_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    it changed on disk since its last re-read."""
    key = _archive_key(self.archive)
    if key is not None and _read_at.get(self.archive) == key:
        self._files = zipimport._zip_directory_cache.get(self.archive, {})
        return
    _reread(self)
    if key is not None:
        _read_at[self.archive] = key


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the guarded version
    (CPython < 3.12 only) and re-read every archive once, so forked workers
    start with every archive recorded."""
    if sys.version_info >= (3, 12):
        return
    import importlib

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()


if __name__ == "__main__":
    import pyspark.daemon  # reads the worker module from sys.argv[1]

    install()
    pyspark.daemon.manager()
