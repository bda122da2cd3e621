"""Python worker daemon: ``pyspark.daemon`` with one import-cache fix.

Every Python task runs ``importlib.invalidate_caches()`` (PySpark's
``worker_util.setup_spark_files``). Before CPython 3.12 that makes each
``zipimporter`` on the worker's path re-parse its archive's whole
directory at once: for ``pyspark.zip`` about 26,700 entries per
importer, roughly 0.25 CPU-s per task whatever the task does. The fix
re-reads an archive only when its ``(st_size, st_mtime_ns)`` differs
from the last read, and otherwise reuses ``zipimport``'s own cached
directory. CPython 3.12 made the re-read lazy (gh-103200), so the fix is
installed only before it.

``session.get_spark`` selects this module as ``spark.python.daemon.module``;
workers fork from the daemon and so inherit the fix. Importing the module
changes nothing: :func:`install` runs only when the daemon starts.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# per archive, like zipimport's own process-wide _zip_directory_cache:
# the (size, mtime) the cached directory was read at
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read of an
    archive unchanged since its last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (CPython < 3.12 only),
    taking the archives already read as current."""
    if sys.version_info >= (3, 12):
        return
    for archive in list(zipimport._zip_directory_cache):
        _stamps[archive] = _stamp(archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``; install from the
    # importable module so the workers' patch and its stamps live there
    from kinesis_vcr_spark import pydaemon
    from pyspark import daemon

    pydaemon.install()
    daemon.manager()
