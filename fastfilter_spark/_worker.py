"""Python-worker set-up the package runs once per process, at import.

PySpark's ``setup_spark_files`` (``pyspark/worker_util.py``) ends every
task with ``importlib.invalidate_caches()``.  Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads its archive's whole
directory, and a worker holds one zipimporter per package it imported
from ``pyspark.zip``, the py4j zip or the spark-core jar (16 in a
library worker), so each task re-read those three archives 16 times:
about 0.2 CPU-s before any row.  CPython 3.13 only drops the cached
directory.

Inside a Spark task on CPython < 3.13, ``install_zip_invalidation_hook``
replaces that method with one that re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` changed since its last read, and
otherwise points the importer at the directory ``zipimport`` already
shares between importers of the archive.
"""

from __future__ import annotations

import os
import sys
import zipimport

__all__ = ["install_zip_invalidation_hook"]

_original_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before its directory was last read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.
    A changed, replaced or missing archive goes through the original
    method, so its re-read and its ``ZipImportError`` path are CPython's."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stamps.pop(self.archive, None)
    _original_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


def install_zip_invalidation_hook() -> bool:
    """Install the stat-checked ``invalidate_caches`` in this process if
    it is running a Spark task on CPython < 3.13; a no-op on the driver,
    in a plain Python process and on 3.13+.  Returns whether the hook is
    installed."""
    if sys.version_info >= (3, 13):
        return False
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return True
    from pyspark import TaskContext
    if TaskContext.get() is None:
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True
