"""simdcomp_spark — PySpark-native lightweight columnar compression.

Imported inside a Spark Python worker, the package installs
:func:`_install_zip_import_cache`; anywhere else importing it has no side
effect."""

import os
import sys
import zipimport


def _install_zip_import_cache() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that did not change.

    PySpark calls ``importlib.invalidate_caches()`` before every task
    (``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 that
    re-parses, in pure Python, the central directory of every zip a
    ``zipimporter`` holds: a worker has 16 of them over pyspark.zip, the
    Spark jar and py4j (~28k entries, 170-470 ms per task on a 4-core VM).
    The wrapper stats ``self.archive`` and calls the stdlib method only when
    ``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken before
    that importer's last read through it, so a changed, replaced or removed
    archive (``addPyFile``, ``--py-files``) is still re-read; a failing
    ``os.stat`` also falls through to the stdlib method.  Each importer's
    first call after installation still reads, and the worker's first task
    runs before the package is imported, so a worker pays the full cost in
    its first two tasks and then only a stat per archive; the wrapper lives
    as long as the (reused) worker process.  Installing it twice is a no-op."""
    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop("_simdcomp_read_stat", None)
            return original(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_simdcomp_read_stat", None) != key:
            original(self)
            self._simdcomp_read_stat = key

    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if "pyspark" in sys.modules:
    from pyspark import TaskContext
    if TaskContext.get() is not None:
        _install_zip_import_cache()
