"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py::setup_spark_files``). On CPython
3.11 each ``zipimporter`` then re-parses its archive's whole
directory: a worker holds one importer per imported package path inside
``pyspark.zip`` (1,328 entries) plus the py4j zip, about 14 re-reads and
~120 ms per task before any user code runs. :func:`install` wraps the
method so an importer re-reads its archive only when the archive's
``(st_ino, st_mtime_ns, st_size)`` differs from the last read, it was
never recorded, or the stat fails: a changed archive is still re-read.
"""

from __future__ import annotations

import os
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_guarded", False):
        return

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_archive_key", None):
            original(self)
        self._archive_key = key

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
