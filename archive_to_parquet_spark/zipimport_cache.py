"""Stat-checked ``zipimporter.invalidate_caches``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13, that makes every ``zipimporter`` in ``sys.path_importer_cache``
re-read its archive's whole central directory in pure Python, once per
importer: ``pyspark.zip`` alone has one importer per imported
subpackage, so a task re-parses that 1,328-entry archive 16-17 times
(about 0.16 CPU-s) before any engine code runs.

``install()`` wraps ``invalidate_caches`` so an archive is re-read only
when its ``(st_mtime_ns, st_size, st_ino)`` changed since the last read;
importers of the same archive then share that read. An unchanged archive
costs one ``stat``. From 3.13 on, ``zipimporter`` re-reads lazily
(``_get_files``) and ``install()`` leaves it alone.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (stat key at read time, the directory dict that read built)
_reads: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install(cls: type = zipimport.zipimporter) -> bool:
    """Wrap ``cls.invalidate_caches``; True when the wrapper is active.
    Installing twice is a no-op."""
    if hasattr(cls, "_get_files"):
        return False
    original = cls.invalidate_caches
    if getattr(original, "_stat_checked", False):
        return True

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        seen = _reads.get(self.archive)
        if key is not None and seen is not None and seen[0] == key:
            self._files = seen[1]
            return
        # stat before the read: a write racing the read leaves a stale
        # key behind, which only forces one more re-read next time
        original(self)
        if key is None:
            _reads.pop(self.archive, None)
        else:
            _reads[self.archive] = (key, self._files)

    invalidate_caches._stat_checked = True
    cls.invalidate_caches = invalidate_caches
    return True
