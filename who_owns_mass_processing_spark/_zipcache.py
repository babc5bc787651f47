"""Stat-gated ``zipimporter.invalidate_caches`` for Python < 3.12.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task.  Before CPython 3.12 (gh-103200) each zipimporter answers by
re-parsing its archive's central directory — for ``pyspark.zip``, ~26.7k
entries times one importer per package prefix, ~0.2 CPU-s per task.  The
wrapper re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the last read's, so a changed or new archive is still seen.
Importers of one archive share that read.  Installed on package import,
which every engine UDF triggers in its worker when it unpickles.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reads: dict[str, tuple[tuple[int, int] | None, dict]] = {}  # archive -> (stat, listing)


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Idempotent: a second call finds the wrapper and leaves it alone."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or getattr(reread, "_stat_gated", False):
        return

    def invalidate_caches(self) -> None:
        key = _stat_key(self.archive)
        seen = _reads.get(self.archive)
        if key is not None and seen is not None and seen[0] == key:
            self._files = seen[1]
            return
        reread(self)  # stat first: a write racing the read re-reads next time
        _reads[self.archive] = (key, self._files)

    invalidate_caches._stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
