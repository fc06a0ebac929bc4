"""Worker-side setup shared by the package's Python task bodies.

Why this exists: before every task, PySpark's worker runs
``setup_spark_files``, which ends with ``importlib.invalidate_caches()``.
Up to CPython 3.12 that call makes every cached ``zipimporter`` re-read
its archive's central directory at once, and PySpark's own package comes
from ``pyspark.zip`` (about 1,300 entries), reached through one importer
per imported subpackage (16 in a typical task). Parsed in pure Python,
those re-reads are the largest fixed cost of a small Python task —
about 0.2 s on a 4-vCPU host, more than a JVM-only job takes in total.
CPython 3.13 makes the invalidation lazy; earlier interpreters do not.

``stat_checked_zipimport`` replaces ``zipimporter.invalidate_caches``
with a version that re-reads an archive's directory only when the
archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken
just before its last re-read, and shares that one re-read among all the
importers of the archive. The condition that must hold, and does: the
directory is re-read whenever the archive changes (is rewritten,
replaced or removed), so a changed zip is picked up exactly as before.
The stat is taken before the read, so a change that races the read is
seen at the next invalidation. Like CPython's own path-entry finder,
it relies on the stat: an in-place rewrite to the same size within
one tick of the filesystem's mtime clock would go unseen.

Call it first in every Python task body (UDF, ``mapInArrow`` or
``applyInPandas`` function). Python workers are reused across tasks, so
the first task of each worker still pays PySpark's own re-reads, which
run before any user code, and the second one shared re-read per archive
to record its stat; every later task on that worker skips them,
whichever layer submitted it.
"""

from __future__ import annotations

import os
import zipimport

_original = zipimport.zipimporter.invalidate_caches
# archive path -> (stat taken before its last re-read, the directory read)
_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches``, skipping the re-read of an
    archive unchanged since its last one."""
    stamp = _stamp(self.archive)
    seen = _read.get(self.archive)
    cache = zipimport._zip_directory_cache
    if seen is not None and seen[0] == stamp and cache.get(self.archive) is seen[1]:
        if hasattr(self, "_files"):  # eager importers (< 3.13) hold their own reference
            self._files = seen[1]
        return
    _original(self)
    files = cache.get(self.archive)
    if stamp is not None and files is not None:
        _read[self.archive] = (stamp, files)
    else:
        _read.pop(self.archive, None)


def stat_checked_zipimport() -> None:
    """Install the stat-checked ``zipimporter.invalidate_caches`` in this
    process (see the module docstring). Idempotent and cheap: call it at
    the top of every Python task body."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
