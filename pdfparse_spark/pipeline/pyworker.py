"""Per-task Python-worker overhead guard (see session.py design notes).

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task.  Before CPython 3.13 that makes each ``zipimporter`` re-read its
archive's whole central directory right away, so a worker importing pyspark
from ``pyspark.zip`` re-parses tens of thousands of entries per task.
:func:`install` makes the re-read happen only when the archive's
``(st_mtime_ns, st_size)`` changed, so a rewritten archive is still seen.
"""

from __future__ import annotations

import os
import zipimport

__all__ = ["install"]

_read_at: dict[str, tuple[tuple[int, int], dict]] = {}  # archive → (stamp, files)
_eager_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    stamp = _stamp(self.archive)
    seen = _read_at.get(self.archive)
    if seen is not None and seen[0] == stamp:  # recorded stamps are never None
        self._files = seen[1]
        return
    _eager_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = (stamp, self._files)


def install() -> None:
    """Idempotent; a no-op where zipimport already re-reads lazily (3.13+)."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
