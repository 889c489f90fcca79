"""The per-task zip-cache guard (pipeline/pyworker.py), without Spark.

pyspark's worker calls ``importlib.invalidate_caches()`` on every task; on
interpreters where ``zipimporter.invalidate_caches`` re-reads the archive
eagerly, the guard must skip the re-read while the archive is unchanged and
still pick up a rewritten archive.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from pdfparse_spark.pipeline import pyworker

_LAZY = hasattr(zipimport.zipimporter, "_get_files")


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """A zip holding module ``a`` on sys.path; zipimport, sys.path and the
    imported modules are restored afterwards."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("a.py", "X = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(pyworker, "_read_at", {})
    monkeypatch.syspath_prepend(archive)
    for name in ("a", "b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    yield archive
    for name in ("a", "b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(_LAZY, reason="zipimport already re-reads lazily here")
def test_guard_skips_rereads_until_archive_changes(guarded_zip, monkeypatch):
    pyworker.install()
    pyworker.install()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is pyworker._invalidate_if_changed
    import a

    assert a.X == 1
    importlib.invalidate_caches()  # first call reads and stamps the archive

    reads = []
    real_read = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    for _ in range(5):
        importlib.invalidate_caches()
    assert guarded_zip not in reads

    with zipfile.ZipFile(guarded_zip, "w") as zf:
        zf.writestr("a.py", "X = 1\n")
        zf.writestr("b.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert guarded_zip in reads
    import b

    assert b.Y == 2


@pytest.mark.skipif(not _LAZY, reason="zipimport re-reads eagerly here")
def test_install_leaves_lazy_zipimport_unpatched(guarded_zip):
    before = zipimport.zipimporter.invalidate_caches
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is before
