"""The stat-checked zipimport invalidation (``bigdata_spark/worker.py``),
in-process: an archive on ``sys.path`` is re-read by
``importlib.invalidate_caches()`` only when it changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from bigdata_spark import worker


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    tmp.replace(path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding package ``zpkg`` (modules ``a``) on ``sys.path``,
    imported, so two importers (the archive and ``zpkg/``) read it.
    Yields the archive and the list of paths ``_read_directory`` read."""
    path = tmp_path / "lib.zip"
    _write_zip(path, {"zpkg/__init__.py": "", "zpkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    # the stock method and an empty read record come back afterwards
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker, "_read", {})
    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    import zpkg.a  # noqa: F401

    reads.clear()
    yield path, reads
    for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(str(path))]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    assert reads.count(str(path)) == 2  # stock: one re-read per importer
    worker.stat_checked_zipimport()
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(str(path)) == 1  # one re-read, shared, records the stat
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert str(path) not in reads


def test_changed_archive_is_reread(archive):
    path, reads = archive
    worker.stat_checked_zipimport()
    importlib.invalidate_caches()
    _write_zip(path, {"zpkg/__init__.py": "", "zpkg/a.py": "X = 1\n", "zpkg/b.py": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(str(path)) == 1
    from zpkg import b  # found through the zpkg/ importer, which shares the re-read

    assert b.Y == 2
    # a removed archive is forgotten, as the stock method does
    path.unlink()
    importlib.invalidate_caches()
    assert str(path) not in worker._read


def test_install_twice_is_harmless(archive):
    path, reads = archive
    worker.stat_checked_zipimport()
    worker.stat_checked_zipimport()
    assert zipimport.zipimporter.invalidate_caches is worker._invalidate_caches
    assert worker._original is not worker._invalidate_caches
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert str(path) not in reads
    _write_zip(path, {"zpkg/__init__.py": "", "zpkg/c.py": "Z = 3\n"})
    importlib.invalidate_caches()
    assert reads.count(str(path)) == 1
    from zpkg import c

    assert c.Z == 3
