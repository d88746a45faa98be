"""The stat-checked ``zipimporter.invalidate_caches`` installed in Python
workers: an unchanged archive is never re-read, a rewritten one is."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from peakmatch_xcorr_spark import _zipimport

MODULES = ("pxs_zpkg", "pxs_zpkg.sub", "pxs_zpkg.added")


def _write_zip(path, added=False):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pxs_zpkg/__init__.py", "X = 1\n")
        z.writestr("pxs_zpkg/sub/__init__.py", "Y = 2\n")
        if added:
            z.writestr("pxs_zpkg/added.py", "Z = 3\n")
    return str(path)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    # put the stdlib method back after the test: install() patches the class
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    _zipimport.install()
    installed = zipimport.zipimporter.invalidate_caches
    _zipimport.install()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is installed

    path = _write_zip(tmp_path / "pkgs.zip")
    monkeypatch.syspath_prepend(path)
    # one zipimporter per imported package directory, as in a worker
    assert importlib.import_module("pxs_zpkg.sub").Y == 2
    yield path
    for name in MODULES:
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12+ refreshes zip archives lazily"
)
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    importlib.invalidate_caches()  # the first refresh records the stamp
    reads = []
    read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    for _ in range(3):
        importlib.invalidate_caches()
    assert [p for p in reads if p == archive] == []
    assert importlib.import_module("pxs_zpkg").X == 1


def test_rewritten_archive_is_reread(archive):
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("pxs_zpkg.added")
    _write_zip(archive, added=True)
    importlib.invalidate_caches()
    assert importlib.import_module("pxs_zpkg.added").Z == 3
