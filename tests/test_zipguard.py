"""The zipimport guard: an unchanged archive is not re-read on
`importlib.invalidate_caches()`, a rewritten one is, and Python 3.12+
gets no guard at all."""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pytest

from ds2_spark import _zipguard


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    # a rewrite gives the archive a new inode, as a fresh --py-files
    # download does
    os.replace(tmp, path)


@pytest.fixture
def archive_on_path(tmp_path):
    path = str(tmp_path / "mods.zip")
    names = []

    def make(modules: dict[str, str]) -> str:
        names.extend(modules)
        _write_zip(path, modules)
        return path

    sys.path.insert(0, path)
    try:
        yield make
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        for n in names:
            sys.modules.pop(n, None)


def _counting_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_archive_is_not_reread(archive_on_path, monkeypatch):
    path = archive_on_path({"zg_mod_a": "X = 1\n"})
    assert importlib.import_module("zg_mod_a").X == 1
    importlib.invalidate_caches()  # an importer's first call may read
    reads = _counting_reads(monkeypatch)
    for _ in range(3):
        importlib.invalidate_caches()
    assert path not in reads


def test_rewritten_archive_is_reread(archive_on_path, monkeypatch):
    archive_on_path({"zg_mod_b": "X = 1\n"})
    importlib.import_module("zg_mod_b")
    importlib.invalidate_caches()
    archive_on_path({"zg_mod_b": "X = 1\n", "zg_mod_c": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_mod_c").Y == 2


def test_no_guard_on_python_312(monkeypatch):
    def plain(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", plain)
    monkeypatch.setattr(
        _zipguard, "sys", types.SimpleNamespace(version_info=(3, 12, 0))
    )
    assert _zipguard.install() is False
    assert zipimport.zipimporter.invalidate_caches is plain


def test_guard_installed_on_older_python():
    guarded = getattr(zipimport.zipimporter.invalidate_caches, "_ds2_zipguard", False)
    assert guarded == (sys.version_info < (3, 12))
