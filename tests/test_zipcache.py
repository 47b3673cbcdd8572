"""The zipimporter cache shim: an unchanged archive is not re-read on
``invalidate_caches()``, a rewritten one is, and importing the package
installs the shim exactly on CPython < 3.13."""

from __future__ import annotations

import importlib.util
import sys
import zipfile
import zipimport

import pytest

import exon_duckdb_spark  # noqa: F401  (installs the shim)
from exon_duckdb_spark import _zipcache


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _import_from(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_read_at_most_once(tmp_path, reads):
    z = tmp_path / "m.zip"
    _write_zip(z, {"mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(str(z))
    reads.clear()
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads.count(str(z)) <= 1
    assert _import_from(imp, "mod_a").X == 1


def test_rewritten_archive_is_reread(tmp_path, reads):
    z = tmp_path / "m.zip"
    _write_zip(z, {"mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(str(z))
    imp.invalidate_caches()
    assert imp.find_spec("mod_b") is None
    _write_zip(z, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    reads.clear()
    imp.invalidate_caches()
    assert reads == [str(z)]
    assert _import_from(imp, "mod_b").Y == 2


def test_missing_archive_falls_back_to_the_original(tmp_path):
    z = tmp_path / "m.zip"
    _write_zip(z, {"mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(str(z))
    imp.invalidate_caches()
    z.unlink()
    imp.invalidate_caches()  # the original's handling: empty file table
    assert imp.find_spec("mod_a") is None
    _write_zip(z, {"mod_a": "X = 3\n"})
    imp.invalidate_caches()
    assert _import_from(imp, "mod_a").X == 3


def test_package_import_installs_shim_below_3_13():
    assert _zipcache.installed() == (sys.version_info < (3, 13))


def test_install_is_a_no_op_from_3_13(monkeypatch):
    cls = zipimport.zipimporter
    original = getattr(cls.invalidate_caches, "__wrapped__", cls.invalidate_caches)
    monkeypatch.setattr(cls, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _zipcache.install() is False
    assert cls.invalidate_caches is original
