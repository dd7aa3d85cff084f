"""The zip re-read guard installed by importing ``xhtmlkit_spark``:
``importlib.invalidate_caches()`` re-reads a zip archive's directory
only when the archive changed, and never hides a new or removed one."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from collections import Counter

import pytest

import xhtmlkit_spark  # noqa: F401  (installs the guard)


def _write_zip(path, modules: dict) -> str:
    """Zip of ``{dotted.name: VALUE}`` modules; a dotted name puts the
    module in a package, which gets its own zipimporter on import."""
    with zipfile.ZipFile(path, "w") as zf:
        packages = {name.rsplit(".", 1)[0] for name in modules if "." in name}
        for pkg in sorted(packages):
            zf.writestr(pkg.replace(".", "/") + "/__init__.py", "")
        for name, value in modules.items():
            zf.writestr(name.replace(".", "/") + ".py", f"VALUE = {value!r}\n")
    return str(path)


@pytest.fixture
def reads(monkeypatch):
    """Count ``zipimport._read_directory`` calls per archive path."""
    counts: Counter = Counter()
    real = zipimport._read_directory

    def counting(archive):
        counts[archive] += 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


@pytest.fixture
def on_path(monkeypatch):
    """Append archives to ``sys.path``; drop them, their importers and
    their modules afterwards."""
    added: list = []
    monkeypatch.setattr(sys, "path", list(sys.path))

    def add(archive):
        sys.path.append(archive)
        added.append(archive)

    yield add
    for key in [k for k in sys.path_importer_cache if k.startswith(tuple(added))]:
        del sys.path_importer_cache[key]
    for name in [n for n in sys.modules if n.startswith("zipguard_")]:
        del sys.modules[name]


def _importers(archive):
    return [
        imp
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    ]


def test_unchanged_archive_is_not_reread(tmp_path, reads, on_path):
    archive = _write_zip(tmp_path / "a.zip", {"zipguard_a.mod": 1})
    on_path(archive)
    assert importlib.import_module("zipguard_a.mod").VALUE == 1
    assert len(_importers(archive)) == 2  # the archive root and the package
    importlib.invalidate_caches()
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads[archive] == 0


def test_rewritten_archive_is_reread_once(tmp_path, reads, on_path):
    archive = _write_zip(tmp_path / "a.zip", {"zipguard_b.one": 1})
    on_path(archive)
    assert importlib.import_module("zipguard_b.one").VALUE == 1
    importlib.invalidate_caches()

    # new size: a module was added; both importers see it after one read
    _write_zip(archive, {"zipguard_b.one": 1, "zipguard_b.two": 2, "zipguard_c": 3})
    reads.clear()
    importlib.invalidate_caches()
    assert reads[archive] == 1
    assert importlib.import_module("zipguard_b.two").VALUE == 2
    assert importlib.import_module("zipguard_c").VALUE == 3

    # same size, new mtime
    size = os.path.getsize(archive)
    _write_zip(archive, {"zipguard_b.one": 4, "zipguard_b.two": 2, "zipguard_c": 3})
    st = os.stat(archive)
    assert st.st_size == size
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    reads.clear()
    importlib.invalidate_caches()
    assert reads[archive] == 1
    importlib.invalidate_caches()
    assert reads[archive] == 1


def test_new_archive_on_path_imports(tmp_path, on_path):
    importlib.invalidate_caches()
    archive = _write_zip(tmp_path / "fresh.zip", {"zipguard_fresh": "new"})
    on_path(archive)
    importlib.invalidate_caches()
    assert importlib.import_module("zipguard_fresh").VALUE == "new"


def test_deleted_archive_falls_through(tmp_path, reads, on_path):
    archive = _write_zip(tmp_path / "gone.zip", {"zipguard_gone": 1})
    on_path(archive)
    importlib.import_module("zipguard_gone")
    importlib.invalidate_caches()

    os.remove(archive)
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    # every call falls through to the original, which drops the listing
    assert reads[archive] == 2
    assert [imp._files for imp in _importers(archive)] == [{}]
