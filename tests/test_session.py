"""``session``'s stat-keyed zip-importer invalidation and package archive,
without Spark. A fake ``pyspark.taskcontext`` with a running task makes
this process look like a Spark Python worker."""

import importlib
import sys
import tempfile
import types
import zipfile
import zipimport
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from nreadability_spark import session

_PATCHED = sys.version_info < (3, 13)


@pytest.fixture
def worker(monkeypatch):
    """Look like a worker with a task running; restore the stdlib method after."""
    stock = zipimport.zipimporter.invalidate_caches
    taskcontext = types.ModuleType("pyspark.taskcontext")
    taskcontext.TaskContext = types.SimpleNamespace(get=object)
    monkeypatch.setitem(sys.modules, "pyspark.taskcontext", taskcontext)
    yield
    zipimport.zipimporter.invalidate_caches = stock


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory`` from now on."""
    seen = []
    real = zipimport._read_directory

    def spy(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return seen


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding module ``nrs_zip_m1``."""
    path = tmp_path / "mods.zip"
    _write_zip(path, ["nrs_zip_m1"])
    monkeypatch.syspath_prepend(str(path))
    yield path
    for name in ("nrs_zip_m1", "nrs_zip_m2"):
        sys.modules.pop(name, None)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _is_stdlib(method):
    return method.__module__ == "zipimport"


@pytest.mark.skipif(not _PATCHED, reason="Python >= 3.13 keeps the stdlib method")
def test_unchanged_archive_is_not_reread(worker, archive, reads):
    importlib.import_module("nrs_zip_m1")
    session.install_zip_invalidation()
    session.install_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is session._stat_keyed_invalidate
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


@pytest.mark.skipif(not _PATCHED, reason="Python >= 3.13 keeps the stdlib method")
def test_importer_created_after_install_is_read_once(worker, archive, reads):
    session.install_zip_invalidation()
    importlib.import_module("nrs_zip_m1")
    assert [Path(a) for a in reads] == [archive]  # the importer's own first read
    for _ in range(3):
        importlib.invalidate_caches()
    assert [Path(a) for a in reads] == [archive, archive]


def test_rewritten_archive_is_reread(worker, archive, reads):
    importlib.import_module("nrs_zip_m1")
    session.install_zip_invalidation()
    importlib.invalidate_caches()
    _write_zip(archive, ["nrs_zip_m1", "nrs_zip_m2"])
    importlib.invalidate_caches()
    assert importlib.import_module("nrs_zip_m2").NAME == "nrs_zip_m2"


@pytest.mark.skipif(not _PATCHED, reason="Python >= 3.13 keeps the stdlib method")
def test_missing_archive_is_always_reread(worker, archive, reads):
    importlib.import_module("nrs_zip_m1")
    session.install_zip_invalidation()
    archive.unlink()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert [Path(a) for a in reads] == [archive, archive]


def test_stdlib_method_kept_on_python_313(worker, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    session.install_zip_invalidation()
    assert _is_stdlib(zipimport.zipimporter.invalidate_caches)


def test_stdlib_method_kept_outside_a_task(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    try:
        monkeypatch.delitem(sys.modules, "pyspark.taskcontext", raising=False)
        session.install_zip_invalidation()
        assert zipimport.zipimporter.invalidate_caches is stock

        import pyspark.taskcontext  # a driver: the module, but no task

        assert pyspark.taskcontext.TaskContext.get() is None
        session.install_zip_invalidation()
        assert zipimport.zipimporter.invalidate_caches is stock
    finally:
        zipimport.zipimporter.invalidate_caches = stock
    assert _is_stdlib(stock)


def test_package_zip_concurrent_builds(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            paths = set(pool.map(lambda _: session.package_zip(), range(8), timeout=60))
    finally:
        sys.setswitchinterval(interval)
    assert len(paths) == 1
    root = Path(session.__file__).parent
    expected = {
        f"nreadability_spark/{p.relative_to(root)}"
        for p in root.rglob("*.py")
        if "__pycache__" not in p.parts
    }
    with zipfile.ZipFile(paths.pop()) as zf:
        assert zf.testzip() is None
        assert set(zf.namelist()) == expected
    assert [p.suffix for p in tmp_path.iterdir()] == [".zip"]  # no temp file left
