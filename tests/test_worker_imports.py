"""The zipimport stat check the package installs in Spark Python workers.

A pyspark worker calls ``importlib.invalidate_caches()`` before every task,
which makes each ``zipimport.zipimporter`` re-read its archive's central
directory.  ``tablestructurerec_spark._install_zip_stat_check`` skips the
re-read while the archive's stat signature is unchanged.  These tests drive
it on archives in ``tmp_path`` without Spark; the worker-side installation is
covered in ``test_extract_plan.py``.
"""

import importlib
import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import tablestructurerec_spark as tsr


@pytest.fixture
def stat_check():
    """Install the check; afterwards restore the stdlib method, sys.path,
    the importer cache and sys.modules."""
    stdlib = zipimport.zipimporter.invalidate_caches
    assert not getattr(stdlib, "_stat_checked", False)
    saved_path = list(sys.path)
    saved_importers = dict(sys.path_importer_cache)
    saved_modules = set(sys.modules)
    tsr._install_zip_stat_check()
    try:
        yield stdlib
    finally:
        zipimport.zipimporter.invalidate_caches = stdlib
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_importers)
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]


@pytest.fixture
def read_calls(monkeypatch):
    """Archives passed to ``zipimport._read_directory``, in call order."""
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    return str(path)


def test_imports_from_zip(stat_check, tmp_path):
    sys.path.insert(0, _write_zip(tmp_path / "a.zip", {"tsr_zip_probe_a": 1}))
    assert importlib.import_module("tsr_zip_probe_a").VALUE == 1


def test_unchanged_archive_is_read_once(stat_check, read_calls, tmp_path):
    archive = _write_zip(tmp_path / "b.zip", {"tsr_zip_probe_b": 2})
    sys.path.insert(0, archive)
    assert importlib.import_module("tsr_zip_probe_b").VALUE == 2
    read_calls.clear()
    importlib.invalidate_caches()
    assert read_calls.count(archive) == 1  # no signature recorded yet
    read_calls.clear()
    importlib.invalidate_caches()
    assert read_calls.count(archive) == 0


def test_rewritten_archive_is_reread(stat_check, tmp_path):
    archive = _write_zip(tmp_path / "c.zip", {"tsr_zip_probe_c": 3})
    sys.path.insert(0, archive)
    assert importlib.import_module("tsr_zip_probe_c").VALUE == 3
    importlib.invalidate_caches()
    _write_zip(archive, {"tsr_zip_probe_c": 3, "tsr_zip_probe_c2": 4})
    importlib.invalidate_caches()
    assert importlib.import_module("tsr_zip_probe_c2").VALUE == 4


def test_deleted_archive_falls_back_to_stdlib(stat_check, read_calls, tmp_path):
    archive = _write_zip(tmp_path / "d.zip", {"tsr_zip_probe_d": 5})
    sys.path.insert(0, archive)
    assert importlib.import_module("tsr_zip_probe_d").VALUE == 5
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    read_calls.clear()
    importlib.invalidate_caches()
    assert read_calls.count(archive) == 1
    assert importer._files == {}  # what the stdlib method leaves for a missing archive
    del sys.modules["tsr_zip_probe_d"]
    assert importlib.util.find_spec("tsr_zip_probe_d") is None


def test_installing_twice_wraps_once(stat_check):
    tsr._install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ is stat_check


def test_driver_import_leaves_stdlib_method():
    code = (
        "import pyspark, zipimport, tablestructurerec_spark; "
        "print(getattr(zipimport.zipimporter.invalidate_caches, '_stat_checked', False))"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False"
