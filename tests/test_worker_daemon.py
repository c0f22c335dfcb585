"""The engine's Python worker daemon: change-checked zipimport
invalidation, unit-tested on a temp archive, and the suite session's
workers running under it."""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

from postgres_cdc_plugin_spark import worker_daemon

PATCHED = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Count zipimport._read_directory calls; CPython's invalidate_caches
    calls the module-level function, so the count sees every re-read."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def patched(monkeypatch):
    """install() on the test process, undone after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    return worker_daemon.install


@pytest.mark.skipif(not PATCHED, reason="CPython >= 3.13 reads archives lazily")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, reads, patched):
    archive = tmp_path / "probe.zip"
    _write_zip(archive, {"probe_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    monkeypatch.setitem(sys.path_importer_cache, str(archive), importer)
    patched()
    reads.clear()  # the constructor's own read
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == []
    assert importer.find_spec("probe_a") is not None


@pytest.mark.skipif(not PATCHED, reason="CPython >= 3.13 reads archives lazily")
def test_rewritten_archive_is_reread_and_its_new_module_imports(
    tmp_path, reads, patched
):
    archive = tmp_path / "probe.zip"
    _write_zip(archive, {"probe_a": "VALUE = 1\n"})
    patched()
    importer = zipimport.zipimporter(str(archive))
    reads.clear()  # the constructor's own read
    importer.invalidate_caches()  # unstamped: read as CPython does
    assert len(reads) == 1
    importer.invalidate_caches()
    assert len(reads) == 1

    _write_zip(archive, {"probe_a": "VALUE = 1\n", "probe_b": "VALUE = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert importer.find_spec("probe_b") is None
    importer.invalidate_caches()
    assert reads == [str(archive)] * 2
    spec = importer.find_spec("probe_b")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.VALUE == 2


def test_leaves_zipimport_untouched_on_313(tmp_path, monkeypatch, patched):
    archive = tmp_path / "probe.zip"
    _write_zip(archive, {"probe_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    monkeypatch.setitem(sys.path_importer_cache, str(archive), importer)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    method = zipimport.zipimporter.invalidate_caches
    patched()
    assert zipimport.zipimporter.invalidate_caches is method
    assert not hasattr(importer, worker_daemon._STAMP)


def test_python_tasks_run_under_the_engine_daemon(spark):
    def probe(_):
        import sys
        import zipimport

        main = sys.modules["__main__"]
        return (
            main.__spec__.name if main.__spec__ else None,
            zipimport.zipimporter.invalidate_caches
            is getattr(main, "invalidate_caches", None),
        )

    [(main, patched)] = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    assert main == worker_daemon.__name__
    assert patched is PATCHED


def test_add_py_file_zip_imports_after_the_daemon_started(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize([0], 1).map(lambda x: x).collect()  # daemon and a worker up
    archive = tmp_path / "cdc_pyfile_probe.zip"
    _write_zip(archive, {"cdc_pyfile_probe": "VALUE = 41\n"})
    sc.addPyFile(str(archive))

    def probe(x):
        import cdc_pyfile_probe

        return cdc_pyfile_probe.VALUE + x

    assert sc.parallelize([1, 1], 2).map(probe).collect() == [42, 42]
