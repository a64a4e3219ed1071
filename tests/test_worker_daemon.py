"""worker_daemon: Python workers re-read a zip archive on `sys.path` only
when its (mtime, size) stamp changed, and still see a rewritten or
vanished archive the way upstream `zipimporter.invalidate_caches` does."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from docling_pdf_spark import worker_daemon

eager_rereads = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches no longer re-reads eagerly",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Installs the daemon's replacement for this test only and returns
    the archives `zipimport._read_directory` reads, in call order."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    seen: list[str] = []
    upstream = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return upstream(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield seen


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"wd_unit_old": "VALUE = 'old'\n"})
    yield path
    zipimport._zip_directory_cache.pop(path, None)
    sys.path_importer_cache.pop(path, None)
    for name in ("wd_unit_old", "wd_unit_new"):
        sys.modules.pop(name, None)


@eager_rereads
def test_unchanged_archive_is_not_reread(reads, archive):
    zi = zipimport.zipimporter(archive)
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._invalidate_caches
    for _ in range(3):
        zi.invalidate_caches()
    assert reads.count(archive) == 1  # the constructor's read only
    assert "wd_unit_old.py" in zi._files


@eager_rereads
def test_rewritten_archive_is_reread_once(reads, archive, monkeypatch):
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("wd_unit_old").VALUE == "old"
    worker_daemon.install()
    assert reads.count(archive) == 1
    _write_zip(archive, {"wd_unit_new": "VALUE = 'rewritten'\n" + "#" * 64})
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("wd_unit_new").VALUE == "rewritten"


@eager_rereads
def test_deleted_archive_is_dropped(reads, archive, tmp_path):
    zi = zipimport.zipimporter(archive)
    worker_daemon.install()
    (tmp_path / "mods.zip").unlink()
    zi.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert zi._files == {}


def test_install_is_a_noop_from_python_3_13(reads, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    upstream = zipimport.zipimporter.invalidate_caches
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is upstream
    assert worker_daemon._stamps == {}


def test_session_workers_reread_a_rewritten_zip(spark, tmp_path):
    """Two stages through the session's daemon: every task of the second
    stage must import a module that only the rewritten zip holds, also
    in workers that cached the zip's old directory in the first stage."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"wd_probe_old": "VALUE = 'old'\n"})

    def run_stage(module, cleanup):
        def task(it):
            import os
            import sys
            import zipimport

            import pyarrow as pa

            for _ in it:
                pass
            if path not in sys.path:
                sys.path.insert(0, path)
            sys.modules.pop(module, None)
            value = importlib.import_module(module).VALUE
            if cleanup:
                sys.modules.pop(module, None)
                sys.path.remove(path)
                sys.path_importer_cache.pop(path, None)
                zipimport._zip_directory_cache.pop(path, None)
            replacement = zipimport.zipimporter.invalidate_caches.__code__.co_filename
            yield pa.RecordBatch.from_pydict(
                {"pid": [os.getpid()], "value": [value], "replacement": [replacement]}
            )

        return (
            spark.range(0, 16, numPartitions=16)
            .mapInArrow(task, "pid long, value string, replacement string")
            .collect()
        )

    first = run_stage("wd_probe_old", cleanup=False)
    _write_zip(path, {"wd_probe_new": "VALUE = 'rewritten'\n" + "#" * 64})
    second = run_stage("wd_probe_new", cleanup=True)

    if sys.version_info < (3, 13):
        assert {r.replacement for r in first} == {worker_daemon.__file__}
    assert {r.value for r in first} == {"old"}
    assert {r.value for r in second} == {"rewritten"}
    # the check is only meaningful if some worker cached the old directory
    assert {r.pid for r in first} & {r.pid for r in second}
