"""``native.skip_unchanged_zip_rereads``: ``zipimport`` re-reads an
archive's directory on ``invalidate_caches`` only when the archive
changed, once for all the importers that share it, and the Python
workers, which invalidate at every task's start, run with it from their
second task on.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from atr_adaptive_laguerre_spark import native


@pytest.fixture
def reads(monkeypatch):
    """Install the lazy invalidation for this test (undone afterwards
    unless the process had it already) and record each archive whose
    directory is read."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    native.skip_unchanged_zip_rereads()
    calls = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: calls.append(archive) or read(archive))
    return calls


def _write_zip(path, **modules: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def test_installs_once():
    native.skip_unchanged_zip_rereads()
    installed = zipimport.zipimporter.invalidate_caches
    native.skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_unchanged_zip_is_not_reread(tmp_path, reads):
    path = str(tmp_path / "same.zip")
    _write_zip(path, zr_same="X = 1\n")
    imp = zipimport.zipimporter(path)
    reads.clear()
    for _ in range(3):
        imp.invalidate_caches()
    assert reads == [path]          # the first invalidate stamps the read
    importlib.invalidate_caches()
    assert reads == [path]
    assert imp.find_spec("zr_same") is not None


def test_rewritten_zip_is_reread_and_its_new_module_imports(
        tmp_path, reads, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, zr_old="X = 1\n")
    monkeypatch.syspath_prepend(path)
    monkeypatch.delitem(sys.modules, "zr_old", raising=False)
    monkeypatch.delitem(sys.modules, "zr_new", raising=False)
    assert importlib.import_module("zr_old").X == 1
    importlib.invalidate_caches()
    reads.clear()

    _write_zip(path, zr_old="X = 1\n", zr_new="X = 2\n")
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module("zr_new").X == 2

    # same size, newer mtime: still re-read
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    importlib.invalidate_caches()
    assert reads == [path, path]


def test_deleted_zip_takes_the_original_path(tmp_path, reads):
    path = str(tmp_path / "gone.zip")
    _write_zip(path, zr_gone="X = 1\n")
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()
    os.remove(path)
    imp.invalidate_caches()
    assert imp.find_spec("zr_gone") is None
    assert path not in zipimport._zip_directory_cache

    _write_zip(path, zr_gone="X = 1\n")
    reads.clear()
    imp.invalidate_caches()
    assert reads == [path]
    assert imp.find_spec("zr_gone") is not None


def test_importers_of_one_archive_share_its_read(tmp_path, reads):
    path = str(tmp_path / "pkg.zip")
    _write_zip(path, zr_pkg="X = 1\n")
    imps = [zipimport.zipimporter(path) for _ in range(3)]
    reads.clear()
    for imp in imps:
        imp.invalidate_caches()
    assert reads == [path]
    assert all(imp._files is zipimport._zip_directory_cache[path]
               for imp in imps)

    _write_zip(path, zr_pkg="X = 1\n", zr_more="X = 2\n")
    for imp in imps:
        imp.invalidate_caches()
    assert reads == [path, path]
    assert all(imp.find_spec("zr_more") is not None for imp in imps)


def test_reused_workers_skip_the_reread_after_their_first_task(spark):
    """More tasks than cores, so each Python worker runs several.  A
    worker's first kernel call installs the lazy invalidation, so every
    later task of that worker starts with it: its second task reads each
    archive's directory at most once, however many importers share the
    archive, and no later task reads one at all."""

    def probe(_):
        import time

        import zipimport as zi

        from atr_adaptive_laguerre_spark.kernel import recurrences

        installed = getattr(zi.zipimporter.invalidate_caches,
                            "skips_unchanged", False)
        if not hasattr(zi._read_directory, "calls"):
            read = zi._read_directory

            def counted(archive):
                counted.calls += 1
                return read(archive)

            counted.calls = 0
            zi._read_directory = counted
        recurrences.compiled()
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zi.zipimporter)]
        yield (os.getpid(), time.monotonic_ns(), installed,
               zi._read_directory.calls, len(importers),
               len({f.archive for f in importers}))

    rows = spark.sparkContext.parallelize(range(16), 16) \
        .mapPartitions(probe).collect()
    by_worker: dict[int, list] = {}
    for pid, _, *task in sorted(rows, key=lambda r: r[1]):
        by_worker.setdefault(pid, []).append(task)
    assert max(len(tasks) for tasks in by_worker.values()) >= 3
    for tasks in by_worker.values():
        assert all(installed for installed, *_ in tasks[1:]), tasks
        assert all(importers > 0 for _, _, importers, _ in tasks), tasks
        if len(tasks) > 1:
            (_, first, _, _), (_, second, _, archives) = tasks[:2]
            assert second - first <= archives, tasks
        assert len({calls for _, calls, _, _ in tasks[1:]}) <= 1, tasks
