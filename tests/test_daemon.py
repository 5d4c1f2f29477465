"""The worker daemon's stat-checked zip invalidation (``parquet2_spark.daemon``).

In-process tests patch ``zipimport.zipimporter.invalidate_caches`` the
way the daemon does and check both halves of the contract: a changed
archive is re-read, an unchanged one is not. The Spark test runs under
the tier-1 fixture, whose workers fork from the daemon, and adds code
in the middle of the session.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from parquet2_spark import daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding module ``p2s_zm1``, imported once,
    with the daemon's invalidation patched in and the archive stamped."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"p2s_zm1": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches)
    monkeypatch.setattr(daemon, "_stamps", {})
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("p2s_zm1").X == 1
    importlib.invalidate_caches()
    assert path in daemon._stamps
    yield path
    for name in ("p2s_zm1", "p2s_zm2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _reads(monkeypatch) -> list[str]:
    calls: list[str] = []
    real = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    calls = _reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in calls
    sys.modules.pop("p2s_zm1")
    assert importlib.import_module("p2s_zm1").X == 1


def test_archive_rewritten_in_place_is_reread(archive, monkeypatch):
    ino = os.stat(archive).st_ino
    _write_zip(archive, {"p2s_zm2": "X = 'two'\n"})
    assert os.stat(archive).st_ino == ino
    calls = _reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls.count(archive) == 1
    assert importlib.import_module("p2s_zm2").X == "two"


def test_each_stamp_field_forces_a_reread(archive, monkeypatch):
    """A rewrite that keeps the size is seen by its mtime, and one that
    also keeps the mtime (a file renamed over the archive) by its inode.
    A same-size rewrite in place within one filesystem timestamp tick of
    the last read keeps all three fields and is not seen; CPython's own
    mtime-and-size check of a ``.pyc`` against its source has the same
    blind spot."""
    calls = _reads(monkeypatch)
    st = os.stat(archive)
    _write_zip(archive, {"p2s_zm2": "X = 2\n"})  # same size as p2s_zm1's zip
    assert os.stat(archive).st_size == st.st_size
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert calls.count(archive) == 1
    assert importlib.import_module("p2s_zm2").X == 2

    st = os.stat(archive)
    tmp = archive + ".new"
    _write_zip(tmp, {"p2s_zm1": "X = 3\n"})
    os.utime(tmp, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(tmp, archive)
    new = os.stat(archive)
    assert (new.st_size, new.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    assert new.st_ino != st.st_ino
    importlib.invalidate_caches()
    assert calls.count(archive) == 2
    sys.modules.pop("p2s_zm1")
    assert importlib.import_module("p2s_zm1").X == 3


def test_removed_archive_is_dropped_and_reread_when_back(archive):
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    _write_zip(archive, {"p2s_zm2": "X = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("p2s_zm2").X == 2


def test_worker_imports_files_added_mid_session(spark, tmp_path):
    """Workers fork from the daemon, and a ``.py`` and then a ``.zip``
    added with ``addPyFile`` after workers are running import in the next
    task."""
    sc = spark.sparkContext

    def probe(name):
        def run(_):
            import importlib
            import sys
            import zipimport

            spec = sys.modules["__main__"].__spec__
            value = importlib.import_module(name).VALUE if name else None
            return (
                spec.name if spec else None,
                zipimport.zipimporter.invalidate_caches.__module__,
                value,
            )

        return sc.parallelize(range(4), 4).map(run).collect()

    # workers are up before anything is added
    assert set(probe(None)) == {("parquet2_spark.daemon", "__main__", None)}
    py = tmp_path / "p2s_added_py.py"
    py.write_text("VALUE = 'py'\n")
    sc.addPyFile(str(py))
    assert set(probe("p2s_added_py")) == {("parquet2_spark.daemon", "__main__", "py")}
    zp = tmp_path / "p2s_added.zip"
    _write_zip(zp, {"p2s_added_zip": "VALUE = 'zip'\n"})
    sc.addPyFile(str(zp))
    assert set(probe("p2s_added_zip")) == {("parquet2_spark.daemon", "__main__", "zip")}


def test_preload_skips_a_missing_module_and_freezes(monkeypatch):
    """``preload`` imports what it can and freezes the heap it leaves."""
    import gc

    monkeypatch.setattr(daemon, "PRELOAD", ("p2s_no_such_module", "json"))
    try:
        daemon.preload()
        assert gc.get_freeze_count() > 0
        assert "p2s_no_such_module" not in sys.modules
    finally:
        gc.unfreeze()


def test_workers_inherit_a_frozen_preloaded_heap(spark):
    """A worker finds the preloaded modules imported and the daemon's
    heap frozen: its per-task ``gc.collect()`` scans only the objects the
    worker made, fewer than the frozen ones."""
    preload = daemon.PRELOAD

    def run(_):
        import gc
        import sys

        gc.collect()
        return (
            all(m in sys.modules for m in preload),
            gc.get_freeze_count(),
            len(gc.get_objects()),
        )

    got = spark.sparkContext.parallelize(range(4), 4).map(run).collect()
    for imported, frozen, tracked in got:
        assert imported
        assert frozen > tracked
