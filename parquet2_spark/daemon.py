"""Python worker daemon: ``pyspark.daemon`` with a stat-checked zip cache.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task, and on Python 3.11 that makes every ``zipimporter`` re-read its
archive's whole central directory: ``pyspark.zip``, the py4j zip and the
spark-core jar (5,359 entries). That is about 0.2 CPU-s per task before
the task does any work. Here a zipimporter re-reads its archive only
when the archive's ``(st_ino, st_size, st_mtime_ns)`` differs from the
stamp taken at its last read; the rest of the invalidation (path
finders, namespace paths, metadata) runs unchanged, so a file added with
``addPyFile`` or an archive rewritten in place is still seen.

pyspark's forked worker also runs a full ``gc.collect()`` after every
task. A worker that has imported pyarrow, pandas and this package holds
about 75,000 tracked objects, and that collection costs it 30-40 ms of
CPU per task, more than a small decode task's own work. The daemon
imports those modules once before it forks (``PRELOAD``) and then
freezes its heap with ``gc.freeze()``: a worker inherits the imports
instead of repeating them, and its per-task collection scans only what
the worker allocated itself. Importing pyarrow starts jemalloc's
background thread in the daemon; jemalloc's fork handlers keep a forked
worker's allocator consistent, and the worker runs without that thread.

Run by Spark as ``spark.python.daemon.module`` (see ``conf.RECOMMENDED``).
"""

from __future__ import annotations

import os
import zipimport

# imported by the daemon before it forks: what the engine's tasks import
PRELOAD = (
    "pandas",
    "pyarrow.parquet",
    "parquet2_spark.operators.encode_job",
    "parquet2_spark.operators.merge_compact",
    "parquet2_spark.plans.bloom",
)

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int] | None] = {}


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    # stamp before the read: a rewrite in between leaves a stale stamp,
    # which only costs one more read
    _stamps[self.archive] = stamp
    _reread(self)


def preload() -> None:
    """Import ``PRELOAD`` and freeze the heap: the garbage collector
    then skips every object that exists now, in this process and in the
    processes it forks. A module that fails to import is left to the
    task that needs it."""
    import gc
    import importlib

    for name in PRELOAD:
        try:
            importlib.import_module(name)
        except ImportError:
            pass
    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp every archive once here, so forked workers inherit the stamps
    importlib.invalidate_caches()
    from pyspark import daemon

    preload()
    daemon.manager()
