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

Run by Spark as ``spark.python.daemon.module`` (see ``conf.RECOMMENDED``).
"""

from __future__ import annotations

import os
import zipimport

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


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp every archive once here, so forked workers inherit the stamps
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
