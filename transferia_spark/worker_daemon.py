"""Spark's Python worker daemon (``pyspark.daemon``) with a stat-guarded
zip-archive cache refresh; ``session.get_spark`` sets it as
``spark.python.daemon.module``.

Every Python task starts in ``pyspark.worker.main``, whose
``setup_spark_files`` calls ``importlib.invalidate_caches()``. On CPython
< 3.12 that calls ``zipimporter.invalidate_caches`` on every importer in
``sys.path_importer_cache``, and each one re-reads its archive's whole
central directory: a worker holds a dozen importers on ``pyspark.zip``
(~1.3k entries) plus two each on the py4j zip and the spark-core jar
(~5.4k entries), ~27k entries and 160-200 ms per task. CPython 3.12
made the refresh lazy (gh-103200), so there this module only delegates
to ``pyspark.daemon``.

The guard re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the last read in this process, or when zipimport's own
cache entry is no longer the directory that read produced. A rewritten
archive (an ``addPyFile`` zip replaced under the same name) is still
re-read and its new members import. The daemon installs the guard
before it forks, so every worker inherits it.

The guard serves the fallback path of ``session.get_spark``, where the
workers keep Spark's zips on their path. Under the interpreter
launcher ``get_spark`` sets when the driver's installed pyspark matches
the zips, neither zip nor the jar is on a worker's ``sys.path``, and
the refresh has only ``addPyFile`` archives left to guard.
"""

from __future__ import annotations

import os
import sys
import zipimport

_UPSTREAM = zipimport.zipimporter.invalidate_caches

#: archive path → ((st_mtime_ns, st_size) before the read, directory
#: dict the read produced); process-wide, like zipimport's own cache
_READS: dict[str, tuple[tuple[int, int], dict]] = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read of an
    archive unchanged since this process last read it."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _UPSTREAM(self)
        return
    # stat BEFORE the read: an archive that changes during the read
    # keeps the older signature, so the next call reads it again
    sig = (st.st_mtime_ns, st.st_size)
    seen = _READS.get(self.archive)
    if (
        seen is not None
        and seen[0] == sig
        and zipimport._zip_directory_cache.get(self.archive) is seen[1]
    ):
        self._files = seen[1]
        return
    _UPSTREAM(self)
    _READS[self.archive] = (sig, self._files)


#: marker a worker can test for; the daemon runs as ``__main__``, so the
#: function's ``__module__`` does not name this module there
invalidate_caches.stat_guarded = True


def install() -> bool:
    """Put the guard on ``zipimport.zipimporter``; a no-op (``False``)
    on CPython >= 3.12, where the refresh is already lazy."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    import importlib

    if install():
        importlib.invalidate_caches()  # read each archive once, pre-fork
    from pyspark import daemon

    daemon.manager()
