"""Stop Python workers re-reading unchanged zip archives before every task.

Spark's Python worker calls ``importlib.invalidate_caches()`` before each
task (``pyspark.worker_util.setup_spark_files``). Before Python 3.12 that
reaches every cached ``zipimport.zipimporter``, and each one re-parses its
archive's whole central directory in pure Python. A warm worker holds one
importer per package directory inside ``pyspark.zip`` and the py4j zip, so
every task re-read those archives 16 times: 130–360 ms of CPU per task on
a 4-core box, against about 1 ms of kernel work on a 38-row batch.

``install()`` wraps ``zipimporter.invalidate_caches`` so an archive is
re-read only when its ``(st_size, st_mtime_ns)`` differs from the stat
taken before its last read; otherwise the importer takes the directory
already in ``zipimport._zip_directory_cache``. A rewritten archive is
still re-read, so import semantics do not change. At install, every
archive already cached is read once and stamped, so from the next task on
an unchanged archive costs one ``stat``. Python 3.12 made the call lazy,
and there ``install()`` does nothing.

The package ``__init__`` calls ``install()``, so a worker gets the guard
as soon as it unpickles a kernel that refers to a module-level engine
function (cloudpickle ships those by reference, so loading one imports
the package). A kernel closure that refers to none is shipped by value
and imports nothing; the engine's kernels each call one. A worker's first
task, which runs ``setup_spark_files`` before that import, still pays once.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (Python < 3.12; idempotent)."""
    if sys.version_info >= (3, 12):
        return
    unguarded = zipimport.zipimporter.invalidate_caches
    if hasattr(unguarded, "stamps"):
        return
    stamps: dict = {}  # archive → stat stamp taken before its last read

    def invalidate_caches(self):
        archive = self.archive
        stamp = _stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and stamps.get(archive) == stamp:
            self._files = files
            return
        stamps.pop(archive, None)
        unguarded(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            stamps[archive] = stamp

    invalidate_caches.stamps = stamps
    # the directories cached so far were read at an unknown time: read each
    # once now, after its stat, so a later change always shows
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        try:
            zipimport._zip_directory_cache[archive] = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            zipimport._zip_directory_cache.pop(archive, None)
            continue
        if stamp is not None:
            stamps[archive] = stamp
    zipimport.zipimporter.invalidate_caches = invalidate_caches
