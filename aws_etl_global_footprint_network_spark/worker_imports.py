"""Make ``importlib.invalidate_caches()`` cheap in Spark Python workers.

Before every Python task, pyspark's worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``)
so that a zip shipped since the last task (``addPyFile``, ``spark.files``)
becomes importable. Up to CPython 3.12, ``zipimporter.invalidate_caches``
re-reads the whole central directory of its archive, and a warm worker
caches one zipimporter per imported package directory: ``pyspark.zip``
(1,328 entries) once per pyspark subpackage, the spark-core jar (5,359
entries) and py4j, 16 in all. Each task therefore re-reads about 30,000
directory entries, 0.11-0.25 s on a 4-core host, against a few ms for a
small ``mapInPandas`` body.

``install()`` swaps ``zipimport.zipimporter`` in ``sys.path_hooks`` for a
subclass that re-reads an archive only when its size or mtime changed,
then drops the plain zipimporters from ``sys.path_importer_cache``; they
are re-created through the new hook on the next import. An archive that
does change is still re-read, which is why Spark invalidates at all.

The package installs it when a task imports it, which a worker does when
it unpickles an engine kernel (see ``kernel``). It is inert on the
driver, and on CPython >= 3.13, whose ``zipimporter.invalidate_caches``
only drops the cache.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (size, mtime_ns) taken just before its directory was
# read; process-wide, like zipimport._zip_directory_cache.
_STAMPS: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


class StampedZipImporter(zipimport.zipimporter):
    """A zipimporter that re-reads its archive only when the archive's
    size or mtime changed since this class last read it.

    The check also runs on creation, because the shared
    ``_zip_directory_cache`` may hold a directory that a plain
    zipimporter read before ``install()``: each archive is re-read once
    after install, then only when it changes.
    """

    def __init__(self, path):
        super().__init__(path)
        self._refresh()

    def invalidate_caches(self):
        self._refresh()

    def _refresh(self):
        archive = self.archive
        # Stat before reading: a write racing the read leaves a stale
        # stamp, and the next check re-reads.
        stamp = _stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is None or files is None or _STAMPS.get(archive) != stamp:
            super().invalidate_caches()
            _STAMPS[archive] = stamp
        else:
            # Another importer of the same archive may have re-read it.
            self._files = files


def install() -> None:
    """Put ``StampedZipImporter`` in place of ``zipimporter`` in this process."""
    hooks = sys.path_hooks
    if zipimport.zipimporter not in hooks:  # installed already
        return
    hooks[hooks.index(zipimport.zipimporter)] = StampedZipImporter
    for key, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[key]


def install_in_worker() -> None:
    """``install()`` when running inside a Spark task on CPython < 3.13."""
    if sys.version_info >= (3, 13) or "pyspark" not in sys.modules:
        return
    from pyspark.taskcontext import TaskContext

    if TaskContext.get() is not None:
        install()


def kernel(fn):
    """Mark ``fn`` as an engine kernel: a function the engine hands to
    ``mapInPandas``, ``applyInPandas(WithState)`` or ``pandas_udf``.

    cloudpickle ships a nested function by value, and one that uses only
    numpy and pandas carries no reference to the package, so a worker
    could run it without importing the package. The mark is such a
    reference: unpickling the kernel imports this module.
    """
    fn.install_in_worker = install_in_worker
    return fn
