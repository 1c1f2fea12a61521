"""Python worker daemon: PySpark's daemon behind a stat-checked zip cache.

``session.get_spark`` starts its Python workers through this module
(``spark.python.daemon.module``). Before every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``)
so that archives shipped with ``addPyFile`` become importable. On CPython
3.10-3.12 that call makes every zip importer on the worker's path re-read
the central directory of its archive: the sub-packages of ``pyspark.zip``,
py4j and the spark-core jar that Spark puts on ``PYTHONPATH``, 150-250 ms
per task on a 4-core host. CPython 3.13 only drops the cached entry.

On CPython < 3.13 this module replaces ``zipimporter.invalidate_caches``
with a version that re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the one taken before the last read,
and otherwise reuses the directory already in
``zipimport._zip_directory_cache``. An archive that cannot be stat'ed takes
the original path. It then runs ``pyspark.daemon.manager()``, so the forked
workers inherit the patch and the stamps. On CPython >= 3.13 it installs
nothing, and it can be deleted once every worker runs 3.13 or later.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size), taken just before its last read
_stamps: dict[str, tuple[int, int]] = {}
_original = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _stamps.pop(archive, None)
        _original(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _stamps.get(archive) == stamp:
        # another importer of the same archive may have re-read it
        self._files = files
        return
    # stat before the read: a write in between leaves a stale stamp, which
    # only costs one more read next time
    _original(self)
    if archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches``; True if it was patched."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


def main() -> None:
    if install():
        # stamp every archive imported so far, before the workers fork
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # Run the importable copy, so that workers see the shim under this
    # module's package name rather than ``__main__``.
    from hadoop_source_spark.pyworker import main as _main

    _main()
