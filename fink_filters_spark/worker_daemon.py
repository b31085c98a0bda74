"""Python worker daemon: ``pyspark.daemon`` with a zip-directory cache
that survives ``importlib.invalidate_caches()``.

Spark starts it as ``python -m fink_filters_spark.worker_daemon`` when
``spark.python.daemon.module`` names it (``session.BUILDER_CONF``). The
daemon forks every Python worker, so each worker inherits the patch.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark/worker_util.py::setup_spark_files``). Up to CPython 3.12 every
``zipimporter`` then re-reads its archive's whole directory, and a worker
holds dozens of them over ``pyspark.zip`` (one per package directory it
imported from), so each task spent about a quarter CPU-second in
``zipimport._read_directory`` before running any user code. With the
patch an archive's directory is re-read only when the file changed on
disk, and every importer of that archive shares the one re-read. CPython
3.13 reads lazily after an invalidation, so the session keeps the stock
daemon there.
"""

from __future__ import annotations

import os
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size, st_ino)`` differs from the last read.
    For CPython < 3.13, whose zipimporter keeps its directory in
    ``_files``."""
    stock = zipimport.zipimporter.invalidate_caches
    last: dict[str, tuple[tuple[int, int, int], dict]] = {}  # archive -> (stat, directory)

    def invalidate_if_changed(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            last.pop(self.archive, None)
            stock(self)
            return
        # stat before reading: a rewrite racing the read leaves a stale
        # stamp, which only costs one more re-read next time
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        seen = last.get(self.archive)
        if seen is None or seen[0] != stamp:
            stock(self)
            seen = last[self.archive] = (stamp, self._files)
        self._files = seen[1]

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    install()
    # read each archive once here, so forked workers start with its stamp
    importlib.invalidate_caches()
    daemon.manager()
