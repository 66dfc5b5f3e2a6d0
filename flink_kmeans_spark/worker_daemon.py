"""PySpark worker daemon for the sessions :func:`session.get_spark` builds.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``). On CPython 3.11 and 3.12 that makes every
``zipimporter`` on the worker's path re-read its archive's whole
directory, and ``pyspark.zip`` is on that path once per imported
subpackage, so the re-reads cost about 160 ms per task (a 1-row RDD
``map`` job on a 4-core host: 237 ms median with the stock daemon,
74 ms with this one). This module replaces
``zipimport.zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed,
then runs ``pyspark.daemon.manager()``. Workers fork from the daemon, so
they inherit the patch. A changed archive is re-read exactly as before,
and an archive that cannot be stat'ed takes the stock path.

Run as ``python -m flink_kmeans_spark.worker_daemon`` (the
``spark.python.daemon.module`` conf).
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_mtime_ns, st_size) before the read, its directory)
_directories: dict = {}


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size)
    seen = _directories.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _stock_invalidate(self)
    _directories[self.archive] = (stamp, self._files)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    import importlib

    # patch under the import name (not ``__main__``) so a worker can
    # tell where its invalidate_caches comes from
    from flink_kmeans_spark.worker_daemon import install as _install

    _install()
    # record every archive on the path once here, so forked workers
    # start with their stamps instead of re-reading on the first task
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
