"""The Python boundary: :func:`install`, the first statement of every
function the engine hands to a Python worker.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``). On CPython 3.11 and 3.12 that makes every
``zipimporter`` on the worker's path re-read its archive's whole
directory, and ``pyspark.zip`` is on that path once per imported
subpackage, so the re-reads cost about 160 ms per task. :func:`install`
replaces ``zipimport.zipimporter.invalidate_caches`` in the calling
worker process with a version that re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed:

- The patch is process-global: it stays for the life of the worker
  process, so with ``spark.python.worker.reuse`` on (PySpark's default)
  every later task in that worker skips the re-read, whichever function
  it runs. In a session the engine did not build, that means the
  caller's own workers carry it too.
- An unchanged archive is not re-read; a changed one is re-read exactly
  as before, and an archive that cannot be stat'ed takes the stock path.
- Where the stock method is already lazy (CPython 3.13+ only drops the
  cached directory and has no ``_files`` to keep), it is left in place.

It is the one mechanism on both session paths: :func:`session.get_spark`
sessions and the driver's plain session run the stock PySpark daemon
plus this install. ``install`` is built in a factory (qualname
``_make_install.<locals>.install``), so cloudpickle ships it BY VALUE
with each worker function: the driver's workers cannot import this
package (see functions/imagecodec.py).
"""

from __future__ import annotations


def _make_install():
    def install() -> None:
        """Patch ``zipimporter.invalidate_caches`` in this process, once."""
        import os
        import zipimport

        stock = zipimport.zipimporter.invalidate_caches
        if getattr(stock, "stamp_checked", False):
            return
        code = getattr(stock, "__code__", None)
        if code is None or not {"_read_directory", "_files"} <= set(code.co_names):
            return
        # archive path -> ((st_mtime_ns, st_size) before the read, its directory)
        directories: dict = {}

        def invalidate_if_changed(self) -> None:
            try:
                st = os.stat(self.archive)
            except OSError:
                return stock(self)
            stamp = (st.st_mtime_ns, st.st_size)
            seen = directories.get(self.archive)
            if seen is not None and seen[0] == stamp:
                self._files = seen[1]
                return
            stock(self)
            directories[self.archive] = (stamp, self._files)

        invalidate_if_changed.stamp_checked = True
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed

    return install


install = _make_install()
