"""Python worker daemon that skips zip re-reads while the archive is
unchanged (``spark.python.daemon.module``, set by ``session.get_spark``).

pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task; on CPython
3.11 that makes every cached ``zipimporter`` re-parse its archive's
central directory (``pyspark.zip`` holds 1,328 entries). Here a
zipimporter re-reads only when its archive's (mtime, size) differs from
the stamp taken at its last read; a missing archive goes to the stock
method. Workers forked by ``pyspark.daemon.manager()`` inherit the patch.
"""

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _stock_invalidate(self)
    self._stamp = stamp


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    manager()
