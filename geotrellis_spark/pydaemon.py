"""Python worker daemon for sessions built by ``session.get_spark``.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``worker_util.setup_spark_files``). On CPython 3.11 that makes every
cached ``zipimporter`` re-read its archive's whole directory: a dozen
importers on ``pyspark.zip`` and two on the spark-core jar, a fixed
~0.25 CPU s per task whatever the kernel. Here an importer re-reads
only when its archive's ``(st_mtime_ns, st_size)`` changed since the
last read, and otherwise takes the shared ``_zip_directory_cache``
entry; a rewritten or removed archive is re-read or dropped as before.
Interpreters whose zipimporter already invalidates lazily (3.13 does)
run the stock daemon untouched. Run as
``python -m geotrellis_spark.pydaemon``; the arguments go to
``pyspark.daemon`` as given, so ``spark.python.worker.module`` keeps
working.
"""

import importlib
import os
import zipimport

READS_EAGERLY = not hasattr(zipimport.zipimporter, "_get_files")
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def lazy_invalidate_caches():
    """A ``zipimporter.invalidate_caches`` that runs the stock one only
    for an archive not read since it last changed. Importers on one
    archive share the returned function's record of when it was read."""
    read_at = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        _stock_invalidate_caches(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = stamp
        else:
            read_at.pop(self.archive, None)

    return invalidate_caches


if __name__ == "__main__":
    if READS_EAGERLY:
        zipimport.zipimporter.invalidate_caches = lazy_invalidate_caches()
        # read each archive once here, so forked workers start current
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
