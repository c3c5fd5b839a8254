"""PySpark re-expression of the Fluent Bit CLP output plugins."""

import sys

# pyspark's worker calls importlib.invalidate_caches() before every task
# (pyspark/worker_util.py, setup_spark_files).  On CPython 3.11/3.12 each
# zipimporter then re-reads its whole archive directory: the 16 importers
# over pyspark.zip (1,328 entries) cost ~0.2 CPU-s per Python task.  Inside
# a worker (pyspark is loaded and a task is running while the UDF that
# imports this package is unpickled), re-read an archive only when its
# (mtime, size) changed since this importer last read it.
if sys.version_info < (3, 13):
    import os
    import zipimport

    _stock_invalidate = zipimport.zipimporter.invalidate_caches

    def _archive_stamp(archive: str):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
        """The stock re-read, skipped while the archive file is unchanged."""
        stamp = _archive_stamp(self.archive)
        if stamp is None or getattr(self, "_dir_stamp", None) != stamp:
            _stock_invalidate(self)
            self._dir_stamp = stamp

    def _install_lazy_zip_invalidate() -> None:
        # The worker's stock invalidate for this task has just re-read
        # every existing importer, so their directories match the files now.
        for imp in list(sys.path_importer_cache.values()):
            if isinstance(imp, zipimport.zipimporter):
                imp._dir_stamp = _archive_stamp(imp.archive)
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

    _pyspark = sys.modules.get("pyspark")
    if _pyspark is not None and _pyspark.TaskContext.get() is not None:
        _install_lazy_zip_invalidate()
