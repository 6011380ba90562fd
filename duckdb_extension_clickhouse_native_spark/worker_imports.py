"""Stop Spark Python workers from re-reading zip archives on every call.

Every call into a Spark Python worker (``create_data_source``, filter
pushdown, read planning, then one per task) opens with pyspark's
``setup_spark_files()``, which calls ``importlib.invalidate_caches()``.
On CPython 3.11 that makes each ``zipimport.zipimporter`` re-read its
archive's central directory: a worker holds 15 importers over the
1,328-entry ``$SPARK_HOME/python/lib/pyspark.zip``, 0.147 CPU-s per call
on a 4-core Xeon VM, while a pruned Native read plans and reads in
~0.01 s. CPython 3.13 only drops its cache there (re-read on next use);
the wrapper is correct on both.

``install()`` makes ``zipimporter.invalidate_caches`` re-read an archive
only when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from
the stamp taken before this importer's last re-read, or ``os.stat``
fails. It acts once per process and only inside a Spark Python worker,
so the driver keeps the stdlib method. Workers are reused and import
this package when they first unpickle one of its DataSources or
readers, so each worker process re-reads only on its first calls.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    original = zipimport.zipimporter.invalidate_caches
    if original.__module__ == __name__:
        return

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or getattr(self, "_archive_stamp", None) != stamp:
            original(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
