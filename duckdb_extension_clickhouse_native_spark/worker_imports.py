"""Cut two fixed costs of every call into a reused Spark Python worker.

Every call into a Spark Python worker (``create_data_source``, filter
pushdown, read planning, then one per task, write and commit) opens
with pyspark's ``setup_spark_files()``, which calls
``importlib.invalidate_caches()``; a reused worker (``pyspark.daemon``)
ends every call with a full ``gc.collect()``. Both cost more than a
pruned Native read, which plans and reads in ~0.01 s:

- On CPython 3.11 ``invalidate_caches`` makes each
  ``zipimport.zipimporter`` re-read its archive's central directory: a
  worker holds 15 importers over the 1,328-entry
  ``$SPARK_HOME/python/lib/pyspark.zip``, 0.147 CPU-s per call on a
  4-core Xeon VM. CPython 3.13 only drops its cache there (re-read on
  next use); the zip wrapper is correct on both.
- With pyspark, pyarrow, numpy, pandas and this package loaded, the
  collection walks ~77k tracked objects, 9.5-10 ms per call on the same
  VM, although a call allocates only a few of them.

``install()`` acts once per process and only inside a Spark Python
worker, so the driver keeps both stdlib functions. Workers are reused
and import this package when they first unpickle one of its
DataSources or readers, so each worker process re-reads only on its
first calls. It patches two functions:

- ``zipimporter.invalidate_caches`` re-reads an archive only when the
  archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp
  taken before this importer's last re-read, or ``os.stat`` fails.
- ``importlib.invalidate_caches`` first calls ``gc.freeze()``. Every
  object alive when a call starts survived the full collection after
  the previous call, so it is the worker's long-lived state (modules,
  caches); frozen, it is never walked again, and the collection after
  each call walks only what that call allocated. Reference counting
  still frees frozen objects. The one leak: a reference cycle made
  only of long-lived state that is later dropped stays until the
  worker exits.
"""

from __future__ import annotations

import gc
import importlib
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

    invalidate_all = importlib.invalidate_caches

    def start_call() -> None:
        gc.freeze()
        invalidate_all()

    importlib.invalidate_caches = start_call
