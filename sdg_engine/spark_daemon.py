"""Python-worker daemon for local engine sessions: preload the heavy
imports once, then fork every worker from that warm heap.

Wired via ``spark.python.daemon.module`` (public Spark conf; the
factory launches ``python -m <module>``) in ``session.LOCAL_ENGINE_CONFS``,
with ``spark.executorEnv.PYTHONPATH`` extended so this package resolves
in the daemon subprocess.  Non-local masters keep the stock
``pyspark.daemon``: their executors do not share the driver's
filesystem, so none of the three steps below applies there.

1. **Preload**: heavyweight imports run once per daemon and every
   forked worker inherits them via copy-on-write.  A bare
   worker pays ~0.7 s wall importing numpy/pandas/pyarrow at its first
   UDF, and the first Python stage of a session forks up to
   ``local[N]`` workers at once (r06 host: a 32-task first Arrow stage
   went 6.1 → 3.0 s).

2. **Zip directory memo.**  ``pyspark.worker_util.setup_spark_files``
   calls ``importlib.invalidate_caches()`` for every task.  Before
   CPython 3.13 that makes every cached ``zipimporter`` re-read its
   archive's whole directory: 16 per worker, over ``pyspark.zip``
   (1,328 entries) and the py4j zip: ~0.2 s of CPU per task (4-core
   host, image_rai: 4.7–5.1 s per warm execution of 22 Python tasks).
   ``install_zip_memo`` makes it re-read an archive only when its
   ``(st_mtime_ns, st_size, st_ino)`` differs from the last read, so a
   zip that changes on disk is still re-read, and a new pyfiles path
   still gets a fresh importer.  Its one ``importlib.invalidate_caches()``
   keys every importer that exists at fork.  From 3.13 the stock method
   only drops the cache and the memo merely skips that.

3. **``gc.freeze()``** just before ``manager()``.  After every task the
   forked worker runs ``gc.collect()`` (``pyspark/daemon.py``); without
   the freeze that walks the ~74k preloaded objects (~45 ms per task
   on the same host) and dirties their copy-on-write pages.  Frozen,
   they sit in the permanent generation and the collection skips them.

Every step is best-effort: a worker that needs a missing module fails
at use-time exactly as it would without the preload — the daemon
itself must never die on import.
"""

import gc
import importlib
import os
import zipimport

try:  # engine + its hot deps; workers unpickle sdg_engine functions
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
except Exception:  # pragma: no cover - preload is advisory
    pass
try:
    import sdg_engine  # noqa: F401
    import sdg_engine.cells  # noqa: F401
    import sdg_engine.codecs  # noqa: F401
    import sdg_engine.geom  # noqa: F401
    import sdg_engine.ops.payload  # noqa: F401
    import sdg_engine.ops.raster  # noqa: F401
    import sdg_engine.ops.spatial  # noqa: F401
except Exception:  # pragma: no cover - zip/pyfiles path may differ
    pass

from pyspark.daemon import manager  # noqa: E402


def install_zip_memo():
    """Route ``zipimporter.invalidate_caches`` through a memo of each
    archive's stat stamp at its last directory read, and key every
    importer that exists now."""
    reread = zipimport.zipimporter.invalidate_caches
    stamps = {}  # archive path -> (st_mtime_ns, st_size, st_ino)

    def _memo_invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and stamps.get(archive) == stamp:
            if "_files" in vars(self):  # before 3.13 each importer holds a copy
                self._files = files  # another importer of the archive re-read it
            return
        reread(self)
        stamps[archive] = stamp

    zipimport.zipimporter.invalidate_caches = _memo_invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    try:
        install_zip_memo()
    except Exception:  # pragma: no cover - the memo is advisory
        pass
    gc.freeze()
    manager()
