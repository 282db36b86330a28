"""Python worker entry point for every engine session.

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task, and with
reused workers that makes each cached ``zipimport.zipimporter`` re-read
its archive's central directory on every task. PySpark itself is
imported from ``pyspark.zip`` (3.5 MB, about 1,300 entries) through
one importer per package directory, 16 of them, so every task re-read
that directory 16 times before running any user code.

This module replaces ``zipimporter.invalidate_caches`` with a guard
that stats the archive first and re-reads it only when its
``(st_mtime_ns, st_size)`` differs from what that importer saw at its
last read. An importer the guard has not seen yet re-reads once. A zip
rewritten in place therefore still shows its new contents after
``importlib.invalidate_caches()``, as in PySpark; an unchanged one is
not read again. A zip added later (``addPyFile``) is a new path entry
with a new importer, which reads it when first used.

The daemon path: ``session.get_session`` sets
``spark.python.worker.module=pyspark_graft_worker``, and
``pyspark/daemon.py`` imports a worker module whose name starts with
``pyspark`` and calls its ``main``, re-exported here. The non-daemon
path (``spark.python.use.daemon=false``) runs
``python -m pyspark_graft_worker``, which installs the guard and runs
``pyspark.worker`` as ``__main__``.

``get_session`` puts this directory on the workers' ``PYTHONPATH``
through ``spark.executorEnv.PYTHONPATH``. On a cluster the directory
must exist at that path on every executor when the Python daemon
starts (ship the package with the executors' environment): the daemon
imports this module before any task runs ``setup_spark_files``, so
``--py-files`` and ``addPyFile`` arrive too late.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Re-read this importer's archive only if it changed on disk."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_graft_stamp", None) != stamp:
        _reread(self)
        self._graft_stamp = stamp


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    from pyspark.worker import main  # noqa: F401  (the daemon calls main)
