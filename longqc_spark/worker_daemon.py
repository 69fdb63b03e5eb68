"""Spark Python daemon for sessions built by :func:`longqc_spark.session.get_spark`.

The JVM starts it (``spark.python.daemon.module``) as
``python -m longqc_spark.worker_daemon pyspark.worker``. It is the stock
``pyspark.daemon`` with two changes, made before the daemon forks its
workers so that every worker inherits them.

1. ``zipimport.zipimporter``'s ``invalidate_caches`` is a no-op.

   Why: for every task, a reused worker calls ``importlib.invalidate_caches()``
   (``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes each
   zipimporter on the worker's path re-read its archive's central directory:
   ``pyspark.zip``, the py4j zip and the 5.4k-entry spark-core jar, ~0.2 s
   per task against ~1 ms of user code. The archives do not change while a
   worker runs, and a zip shipped later with ``addPyFile`` is a new path entry
   whose new importer reads its own directory. ``FileFinder`` invalidation is
   untouched, so ``.py`` files shipped later still import.

2. Each worker runs ``gc.collect(); gc.freeze()`` once, after its first task.

   Why: the stock daemon runs a full ``gc.collect()`` between the tasks of a
   reused worker. After its first task a worker holds ~74k tracked objects
   (pandas, pyarrow, the models), and scanning them cost 20-85 ms per task.
   Frozen objects are skipped by later collections, which then scan only
   what later tasks allocate (~1 ms). The first task's garbage is collected
   before the freeze, so only live objects are frozen; a frozen object is
   still freed when its reference count drops to zero.

Invariant: this module imports only the standard library and
``pyspark.daemon``. Anything heavier (pandas, the models) would be copied
into every forked worker and raise its memory.
"""

import gc
import zipimport


def _keep_zip_directory(self) -> None:
    """No-op ``zipimporter.invalidate_caches``: keep the directory read at
    import time."""


def _freeze_after_first_task(worker):
    """Wrap ``pyspark.daemon.worker`` (one call per task, in the forked
    worker) so that the worker freezes its heap once, after its first task."""
    frozen = False

    def run_task(sock, authenticated):
        nonlocal frozen
        code = worker(sock, authenticated)
        if not frozen:
            gc.collect()
            gc.freeze()
            frozen = True
        return code

    return run_task


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    # pyspark.daemon picks the worker module from sys.argv[1] on import
    import pyspark.daemon as daemon

    # manager() looks worker up in its module globals for every task
    daemon.worker = _freeze_after_first_task(daemon.worker)
    daemon.manager()


if __name__ == "__main__":
    main()
