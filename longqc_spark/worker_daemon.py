"""Spark Python daemon for sessions built by :func:`longqc_spark.session.get_spark`.

The JVM starts it (``spark.python.daemon.module``) as
``python -m longqc_spark.worker_daemon pyspark.worker``. It is the stock
``pyspark.daemon`` with one change, made before the daemon forks its
workers so that every worker inherits it: ``zipimport.zipimporter``'s
``invalidate_caches`` is a no-op.

Why: for every task, a reused worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes each
zipimporter on the worker's path re-read its archive's central directory:
``pyspark.zip``, the py4j zip and the 5.4k-entry spark-core jar, ~0.2 s
per task against ~1 ms of user code. The archives do not change while a
worker runs, and a zip shipped later with ``addPyFile`` is a new path entry
whose new importer reads its own directory. ``FileFinder`` invalidation is
untouched, so ``.py`` files shipped later still import.

Invariant: this module imports only the standard library and
``pyspark.daemon``. Anything heavier (pandas, the models) would be copied
into every forked worker and raise its memory.
"""

import zipimport


def _keep_zip_directory(self) -> None:
    """No-op ``zipimporter.invalidate_caches``: keep the directory read at
    import time."""


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    # pyspark.daemon picks the worker module from sys.argv[1] on import
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
