"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` but every conf is chosen for the 1000-executor
/ 100 TB target: AQE on (runtime re-plan + skew-join splitting), Arrow on
(the pandas-UDF boundary is the engine's hot path), UTC session timezone
(DuckDB-oracle comparability), shuffle partitions sized to cores locally —
on a real cluster AQE coalesces from a high initial number instead.

Python workers start through :mod:`longqc_spark.worker_daemon`
(``spark.python.daemon.module``). Each scan chunk is one task, and for every
task the stock daemon's reused worker re-read the central directory of each
zip and jar on its path (``pyspark.zip``, the py4j zip, the spark-core jar):
~0.2 s per task against ~1 ms of user code (64 trivial tasks on local[1]:
13.8 s stock, 3.5 s now). On a 4-core host the ``perfbench`` median
``wall_s`` fell 1.69 -> 0.94 s on ``qc_short`` and 2.12 -> 1.26 s on
``qc_text``, and worker RSS by 7-8 %; see CHANGES.md for the A/B. The daemon
module's one invariant: it imports only the standard library and
``pyspark.daemon``.

``spark.executorEnv.PYTHONPATH`` puts the package root on the workers' path
(Spark merges it with its own entries and the caller's ``PYTHONPATH``), so
the daemon and the UDFs import ``longqc_spark`` from any working directory.

To see where worker time goes, set ``spark.sql.pyspark.udf.profiler=perf``
and call ``spark.profile.show(type="perf")`` after the job: it profiles the
UDF bodies. Per-task setup outside them (where the zip re-reads were) needs
``cProfile`` run inside a worker; see README "Where worker time goes".
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession



def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app: str = "longqc-spark", cores: int | None = None) -> SparkSession:
    cores = cores or cpu_count()
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048 measured ~30% faster than 4096 on the cc100k pipeline at
        # local[32] (interleaved A/B, med 2.9s vs 4.3s): finer batches give
        # better task granularity + serialize/compute overlap for wide text
        # columns crossing the Arrow boundary
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # shuffle/spill codec: lz4 (stock) unless overridden — zstd trades
        # ~15% CPU for ~1.5x smaller shuffle files, the right call when a
        # corpus-scale job is disk-bound (this sandbox: 68 GB free for
        # shuffle + DISK_ONLY pins; a real cluster sizes shuffle dirs
        # instead, which is why the default stays lz4)
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_IO_CODEC", "lz4"),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "longqc_spark.worker_daemon")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        .getOrCreate()
    )
