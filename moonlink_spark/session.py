"""SparkSession factory tuned for the maintenance-engine workload.

Local sandbox runs on local[N]; the same config block is what we'd ship to a
multi-executor cluster via spark-submit --py-files (AQE + skew-join splitting
on, Arrow on for the vectorized UDF paths, modest shuffle partitions).
Cores and driver memory default to the host's: every CPU this process may run
on, and half of physical memory. Python workers fork from the
``moonlink_spark.pyworker`` daemon, which needs the package on the workers'
PYTHONPATH when it starts; ``spark.executorEnv.PYTHONPATH`` puts it there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_host_memory() -> str:
    """Half of the host's physical memory (MemTotal), as a JVM size string."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 // 2**20}m"


def get_spark(
    app_name: str = "moonlink_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # make the package importable in executor python workers regardless of
    # the driver's cwd — the local-mode equivalent of spark-submit --py-files
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pythonpath = pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary image payloads: keep Arrow batches small so executor python
        # workers never hold more than ~64MB of pixels at once
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _half_host_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        # workers skip re-reading unchanged zip/jar directories on every task
        .config("spark.python.daemon.module", "moonlink_spark.pyworker")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
