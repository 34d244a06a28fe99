"""SparkSession factory with scale-appropriate defaults.

Tuned for the execution model in SURVEY.md §4.2: AQE for runtime re-plan +
skew-join splitting, Arrow transfer for pandas UDFs, bounded shuffle
partitions for local mode (override via spark.sql.shuffle.partitions for
cluster deployments — on 1000 executors you want 2-4x total cores).

Python workers run under ``guarded_pyspark.daemon``, which skips pyspark's
per-task ``importlib.invalidate_caches()`` while ``sys.path`` and the
SparkFiles directory are unchanged (~0.2 s of CPU per task otherwise). The
package must therefore be importable from the driver's working directory or
``PYTHONPATH``, as the UDFs already require.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from cov_tiles_spark.guarded_pyspark import daemon as guarded_daemon


def get_spark(
    app_name: str = "cov-tiles-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(int(cpus) if cpus.isdigit() else 32, 8))
    ))
    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Scan-split size (guide §6): the testdata tables are single
        # parquet files with ~21 MB row groups, so the 128 MB default
        # reads a 126 MB lineitem on ONE task (measured: the whole
        # TPC-H Q1/Q5 scan side single-threaded at sf1). 16 MB splits
        # land one row group per task. Cluster deployments with many
        # large files should override toward 128m-1g via
        # SPARK_GRAFT_MAX_PARTITION_BYTES (big sequential scans want
        # fewer, larger map tasks feeding any shuffle).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # Set on the live SparkConf, which Python runners read per task, not
    # through the builder: pyspark puts every builder config on the JVM's
    # command line, and perfbench's worker-memory split, which matches
    # "pyspark.daemon" there, would count the JVM as a Python worker.
    spark.sparkContext._conf.set("spark.python.daemon.module", guarded_daemon.__name__)
    return spark
