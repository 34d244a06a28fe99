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
        # Every SQL execution renders its physical plan to a string for
        # its start event, whether or not a UI listens, and logs a
        # warning when a field list passes this limit (default 25).
        # operators/profile.py computes all columns' statistics in one
        # aggregation by design: the partial aggregate of q_profile's
        # five exact columns is 45 fields wide, and q_profile_approx's
        # HLL++ sketches add 52 buffer fields per column at rsd 0.05
        # (166 fields for three columns). 1000 fields covers an
        # approximate profile of 18 columns.
        .config("spark.sql.debug.maxToStringFields", "1000")
        .getOrCreate()
    )
    # Set on the live SparkConf, which Python runners read per task, not
    # through the builder: pyspark puts every builder config on the JVM's
    # command line, and perfbench's worker-memory split, which matches
    # "pyspark.daemon" there, would count the JVM as a Python worker.
    spark.sparkContext._conf.set("spark.python.daemon.module", guarded_daemon.__name__)
    return spark


def warm_workers(spark: SparkSession) -> None:
    """Warm the Python worker pool and the JVM before timing anything.

    The first pandas-UDF stage in a fresh JVM pays ~10-14s of worker
    spawn + numpy/pandas import across local[32]; that is interpreter
    startup, not engine throughput (a long-lived cluster never pays it
    per-query). Without this, whichever UDF query happens to run first
    absorbs the cost and run-to-run comparisons are noise."""
    import pandas as pd
    from pyspark.sql import functions as F

    cpus = spark.sparkContext.defaultParallelism

    def _warm(batches):
        import numpy  # noqa: F401

        for b in batches:
            yield pd.DataFrame({"x": b["id"]})

    spark.range(0, cpus * 4, numPartitions=cpus * 4).mapInPandas(
        _warm, schema="x long"
    ).count()
    # ... and the JVM side: one tiny shuffle + sort warms whole-stage
    # codegen, the exchange machinery, and JIT for the hot paths, so the
    # first timed query doesn't absorb JVM cold-start either
    (
        spark.range(0, 100_000, numPartitions=cpus)
        .groupBy((F.col("id") % 97).alias("k"))
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        .orderBy("k")
        .count()
    )
