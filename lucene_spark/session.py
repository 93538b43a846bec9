"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cpus: int | None = None,
    app_name: str = "lucene_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """local[cpus] session tuned for the engine: Arrow enabled (all hot
    UDFs are Arrow-batched), AQE on (skew joins / shuffle coalescing),
    ZSTD parquet. On a real cluster the same confs apply; only master
    changes (spark-submit provides it). ``SPARK_GRAFT_CPUS`` and
    ``SPARK_GRAFT_DRIVER_MEM`` override the core count (default: the
    cores this process may run on) and the driver heap (default: 40% of
    physical RAM — in local mode the executors share the driver JVM, and
    the Python workers need the rest)."""
    # Make the package importable inside Spark's Python workers regardless
    # of the driver's cwd (local-mode workers inherit the JVM env; on a real
    # cluster spark-submit --py-files serves the same purpose).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )
    cpus = cpus or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_mem = (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or f"{max(1, int(ram * 0.4) >> 30)}g"
    )
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS", "0")
    ) or max(32, cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
