"""SparkSession factory with a scale-conscious default configuration.

Tested on ``local[N]`` but configured as it would be on a 1000-executor cluster:
AQE on (runtime re-planning, skew-join splitting, dynamic coalescing), Arrow for
any Python exchange, UTC session timezone (parity with the naive timestamps the
DuckDB oracle sees), and shuffle partitions sized from the environment rather
than hardcoded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# the directory holding the package: Python workers import it from here, so
# UDFs resolve whatever the process's cwd is
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_cpus() -> int:
    """Cores for ``local[N]``: ``SPARK_GRAFT_CPUS``, else the cores this
    process may run on (what ``nproc`` reports)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def get_spark(app_name: str = "tfidf-spark-engine", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = spark_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", str(cpus)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # no call-site capture per Column call: with it on, every Column
        # function and method walks the Python stack and makes ~5 extra py4j
        # round trips (select(col("a"), col("b") + 1): 50 instead of 20; a
        # warm dedup_clusters build: 1,112 instead of 541). Spark error
        # messages lose their "DataFrame context" call-site lines; the
        # Python traceback stays
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # sys.path edits in the driver never reach the workers
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(
            filter(None, [PACKAGE_PARENT, os.environ.get("PYTHONPATH")])))
        # 16g: the bench session runs 35 queries × 2 passes with per-round
        # localCheckpoint blocks (CC iterations) and memory-sink tables
        # retained until the async ContextCleaner runs — 8g showed 2× GC
        # wobble on unchanged queries between back-to-back suites
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS); read as long and convert
        # (Spark has no nanosecond timestamp type — see sources.corpus.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # full plan strings (ReadSchema etc.) for the plan-shape tests
        .config("spark.sql.debug.maxToStringFields", "200")
        .config("spark.sql.maxMetadataStringLength", "2000")
    )
    return builder.getOrCreate()
