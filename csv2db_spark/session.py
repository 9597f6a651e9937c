"""SparkSession factory.

One place for the engine's Spark configuration so tests, bench.py and the
driver entrypoint all run the same way. The settings are chosen for a real
multi-executor cluster (AQE re-planning, skew-join handling, partition
coalescing) and merely *tested* on local[N]:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  the static ``spark.sql.shuffle.partitions`` is only an upper bound; at
  100 TB you raise it (or leave AQE to coalesce) without code changes.
- Session timezone pinned to UTC so timestamp semantics are independent of
  the host machine (the fixtures store naive timestamps).
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "csv2db-spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    return builder.getOrCreate()

