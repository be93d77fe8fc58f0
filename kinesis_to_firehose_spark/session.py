"""SparkSession factory tuned for the local[32] harness.

All knobs here are chosen for oracle parity (UTC timestamps) and for
scale posture (AQE, skew-join handling, shuffle partitions sized to
cores rather than the 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory holding this package, put on the Python workers' path
# so the worker daemon below imports whatever the driver's cwd
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "kinesis-to-firehose-spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pyspark.daemon without the per-task pyspark.zip re-read of
        # CPython < 3.12 (see worker_daemon)
        .config(
            "spark.python.daemon.module",
            "kinesis_to_firehose_spark.worker_daemon",
        )
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in sources.tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # keep the managed-table warehouse dir out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"
            ),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
