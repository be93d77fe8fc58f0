"""Parquet table registry over the driver testdata layout.

One parquet file per table under an sf dir (TESTDATA.md). At cluster
scale the same API points at partitioned parquet/iceberg roots; the
reads below are plain `spark.read.parquet` so Catalyst keeps column
pruning + predicate pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at ANY scale factor —
# TPC-H fixes them at 5/25 rows. customer/supplier/part grow linearly
# with SF, so their join strategy is left to AQE + the
# autoBroadcastJoinThreshold size estimate, never a forced hint.
BROADCAST_DIMS = frozenset({"region", "nation"})


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Runtime-set so sessions built OUTSIDE session.py (the driver
        # passes its own SparkSession) can still read the NANOS
        # timestamps in events.parquet.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # Older testdata stores ts as TIMESTAMP(NANOS); Spark reads
            # it as long (nanosAsLong). Truncate to micros — same as
            # DuckDB's nanos→micros conversion — so oracle timestamps
            # match. Integer DIV, not float division: DuckDB truncates
            # nanos and a double round-trip would round ...999ns up a
            # whole microsecond.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # Newer testdata is timestamp[us] without timezone; all
            # downstream ops (and the session tz, pinned UTC) were
            # written against TIMESTAMP_LTZ, so cast — a value no-op
            # under UTC, and DuckDB's naive TIMESTAMP matches.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so users can drive the
    engine through plain `spark.sql(...)` — the same names the DuckDB
    oracles use, so any oracle_sql() string that sticks to
    Spark-compatible syntax runs verbatim. Views are lazy references
    to the parquet reads (column pruning + pushdown intact); calling
    again re-points the names at a different sf_dir. Pair with
    `unregister_views` in shared sessions.
    """
    for t in TABLES:
        load(spark, t, sf_dir).createOrReplaceTempView(t)


def unregister_views(spark: SparkSession) -> None:
    """Drop the temp views register_views created (shared-session
    hygiene: a later consumer must not silently resolve these names)."""
    for t in TABLES:
        spark.catalog.dropTempView(t)
