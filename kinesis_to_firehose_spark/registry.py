"""Operator registry.

Each operator from SURVEY.md §2 registers a (spark_fn, oracle_sql)
pair. ``spark_fn(spark, sf_dir) -> DataFrame`` is the Spark-first
implementation; ``oracle_sql`` is the equivalent ANSI SQL DuckDB runs
on the same parquet tables (views: region nation customer supplier
part orders lineitem events documents embeddings). ``oracle_sql is
None`` marks a non-SQL-expressible op (driver does a rows-only
check).

Column names and float rounding must match between the two sides —
the driver hash-compares values after sorting columns by name.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    name: str
    fn: SparkFn
    sql: str | None  # DuckDB oracle; None → rows-only check
    # Scale cap for intrinsically-quadratic baseline ops (table, rows):
    # the op refuses inputs where count(table) > rows, and bench.py /
    # regress.py --parity skip-and-log instead of burning the budget.
    # None → the op scales (the default; only measured-truth baselines
    # like the exact all-pairs dedup_embedding carry a cap).
    max_rows: tuple[str, int] | None = None


_REGISTRY: dict[str, Op] = {}


def register(
    name: str,
    sql: str | None = None,
    max_rows: tuple[str, int] | None = None,
) -> Callable[[SparkFn], SparkFn]:
    def deco(fn: SparkFn) -> SparkFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate op {name!r}")
        _REGISTRY[name] = Op(name, fn, sql, max_rows)
        return fn

    return deco


class ScaleCapExceeded(RuntimeError):
    """Raised by a max_rows-capped op pointed at a corpus above its
    documented scale bound (e.g. the exact all-pairs dedup_embedding
    baseline on >max_rows vectors — use the LSH variant instead)."""


def over_cap(op: Op, sf_dir: str) -> int | None:
    """Row count of op's capped table at sf_dir if it exceeds the cap,
    else None. Reads only parquet metadata (duckdb count-star)."""
    if op.max_rows is None:
        return None
    table, cap = op.max_rows
    import os

    import duckdb

    path = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(path):  # Spark-written dataset: glob part files
        path = f"{path}/*.parquet"
    n = duckdb.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    return n if n > cap else None


def all_ops() -> dict[str, Op]:
    """Import every op module and return the full registry."""
    # Imports deferred so `import registry` stays cheap and cycle-free.
    from kinesis_to_firehose_spark.operators import (  # noqa: F401
        analytics,
        curation,
        dedup,
        logpipe,
        mining,
        multimodal,
        similarity,
        skew,
        streaming_ops,
        textops,
        timeseries,
    )

    return dict(_REGISTRY)


def streaming_op_names() -> frozenset[str]:
    """Ops that start a Structured Streaming query (those registered in
    operators/streaming_ops.py): no static batch plan, and a run
    measures protocol correctness, not query throughput."""
    from kinesis_to_firehose_spark.operators import streaming_ops

    return frozenset(
        name
        for name, op in all_ops().items()
        if op.fn.__module__ == streaming_ops.__name__
    )
