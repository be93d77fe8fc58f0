"""Skew-mitigation utilities (SURVEY.md §6).

AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`, on in
session.py) covers sort-merge joins; salted_agg covers the case AQE
doesn't: hot-key aggregation with expensive per-key state (two-stage
salted aggregate).

At 100 TB a single hot key (one huge customer, one viral document)
otherwise pins a whole stage on one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


_COMBINERS = {"sum": F.sum, "min": F.min, "max": F.max}


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[Column, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage aggregation: groupBy (key, salt) first so a hot key
    spreads over n_salts tasks, then re-aggregate per key.

    `aggs` maps output column name → (first-stage expr, combiner) with
    combiner in {'sum','min','max'} (count combines with 'sum'). The
    combiner is REQUIRED because Column gives no reliable way to
    introspect the aggregate — Spark 4 renders countDistinct as plain
    'count(v)', so any string/`_jc` inference would silently SUM
    per-salt distinct counts into a wrong total (and `_jc` breaks
    under Spark Connect anyway). A bare Column raises. DISTINCT
    aggregates are not algebraic — the same value can appear under
    several salts — so they have no valid combiner; compute them with
    a plain two-level groupBy instead.
    """
    salted = df.withColumn(
        "_salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    stage1_exprs = []
    recombine = []
    for name, spec in aggs.items():
        if not (isinstance(spec, tuple) and len(spec) == 2):
            raise ValueError(
                f"agg {name!r}: pass (expr, combiner) with combiner in "
                f"{sorted(_COMBINERS)} — a bare Column is ambiguous "
                "(countDistinct renders as plain count and would be "
                "silently mis-combined)"
            )
        expr, comb = spec
        if comb not in _COMBINERS:
            raise ValueError(
                f"unknown combiner {comb!r}; expected one of "
                f"{sorted(_COMBINERS)}"
            )
        stage1_exprs.append(expr.alias(f"_s1_{name}"))
        recombine.append(_COMBINERS[comb](F.col(f"_s1_{name}")).alias(name))
    stage1 = salted.groupBy(key, "_salt").agg(*stage1_exprs)
    return stage1.groupBy(key).agg(*recombine)


# --------------------------------------------------------------------------
# salted_event_rollup — the skew path exercised end-to-end through the
# correctness gate: per-event_type totals computed via the two-stage
# salted aggregate (hot event types spread over 16 salts before the
# final per-key combine). The salt is internal plumbing — the result
# is bit-identical to a plain GROUP BY, which is exactly what the
# DuckDB oracle states. SUMs are rounded at the edge because the salt
# stage changes accumulation order.
# --------------------------------------------------------------------------
from pyspark.sql import SparkSession

from kinesis_to_firehose_spark.registry import register
from kinesis_to_firehose_spark.sources.tables import load

SALTED_ROLLUP_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2)::DOUBLE AS total_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("salted_event_rollup", SALTED_ROLLUP_SQL)
def salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    out = salted_agg(
        e,
        "event_type",
        {
            "n_events": (F.count("*"), "sum"),
            # exact decimal partials: per-salt sums combine to the
            # same exact total in any order at any scale
            "total_value": (F.sum(F.col("value").cast("decimal(12,2)")), "sum"),
            "max_value": (F.max("value"), "max"),
        },
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("total_value", 2).cast("double").alias("total_value"),
        F.round("max_value", 4).alias("max_value"),
    ).orderBy("event_type")
