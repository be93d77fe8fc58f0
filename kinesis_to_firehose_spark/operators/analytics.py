"""Analytical query set (SURVEY.md §2.2) — TPC-H-adapted to the
driver's schema.

Design notes (100 TB posture):
- Dimensions (region/nation/customer/supplier/part) are broadcast —
  no shuffle on the fact side for star joins.
- Aggregates are expressed with native ``F.*`` so Catalyst keeps
  whole-stage codegen and map-side partial aggregation.
- Every float output is rounded at the query edge (ROUND_DP) so the
  DuckDB oracle hash-matches despite summation-order differences.
- Top-N queries always carry a unique tiebreaker in the sort so both
  engines cut the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesis_to_firehose_spark.registry import register
from kinesis_to_firehose_spark.sources.tables import load

ROUND_DP = 2

# ---------------------------------------------------------------------
# Cross-engine exact money arithmetic.
#
# Rule (round-5 postmortem): quantize OPERANDS, never double products.
# Every money column in the testdata is 2dp-exact (stored as the
# nearest double to an exact hundredth — verified max|x*100-round| ≲
# 1e-9, i.e. pure representation noise), so casting the COLUMN to a
# 2dp decimal is lossless and bit-identical in Spark and DuckDB: the
# target grid point is ~0.005 away from any rounding boundary, so
# Spark's shortest-string HALF_UP and DuckDB's binary-value rounding
# agree. Casting a double PRODUCT (price*(1-disc)*(1+tax), exact at
# 6dp) to DECIMAL(18,4) is NOT safe: ~1.45% of charge values sit on
# exact 4dp midpoints where the two engines' cast semantics fork —
# that broke q1 in round 5. With decimal operands the whole product
# stays exact decimal arithmetic (scale 2+2+2=6, precision ≤ 22 — no
# precision-loss adjustment in either engine), the SUM is exact
# integer arithmetic (order-independent at any parallelism/scale),
# and ROUND is exact HALF_UP on the same decimal value in both
# engines. Summing raw doubles instead is fold-order-dependent: at
# sf1 the ~1e-8 relative drift between Spark's partial-sum tree and
# DuckDB's flipped ROUND(.., 2) cents (q5/q7, round-5 sweep).
_PRICE_DEC = "decimal(12,2)"  # money columns (|x| < 1e10, 2dp-exact)
_RATE_DEC = "decimal(4,2)"    # rate factors (1±disc/tax) in [0, 2)
_QTY_DEC = "decimal(4,0)"     # l_quantity: integer-valued, 1..50

# SQL-twin spellings (DuckDB) of the same quantized operands.
_SQL_EP = "CAST(l_extendedprice AS DECIMAL(12,2))"
_SQL_DISC_PRICE = f"{_SQL_EP} * CAST(1 - l_discount AS DECIMAL(4,2))"
_SQL_CHARGE = f"{_SQL_DISC_PRICE} * CAST(1 + l_tax AS DECIMAL(4,2))"


def _r(col, dp: int = ROUND_DP):
    return F.round(col, dp)


def _dm(name: str):
    """A 2dp-exact money column as exact DECIMAL(12,2)."""
    return F.col(name).cast(_PRICE_DEC)


def _df(expr):
    """A 2dp-exact rate factor (1±disc/tax, in [0,2)) as DECIMAL(4,2).
    The double arithmetic error on 1±x is ~1e-16 — five orders below
    the 0.005 distance to the nearest 2dp rounding boundary."""
    return expr.cast(_RATE_DEC)


def _disc_price():
    """l_extendedprice * (1 - l_discount) as exact DECIMAL (scale 4)."""
    return _dm("l_extendedprice") * _df(1 - F.col("l_discount"))


def _charge():
    """l_extendedprice*(1-l_discount)*(1+l_tax) as exact DECIMAL (scale 6)."""
    return _disc_price() * _df(1 + F.col("l_tax"))


def _dsum(dec_col, dp: int = ROUND_DP):
    """Order-independent money sum over an ALREADY-DECIMAL expression:
    ROUND(SUM(dec), dp) as DOUBLE. Exact in both engines; the final
    decimal→double cast of the rounded 2dp value is deterministic."""
    return F.round(F.sum(dec_col), dp).cast("double")


def _dsum_raw(dec_col):
    """Exact decimal money sum cast to double (no rounding) for
    ratio/threshold math: both engines cast the IDENTICAL exact
    decimal, so downstream IEEE division sees identical inputs."""
    return F.sum(dec_col).cast("double")


def _davg_expr(sum_units: str, n: str, dp: int = ROUND_DP) -> str:
    """Exact HALF_UP average, pure integer arithmetic (post-agg SQL
    expression): round_half_up(sum/n, dp) = ((2*u + n) DIV (2*n)) /
    10^dp where u = sum * 10^dp is an exact integer (the summed
    values are dp-exact and nonnegative). No engine ROUND on a double
    is involved, so there is no midpoint semantics to fork: fold
    order, decimal-vs-binary rounding, and division style all drop
    out. Exact while |u| < 2^62 — at dp=2 that is |sum| ≲ 4.6e16,
    i.e. past a global 100 TB revenue sum. DuckDB twin uses // in
    place of DIV."""
    s = 10 ** dp
    return (
        f"CAST((CAST({sum_units} * {s} AS BIGINT) * 2 + {n}) DIV "
        f"({n} * 2) AS DOUBLE) / {s}.0"
    )


# --------------------------------------------------------------------------
# q1_pricing_summary — TPC-H Q1 adapted (reference has no SQL surface; this
# is the engine-breadth suite mandated by SURVEY §2.2).
# --------------------------------------------------------------------------
Q1_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 2)                          AS sum_qty,
  ROUND(SUM({_SQL_EP}), 2)::DOUBLE                   AS sum_base_price,
  ROUND(SUM({_SQL_DISC_PRICE}), 2)::DOUBLE           AS sum_disc_price,
  ROUND(SUM({_SQL_CHARGE}), 2)::DOUBLE               AS sum_charge,
  CAST((CAST(SUM(l_quantity) * 100 AS BIGINT) * 2 + COUNT(*))
       // (COUNT(*) * 2) AS DOUBLE) / 100.0          AS avg_qty,
  CAST((CAST(SUM({_SQL_EP}) * 100 AS BIGINT) * 2 + COUNT(*))
       // (COUNT(*) * 2) AS DOUBLE) / 100.0          AS avg_price,
  CAST((CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT) * 2 + COUNT(*))
       // (COUNT(*) * 2) AS DOUBLE) / 10000.0        AS avg_disc,
  COUNT(*)                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", Q1_SQL)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, "lineitem", sf_dir)
    agged = (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("_sum_qty"),
            _dsum(_dm("l_extendedprice")).alias("sum_base_price"),
            _dsum(_disc_price()).alias("sum_disc_price"),
            _dsum(_charge()).alias("sum_charge"),
            F.sum(_dm("l_extendedprice")).alias("_sum_price_dec"),
            F.sum(F.col("l_discount").cast(_RATE_DEC)).alias("_sum_disc_dec"),
            F.count("*").alias("count_order"),
        )
    )
    return (
        agged.select(
            "l_returnflag",
            "l_linestatus",
            _r(F.col("_sum_qty")).alias("sum_qty"),
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            F.expr(_davg_expr("_sum_qty", "count_order")).alias("avg_qty"),
            F.expr(_davg_expr("_sum_price_dec", "count_order")).alias("avg_price"),
            F.expr(_davg_expr("_sum_disc_dec", "count_order", 4)).alias("avg_disc"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q3_shipping_priority — join customer ⋈ orders ⋈ lineitem, top-10 revenue.
# customer is broadcast (≪ fact tables at any SF).
# --------------------------------------------------------------------------
Q3_SQL = """
SELECT l_orderkey,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))), 2)::DOUBLE AS revenue,
       o_orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", Q3_SQL)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    l = load(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        # customer scales with the fact tables — no forced broadcast;
        # AQE + autoBroadcastJoinThreshold pick the strategy by size.
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(_disc_price()).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q5_local_supplier — 6-way star join. nation/region are FIXED-size
# dims (25/5 rows at any scale) and get explicit broadcasts;
# customer/supplier scale linearly with the facts, so their joins are
# left to AQE + autoBroadcastJoinThreshold (a forced hint would OOM
# executors at 100×). The fact-fact lineitem ⋈ orders join shuffles on
# orderkey with AQE skew handling.
# --------------------------------------------------------------------------
Q5_SQL = """
SELECT n_name,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))), 2)::DOUBLE AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register("q5_local_supplier", Q5_SQL)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = load(spark, "lineitem", sf_dir)
    s = load(spark, "supplier", sf_dir)
    n = load(spark, "nation", sf_dir)
    r = load(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(_disc_price()).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# q6_forecast_revenue — selective scan-agg; filters push to the parquet scan.
# --------------------------------------------------------------------------
Q6_SQL = """
SELECT ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))), 2)::DOUBLE AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", Q6_SQL)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, "lineitem", sf_dir)
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(_dm("l_extendedprice") * F.col("l_discount").cast(_RATE_DEC)).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# q10_returned_items — returned-item revenue per customer, top 20.
# --------------------------------------------------------------------------
Q10_SQL = """
SELECT c_custkey,
       c_name,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))), 2)::DOUBLE AS revenue,
       ROUND(c_acctbal, 2) AS c_acctbal,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_items", Q10_SQL)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    l = load(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    n = load(spark, "nation", sf_dir)
    return (
        # customer scales with the facts — strategy left to AQE; nation
        # is a fixed 25-row dim and stays an explicit broadcast.
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(_disc_price()).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            _r(F.col("c_acctbal")).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# top_n_per_group — window row_number ≤ 3 per brand.
# --------------------------------------------------------------------------
TOPN_SQL = """
SELECT p_brand, p_partkey, p_retailprice, rn
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         ROW_NUMBER() OVER (
           PARTITION BY p_brand
           ORDER BY p_retailprice DESC, p_partkey
         ) AS rn
  FROM part
)
WHERE rn <= 3
ORDER BY p_brand, rn
"""


@register("top_n_per_group", TOPN_SQL)
def top_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, "part", sf_dir)
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        p.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
        .orderBy("p_brand", "rn")
    )


# --------------------------------------------------------------------------
# semi_anti_join — customers with no urgent order (NOT EXISTS → left_anti).
# --------------------------------------------------------------------------
ANTI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
ORDER BY c_custkey
"""


@register("semi_anti_join", ANTI_SQL)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, "customer", sf_dir)
    urgent = load(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# rollup_agg — hierarchical totals (returnflag → linestatus → grand total).
# --------------------------------------------------------------------------
ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@register("rollup_agg", ROLLUP_SQL)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, "lineitem", sf_dir)
    return l.rollup("l_returnflag", "l_linestatus").agg(
        _r(F.sum("l_quantity")).alias("sum_qty"), F.count("*").alias("n")
    )


# --------------------------------------------------------------------------
# sessionize — gap-based sessionization (6h gap) via lag + cumsum windows.
# --------------------------------------------------------------------------
SESSION_GAP_S = 6 * 3600

SESSIONIZE_SQL = f"""
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE
           WHEN epoch(ts) - epoch(LAG(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                )) > {SESSION_GAP_S}
                OR LAG(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                ) IS NULL
           THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, event_id, value,
         CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_id
  FROM gaps
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2)::DOUBLE AS session_value,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def _session_ids(e: DataFrame) -> DataFrame:
    """events + a per-user `session_id` column (6h-gap rule): the ONE
    Spark-side session derivation, shared by sessionize and
    session_paths so a gap-rule change can't desynchronize them."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.col("ts").cast("double") - prev_ts.cast("double")) > SESSION_GAP_S),
        F.lit(1),
    ).otherwise(F.lit(0))
    return e.withColumn("new_session", new_session).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )


@register("sessionize", SESSIONIZE_SQL)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    sessions = _session_ids(load(spark, "events", sf_dir))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            _dsum(_dm("value")).alias("session_value"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


# --------------------------------------------------------------------------
# running_agg — cumulative per-user value over event time.
# --------------------------------------------------------------------------
RUNNING_SQL = """
SELECT event_id, user_id, ts,
       ROUND(SUM(CAST(value AS DECIMAL(12,2))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2)::DOUBLE AS running_value,
       ROW_NUMBER() OVER (
         PARTITION BY user_id ORDER BY ts, event_id
       ) AS user_seq
FROM events
"""


@register("running_agg", RUNNING_SQL)
def running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.round(
            F.sum(_dm("value")).over(w.rowsBetween(W.unboundedPreceding, 0)), 2
        )
        .cast("double")
        .alias("running_value"),
        F.row_number().over(w).cast("bigint").alias("user_seq"),
    )


# --------------------------------------------------------------------------
# distinct_count — exact per-type distinct users/values (the HLL
# approx variant is `approx_distinct`, rows-only checked).
# --------------------------------------------------------------------------
DISTINCT_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("distinct_count", DISTINCT_SQL)
def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


# HLL sketch values have no DuckDB twin, but the CLAIM "the sketch
# lands within its error bound of the exact count" does: emit a
# deterministic within_bound BOOLEAN computed in-plan against the
# exact aggregate both engines agree on, and the row becomes
# hash-checkable (round-7 verdict task 2 — these were the only two
# non-green driver rows). Bound mirrors the pytest error-bound test:
# |approx − exact| ≤ max(5, 5·rsd·exact) with rsd = 0.01. HLL++ is
# hash-deterministic and merge-order-free, so the boolean is stable
# under any partitioning.
APPROX_DISTINCT_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS within_bound
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("approx_distinct", APPROX_DISTINCT_SQL)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++): the 100 TB path for distincts —
    single pass, no shuffle of raw values, mergeable sketches. The
    sketch estimate itself is engine-specific, so the hash-checked
    surface is (exact count, within_bound) — see APPROX_DISTINCT_SQL;
    the raw estimate stays available via approx_distinct_raw for the
    pytest error study.

    r13 (guide §1.2 per-task work): mixing countDistinct with the
    sketch in ONE aggregate makes the single-distinct rewrite key the
    FIRST aggregate on (event_type, user_id) and carry
    partial_approx_count_distinct as per-GROUP state — one
    2^14-register (rsd 0.01) HLL buffer allocated and merged per
    DISTINCT USER instead of per event_type (visible in the committed
    before plan's `partial_approx_count_distinct` under the
    (event_type, user_id) grouping). Two-level form instead: dedup to
    (event_type, user_id) first (the same shuffle countDistinct
    needed anyway), then count/sum/sketch over the deduped rows — the
    plan shape is unchanged (3 exchanges) but exactly |event_type|
    sketch buffers exist. The sketch is BIT-IDENTICAL over deduped
    input — HLL registers are maxima, duplicates never change them
    (verified value-equal at sf0.1) — and the exact counts are plain
    integer regroupings. Measured 3.22 → 1.77 s same-session (−45%)."""
    e = load(spark, "events", sf_dir)
    lvl1 = e.groupBy("event_type", "user_id").agg(F.count("*").alias("c"))
    return (
        lvl1.groupBy("event_type")
        .agg(
            F.count("user_id").alias("n_users_exact"),
            F.sum("c").alias("n_events"),
            F.approx_count_distinct("user_id", 0.01).alias("n_users_approx"),
        )
        .select(
            "event_type",
            "n_users_exact",
            "n_events",
            (
                F.abs(F.col("n_users_approx") - F.col("n_users_exact"))
                <= F.greatest(
                    F.lit(5.0), F.lit(0.05) * F.col("n_users_exact")
                )
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


def approx_distinct_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass over events: exact + HLL++ distincts side by side."""
    e = load(spark, "events", sf_dir)
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.count("*").alias("n_events"),
        F.approx_count_distinct("user_id", 0.01).alias("n_users_approx"),
    )


# --------------------------------------------------------------------------
# pivot_events — event_type → columns, per day.
# --------------------------------------------------------------------------
PIVOT_SQL = """
SELECT date_trunc('day', ts) AS day,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
       COUNT(*) FILTER (WHERE event_type = 'view')     AS view,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
       COUNT(*) FILTER (WHERE event_type = 'error')    AS error
FROM events
GROUP BY day
ORDER BY day
"""


@register("pivot_events", PIVOT_SQL)
def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    return (
        e.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0, ["click", "view", "purchase", "signup", "error"])
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# asof_join — for each purchase, the most recent prior click by the same
# user (as-of semantics via a bounded window, no native asof in Spark).
# --------------------------------------------------------------------------
ASOF_SQL = """
WITH enriched AS (
  SELECT event_id, user_id, ts, event_type,
         MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS last_click_ts
  FROM events
)
SELECT event_id, user_id, ts, last_click_ts
FROM enriched
WHERE event_type = 'purchase'
ORDER BY event_id
"""


@register("asof_join", ASOF_SQL)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    return (
        e.withColumn("last_click_ts", last_click)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# q18_large_orders — HAVING over a grouped fact (TPC-H Q18 adapted).
# --------------------------------------------------------------------------
Q18_SQL = """
SELECT o_orderkey, o_orderdate,
       ROUND(SUM(l_quantity), 2) AS total_qty
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey, o_orderdate
HAVING SUM(l_quantity) > 150
ORDER BY total_qty DESC, o_orderkey
LIMIT 50
"""


@register("q18_large_orders", Q18_SQL)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    l = load(spark, "lineitem", sf_dir)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            _r(F.sum("l_quantity")).alias("total_qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter(F.col("_raw_qty") > 150)
        .drop("_raw_qty")
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(50)
    )


# --------------------------------------------------------------------------
# q17_small_qty — correlated scalar subquery: lineitems below 50% of the
# part's average quantity (TPC-H Q17 adapted). Spark expresses the
# correlation as a broadcast-grouped self-join (the plan Catalyst would
# decorrelate to anyway).
# --------------------------------------------------------------------------
Q17_SQL = """
SELECT CAST((CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) * 2 + 7)
            // 14 AS DOUBLE) / 100.0 AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem l1
WHERE l_quantity < (
  SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
  WHERE l2.l_partkey = l1.l_partkey
)
"""


@register("q17_small_qty", Q17_SQL)
def q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, "lineitem", sf_dir)
    part_avg = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        # part_avg has one row PER PARTKEY — it scales with part, so no
        # forced broadcast; the l_partkey equi-join shuffles both sides
        # (or broadcasts under the threshold, AQE's call).
        l.join(part_avg, l.l_partkey == part_avg.pk)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.sum(_dm("l_extendedprice")).alias("_s"),
            F.count("*").alias("n_lines"),
        )
        # ROUND(sum/7, 2) as exact integer HALF_UP: (2*cents+7) DIV 14
        .select(
            F.expr(
                "CAST((CAST(_s * 100 AS BIGINT) * 2 + 7) DIV 14 AS DOUBLE)"
                " / 100.0"
            ).alias("avg_yearly"),
            "n_lines",
        )
    )


# --------------------------------------------------------------------------
# set_ops — UNION / INTERSECT / EXCEPT over customer key sets.
# --------------------------------------------------------------------------
SET_OPS_SQL = """
WITH building AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
big_spenders AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000
)
SELECT 'union' AS op, COUNT(*) AS n FROM (
  SELECT c_custkey FROM building UNION SELECT c_custkey FROM big_spenders
)
UNION ALL
SELECT 'intersect' AS op, COUNT(*) AS n FROM (
  SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM big_spenders
)
UNION ALL
SELECT 'except' AS op, COUNT(*) AS n FROM (
  SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM big_spenders
)
ORDER BY op
"""


@register("set_ops", SET_OPS_SQL)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir)
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    spenders = (
        o.filter(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    # ONE distributed plan (union of three 1-row aggregates), not three
    # driver-side .count() actions — the driver never assembles results.
    # The two key sets are materialized once via localCheckpoint: the
    # three set-op branches would otherwise rescan customer/orders 6×
    # (measured), and the key sets are tiny relative to the raw tables.
    building = building.localCheckpoint(eager=True)
    spenders = spenders.localCheckpoint(eager=True)

    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(
            F.lit(tag).alias("op"), "n"
        )

    return (
        tagged(building.union(spenders).distinct(), "union")
        .unionAll(tagged(building.intersect(spenders), "intersect"))
        .unionAll(tagged(building.subtract(spenders), "except"))
        .orderBy("op")
    )


# --------------------------------------------------------------------------
# percentile_by_group — exact continuous percentiles per group.
# --------------------------------------------------------------------------
PERCENTILE_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.95), 4) AS p95,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("percentile_by_group", PERCENTILE_SQL)
def percentile_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# monthly_revenue — calendar rollup via date_trunc + extract.
# --------------------------------------------------------------------------
MONTHLY_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
       ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2)::DOUBLE AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY yr, mo
ORDER BY yr, mo
"""


@register("monthly_revenue", MONTHLY_SQL)
def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    return (
        o.groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mo"),
        )
        .agg(
            _dsum(_dm("o_totalprice")).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("yr", "mo")
    )


# --------------------------------------------------------------------------
# cube_agg — full grouping-set lattice over two dims.
# --------------------------------------------------------------------------
CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2)::DOUBLE AS sum_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""


@register("cube_agg", CUBE_SQL)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 (guide §1.2 per-task work): a raw CUBE Expands every lineitem
    # row ×4 grouping sets BEFORE partial aggregation. Aggregate to the
    # base (returnflag, linestatus) cells first — map-side combined at
    # full parallelism — then cube the ≤ flags×statuses base table.
    # Exact: decimal sums are associative (regrouping cannot change a
    # digit), counts re-sum, and neither dim is NULL in lineitem so the
    # base cells partition the rows exactly as the raw CUBE's finest
    # grouping set does.
    l = load(spark, "lineitem", sf_dir)
    base = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dm("l_extendedprice")).alias("ps"),
        F.count("*").alias("pn"),
    )
    return base.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("ps"), ROUND_DP).cast("double").alias("sum_price"),
        F.sum("pn").alias("n"),
    )


# --------------------------------------------------------------------------
# value_histogram — fixed-width binning of a measure (the width_bucket
# pattern, expressed portably as floor division).
# --------------------------------------------------------------------------
HISTOGRAM_SQL = """
SELECT event_type,
       CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       ROUND(MIN(value), 2) AS lo,
       ROUND(MAX(value), 2) AS hi
FROM events
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


@register("value_histogram", HISTOGRAM_SQL)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    return (
        e.groupBy(
            "event_type",
            F.floor(F.col("value") / 50.0).cast("bigint").alias("bucket"),
        )
        .agg(
            F.count("*").alias("n"),
            _r(F.min("value")).alias("lo"),
            _r(F.max("value")).alias("hi"),
        )
        .orderBy("event_type", "bucket")
    )


# --------------------------------------------------------------------------
# session_window_agg — Spark's NATIVE session_window operator (the same
# engine primitive Structured Streaming uses for streaming
# sessionization), cross-checked against the explicit gap-based
# construction in the oracle: a session closes 6h after its last event,
# so window.end == max(ts) + 6h and window.start == min(ts).
# --------------------------------------------------------------------------
SESSION_WINDOW_SQL = f"""
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE
           WHEN epoch(ts) - epoch(LAG(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                )) > {SESSION_GAP_S}
                OR LAG(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                ) IS NULL
           THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_id
  FROM gaps
)
SELECT user_id,
       MIN(ts) AS window_start,
       MAX(ts) + INTERVAL 6 HOUR AS window_end,
       COUNT(*) AS n_events,
       ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2)::DOUBLE AS session_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, window_start
"""


@register("session_window_agg", SESSION_WINDOW_SQL)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    return (
        e.groupBy(
            F.session_window("ts", "6 hours").alias("w"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            _dsum(_dm("value")).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "window_start")
    )


# --------------------------------------------------------------------------
# grouping_sets_agg — explicit GROUPING SETS with grouping_id: the
# general lattice primitive rollup/cube specialize. One shuffle
# computes all three granularities ((type), (user bucket), ()) — at
# scale this replaces three separate scans+aggs with one.
# --------------------------------------------------------------------------
GROUPING_SETS_SQL = """
SELECT event_type,
       user_id % 10 AS user_bucket,
       GROUPING(event_type, user_id % 10) AS grp_id,
       COUNT(*) AS n,
       ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2)::DOUBLE AS total_value
FROM events
GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
ORDER BY grp_id, event_type NULLS FIRST, user_bucket NULLS FIRST
"""


@register("grouping_sets_agg", GROUPING_SETS_SQL)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    e.createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT event_type,
               user_id % 10 AS user_bucket,
               CAST(GROUPING_ID(event_type, user_id % 10) AS BIGINT) AS grp_id,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
        ORDER BY grp_id, event_type NULLS FIRST, user_bucket NULLS FIRST
        """
    )


# Same within_bound pattern as APPROX_DISTINCT_SQL: the GK-sketch
# quantiles have no DuckDB twin, but "sketch within ±2.0 of the exact
# percentile" is checkable in both engines (exact expressions proven
# green cross-engine in percentile_by_group). Bound = the pytest
# error-bound test's ±2.0.
APPROX_PCTL_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50_exact,
       ROUND(quantile_cont(value, 0.95), 4) AS p95_exact,
       TRUE AS p50_within_bound,
       TRUE AS p95_within_bound
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("approx_percentile_by_group", APPROX_PCTL_SQL)
def approx_percentile_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile: the 100 TB path for quantiles — one pass,
    mergeable sketches, no per-group sort of raw values (the exact
    twin is `percentile_by_group`). Hash-checked surface is (exact
    percentiles, within_bound booleans) — see APPROX_PCTL_SQL; raw
    estimates via approx_percentile_raw for the pytest error study."""
    agg = approx_percentile_raw(spark, sf_dir)
    bound = F.lit(2.0)
    return agg.select(
        "event_type",
        "p50_exact",
        "p95_exact",
        (F.abs(F.col("p50_approx") - F.col("p50_exact")) < bound).alias(
            "p50_within_bound"
        ),
        (F.abs(F.col("p95_approx") - F.col("p95_exact")) < bound).alias(
            "p95_within_bound"
        ),
    ).orderBy("event_type")


def approx_percentile_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass over events: exact + GK-sketch percentiles side by
    side (sketch accuracy 1000)."""
    e = load(spark, "events", sf_dir)
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95_exact"),
        F.round(
            F.expr("approx_percentile(value, 0.5, 1000)"), 4
        ).alias("p50_approx"),
        F.round(
            F.expr("approx_percentile(value, 0.95, 1000)"), 4
        ).alias("p95_approx"),
    )


# --------------------------------------------------------------------------
# q4_order_priority (TPC-H Q4 adapted: no commit/receipt dates in the
# testdata, so "late" = any lineitem shipped > 60 days after the order
# date). Plan shape: orders date-filter pushed to the scan, LEFT SEMI
# join to lineitem on key + inequality, tiny groupBy. The semi join
# shuffles on orderkey only — no fact-fact row explosion.
# --------------------------------------------------------------------------
Q4_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q4_order_priority", Q4_SQL)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, "lineitem", sf_dir)
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q7_volume_shipping (TPC-H Q7 adapted): bilateral trade volume between
# two nations per ship year. nation is a fixed 25-row table — broadcast
# twice (supplier side, customer side); the fact joins shuffle on their
# keys and AQE handles the rest.
# --------------------------------------------------------------------------
Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2)::DOUBLE AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("q7_volume_shipping", Q7_SQL)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, "supplier", sf_dir)
    li = load(spark, "lineitem", sf_dir)
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    n1 = F.broadcast(load(spark, "nation", sf_dir).alias("n1"))
    n2 = F.broadcast(load(spark, "nation", sf_dir).alias("n2"))
    joined = (
        s.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(n2, F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .filter(
            (
                (F.col("n1.n_name") == "NATION_1")
                & (F.col("n2.n_name") == "NATION_2")
            )
            | (
                (F.col("n1.n_name") == "NATION_2")
                & (F.col("n2.n_name") == "NATION_1")
            )
        )
    )
    return (
        joined.select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            _disc_price().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_dsum(F.col("volume")).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# q12_late_priority (TPC-H Q12 adapted: no l_shipmode column, so the
# split is urgent/high vs other order priority, per ship year, over
# late lines). Conditional aggregation — one shuffle on the join key,
# map-side combined CASE sums.
# --------------------------------------------------------------------------
Q12_SQL = """
SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY ship_year
ORDER BY ship_year
"""


@register("q12_late_priority", Q12_SQL)
def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    li = load(spark, "lineitem", sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .groupBy(F.year("l_shipdate").cast("bigint").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("ship_year")
    )


# --------------------------------------------------------------------------
# q14_promo_effect (TPC-H Q14): promo revenue share in one ship month.
# part scales with the corpus — NOT force-broadcast; the lineitem date
# filter is pushed to the scan, so AQE sees the post-filter sizes and
# picks the join strategy.
# --------------------------------------------------------------------------
Q14_SQL = """
SELECT ROUND(
         100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                          THEN CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))
                          ELSE 0 END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-03-01 00:00:00'
"""


@register("q14_promo_effect", Q14_SQL)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-03-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, "part", sf_dir)
    disc = _disc_price()
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * _dsum_raw(promo) / _dsum_raw(disc), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


# --------------------------------------------------------------------------
# q19_discounted_revenue (TPC-H Q19 adapted to the available columns):
# OR-of-ANDs over (brand, size, quantity) ranges. Catalyst extracts
# the per-table conjuncts from the disjunction (p_brand IN ... reaches
# the part scan; quantity bounds reach lineitem) — the predicate-
# pushdown stress test.
# --------------------------------------------------------------------------
Q19_SQL = """
SELECT ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))), 2)::DOUBLE AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
"""


@register("q19_discounted_revenue", Q19_SQL)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    p = load(spark, "part", sf_dir)

    def arm(brand: str, s_lo, s_hi, q_lo, q_hi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    cond = (
        arm("Brand#1", 1, 15, 1, 20)
        | arm("Brand#2", 10, 30, 10, 35)
        | arm("Brand#3", 20, 50, 20, 50)
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            _dsum(_disc_price())
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# interval_join — point-in-range join (each event → the gap-session
# that contains it) WITHOUT an inequality-only join. Spark executes a
# pure range predicate as BroadcastNestedLoopJoin — a non-starter when
# both sides scale. Here both sides are bucketed into fixed 1-hour
# time chunks: intervals explode into every bucket they overlap,
# events map to exactly one bucket, and the join becomes a shuffled
# equi-join on (user_id, bucket) with the exact containment filter
# applied to the bucket-matched candidates only. Fan-out is bounded by
# interval_length/bucket_width (sessions here span hours, not weeks).
# The oracle states the semantics as the plain inequality join —
# proving the bucketing is execution strategy, not meaning.
# --------------------------------------------------------------------------
INTERVAL_BUCKET_S = 3600

INTERVAL_JOIN_SQL = f"""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE
           WHEN epoch(ts) - epoch(LAG(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                )) > {SESSION_GAP_S}
                OR LAG(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                ) IS NULL
           THEN 1 ELSE 0 END AS new_session
  FROM events
),
tagged AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_id
  FROM gaps
),
sess AS (
  SELECT user_id, session_id,
         MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM tagged GROUP BY user_id, session_id
)
SELECT e.event_id, s.user_id, s.session_id
FROM events e
JOIN sess s
  ON e.user_id = s.user_id
 AND e.ts >= s.session_start AND e.ts <= s.session_end
ORDER BY e.event_id
"""


@register("interval_join", INTERVAL_JOIN_SQL)
def interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = sessionize(spark, sf_dir).select(
        "user_id", "session_id", "session_start", "session_end"
    )
    w = INTERVAL_BUCKET_S
    s_b = sess.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp("session_start") / w).cast("long"),
                F.floor(F.unix_timestamp("session_end") / w).cast("long"),
            )
        ),
    )
    e = load(spark, "events", sf_dir).select("event_id", "user_id", "ts")
    e_b = e.withColumn(
        "bucket", F.floor(F.unix_timestamp("ts") / w).cast("long")
    )
    return (
        e_b.join(s_b, ["user_id", "bucket"])
        .filter(
            (F.col("ts") >= F.col("session_start"))
            & (F.col("ts") <= F.col("session_end"))
        )
        .select("event_id", "user_id", "session_id")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# q8_market_share (TPC-H Q8 adapted): NATION_1 suppliers' share of
# revenue delivered to customers of region REGION_0, per order year.
# Two-level aggregate: conditional sum / total sum per year — one
# shuffle to the year grain after the star joins (dims broadcast).
# --------------------------------------------------------------------------
Q8_SQL = """
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA'
)
GROUP BY o_year
ORDER BY o_year
"""


@register("q8_market_share", Q8_SQL)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    s = load(spark, "supplier", sf_dir)
    n1 = F.broadcast(load(spark, "nation", sf_dir).alias("n1"))
    n2 = F.broadcast(load(spark, "nation", sf_dir).alias("n2"))
    r = F.broadcast(
        load(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    )
    volume = _disc_price()
    base = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(r, F.col("n1.n_regionkey") == F.col("r_regionkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            volume.alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.round(
                _dsum_raw(
                    F.when(
                        F.col("supp_nation") == "NATION_1", F.col("volume")
                    ).otherwise(F.lit(0))
                )
                / _dsum_raw(F.col("volume")),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# q13_order_distribution (TPC-H Q13): distribution of per-customer
# order counts INCLUDING zero-order customers — the left-outer-join
# aggregate pattern. Two shuffles (custkey count, then count-of-counts
# over the tiny histogram).
# --------------------------------------------------------------------------
Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q13_order_distribution", Q13_SQL)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir)
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# q15_top_supplier (TPC-H Q15): suppliers whose quarterly revenue
# equals the maximum. The max-of-aggregate is a 1-row cross join
# (broadcast), not a window over all suppliers.
# --------------------------------------------------------------------------
Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))), 2)::DOUBLE AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register("q15_top_supplier", Q15_SQL)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01 00:00:00").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _dsum(_disc_price()).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_rev"))
    s = load(spark, "supplier", sf_dir)
    return (
        s.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# q22_dormant_customers (TPC-H Q22 adapted, no phone codes): customers
# with above-average positive balance and no RECENT orders (the
# testdata gives every customer at least one lifetime order), by
# nation. Scalar subquery (1-row broadcast) + left anti join against
# the date-filtered orders.
# --------------------------------------------------------------------------
Q22_SQL = """
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2)::DOUBLE AS totacctbal
FROM customer
WHERE CAST(c_acctbal AS DECIMAL(12,2))
        * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0.0)
      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2)))
         FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@register("q22_dormant_customers", Q22_SQL)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir)
    # c_acctbal > AVG(...) decided in exact decimal (bal * n > total):
    # the avg of 2dp balances can land exactly ON a 2dp grid point
    # (n | sum_cents), where a double-avg comparison forks by engine.
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast(_PRICE_DEC)).alias("_pos_total"),
        F.count("*").alias("_pos_n"),
    )
    return (
        c.join(F.broadcast(pos))
        .filter(
            F.col("c_acctbal").cast(_PRICE_DEC) * F.col("_pos_n")
            > F.col("_pos_total")
        )
        .join(
            o.filter(
                F.col("o_orderdate")
                >= F.lit("2000-01-01 00:00:00").cast("timestamp")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            _dsum(F.col("c_acctbal").cast(_PRICE_DEC)).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# sliding_window_agg — hopping 1-hour windows every 15 minutes (each
# event lands in size/slide = 4 windows). Spark's native window()
# generates the window copies BEFORE the shuffle, so the aggregate is
# still one map-side-combined exchange — the same cost model a
# streaming deployment of this aggregation has. The oracle replays the
# identical epoch-aligned window arithmetic with a generate_series
# fan-out; both sides emit window starts as epoch seconds to keep the
# comparison type-exact across engines.
# --------------------------------------------------------------------------
SLIDE_S = 900
WSIZE_S = 3600

SLIDING_WINDOW_SQL = f"""
SELECT CAST(FLOOR(epoch(ts) / {SLIDE_S}) * {SLIDE_S} - k * {SLIDE_S} AS BIGINT)
         AS window_start_s,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2)::DOUBLE AS total_value
FROM events, generate_series(0, {WSIZE_S // SLIDE_S - 1}) AS g(k)
GROUP BY window_start_s, event_type
ORDER BY window_start_s, event_type
"""


@register("sliding_window_agg", SLIDING_WINDOW_SQL)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    return (
        e.groupBy(
            F.window("ts", f"{WSIZE_S} seconds", f"{SLIDE_S} seconds").alias(
                "w"
            ),
            "event_type",
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            _dsum(_dm("value")).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start"))
            .cast("bigint")
            .alias("window_start_s"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start_s", "event_type")
    )


# --------------------------------------------------------------------------
# profile_table — the ingest data-quality pass: per-column null count,
# exact distinct count, min/max, in long format. ONE scan; every
# metric is an aggregate over the same pass (Spark computes the
# multi-distinct via Expand, still a single scan+shuffle). At 100 TB
# this is the profile job that runs after every load; long format so
# new columns don't change the schema.
# --------------------------------------------------------------------------
PROFILE_SQL = """
SELECT col, n_rows, n_nulls, n_distinct, min_val, max_val
FROM (
  SELECT 'event_type' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_distinct,
         CAST(MIN(event_type) AS VARCHAR) AS min_val,
         CAST(MAX(event_type) AS VARCHAR) AS max_val
  FROM events
  UNION ALL
  SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT user_id) AS BIGINT),
         CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
  FROM events
  UNION ALL
  SELECT 'value', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT value) AS BIGINT),
         CAST(ROUND(MIN(value), 2) AS VARCHAR), CAST(ROUND(MAX(value), 2) AS VARCHAR)
  FROM events
)
ORDER BY col
"""


@register("profile_table", PROFILE_SQL)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)

    def metrics(col: str, numeric: bool):
        mn = F.min(col)
        mx = F.max(col)
        if numeric:
            mn, mx = F.round(mn, 2), F.round(mx, 2)
        return e.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_nulls"),
            F.countDistinct(col).cast("bigint").alias("n_distinct"),
            mn.cast("string").alias("min_val"),
            mx.cast("string").alias("max_val"),
        ).select(F.lit(col).alias("col"), "*")

    return (
        metrics("event_type", False)
        .unionAll(metrics("user_id", False))
        .unionAll(metrics("value", True))
        .orderBy("col")
    )


# --------------------------------------------------------------------------
# value_outliers — per-type z-score outliers (|z| > 3). The per-type
# moments are a tiny aggregate joined back (broadcast — one row per
# event_type); the z computation is narrow. Moments come from EXACT
# decimal sufficient statistics (S1 = Σx, S2 = Σx² — both exact since
# value is 2dp, so x² is 4dp): the exact sums convert to double once
# and mu/sigma are then fixed scalar IEEE expressions — bit-identical
# in both engines at any fold order or scale, so the |z| > 3 cut
# can't fork.
# --------------------------------------------------------------------------
OUTLIER_Z = 3.0

OUTLIERS_SQL = f"""
WITH stats AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS mu,
         SQRT(
           CAST(SUM(CAST(value AS DECIMAL(12,2))
                    * CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
           - (CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
             * (CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
         ) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND(e.value, 2) AS value,
       ROUND((e.value - s.mu) / s.sigma, 4) AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE ABS((e.value - s.mu) / s.sigma) > {OUTLIER_Z}
ORDER BY e.event_id
"""


@register("value_outliers", OUTLIERS_SQL)
def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    stats = (
        e.groupBy("event_type")
        .agg(
            F.sum(_dm("value")).alias("_s1"),
            F.sum(_dm("value") * _dm("value")).alias("_s2"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "event_type",
            (F.col("_s1").cast("double") / F.col("_n")).alias("mu"),
            F.sqrt(
                F.col("_s2").cast("double") / F.col("_n")
                - (F.col("_s1").cast("double") / F.col("_n"))
                * (F.col("_s1").cast("double") / F.col("_n"))
            ).alias("sigma"),
        )
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > OUTLIER_Z)
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("z"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# funnel_analysis — ordered conversion funnel click → purchase: a
# user converts when their first purchase follows their first click.
# One shuffle to the user grain (conditional min aggregates), then a
# single-row summary — the per-user table never leaves the executors.
# --------------------------------------------------------------------------
FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clicked,
       CAST(SUM(CASE WHEN first_click IS NOT NULL AND first_purchase > first_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
       ROUND(SUM(CASE WHEN first_click IS NOT NULL AND first_purchase > first_click
                      THEN 1 ELSE 0 END) * 1.0
             / SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END), 6)
         AS conversion_rate
FROM per_user
"""


@register("funnel_analysis", FUNNEL_SQL)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "first_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    clicked = F.col("first_click").isNotNull()
    converted = clicked & (F.col("first_purchase") > F.col("first_click"))
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.when(clicked, 1).otherwise(0)).cast("bigint").alias("n_clicked"),
        F.sum(F.when(converted, 1).otherwise(0))
        .cast("bigint")
        .alias("n_converted"),
        F.round(
            F.sum(F.when(converted, 1).otherwise(0))
            * 1.0
            / F.sum(F.when(clicked, 1).otherwise(0)),
            6,
        ).alias("conversion_rate"),
    )


# --------------------------------------------------------------------------
# cohort_retention — weekly acquisition cohorts × activity offset:
# users grouped by first-seen week, counted at each later week they
# were active. Two shuffles (first-seen per user, then the
# cohort×offset count over DISTINCT user-weeks); cohort tables are
# minutes-of-weeks small no matter the corpus.
# --------------------------------------------------------------------------
COHORT_SQL = """
WITH firsts AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts))
              AS BIGINT) AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_active
FROM activity
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


@register("cohort_retention", COHORT_SQL)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    firsts = e.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", "ts"), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("bigint").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# latest_per_key — CDC/upsert compaction: keep each user's most recent
# event (the "current state" view over an append-only change stream).
# One window shuffle on the key; ties broken by event_id so the result
# is deterministic under concurrent timestamps.
# --------------------------------------------------------------------------
LATEST_SQL = """
SELECT user_id, event_id, ts, event_type, ROUND(value, 2) AS value
FROM (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rk
  FROM events
)
WHERE rk = 1
ORDER BY user_id
"""


@register("latest_per_key", LATEST_SQL)
def latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id", "event_id", "ts", "event_type",
            F.round("value", 2).alias("value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q2_min_cost_supplier (TPC-H Q2 adapted: the schema has no partsupp,
# so supply cost is derived as MIN(l_extendedprice / l_quantity) per
# (part, supplier) observed in lineitem). Correlated min-cost subquery
# becomes a groupBy(partkey).min + equi-join back — no window over the
# fact table, and the per-part minimum is a map-side-combinable agg.
# --------------------------------------------------------------------------
Q2_SQL = """
WITH cost AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
), eur AS (
  SELECT partkey, suppkey, unit_cost, s_acctbal, s_name, n_name
  FROM cost
  JOIN supplier ON s_suppkey = suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), best AS (
  SELECT partkey AS b_partkey, MIN(unit_cost) AS min_cost
  FROM eur GROUP BY partkey
)
SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name,
       p_partkey, p_brand, ROUND(unit_cost, 2) AS unit_cost
FROM eur
JOIN best ON partkey = b_partkey AND unit_cost = min_cost
JOIN part ON p_partkey = partkey
WHERE p_size = 15 AND p_type = 'ECONOMY'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register("q2_min_cost_supplier", Q2_SQL)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    s = load(spark, "supplier", sf_dir)
    n = F.broadcast(load(spark, "nation", sf_dir))
    r = F.broadcast(load(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE"))
    p = load(spark, "part", sf_dir).filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "ECONOMY")
    )
    # r12: semi-join lineitem against the broadcast filtered part-key
    # set BEFORE the (partkey, suppkey) aggregate — the per-group min
    # is invariant under a group-key filter, and the filter kills
    # ~everything, so the agg's shuffle shrinks by the part
    # selectivity instead of aggregating every partkey and discarding
    # them at the join (guide §2.3: aggregate/filter before shuffle).
    cost = (
        li.join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_cost"
            )
        )
    )
    # Part filter FIRST: p_size/p_type select a tiny part set, and the
    # per-partkey minimum is invariant under a partkey-level filter —
    # so the lineitem agg shrinks before any supplier join. Then the
    # min-cost match is a window over the (now small) partkey groups,
    # not a groupBy + self-join that would replay the whole subplan
    # twice (was: 9 scans, 12 exchanges).
    eur = (
        cost.join(p, F.col("p_partkey") == F.col("partkey"))
        .join(s, F.col("s_suppkey") == F.col("suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "partkey", "suppkey", "unit_cost", "s_acctbal", "s_name",
            "n_name", "p_partkey", "p_brand",
        )
    )
    w = W.partitionBy("partkey")
    return (
        eur.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.round("unit_cost", 2).alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q9_profit_by_nation_year (TPC-H Q9 adapted: no ps_supplycost, so the
# cost side of profit is proxied by 0.6 * p_retailprice * l_quantity).
# Star join over part-filtered lineitem, one shuffle to the
# (nation, year) grain.
# --------------------------------------------------------------------------
# amount is computed and SUMMED in exact decimals (column_corr's
# trick): double sums are order-dependent, and Spark's partial-agg
# order landed a q9 group sum on the other side of a half-cent vs
# DuckDB at sf0.001. The decimal sum is order-independent, so the
# parity holds at ANY data scale and parallelism; the final cast
# returns the rounded value to double for the output schema.
_Q9_AMOUNT = (
    "CAST(l_extendedprice AS DECIMAL(14,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(6,2))) - "
    "CAST(0.6 AS DECIMAL(2,1)) * CAST(p_retailprice AS DECIMAL(14,2)) * "
    "CAST(l_quantity AS DECIMAL(8,2))"
)

Q9_SQL = f"""
SELECT nation, o_year, CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(year(o_orderdate) AS BIGINT) AS o_year,
         {_Q9_AMOUNT} AS amount
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%blue%'
)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@register("q9_profit_by_nation_year", Q9_SQL)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    p = load(spark, "part", sf_dir).filter(F.col("p_name").like("%blue%"))
    s = load(spark, "supplier", sf_dir)
    o = load(spark, "orders", sf_dir)
    n = F.broadcast(load(spark, "nation", sf_dir))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            F.expr(_Q9_AMOUNT).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(
            F.round(F.sum("amount"), 2).cast("double").alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


# --------------------------------------------------------------------------
# q11_important_parts (TPC-H Q11 adapted: part "value" held by one
# nation's suppliers = SUM(l_extendedprice * l_quantity) over their
# lineitems; keep parts above 0.1% of the nation total). The scalar
# threshold is a 1-row aggregate broadcast into the filter — no second
# scan of the grouped data.
# --------------------------------------------------------------------------
Q11_SQL = """
WITH val AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_quantity AS DECIMAL(4,0))) AS raw_value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
),
thr AS (
  -- ROUND(AVG(raw_value) * 2, 2) in cents, exact integer HALF_UP:
  -- (4*total_cents + k) // (2*k)
  SELECT (CAST(SUM(raw_value) * 100 AS BIGINT) * 4 + COUNT(*))
         // (COUNT(*) * 2) AS threshold_cents
  FROM val
)
SELECT partkey, CAST(raw_value AS DOUBLE) AS value
FROM val, thr
WHERE CAST(raw_value * 100 AS BIGINT) > threshold_cents
ORDER BY value DESC, partkey
"""


@register("q11_important_parts", Q11_SQL)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    s = load(spark, "supplier", sf_dir)
    n = F.broadcast(
        load(spark, "nation", sf_dir).filter(F.col("n_name") == "NATION_3")
    )
    val = (
        li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                _dm("l_extendedprice") * F.col("l_quantity").cast(_QTY_DEC)
            ).alias("raw_value")
        )
    )
    # scale-invariant threshold (2× the mean part value): TPC-H's
    # fixed 0.001 fraction divides by part count, so at growing SF it
    # eventually selects nothing (it did at sf0.1 — every part's share
    # shrinks as parts multiply; the official query scales it by 1/SF).
    # The threshold and the comparison are exact integer cents so the
    # cut is engine- and fold-order-independent at any scale.
    threshold = val.agg(
        F.expr(
            "(CAST(SUM(raw_value) * 100 AS BIGINT) * 4 + COUNT(*))"
            " DIV (COUNT(*) * 2)"
        ).alias("threshold_cents")
    )
    return (
        val.join(F.broadcast(threshold))
        .filter(
            F.expr("CAST(raw_value * 100 AS BIGINT)") > F.col("threshold_cents")
        )
        .select("partkey", F.col("raw_value").cast("double").alias("value"))
        .orderBy(F.desc("value"), "partkey")
    )


# --------------------------------------------------------------------------
# q16_supplier_part_counts (TPC-H Q16 adapted: the part-supplier
# relation is DISTINCT (l_partkey, l_suppkey) from lineitem; "customer
# complaints" suppliers are those with negative balance, removed by an
# anti join). countDistinct over the deduped pair relation.
# --------------------------------------------------------------------------
Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
      FROM lineitem) ps
JOIN part ON p_partkey = partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 14, 23, 36, 45, 49)
  AND suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("q16_supplier_part_counts", Q16_SQL)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    p = load(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 14, 23, 36, 45, 49)
    )
    bad = load(spark, "supplier", sf_dir).filter(F.col("s_acctbal") < 0.0)
    ps = li.select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).distinct()
    return (
        ps.join(bad, F.col("suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("suppkey")).cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# q20_promotion_candidates (TPC-H Q20 adapted: "availqty" is the
# 1997 shipped quantity per (part, supplier); a supplier qualifies if,
# for some red part, they shipped more than half that part's 1997
# total). Nested EXISTS becomes groupBy + ratio filter + semi join.
# --------------------------------------------------------------------------
Q20_SQL = """
WITH shipped AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         SUM(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
), part_total AS (
  SELECT partkey AS t_partkey, SUM(qty) AS total_qty
  FROM shipped GROUP BY partkey
), qualifying AS (
  SELECT DISTINCT suppkey
  FROM shipped
  JOIN part_total ON partkey = t_partkey
  JOIN part ON p_partkey = partkey
  WHERE p_name LIKE 'red%' AND qty > 0.5 * total_qty
)
SELECT s_name, ROUND(s_acctbal, 2) AS s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_1'
  AND s_suppkey IN (SELECT suppkey FROM qualifying)
ORDER BY s_name
"""


@register("q20_promotion_candidates", Q20_SQL)
def q20_promotion_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    p = load(spark, "part", sf_dir).filter(F.col("p_name").like("red%"))
    s = load(spark, "supplier", sf_dir)
    n = F.broadcast(
        load(spark, "nation", sf_dir).filter(F.col("n_name") == "NATION_1")
    )
    shipped = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.sum("l_quantity").alias("qty"))
    part_total = shipped.groupBy(F.col("partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("total_qty")
    )
    qualifying = (
        shipped.join(part_total, F.col("partkey") == F.col("t_partkey"))
        .join(p, F.col("p_partkey") == F.col("partkey"))
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .select("suppkey")
        .distinct()
    )
    return (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(qualifying, F.col("s_suppkey") == F.col("suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# q21_waiting_suppliers (TPC-H Q21 adapted: the schema has no
# commit/receipt dates, so "late" = shipped more than 60 days after
# the order date, on finalized orders). The EXISTS becomes a left semi
# join (another supplier on the order) and the NOT EXISTS a left anti
# join (no OTHER supplier was also late) — both hash equi-joins on
# orderkey with a suppkey-inequality residual, never a cartesian.
# --------------------------------------------------------------------------
Q21_SQL = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late l1
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_2'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@register("q21_waiting_suppliers", Q21_SQL)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 re-plan: the textbook semi/anti self-join form computed the
    # lineitem⋈orders join twice (l1 + other_late) and scanned
    # lineitem a third time for the semi side. Equivalent aggregate
    # form in ONE pass: per (order, supplier), count late rows; per
    # order (a window over the same okey partitioning — no extra
    # exchange), count suppliers and late suppliers. A late pair is
    # "waiting" iff the order has ≥2 suppliers (≡ the EXISTS other
    # supplier semi-join) and exactly 1 late supplier — itself (≡ the
    # NOT EXISTS other late supplier anti-join). numwait sums the
    # pair's late ROW count, matching the row-level count(*) of the
    # join form.
    li = load(spark, "lineitem", sf_dir)
    o = load(spark, "orders", sf_dir).filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    s = load(spark, "supplier", sf_dir)
    n = F.broadcast(
        load(spark, "nation", sf_dir).filter(F.col("n_name") == "NATION_2")
    )
    g = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_suppkey").alias("skey"),
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
            .cast("int")
            .alias("late"),
        )
    )
    per_pair = g.groupBy("okey", "skey").agg(
        F.sum("late").alias("n_late_rows"),
        F.max("late").alias("any_late"),
    )
    wo = W.partitionBy("okey")
    waiting = (
        per_pair.withColumn("n_supp", F.count("*").over(wo))
        .withColumn("n_late_supp", F.sum("any_late").over(wo))
        .filter(
            (F.col("any_late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
    )
    return (
        waiting.join(s, F.col("s_suppkey") == F.col("skey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# --------------------------------------------------------------------------
# table_fingerprint — order-independent content checksum per table:
# row count + the SUM of a 56-bit prefix of each row's md5,
# accumulated in DECIMAL(38,0) (128-bit, exact on both engines —
# 2⁵⁶-size terms would overflow a 63-bit long after just 2⁷ rows,
# and a modular wraparound differs between ANSI engines). The sum is
# emitted as VARCHAR: pandas/arrow bridges downcast wide decimals to
# float64, which would destroy the exactness the checksum exists for.
# This is how you verify a 100 TB migration/backfill produced
# identical content WITHOUT a global sort or a row-by-row diff: one
# narrow map + one commutative aggregate, partial-aggregated
# map-side, any partitioning.
# --------------------------------------------------------------------------
# NULL-safety: every component is COALESCEd to a sentinel BEFORE the
# join of the key string — concat_ws would silently DROP null parts
# (shifting neighbors into their position: (1,NULL,'A') == (1,'A',NULL))
# and DuckDB's bare || would null the whole key, making SUM skip the
# row. The sentinel is a plain token no data column produces.
_FP_NULL = "<NUL>"

FINGERPRINT_SQL = f"""
SELECT 'lineitem' AS tbl,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(('0x' || substr(md5(
           COALESCE(CAST(l_orderkey AS VARCHAR), '{_FP_NULL}') || '|' ||
           COALESCE(CAST(l_linenumber AS VARCHAR), '{_FP_NULL}') || '|' ||
           COALESCE(CAST(l_quantity AS VARCHAR), '{_FP_NULL}') || '|' ||
           COALESCE(l_returnflag, '{_FP_NULL}')), 1, 14))::BIGINT)
         AS VARCHAR) AS content_sum
FROM lineitem
UNION ALL
SELECT 'orders' AS tbl,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(('0x' || substr(md5(
           COALESCE(CAST(o_orderkey AS VARCHAR), '{_FP_NULL}') || '|' ||
           COALESCE(o_orderstatus, '{_FP_NULL}') || '|' ||
           COALESCE(CAST(o_totalprice AS VARCHAR), '{_FP_NULL}')), 1, 14))::BIGINT)
         AS VARCHAR)
         AS content_sum
FROM orders
ORDER BY tbl
"""


@register("table_fingerprint", FINGERPRINT_SQL)
def table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference intent: the forwarder's delivered-vs-consumed record
    accounting (stats.go) generalized to content equality between any
    two table copies. DOUBLE columns are excluded from the hashed key
    set (l_quantity/o_totalprice here are exact decimals in the
    testdata so their string forms agree; arbitrary floats would
    need a canonical decimal cast first)."""
    li = load(spark, "lineitem", sf_dir)
    o = load(spark, "orders", sf_dir)

    def fp(df: DataFrame, tbl: str, key) -> DataFrame:
        h = F.conv(F.substring(F.md5(key), 1, 14), 16, 10)
        return df.select(h.cast("decimal(38,0)").alias("h")).agg(
            F.lit(tbl).alias("tbl"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("h").cast("decimal(38,0)").cast("string").alias("content_sum"),
        )

    def nz(c) -> object:
        return F.coalesce(c.cast("string"), F.lit(_FP_NULL))

    li_key = F.concat_ws(
        "|",
        nz(F.col("l_orderkey")),
        nz(F.col("l_linenumber")),
        nz(F.col("l_quantity")),
        nz(F.col("l_returnflag")),
    )
    o_key = F.concat_ws(
        "|",
        nz(F.col("o_orderkey")),
        nz(F.col("o_orderstatus")),
        nz(F.col("o_totalprice")),
    )
    return (
        fp(li, "lineitem", li_key)
        .unionByName(fp(o, "orders", o_key))
        .orderBy("tbl")
    )


# --------------------------------------------------------------------------
# merge_upsert — MERGE INTO semantics: apply a compacted changeset to
# a stored snapshot (full-outer key join + newest-wins coalesce),
# tagging each output row insert/update/carry. THE incremental
# pattern at 100 TB: the snapshot and the delta are each one
# window-compaction, and the merge touches only their join — history
# is never rescanned. Output equals latest_per_key over the full
# history (asserted in pytest), but the plan is snapshot+delta.
# --------------------------------------------------------------------------
MERGE_CUTOFF = "2024-01-25"

MERGE_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, ts, event_type, value FROM (
    SELECT *, ROW_NUMBER() OVER (
             PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
    FROM events WHERE ts < TIMESTAMP '{MERGE_CUTOFF}'
  ) WHERE rk = 1
),
chg AS (
  SELECT user_id, event_id, ts, event_type, value FROM (
    SELECT *, ROW_NUMBER() OVER (
             PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
    FROM events WHERE ts >= TIMESTAMP '{MERGE_CUTOFF}'
  ) WHERE rk = 1
)
SELECT COALESCE(c.user_id, b.user_id) AS user_id,
       CASE WHEN c.user_id IS NOT NULL THEN c.event_id ELSE b.event_id END
         AS event_id,
       CASE WHEN c.user_id IS NOT NULL THEN c.ts ELSE b.ts END AS ts,
       CASE WHEN c.user_id IS NOT NULL THEN c.event_type
            ELSE b.event_type END AS event_type,
       ROUND(CASE WHEN c.user_id IS NOT NULL THEN c.value ELSE b.value END,
             2) AS value,
       CASE WHEN b.user_id IS NULL THEN 'insert'
            WHEN c.user_id IS NULL THEN 'carry'
            ELSE 'update' END AS action
FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
ORDER BY user_id
"""


@register("merge_upsert", MERGE_SQL)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def snapshot(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("user_id", "event_id", "ts", "event_type", "value")
        )

    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    base = snapshot(e.filter(F.col("ts") < cutoff)).alias("b")
    chg = snapshot(e.filter(F.col("ts") >= cutoff)).alias("c")
    action = (
        F.when(F.col("b.user_id").isNull(), "insert")
        .when(F.col("c.user_id").isNull(), "carry")
        .otherwise("update")
    )
    # whole-row selection keyed on ONE indicator (the change side's
    # join key): per-column COALESCE would resurrect stale base fields
    # whenever the newest row legitimately carries a NULL, producing a
    # chimera row that never existed
    take_c = F.col("c.user_id").isNotNull()

    def pick(col: str):
        return F.when(take_c, F.col(f"c.{col}")).otherwise(F.col(f"b.{col}"))

    return (
        base.join(chg, F.col("b.user_id") == F.col("c.user_id"), "full_outer")
        .select(
            F.coalesce("c.user_id", "b.user_id").alias("user_id"),
            pick("event_id").alias("event_id"),
            pick("ts").alias("ts"),
            pick("event_type").alias("event_type"),
            F.round(pick("value"), 2).alias("value"),
            action.alias("action"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# agg_merge_incremental — incremental maintenance of an aggregate
# table: partial aggregates from the delta (ts >= cutoff) merge into
# the stored base aggregates (ts < cutoff) by re-aggregating the
# algebraic pieces (count→sum, sum→sum, min→min, max→max). The merge
# touches one row per (event_type, day) group from each side — never
# the raw history. AVG is derived from merged sum/count, NOT merged
# from per-side averages (non-algebraic directly). Output equals the
# full recompute bit-for-bit (oracle + the same claim the merge plan
# makes at 100 TB: delta-sized work per refresh).
# --------------------------------------------------------------------------
AGG_MERGE_SQL = f"""
WITH sliced AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, value,
         CASE WHEN ts < TIMESTAMP '{MERGE_CUTOFF}' THEN 'base'
              ELSE 'delta' END AS side
  FROM events
),
partials AS (
  SELECT side, event_type, day,
         COUNT(*) AS n, SUM(CAST(value AS DECIMAL(12,2))) AS s,
         MIN(value) AS mn, MAX(value) AS mx
  FROM sliced GROUP BY side, event_type, day
)
SELECT event_type, day,
       CAST(SUM(n) AS BIGINT) AS n_events,
       ROUND(SUM(s), 2)::DOUBLE AS sum_value,
       ROUND(MIN(mn), 2) AS min_value,
       ROUND(MAX(mx), 2) AS max_value,
       CAST((CAST(SUM(s) * 10000 AS BIGINT) * 2 + SUM(n))
            // (SUM(n) * 2) AS DOUBLE) / 10000.0 AS avg_value
FROM partials
GROUP BY event_type, day
ORDER BY event_type, day
"""


@register("agg_merge_incremental", AGG_MERGE_SQL)
def agg_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    side = F.when(F.col("ts") < cutoff, "base").otherwise("delta")
    partials = (
        e.select(
            "event_type",
            F.col("ts").cast("date").cast("string").alias("day"),
            "value",
            side.alias("side"),
        )
        .groupBy("side", "event_type", "day")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dm("value")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    return (
        partials.groupBy("event_type", "day")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.round(F.sum("s"), 2).cast("double").alias("sum_value"),
            F.round(F.min("mn"), 2).alias("min_value"),
            F.round(F.max("mx"), 2).alias("max_value"),
            F.expr(_davg_expr("SUM(s)", "SUM(n)", 4)).alias("avg_value"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# zorder_value — the Morton (Z-order) interleave that multi-dimension
# data clustering is built on: bits of the two dimension buckets
# alternate in the sort key, so sorting by zval co-locates rows close
# in BOTH dimensions, and a 2-D box predicate prunes row groups on
# both min/max ranges at once (a single-column sort can only prune
# one). Here: 8 bucket bits of user_id × 5 bits of day-of-month over
# events. Pure integer arithmetic, identical on both engines.
# --------------------------------------------------------------------------
_Z_SPARK = (
    "(shiftright(ub, 0) & 1) * 1 + (shiftright(ub, 1) & 1) * 4 + "
    "(shiftright(ub, 2) & 1) * 16 + (shiftright(ub, 3) & 1) * 64 + "
    "(shiftright(ub, 4) & 1) * 256 + (shiftright(ub, 5) & 1) * 1024 + "
    "(shiftright(ub, 6) & 1) * 4096 + (shiftright(ub, 7) & 1) * 16384 + "
    "(shiftright(db, 0) & 1) * 2 + (shiftright(db, 1) & 1) * 8 + "
    "(shiftright(db, 2) & 1) * 32 + (shiftright(db, 3) & 1) * 128 + "
    "(shiftright(db, 4) & 1) * 512"
)
_Z_DUCK = (
    "((ub >> 0) & 1) * 1 + ((ub >> 1) & 1) * 4 + "
    "((ub >> 2) & 1) * 16 + ((ub >> 3) & 1) * 64 + "
    "((ub >> 4) & 1) * 256 + ((ub >> 5) & 1) * 1024 + "
    "((ub >> 6) & 1) * 4096 + ((ub >> 7) & 1) * 16384 + "
    "((db >> 0) & 1) * 2 + ((db >> 1) & 1) * 8 + "
    "((db >> 2) & 1) * 32 + ((db >> 3) & 1) * 128 + "
    "((db >> 4) & 1) * 512"
)

ZORDER_SQL = f"""
SELECT event_id, CAST(ub AS BIGINT) AS user_bucket,
       CAST(db AS BIGINT) AS day_bucket,
       CAST({_Z_DUCK} AS BIGINT) AS zval
FROM (
  SELECT event_id,
         user_id % 256 AS ub,
         CAST(EXTRACT(day FROM ts) AS BIGINT) - 1 AS db
  FROM events
)
ORDER BY event_id
"""


@register("zorder_value", ZORDER_SQL)
def zorder_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    return (
        e.select(
            "event_id",
            (F.col("user_id") % 256).alias("ub"),
            (F.dayofmonth("ts") - 1).cast("bigint").alias("db"),
        )
        .select(
            "event_id",
            F.col("ub").cast("bigint").alias("user_bucket"),
            F.col("db").cast("bigint").alias("day_bucket"),
            F.expr(_Z_SPARK).cast("bigint").alias("zval"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# bloom_prefilter_join — revenue of orders placed by customers in one
# nation, with the fact scan PREFILTERED by a Bloom filter built from
# the filtered customer keys (functions/bloom.py). The bloom rides
# into the orders scan as a literal-words boolean expression — no
# shuffle to apply it — and the exact semi-join after it removes the
# false positives, so the result equals the plain join bit-for-bit
# (which is exactly what the oracle states). The pytest asserts the
# prefilter's selectivity actually bites.
# --------------------------------------------------------------------------
BLOOM_NATION = 7

BLOOM_JOIN_SQL = f"""
SELECT o.o_orderstatus AS orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 2)::DOUBLE AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_nationkey = {BLOOM_NATION}
GROUP BY o.o_orderstatus
ORDER BY o.o_orderstatus
"""


@register("bloom_prefilter_join", BLOOM_JOIN_SQL)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_to_firehose_spark.functions.bloom import (
        bloom_build,
        bloom_probe,
    )

    c = load(spark, "customer", sf_dir).filter(
        F.col("c_nationkey") == BLOOM_NATION
    )
    keys = c.select("c_custkey")
    words = bloom_build(keys, "c_custkey")
    o = load(spark, "orders", sf_dir)
    prefiltered = o.filter(bloom_probe("o_custkey", words))
    return (
        prefiltered.join(
            keys, prefiltered["o_custkey"] == keys["c_custkey"], "left_semi"
        )
        .groupBy(F.col("o_orderstatus").alias("orderstatus"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            _dsum(_dm("o_totalprice")).alias("revenue"),
        )
        .orderBy("orderstatus")
    )


# --------------------------------------------------------------------------
# column_corr — Pearson correlation matrix over lineitem measure
# pairs, computed from EXACT sufficient statistics: every sum runs on
# DECIMAL(18,4)-cast values (decimal addition is exact and
# order-independent, so Spark's partial-aggregation order can't
# perturb the result), the exact sums convert to double once, and the
# corr formula is then a fixed scalar IEEE expression — identical in
# both engines. One full-scan aggregate (map-side partials, 1-row
# shuffle); the 3-row matrix is projected from that single row, so
# the fact table is read exactly once.
# --------------------------------------------------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount"]
_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_extendedprice", "l_discount"),
]
# Right-sized per-column decimal types: wide enough for exact values
# (qty ≤ 50, price < 10^6 at 2dp, discount at 2dp), narrow enough
# that every product and sum stays under precision 38 in BOTH engines
# (DuckDB errors on DECIMAL(18)×DECIMAL(18) int64 overflow; Spark
# would silently round once p1+p2+1 > 38).
_CORR_DEC = {
    "l_quantity": "DECIMAL(8,2)",
    "l_extendedprice": "DECIMAL(12,2)",
    "l_discount": "DECIMAL(6,2)",
}


def _corr_formula(x: str, y: str) -> str:
    """Scalar double corr from named sum columns (same text both engines)."""
    return (
        f"ROUND((nd * sxy_{x}_{y} - s_{x} * s_{y}) / "
        f"(sqrt(nd * ss_{x} - s_{x} * s_{x}) * "
        f"sqrt(nd * ss_{y} - s_{y} * s_{y})), 6)"
    )


def _dec(c: str) -> str:
    return f"CAST({c} AS {_CORR_DEC[c]})"


def _corr_sums_sql() -> str:
    parts = ["CAST(COUNT(*) AS DOUBLE) AS nd"]
    for c in _CORR_COLS:
        parts.append(f"CAST(SUM({_dec(c)}) AS DOUBLE) AS s_{c}")
        parts.append(f"CAST(SUM({_dec(c)} * {_dec(c)}) AS DOUBLE) AS ss_{c}")
    for x, y in _CORR_PAIRS:
        parts.append(f"CAST(SUM({_dec(x)} * {_dec(y)}) AS DOUBLE) AS sxy_{x}_{y}")
    return ", ".join(parts)


COLUMN_CORR_SQL = f"""
WITH sums AS (
  SELECT {_corr_sums_sql()} FROM lineitem
)
{" UNION ALL ".join(
    f"SELECT '{x}' AS col_x, '{y}' AS col_y, "
    f"CAST(nd AS BIGINT) AS n, {_corr_formula(x, y)} AS corr FROM sums"
    for x, y in _CORR_PAIRS
)}
ORDER BY col_x, col_y
"""


@register("column_corr", COLUMN_CORR_SQL)
def column_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    # single aggregate row with every sufficient statistic
    sums = li.groupBy().agg(
        F.expr("CAST(COUNT(*) AS DOUBLE)").alias("nd"),
        *[
            F.expr(e).alias(a)
            for e, a in _corr_agg_exprs()
        ],
    )
    # Union of per-pair projections over the shared aggregate. The
    # STATIC plan shows one file scan per branch, but ReuseExchange
    # dedups the aggregate at runtime — the scan executes once
    # (measured: union 0.32s ≈ bare agg ≥; an explode-of-structs
    # single-consumer rewrite was 4x SLOWER from re-compiling the
    # large corr expressions per array element, and eager
    # localCheckpoint 6x slower via the non-AQE df.rdd path).
    rows = [
        sums.selectExpr(
            f"'{x}' AS col_x",
            f"'{y}' AS col_y",
            "CAST(nd AS BIGINT) AS n",
            f"{_corr_formula(x, y)} AS corr",
        )
        for x, y in _CORR_PAIRS
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("col_x", "col_y")


def _corr_agg_exprs() -> list[tuple[str, str]]:
    out = []
    for c in _CORR_COLS:
        out.append((f"CAST(SUM({_dec(c)}) AS DOUBLE)", f"s_{c}"))
        out.append((f"CAST(SUM({_dec(c)} * {_dec(c)}) AS DOUBLE)", f"ss_{c}"))
    for x, y in _CORR_PAIRS:
        out.append((f"CAST(SUM({_dec(x)} * {_dec(y)}) AS DOUBLE)", f"sxy_{x}_{y}"))
    return out


# --------------------------------------------------------------------------
# window_suite — ranking-function breadth on one shuffle: ntile /
# percent_rank / cume_dist / nth_value / lag-delta over the same
# (event_type, value-ordered) window, aggregated down to a compact
# per-(type, quartile) check table. Exercises the full ranking family
# the engines must agree on (tie semantics included — the ORDER BY
# carries event_id as the deterministic tiebreak). One window shuffle
# on event_type feeds every function; the aggregate collapses before
# anything leaves the stage.
# --------------------------------------------------------------------------
WINDOW_SUITE_SQL = """
WITH w AS (
  SELECT event_type, value,
         NTILE(4)        OVER win AS quartile,
         PERCENT_RANK()  OVER win AS pr,
         CUME_DIST()     OVER win AS cd,
         NTH_VALUE(value, 10) OVER (
           win ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS tenth_value,
         CAST(value AS DECIMAL(12,2)) - LAG(CAST(value AS DECIMAL(12,2))) OVER win AS delta
  FROM events
  WINDOW win AS (PARTITION BY event_type ORDER BY value, event_id)
)
SELECT event_type, quartile,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(pr), 6) AS min_pr,
       ROUND(MAX(cd), 6) AS max_cd,
       ROUND(MIN(tenth_value), 2) AS tenth_value,
       ROUND(CAST(SUM(delta) AS DOUBLE) / COUNT(delta), 6) AS avg_delta
FROM w
GROUP BY event_type, quartile
ORDER BY event_type, quartile
"""


@register("window_suite", WINDOW_SUITE_SQL)
def window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    win = W.partitionBy("event_type").orderBy("value", "event_id")
    full = win.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w = e.select(
        "event_type",
        "value",
        F.ntile(4).over(win).alias("quartile"),
        F.percent_rank().over(win).alias("pr"),
        F.cume_dist().over(win).alias("cd"),
        F.nth_value("value", 10).over(full).alias("tenth_value"),
        (_dm("value") - F.lag(_dm("value")).over(win)).alias("delta"),
    )
    return (
        w.groupBy("event_type", "quartile")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("pr"), 6).alias("min_pr"),
            F.round(F.max("cd"), 6).alias("max_cd"),
            F.round(F.min("tenth_value"), 2).alias("tenth_value"),
            F.round(
                F.sum("delta").cast("double") / F.count("delta"), 6
            ).alias("avg_delta"),
        )
        .orderBy("event_type", "quartile")
    )


# --------------------------------------------------------------------------
# hourly_top_users — windowed heavy hitters: top-3 users by event
# count per tumbling hour (ties to the lower user_id). The per-window
# rank runs over the AGGREGATED (hour, user) table — one count
# shuffle, then a window over rows already collapsed to one per
# (hour, user), never per event.
# --------------------------------------------------------------------------
HOURLY_TOPK = 3

HOURLY_TOP_USERS_SQL = f"""
WITH counts AS (
  SELECT date_trunc('hour', ts) AS hour, user_id, COUNT(*) AS n
  FROM events GROUP BY date_trunc('hour', ts), user_id
),
ranked AS (
  SELECT hour, user_id, CAST(n AS BIGINT) AS n,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY hour ORDER BY n DESC, user_id) AS BIGINT) AS rank
  FROM counts
)
SELECT hour, user_id, n, rank FROM ranked
WHERE rank <= {HOURLY_TOPK}
ORDER BY hour, rank
"""


@register("hourly_top_users", HOURLY_TOP_USERS_SQL)
def hourly_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    counts = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id"
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = W.partitionBy("hour").orderBy(F.desc("n"), "user_id")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= HOURLY_TOPK)
        .select("hour", "user_id", "n", "rank")
        .orderBy("hour", "rank")
    )


# --------------------------------------------------------------------------
# data_quality_report — deequ/dbt-style constraint checking as one
# compact report: row-level rules (not-null, domain range, positivity)
# fold into a SINGLE conditional aggregate over one lineitem scan;
# the two relation-level rules are an anti-join count (referential
# integrity lineitem→orders, broadcast-shaped on the orders KEY
# projection) and a duplicate-key count (one groupBy on the candidate
# key). Every rule emits (rule, violations, status) — the contract a
# pipeline gate consumes.
# --------------------------------------------------------------------------
DQ_SQL = """
WITH row_rules AS (
  SELECT
    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS not_null_orderkey,
    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)
      AS BIGINT) AS discount_in_range,
    CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS price_positive,
    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS not_null_shipdate
  FROM lineitem
),
ref AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS orphans
  FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey IS NULL
),
dup AS (
  SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS dups FROM (
    SELECT COUNT(*) AS c FROM lineitem
    GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
  )
)
SELECT rule, violations,
       CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
FROM (
  SELECT 'not_null_orderkey' AS rule, not_null_orderkey AS violations
    FROM row_rules
  UNION ALL SELECT 'discount_in_range', discount_in_range FROM row_rules
  UNION ALL SELECT 'price_positive', price_positive FROM row_rules
  UNION ALL SELECT 'not_null_shipdate', not_null_shipdate FROM row_rules
  UNION ALL SELECT 'fk_orderkey_in_orders', orphans FROM ref
  UNION ALL SELECT 'unique_orderkey_linenumber', dups FROM dup
)
ORDER BY rule
"""


@register("data_quality_report", DQ_SQL)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    o = load(spark, "orders", sf_dir)

    def viol(name, cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)

    row_rules = li.agg(
        viol("not_null_orderkey", F.col("l_orderkey").isNull()),
        viol(
            "discount_in_range",
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
        ),
        viol("price_positive", F.col("l_extendedprice") <= 0),
        viol("not_null_shipdate", F.col("l_shipdate").isNull()),
    )
    orphans = (
        li.join(
            o.select("o_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_anti",
        )
        .agg(F.count("*").cast("bigint").alias("violations"))
        .select(F.lit("fk_orderkey_in_orders").alias("rule"), "violations")
    )
    dups = (
        li.groupBy("l_orderkey", "l_linenumber")
        .count()
        .filter(F.col("count") > 1)
        .agg(
            F.coalesce(F.sum(F.col("count") - 1), F.lit(0))
            .cast("bigint")
            .alias("violations")
        )
        .select(
            F.lit("unique_orderkey_linenumber").alias("rule"), "violations"
        )
    )
    # per-rule projections over the shared 1-row aggregate: runtime
    # ReuseExchange executes the underlying scan once (see the
    # column_corr comment for the measured alternatives)
    rows = None
    for name in (
        "not_null_orderkey",
        "discount_in_range",
        "price_positive",
        "not_null_shipdate",
    ):
        r = row_rules.select(
            F.lit(name).alias("rule"), F.col(name).alias("violations")
        )
        rows = r if rows is None else rows.unionAll(r)
    return (
        rows.unionAll(orphans)
        .unionAll(dups)
        .select(
            "rule",
            "violations",
            F.when(F.col("violations") == 0, "pass")
            .otherwise("fail")
            .alias("status"),
        )
        .orderBy("rule")
    )


# --------------------------------------------------------------------------
# user_activity_full_outer — the one join type nothing else exercises:
# FULL OUTER, at (user, day) granularity so BOTH null arms genuinely
# fire (every user clicks AND purchases eventually, but not every
# day): user-days with only one activity kind surface with a
# NULL-filled side and an activity_class of click_only /
# purchase_only / both. The join runs on two already-aggregated
# (user, day) tables — one count shuffle each, then a key-aligned
# full outer (sort-merge on the compound key at scale).
# --------------------------------------------------------------------------
FULL_OUTER_SQL = """
WITH clicks AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
purchases AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       COALESCE(c.day, p.day) AS day,
       COALESCE(c.n_clicks, 0) AS n_clicks,
       COALESCE(p.n_purchases, 0) AS n_purchases,
       CASE WHEN c.user_id IS NULL THEN 'purchase_only'
            WHEN p.user_id IS NULL THEN 'click_only'
            ELSE 'both' END AS activity_class
FROM clicks c
FULL OUTER JOIN purchases p
  ON c.user_id = p.user_id AND c.day = p.day
ORDER BY user_id, day
"""


@register("user_activity_full_outer", FULL_OUTER_SQL)
def user_activity_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    day = F.date_trunc("day", F.col("ts"))
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy(
            F.col("user_id").alias("c_user"), day.alias("c_day")
        )
        .agg(F.count("*").cast("bigint").alias("n_clicks"))
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.col("user_id").alias("p_user"), day.alias("p_day")
        )
        .agg(F.count("*").cast("bigint").alias("n_purchases"))
    )
    j = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_day") == F.col("p_day")),
        "full_outer",
    )
    return (
        j.select(
            F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
            F.coalesce(F.col("c_day"), F.col("p_day")).alias("day"),
            F.coalesce(F.col("n_clicks"), F.lit(0))
            .cast("bigint")
            .alias("n_clicks"),
            F.coalesce(F.col("n_purchases"), F.lit(0))
            .cast("bigint")
            .alias("n_purchases"),
            F.when(F.col("c_user").isNull(), "purchase_only")
            .when(F.col("p_user").isNull(), "click_only")
            .otherwise("both")
            .alias("activity_class"),
        )
        .orderBy("user_id", "day")
    )


# --------------------------------------------------------------------------
# range_window_agg — RANGE-frame windows (the frame type nothing else
# exercises): for every event, the count and value-sum of the SAME
# series' events in the trailing hour, frame bounded by event-TIME
# (RANGE 3600 PRECEDING over epoch seconds), not row count — peers
# with equal timestamps enter together, which is the semantic ROWS
# frames get wrong. Sums run on exact decimals so the sliding-frame
# accumulation order (which differs between engines' window
# implementations) cannot perturb the result. One series shuffle.
# --------------------------------------------------------------------------
RANGE_WINDOW_SQL = """
WITH e AS (
  SELECT event_id, event_type, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,  -- floor, not CAST-round:
         -- DuckDB epoch() keeps fractional seconds and its BIGINT cast
         -- ROUNDS, where Spark unix_timestamp truncates
         CAST(value AS DECIMAL(10,2)) AS v
  FROM events
)
SELECT event_id, event_type, ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       CAST(SUM(v) OVER w AS DOUBLE) AS sum_1h
FROM e
WINDOW w AS (
  PARTITION BY event_type ORDER BY sec
  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
)
ORDER BY event_id
"""


@register("range_window_agg", RANGE_WINDOW_SQL)
def range_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir).select(
        "event_id",
        "event_type",
        "ts",
        F.unix_timestamp("ts").alias("sec"),
        F.col("value").cast("decimal(10,2)").alias("v"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("sec")
        .rangeBetween(-3600, W.currentRow)
    )
    return (
        e.select(
            "event_id",
            "event_type",
            "ts",
            F.count("*").over(w).cast("bigint").alias("n_1h"),
            F.sum("v").over(w).cast("double").alias("sum_1h"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# sequence_detect — MATCH_RECOGNIZE-style event-pattern detection:
# find every STRICTLY CONSECUTIVE click → view → purchase run in each
# user's time-ordered event stream (the funnel op measures whether a
# user EVER converts; this finds each occurrence and its span — the
# PATTERN (A B C) / AFTER MATCH SKIP TO NEXT ROW contract of
# SQL:2016 row pattern matching, which neither engine ships for
# batch). Expressed as two window leads over ONE (user_id) shuffle —
# each row tests the pattern anchored at itself, so overlapping
# matches are reported like SKIP TO NEXT ROW would. At 100 TB this is
# the same single key-shuffle + narrow filter as any per-user window;
# no joins, no state.
# Tie-break: (ts, event_id) ordering makes the "stream order"
# deterministic under equal timestamps in both engines.
# --------------------------------------------------------------------------
SEQUENCE_DETECT_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type, value,
         LEAD(event_type, 1) OVER w AS t1,
         LEAD(event_type, 2) OVER w AS t2,
         LEAD(ts, 2) OVER w AS end_ts,
         LEAD(value, 2) OVER w AS purchase_value
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id AS start_event_id, ts AS start_ts, end_ts,
       ROUND(purchase_value, 2) AS purchase_value
FROM ordered
WHERE event_type = 'click' AND t1 = 'view' AND t2 = 'purchase'
ORDER BY user_id, start_event_id
"""


@register("sequence_detect", SEQUENCE_DETECT_SQL)
def sequence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("ts", 2).over(w).alias("end_ts"),
        F.lead("value", 2).over(w).alias("purchase_value"),
    )
    return (
        ordered.filter(
            (F.col("event_type") == "click")
            & (F.col("t1") == "view")
            & (F.col("t2") == "purchase")
        )
        .select(
            "user_id",
            F.col("event_id").alias("start_event_id"),
            F.col("ts").alias("start_ts"),
            "end_ts",
            F.round("purchase_value", 2).alias("purchase_value"),
        )
        .orderBy("user_id", "start_event_id")
    )


# --------------------------------------------------------------------------
# scd2_history — Slowly-Changing-Dimension Type 2 table built from the
# append-only change feed: each time a user's tracked attribute
# (event_type here) CHANGES, a new version row opens with valid_from =
# change ts and the previous row closes with valid_to = that ts;
# the newest row stays open (valid_to NULL, is_current=1).
# Consecutive events with the same attribute value collapse into one
# version (the defining SCD2 rule — a re-delivery of the same state
# must not open a new version). Complements latest_per_key (Type 1 —
# current state only) and merge_upsert (snapshot maintenance): this
# is the full history layout warehouses join facts against with
# BETWEEN valid_from AND valid_to.
# Scale shape: one user_id shuffle; the change filter (lag) and the
# interval close (lead) both run on that same partitioning — two
# window passes, zero joins.
# --------------------------------------------------------------------------
SCD2_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, ts, event_id, event_type
  FROM ordered
  WHERE prev_type IS NULL OR event_type != prev_type
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version,
       event_type,
       ts AS valid_from,
       LEAD(ts) OVER w2 AS valid_to,
       CAST(CASE WHEN LEAD(ts) OVER w2 IS NULL THEN 1 ELSE 0 END
            AS BIGINT) AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""


@register("scd2_history", SCD2_SQL)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
    )
    w2 = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changes.select(
            "user_id",
            F.row_number().over(w2).cast("bigint").alias("version"),
            "event_type",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w2).alias("valid_to"),
        )
        .withColumn(
            "is_current",
            F.when(F.col("valid_to").isNull(), 1).otherwise(0).cast("bigint"),
        )
        .orderBy("user_id", "version")
    )


# --------------------------------------------------------------------------
# scd2_asof_join — the consumption half of the SCD2 pattern: join each
# fact (purchase events) to the dimension VERSION in effect at fact
# time — valid_from <= ts < valid_to, open version matches everything
# after its valid_from. The classic warehouse point-in-time join
# ("what state was this user in when they purchased").
#
# Scale shape: both sides key on user_id, so the interval predicate
# NEVER drives the join — it rides as a residual on the user equi-join
# (sort-merge/shuffle-hash on user_id), and pair fan-out is bounded by
# versions-per-user × facts-per-user, not by any global range overlap.
# This is the shape warehouses use for SCD2 joins (equi on the natural
# key, BETWEEN residual); contrast interval_join, where no equi-key
# exists and time-bucketing must bound the pair space.
#
# Each fact matches exactly ONE version: the change intervals
# partition the user's timeline from their first event, every fact ts
# sits at-or-after that first event, and zero-width versions (ts ties
# in the feed) are skipped by the right-open bound.
# --------------------------------------------------------------------------
SCD2_ASOF_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, ts, event_id, event_type
  FROM ordered
  WHERE prev_type IS NULL OR event_type != prev_type
),
hist AS (
  SELECT user_id,
         CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version,
         event_type AS state,
         ts AS valid_from,
         LEAD(ts) OVER w2 AS valid_to
  FROM changes
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
),
facts AS (
  SELECT user_id, event_id, ts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT f.user_id, f.event_id, f.ts, h.version, h.state, h.valid_from,
       ROUND(f.value, 2) AS value
FROM facts f
JOIN hist h
  ON f.user_id = h.user_id
 AND f.ts >= h.valid_from
 AND (h.valid_to IS NULL OR f.ts < h.valid_to)
ORDER BY f.user_id, f.event_id
"""


@register("scd2_asof_join", SCD2_ASOF_SQL)
def scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = scd2_history(spark, sf_dir).select(
        "user_id",
        "version",
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
    )
    e = load(spark, "events", sf_dir)
    facts = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    f, h = facts.alias("f"), hist.alias("h")
    return (
        f.join(
            h,
            (F.col("f.user_id") == F.col("h.user_id"))
            & (F.col("f.ts") >= F.col("h.valid_from"))
            & (
                F.col("h.valid_to").isNull()
                | (F.col("f.ts") < F.col("h.valid_to"))
            ),
        )
        .select(
            F.col("f.user_id").alias("user_id"),
            "event_id",
            F.col("f.ts").alias("ts"),
            "version",
            "state",
            "valid_from",
            F.round("value", 2).alias("value"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# k_anonymity_audit — training-data governance: group the event log by
# a quasi-identifier tuple (event_type, hour-of-day, coarse value
# bucket) and report every cell whose DISTINCT-USER count is below k —
# the cells where releasing the grouped data could single out an
# individual. This is the audit half of k-anonymity (suppression /
# generalization acts on its output). One groupBy shuffle with a
# distinct-count aggregate; the result is cell-level (bounded by the
# QI domain), never row-level.
# --------------------------------------------------------------------------
K_ANON = 5

K_ANON_SQL = f"""
SELECT event_type,
       CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
       CAST(FLOOR(value / 10) AS BIGINT) AS value_bucket,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_records
FROM events
GROUP BY 1, 2, 3
HAVING COUNT(DISTINCT user_id) < {K_ANON}
ORDER BY event_type, hour_of_day, value_bucket
"""


@register("k_anonymity_audit", K_ANON_SQL)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    return (
        e.groupBy(
            "event_type",
            F.hour("ts").cast("bigint").alias("hour_of_day"),
            F.floor(F.col("value") / 10).cast("bigint").alias("value_bucket"),
        )
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count("*").cast("bigint").alias("n_records"),
        )
        .filter(F.col("n_users") < K_ANON)
        .orderBy("event_type", "hour_of_day", "value_bucket")
    )


# --------------------------------------------------------------------------
# sliding_distinct_users — exact DISTINCT counts over SLIDING windows
# (1 h wide, 30 min slide): the one windowed aggregate ranking/frame
# functions cannot express (distinct doesn't distribute over
# overlapping frames), so each event is expanded to the w/s = 2
# windows containing it and the distinct-count runs per window —
# Spark's native F.window(ts, "1 hour", "30 minutes") does exactly
# this expansion inside the plan; the oracle spells it out with
# time_bucket + unnest. Epoch-aligned buckets in both engines.
# Scale shape: fan-out ×2 (w/s), then one groupBy(window) with a
# distinct aggregate — the standard partial/final two-phase distinct.
# --------------------------------------------------------------------------
SLIDING_DISTINCT_SQL = """
WITH bucketed AS (
  SELECT user_id, event_id,
         time_bucket(INTERVAL '30 minutes', ts) AS b
  FROM events
),
expanded AS (
  SELECT user_id, event_id,
         unnest([b, b - INTERVAL '30 minutes']) AS win_start
  FROM bucketed
)
SELECT win_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM expanded
GROUP BY win_start
ORDER BY win_start
"""


@register("sliding_distinct_users", SLIDING_DISTINCT_SQL)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count("*").cast("bigint").alias("n_events"),
        )
        .select(F.col("w.start").alias("win_start"), "n_users", "n_events")
        .orderBy("win_start")
    )


# --------------------------------------------------------------------------
# join_incremental — incremental view maintenance for JOINS, the
# two-sided counterpart of agg_merge_incremental: with base/delta
# splits A = A0 ∪ ΔA (orders) and B = B0 ∪ ΔB (customer), the
# maintained join is
#   A ⋈ B = (A0 ⋈ B0) ∪ (A0 ⋈ ΔB) ∪ (ΔA ⋈ B0) ∪ (ΔA ⋈ ΔB)
# and the op computes the right-hand side, aggregated per nation in
# exact DECIMAL. The oracle computes the plain A ⋈ B aggregate —
# equality IS the IVM identity. In production A0 ⋈ B0 is the stored
# materialization (never recomputed); an epoch pays only the three
# delta terms, each one broadcast-or-bucketed join where the delta
# side is epoch-sized ≪ the base. Deterministic "epoch" membership:
# ΔA = orderkey % 97 == 0, ΔB = custkey % 89 == 0.
# --------------------------------------------------------------------------
JOIN_INCR_SQL = """
SELECT c.c_nationkey AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
ORDER BY nationkey
"""


@register("join_incremental", JOIN_INCR_SQL)
def join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    c = load(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    da = o.filter(F.col("o_orderkey") % 97 == 0)
    a0 = o.filter(F.col("o_orderkey") % 97 != 0)
    db = c.filter(F.col("c_custkey") % 89 == 0)
    b0 = c.filter(F.col("c_custkey") % 89 != 0)
    on = F.col("o_custkey") == F.col("c_custkey")
    parts = [
        a0.join(b0, on),
        a0.join(db, on),
        da.join(b0, on),
        da.join(db, on),
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return (
        unioned.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            # the DECIMAL sum is exact/order-independent on both
            # engines; the final DOUBLE cast of identical decimals is
            # bit-identical too
            F.sum("price").cast("double").alias("total_price"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# rfm_segments — recency/frequency/monetary customer segmentation,
# the classic lifecycle-marketing aggregate, built SCALE-FIRST: each
# metric's quintile edges come from one exact-percentile aggregate
# broadcast back (the equidepth_histogram pattern) — NOT a global
# NTILE, which would sort every customer in one partition. Scores are
# metric > edge comparisons (deterministic, tie-stable in both
# engines); recency scores invert (fewer days since last order =
# better). Monetary sums in exact DECIMAL before the double cast.
# Reference date = MAX(o_orderdate) corpus-wide, so the op is
# deterministic with no wall clock.
# --------------------------------------------------------------------------
_RFM_PS = (0.2, 0.4, 0.6, 0.8)


def _rfm_sql() -> str:
    r_edges = ", ".join(
        f"quantile_cont(recency_days, {p}) AS r{i}"
        for i, p in enumerate(_RFM_PS, 1)
    )
    f_edges = ", ".join(
        f"quantile_cont(frequency * 1.0, {p}) AS f{i}"
        for i, p in enumerate(_RFM_PS, 1)
    )
    m_edges = ", ".join(
        f"quantile_cont(monetary, {p}) AS m{i}"
        for i, p in enumerate(_RFM_PS, 1)
    )
    r_bucket = " ".join(
        f"+ CASE WHEN recency_days > r{i} THEN 1 ELSE 0 END"
        for i in range(1, 5)
    )
    f_bucket = " ".join(
        f"+ CASE WHEN frequency > f{i} THEN 1 ELSE 0 END"
        for i in range(1, 5)
    )
    m_bucket = " ".join(
        f"+ CASE WHEN monetary > m{i} THEN 1 ELSE 0 END"
        for i in range(1, 5)
    )
    return f"""
WITH base AS (
  SELECT o_custkey AS custkey,
         CAST(date_diff('day', MAX(o_orderdate),
                        (SELECT MAX(o_orderdate) FROM orders))
              AS DOUBLE) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS monetary
  FROM orders GROUP BY o_custkey
),
edges AS (SELECT {r_edges}, {f_edges}, {m_edges} FROM base),
scored AS (
  SELECT custkey, recency_days, frequency, monetary,
         6 - (1 {r_bucket}) AS r_score,
         1 {f_bucket} AS f_score,
         1 {m_bucket} AS m_score
  FROM base, edges
)
SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days,
       CAST(frequency AS BIGINT) AS frequency,
       ROUND(monetary, 2) AS monetary,
       CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN r_score >= 3 THEN 'loyal'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
            ELSE 'regular' END AS segment
FROM scored
ORDER BY custkey
"""


@register("rfm_segments", _rfm_sql())
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    base = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .join(F.broadcast(ref))
        .select(
            "custkey",
            F.datediff("ref_date", "last_order")
            .cast("double")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    edges = base.agg(
        *[
            F.expr(f"percentile(recency_days, {p})").alias(f"r{i}")
            for i, p in enumerate(_RFM_PS, 1)
        ],
        *[
            F.expr(f"percentile(frequency * 1.0, {p})").alias(f"f{i}")
            for i, p in enumerate(_RFM_PS, 1)
        ],
        *[
            F.expr(f"percentile(monetary, {p})").alias(f"m{i}")
            for i, p in enumerate(_RFM_PS, 1)
        ],
    )

    def bucket(col, prefix):
        b = F.lit(1)
        for i in range(1, 5):
            b = b + (F.col(col) > F.col(f"{prefix}{i}")).cast("int")
        return b

    scored = base.join(F.broadcast(edges)).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(6) - bucket("recency_days", "r")).alias("r_score"),
        bucket("frequency", "f").alias("f_score"),
        bucket("monetary", "m").alias("m_score"),
    )
    segment = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when(F.col("r_score") >= 3, "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "at_risk")
        .otherwise("regular")
    )
    return scored.select(
        "custkey",
        F.col("recency_days").cast("bigint").alias("recency_days"),
        F.col("frequency").cast("bigint").alias("frequency"),
        F.round("monetary", 2).alias("monetary"),
        F.col("r_score").cast("bigint").alias("r_score"),
        F.col("f_score").cast("bigint").alias("f_score"),
        F.col("m_score").cast("bigint").alias("m_score"),
        segment.alias("segment"),
    ).orderBy("custkey")


# --------------------------------------------------------------------------
# fk_integrity_audit — referential-integrity audit across the
# schema's FK edges (orders.custkey → customer, lineitem.orderkey →
# orders, lineitem.partkey → part, lineitem.suppkey → supplier,
# customer/supplier.nationkey → nation, nation.regionkey → region):
# one row per edge with child cardinality and orphan count (child
# keys with no parent). The ingestion gate a warehouse runs before
# trusting joins — a broken upstream export shows up here first.
# Scale shape: each edge is a LEFT ANTI join (the cheapest join
# Spark has — no payload, early-out per probe); parents that are
# dimension-sized broadcast, fact-fact edges shuffle on the key.
# The per-edge 1-row summaries union into one result.
# --------------------------------------------------------------------------
_FK_EDGES = (
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)

FK_AUDIT_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS fk_edge,
       CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_child_rows,
       CAST((SELECT COUNT(*) FROM {child} c
             WHERE c.{ckey} IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pkey} = c.{ckey}))
            AS BIGINT) AS n_orphans"""
    for name, child, ckey, parent, pkey in _FK_EDGES
) + "\nORDER BY fk_edge"


@register("fk_integrity_audit", FK_AUDIT_SQL)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE pass per CHILD table (r12 re-plan; was 2 passes per EDGE —
    # a left_anti for orphans plus a separate full count — 21 scans /
    # 14 wide joins for 7 edges, lineitem alone scanned 6x). Parent
    # keys are primary keys (unique), so a LEFT OUTER join preserves
    # child cardinality and `pkey IS NULL` marks exactly the anti-join
    # rows; all of a child's edges chain onto one scan and collapse in
    # ONE aggregate (count + conditional orphan sums). The per-edge
    # rows come out of an inline explode so the 1-row aggregate is
    # never replayed per edge. nation/region are bounded dims at any
    # SF → explicit broadcast; fact-fact parents stay planner-chosen.
    by_child: dict[str, list[tuple[str, str, str, str]]] = {}
    for name, child, ckey, parent, pkey in _FK_EDGES:
        by_child.setdefault(child, []).append((name, ckey, parent, pkey))
    out = None
    for child, edges in by_child.items():
        joined = load(spark, child, sf_dir).select(
            *sorted({ckey for _, ckey, _, _ in edges})
        )
        for i, (_, ckey, parent, pkey) in enumerate(edges):
            p = load(spark, parent, sf_dir).select(
                F.col(pkey).alias(f"_pk{i}")
            )
            if parent in ("nation", "region"):
                p = F.broadcast(p)
            joined = joined.join(
                p, F.col(ckey) == F.col(f"_pk{i}"), "left"
            )
        agg = joined.agg(
            F.count("*").cast("bigint").alias("n_child_rows"),
            *[
                F.sum(
                    F.when(
                        F.col(ckey).isNotNull()
                        & F.col(f"_pk{i}").isNull(),
                        1,
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"_orph{i}")
                for i, (_, ckey, _, _) in enumerate(edges)
            ],
        )
        rows = agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("fk_edge"),
                            F.col("n_child_rows"),
                            F.col(f"_orph{i}").alias("n_orphans"),
                        )
                        for i, (name, _, _, _) in enumerate(edges)
                    ]
                )
            ).alias("e")
        ).select("e.*")
        out = rows if out is None else out.unionByName(rows)
    return out.orderBy("fk_edge")


# --------------------------------------------------------------------------
# event_transition_matrix — first-order Markov transitions over each
# user's time-ordered event stream: counts and conditional
# probabilities P(next_type | type). The behavioral fingerprint
# behind next-action prediction and bot detection (a scripted client
# has a near-deterministic row; organic traffic doesn't).
# Scale shape: one user shuffle for the lag pairing (same window as
# sequence_detect), then a (from, to)-cell aggregate — the matrix is
# |types|², trivially small; the row-sum join is a broadcast.
# --------------------------------------------------------------------------
TRANSITION_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
),
cells AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
rows_ AS (
  SELECT from_type, SUM(n) AS row_n FROM cells GROUP BY from_type
)
SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
       ROUND(c.n * 1.0 / r.row_n, 6) AS p
FROM cells c JOIN rows_ r USING (from_type)
ORDER BY from_type, to_type
"""


@register("event_transition_matrix", TRANSITION_SQL)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cells = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    rows = cells.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return (
        cells.join(F.broadcast(rows), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("row_n"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


# --------------------------------------------------------------------------
# session_paths — top navigation paths: the first three event types of
# every session (same 6h-gap sessionization as `sessionize`), counted
# across all sessions. The product-analytics staple ("what do users do
# first") that needs sessionize + within-session ordering, not just
# event counts. One user shuffle for the session windows (shared
# ordering with sessionize), a path-level aggregate (≤ |types|³ cells),
# and a top-20 over that tiny table.
# --------------------------------------------------------------------------
PATH_TOP_K = 20

SESSION_PATHS_SQL = f"""
WITH gaps AS (
  SELECT user_id, ts, event_id, event_type,
         CASE
           WHEN epoch(ts) - epoch(LAG(ts) OVER w) > {SESSION_GAP_S}
                OR LAG(ts) OVER w IS NULL
           THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM gaps
),
heads AS (
  SELECT user_id, session_id, event_type,
         LEAD(event_type, 1) OVER ws AS t2,
         LEAD(event_type, 2) OVER ws AS t3,
         ROW_NUMBER() OVER ws AS rn
  FROM sessions
  WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
),
paths AS (
  SELECT concat_ws('>', event_type, t2, t3) AS path
  FROM heads WHERE rn = 1
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) AS BIGINT) AS rk
FROM paths
GROUP BY path
QUALIFY rk <= {PATH_TOP_K}
ORDER BY rk
"""


@register("session_paths", SESSION_PATHS_SQL)
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    sessions = _session_ids(load(spark, "events", sf_dir))
    ws = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    heads = (
        sessions.select(
            "event_type",
            F.lead("event_type", 1).over(ws).alias("t2"),
            F.lead("event_type", 2).over(ws).alias("t3"),
            F.row_number().over(ws).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(F.concat_ws(">", "event_type", "t2", "t3").alias("path"))
    )
    wr = W.orderBy(F.desc("n_sessions"), "path")
    return (
        heads.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .withColumn("rk", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rk") <= PATH_TOP_K)
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# time_weighted_avg — TWAP per event-type series: each reading holds
# until the next one, so the mean weights each value by its holding
# interval (the hypertable/financial time_weight aggregate; a plain
# AVG over-counts burst periods). Determinism: per-row products
# value×dt are rounded and summed as DECIMAL (order-independent);
# interval seconds are exact integers from epoch diffs.
# Scale shape: one series shuffle + one lead() + one aggregate.
# --------------------------------------------------------------------------
TWA_SQL = """
WITH iv AS (
  SELECT event_type, value,
         CAST(FLOOR(epoch(LEAD(ts) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
         ))) - FLOOR(epoch(ts)) AS BIGINT) AS dt
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dt) AS BIGINT) AS total_seconds,
       ROUND(CAST(SUM(CAST(ROUND(value * dt, 4) AS DECIMAL(28,4)))
                  AS DOUBLE) / SUM(dt), 6) AS twa
FROM iv
WHERE dt IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


@register("time_weighted_avg", TWA_SQL)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    iv = e.select(
        "event_type",
        "value",
        (
            F.lead("ts").over(w).cast("long") - F.col("ts").cast("long")
        ).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return (
        iv.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_intervals"),
            F.sum("dt").cast("bigint").alias("total_seconds"),
            F.round(
                F.sum(
                    F.round(F.col("value") * F.col("dt"), 4).cast(
                        "decimal(28,4)"
                    )
                ).cast("double")
                / F.sum("dt"),
                6,
            ).alias("twa"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# orders_backlog — interval accounting by EVENT-IZING intervals: an
# order is "open" from o_orderdate until its last lineitem ships;
# instead of joining every month against every open interval (a range
# join over the fact table), each order emits a +1 delta at its open
# month and a -1 at its close month, and the backlog is the running
# sum over the tiny month axis. The standard O(n) trick for
# concurrent-intervals questions (active sessions, open tickets,
# inventory) at any scale — the only global window runs over ~80
# month rows.
# --------------------------------------------------------------------------
BACKLOG_SQL = """
WITH closes AS (
  SELECT l_orderkey AS orderkey, MAX(l_shipdate) AS close_date
  FROM lineitem GROUP BY l_orderkey
),
deltas AS (
  SELECT date_trunc('month', o.o_orderdate) AS month, 1 AS delta
  FROM orders o JOIN closes c ON c.orderkey = o.o_orderkey
  UNION ALL
  SELECT date_trunc('month', c.close_date) AS month, -1 AS delta
  FROM orders o JOIN closes c ON c.orderkey = o.o_orderkey
)
SELECT CAST(EXTRACT(year FROM month) AS BIGINT) AS yr,
       CAST(EXTRACT(month FROM month) AS BIGINT) AS mo,
       CAST(SUM(SUM(delta)) OVER (
         ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS open_orders
FROM deltas
GROUP BY month
ORDER BY yr, mo
"""


@register("orders_backlog", BACKLOG_SQL)
def orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    li = load(spark, "lineitem", sf_dir)
    closes = li.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.max("l_shipdate").alias("close_date")
    )
    spans = o.join(closes, o["o_orderkey"] == closes["orderkey"])
    opens = spans.select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.lit(1).alias("delta"),
    )
    shuts = spans.select(
        F.date_trunc("month", "close_date").alias("month"),
        F.lit(-1).alias("delta"),
    )
    monthly = (
        opens.unionByName(shuts)
        .groupBy("month")
        .agg(F.sum("delta").alias("d"))
    )
    w = W.orderBy("month").rowsBetween(W.unboundedPreceding, 0)
    return monthly.select(
        F.year("month").cast("bigint").alias("yr"),
        F.month("month").cast("bigint").alias("mo"),
        F.sum("d").over(w).cast("bigint").alias("open_orders"),
    ).orderBy("yr", "mo")


# --------------------------------------------------------------------------
# window_funnel_levels — time-constrained multi-step funnel (the
# ClickHouse windowFunnel shape, first-anchor variant): a user's chain
# is anchored at their FIRST click; level 2 requires a view strictly
# after the anchor and within FUNNEL_WINDOW of it, level 3 a purchase
# strictly after that view, still inside the anchor's window. Emits
# the level histogram — the drop-off curve product analytics reads.
# (True windowFunnel slides the anchor over every candidate start;
# first-anchor is the deterministic, join-bounded variant — each step
# is one conditional MIN, not a search.)
#
# Determinism/scale: every step is a user-keyed equi-join + MIN
# aggregate on the SAME user grain (no range-driven pair space);
# window bounds use native timestamp INTERVAL arithmetic, not
# seconds-cast (a cast truncates to whole seconds and flips boundary
# events — the attribution_last_touch lesson). Result is 4 rows.
# --------------------------------------------------------------------------
FUNNEL_WINDOW_HOURS = 24  # sized so all levels fire at the sf0.01 gate

WINDOW_FUNNEL_SQL = f"""
WITH t1 AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'click' THEN ts END) AS t1
  FROM events GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'view' AND t1.t1 IS NOT NULL
    AND e.ts > t1.t1
    AND e.ts <= t1.t1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e
  JOIN t1 ON e.user_id = t1.user_id
  JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > s2.t2
    AND e.ts <= t1.t1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY e.user_id
),
lv AS (
  SELECT t1.user_id,
         CASE WHEN s3.t3 IS NOT NULL THEN 3
              WHEN s2.t2 IS NOT NULL THEN 2
              WHEN t1.t1 IS NOT NULL THEN 1
              ELSE 0 END AS level
  FROM t1
  LEFT JOIN s2 ON t1.user_id = s2.user_id
  LEFT JOIN s3 ON t1.user_id = s3.user_id
)
SELECT level, COUNT(*)::BIGINT AS n_users
FROM lv GROUP BY level ORDER BY level
"""


@register("window_funnel_levels", WINDOW_FUNNEL_SQL)
def window_funnel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    bound = f"t1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOURS"
    t1 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t1"
        )
    )
    s2 = (
        e.filter(F.col("event_type") == "view")
        .join(t1, "user_id")
        .filter(
            F.col("t1").isNotNull()
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.expr(bound))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(t1, "user_id")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2")) & (F.col("ts") <= F.expr(bound))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    lv = (
        t1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .when(F.col("t1").isNotNull(), 1)
            .otherwise(0)
            .alias("level")
        )
    )
    return (
        lv.groupBy("level")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("level")
    )


# --------------------------------------------------------------------------
# asof_join_nearest — the full merge_asof surface (pandas direction=
# 'nearest' + tolerance): for each purchase, the nearest click by the
# same user in EITHER direction, matched only within a 30-minute
# tolerance. backward = carry-forward MAX window (as asof_join),
# forward = the mirrored MIN-following window — nearest picks the
# smaller absolute gap, ties resolved backward (deterministic).
# Gap arithmetic is exact integer MICROSECONDS (unix_micros /
# epoch_us) — a seconds cast truncates and flips boundary ties (the
# attribution_last_touch lesson). Both windows ride ONE user shuffle.
# --------------------------------------------------------------------------
ASOF_TOL_US = 30 * 60 * 1_000_000  # 30 min

ASOF_NEAREST_SQL = f"""
WITH enriched AS (
  SELECT event_id, user_id, ts, event_type,
         MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS bwd,
         MIN(CASE WHEN event_type = 'click' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
         ) AS fwd
  FROM events
),
p AS (
  SELECT event_id, user_id, ts,
         epoch_us(ts) - epoch_us(bwd) AS db,
         epoch_us(fwd) - epoch_us(ts) AS df,
         bwd, fwd
  FROM enriched WHERE event_type = 'purchase'
),
chosen AS (
  SELECT event_id, user_id, ts,
         CASE WHEN bwd IS NULL AND fwd IS NULL THEN NULL
              WHEN fwd IS NULL THEN bwd
              WHEN bwd IS NULL THEN fwd
              WHEN db <= df THEN bwd ELSE fwd END AS m,
         CASE WHEN bwd IS NULL AND fwd IS NULL THEN NULL
              WHEN fwd IS NULL THEN db
              WHEN bwd IS NULL THEN df
              WHEN db <= df THEN db ELSE df END AS gap_us,
         CASE WHEN bwd IS NULL AND fwd IS NULL THEN NULL
              WHEN fwd IS NULL THEN 'backward'
              WHEN bwd IS NULL THEN 'forward'
              WHEN db <= df THEN 'backward' ELSE 'forward' END AS direction
  FROM p
)
SELECT event_id, user_id, ts,
       CASE WHEN gap_us <= {ASOF_TOL_US} THEN m END AS nearest_click_ts,
       CASE WHEN gap_us <= {ASOF_TOL_US} THEN direction END AS direction,
       CASE WHEN gap_us <= {ASOF_TOL_US} THEN gap_us END AS gap_us
FROM chosen
ORDER BY event_id
"""


@register("asof_join_nearest", ASOF_NEAREST_SQL)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    wb = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    enriched = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.max(click_ts).over(wb).alias("bwd"),
        F.min(click_ts).over(wf).alias("fwd"),
    )
    p = enriched.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        (F.unix_micros("ts") - F.unix_micros("bwd")).alias("db"),
        (F.unix_micros("fwd") - F.unix_micros("ts")).alias("df"),
        "bwd",
        "fwd",
    )
    no_b, no_f = F.col("bwd").isNull(), F.col("fwd").isNull()
    back = F.col("db") <= F.col("df")
    m = (
        F.when(no_b & no_f, F.lit(None).cast("timestamp"))
        .when(no_f, F.col("bwd"))
        .when(no_b, F.col("fwd"))
        .when(back, F.col("bwd"))
        .otherwise(F.col("fwd"))
    )
    gap = (
        F.when(no_b & no_f, F.lit(None).cast("long"))
        .when(no_f, F.col("db"))
        .when(no_b, F.col("df"))
        .when(back, F.col("db"))
        .otherwise(F.col("df"))
    )
    direction = (
        F.when(no_b & no_f, F.lit(None).cast("string"))
        .when(no_f, F.lit("backward"))
        .when(no_b, F.lit("forward"))
        .when(back, F.lit("backward"))
        .otherwise(F.lit("forward"))
    )
    chosen = p.select(
        "event_id",
        "user_id",
        "ts",
        m.alias("m"),
        gap.alias("gap_us"),
        direction.alias("direction"),
    )
    in_tol = F.col("gap_us") <= ASOF_TOL_US
    return chosen.select(
        "event_id",
        "user_id",
        "ts",
        F.when(in_tol, F.col("m")).alias("nearest_click_ts"),
        F.when(in_tol, F.col("direction")).alias("direction"),
        F.when(in_tol, F.col("gap_us")).alias("gap_us"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# hilbert_value — Hilbert-curve layout index, the locality-preserving
# alternative to zorder_value's Morton index: adjacent d values are
# always grid-neighbors (|dx|+|dy| = 1), so a range of the sort key
# maps to ONE contiguous blob of the (user_bucket, day_bucket) plane,
# where Morton's bit-interleave jumps quadrants. Same layout contract
# as zorder_value (sort the fact table by hval before writing, range
# scans touch few files); the standard xy2d walk (rx/ry quadrant bits
# + rotate/flip) is UNROLLED into 8 chained SELECT levels of pure
# integer CASE arithmetic — no UDF, identical expression text modulo
# shiftright spelling in both engines, so the oracle is bit-exact.
# The quadrant term (3·rx) XOR ry is algebraized as 3rx + ry − 2rx·ry
# (equal on {0,1}²) to avoid engine-specific XOR spellings.
# --------------------------------------------------------------------------
HILBERT_BITS = 8  # 256 × 256 grid, matching zorder_value's buckets


def _hilbert_chain(engine: str, src: str, id_cols: str) -> str:
    """Wrap `src` (providing hx, hy and `id_cols`) in the unrolled
    Hilbert levels; yields a subquery exposing id_cols + hd."""
    n1 = (1 << HILBERT_BITS) - 1
    if engine == "spark":
        shf = lambda e, b: f"shiftright({e}, {b})"  # noqa: E731
    else:
        shf = lambda e, b: f"({e} >> {b})"  # noqa: E731
    q = src
    for b in reversed(range(HILBERT_BITS)):
        s = 1 << b
        rx = f"({shf('hx', b)} & 1)"
        ry = f"({shf('hy', b)} & 1)"
        quad = f"(3 * {rx} + {ry} - 2 * {rx} * {ry})"
        q = f"""SELECT {id_cols},
  CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 THEN {n1} - hy ELSE hy END)
       ELSE hx END AS hx,
  CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 THEN {n1} - hx ELSE hx END)
       ELSE hy END AS hy,
  hd + {s * s} * {quad} AS hd
FROM ({q}) lvl{b}"""
    return q


def _hilbert_sql(engine: str) -> str:
    day = (
        "dayofmonth(ts)" if engine == "spark" else "date_part('day', ts)"
    )
    src = (
        "SELECT event_id, "
        "CAST(user_id % 256 AS BIGINT) AS user_bucket, "
        f"CAST({day} - 1 AS BIGINT) AS day_bucket, "
        "CAST(user_id % 256 AS BIGINT) AS hx, "
        f"CAST({day} - 1 AS BIGINT) AS hy, "
        "CAST(0 AS BIGINT) AS hd FROM events"
    )
    chain = _hilbert_chain(
        engine, src, "event_id, user_bucket, day_bucket"
    )
    return f"""
SELECT event_id, user_bucket, day_bucket, CAST(hd AS BIGINT) AS hval
FROM ({chain}) h
ORDER BY event_id
"""


@register("hilbert_value", _hilbert_sql("duck"))
def hilbert_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, "events", sf_dir).createOrReplaceTempView("events")
    return spark.sql(_hilbert_sql("spark"))
