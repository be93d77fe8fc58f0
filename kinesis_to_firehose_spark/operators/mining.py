"""Pattern-mining and statistical-modeling operators.

Beyond the reference surface (graveyard/kinesis-to-firehose has no
analytics at all — these extend the 100 TB mandate's
training-data/analytics breadth):

- assoc_rules: market-basket association rules (support / confidence /
  lift) over per-user-day event baskets.
- trend_ols: per-nation ordinary-least-squares trend of monthly order
  revenue, from EXACT decimal sufficient statistics (the column_corr
  trick) so the result is order-independent and parity-stable.
- char_entropy: per-document character-distribution entropy over a
  fixed alphabet — a gibberish/compressibility quality signal
  (Gopher/C4-style), computed as a fixed scalar expression chain, no
  aggregation over floats.
- source_overlap: source-to-source word-bigram-shingle Jaccard overlap
  matrix — corpus provenance auditing (which crawls duplicate each
  other) with a join whose fan-out is bounded by #sources², never by
  corpus size.
- bootstrap_ci: deterministic Poisson-bootstrap confidence interval
  (md5-driven integer weights; no data resampling shuffle).
- weighted_quantile: exact weighted quantiles per group via
  RANGE-window cumulative decimal weights.
- quantile_normalize: cross-source score calibration with pure-integer
  position arithmetic and one equi-join.
- skyline_pareto: 2-D skyline via domain collapse + broadcast
  thresholds (no dominance self-join, no global-sort window).

Scale notes per op are on the op docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_to_firehose_spark.operators.dedup import TOK_EXPR, TOK_SQL
from kinesis_to_firehose_spark.registry import register
from kinesis_to_firehose_spark.sources.tables import load

# --------------------------------------------------------------------------
# assoc_rules — association-rule mining over event baskets.
#
# Basket = the DISTINCT set of event_types one user fires in one UTC
# day. For every ordered pair (antecedent → consequent) of co-occurring
# types: support = P(a ∧ c), confidence = P(c | a), lift =
# P(a ∧ c) / (P(a)·P(c)).
#
# Scale shape: the basket table is one DISTINCT (shuffle on
# user/day/type); the pair count self-joins ON THE BASKET KEY
# (user_id, day), so per-basket fan-out is bounded by the event-type
# vocabulary squared — independent of corpus size. Item counts and the
# basket total are vocabulary-sized / scalar and broadcast into the
# final rule projection. All ratios are exact-integer divisions
# evaluated in one fixed scalar expression per row.
# --------------------------------------------------------------------------
ASSOC_SQL = """
WITH b AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type FROM events
),
tot AS (
  SELECT COUNT(*) AS n_baskets FROM (SELECT DISTINCT user_id, day FROM b)
),
item AS (
  SELECT event_type, COUNT(*) AS n FROM b GROUP BY event_type
),
pair AS (
  SELECT b1.event_type AS antecedent, b2.event_type AS consequent,
         COUNT(*) AS n_ab
  FROM b b1 JOIN b b2 USING (user_id, day)
  WHERE b1.event_type <> b2.event_type
  GROUP BY b1.event_type, b2.event_type
)
SELECT antecedent, consequent, CAST(n_ab AS BIGINT) AS n_ab,
       ROUND(n_ab * 1.0 / tot.n_baskets, 6) AS support,
       ROUND(n_ab * 1.0 / ia.n, 6) AS confidence,
       ROUND(n_ab * 1.0 * tot.n_baskets / (ia.n * ic.n), 6) AS lift
FROM pair
JOIN item ia ON ia.event_type = pair.antecedent
JOIN item ic ON ic.event_type = pair.consequent
CROSS JOIN tot
ORDER BY antecedent, consequent
"""


@register("assoc_rules", ASSOC_SQL)
def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    b = e.select(
        "user_id", F.col("ts").cast("date").alias("day"), "event_type"
    ).distinct()
    tot = b.select("user_id", "day").distinct().agg(
        F.count("*").alias("n_baskets")
    )
    item = b.groupBy("event_type").agg(F.count("*").alias("n"))
    b1 = b.alias("b1")
    b2 = b.alias("b2")
    pair = (
        b1.join(b2, ["user_id", "day"])
        .filter(F.col("b1.event_type") != F.col("b2.event_type"))
        .groupBy(
            F.col("b1.event_type").alias("antecedent"),
            F.col("b2.event_type").alias("consequent"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    ia = item.select(
        F.col("event_type").alias("antecedent"), F.col("n").alias("n_a")
    )
    ic = item.select(
        F.col("event_type").alias("consequent"), F.col("n").alias("n_c")
    )
    return (
        pair.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .join(F.broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(F.col("n_ab") * 1.0 / F.col("n_baskets"), 6).alias(
                "support"
            ),
            F.round(F.col("n_ab") * 1.0 / F.col("n_a"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_ab")
                * 1.0
                * F.col("n_baskets")
                / (F.col("n_a") * F.col("n_c")),
                6,
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


# --------------------------------------------------------------------------
# trend_ols — per-nation OLS trend (slope / intercept / R²) of monthly
# order revenue over the month index x = (year-1992)*12 + (month-1).
#
# Determinism: double sums are partial-aggregation-order dependent, so
# both levels of aggregation run on EXACT types — monthly revenue is a
# DECIMAL(18,2) sum, and the five sufficient statistics (Σx, Σy, Σxy,
# Σx², Σy²) are integer/decimal sums over the ≤ ~100 monthly points
# per nation. Slope/intercept/R² are then one fixed scalar IEEE
# expression from the exact stats — identical in Spark and DuckDB at
# any parallelism (same approach as column_corr / q9; see
# analytics.py:1802).
#
# Scale shape: orders⋈customer shuffles once on custkey (both sides
# scale, no broadcast hint — AQE decides); nation is a 25-row
# broadcast; the monthly rollup collapses to (#nations × #months) rows
# before the per-nation regression aggregate, so the second pass is
# over a vanishing row count.
# --------------------------------------------------------------------------
_X_SQL = "(CAST(year(o_orderdate) AS BIGINT) - 1992) * 12 + month(o_orderdate) - 1"

TREND_SQL = f"""
WITH monthly AS (
  SELECT n_name AS nation,
         {_X_SQL} AS x,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name, {_X_SQL}
),
stats AS (
  SELECT nation,
         COUNT(*) AS n,
         SUM(x) AS sx,
         SUM(CAST(x * x AS BIGINT)) AS sxx,
         SUM(y) AS sy,
         SUM(CAST(CAST(x AS DECIMAL(10,0)) * y AS DECIMAL(38,2))) AS sxy,
         SUM(CAST(y * y AS DECIMAL(38,4))) AS syy
  FROM monthly GROUP BY nation
)
SELECT nation, CAST(n AS BIGINT) AS n_months,
       ROUND((n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 4)
         AS slope,
       ROUND((CAST(sy AS DOUBLE)
              - ((n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)) * sx)
             / n, 4) AS intercept,
       ROUND(((n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
              * (n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE)))
             / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 6)
         AS r2
FROM stats
ORDER BY nation
"""


@register("trend_ols", TREND_SQL)
def trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    n = F.broadcast(load(spark, "nation", sf_dir))
    x = (
        (F.year("o_orderdate").cast("bigint") - F.lit(1992)) * 12
        + F.month("o_orderdate")
        - 1
    )
    monthly = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), x.alias("x"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    )
    stats = monthly.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("bigint")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(
            (F.col("x").cast("decimal(10,0)") * F.col("y")).cast(
                "decimal(38,2)"
            )
        ).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,4)")).alias("syy"),
    )
    sxd = F.col("sx").cast("double")
    sxyd = F.col("sxy").cast("double")
    syd = F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    cov_n = F.col("n") * sxyd - F.col("sx") * syd
    var_x = F.col("n") * sxxd - sxd * F.col("sx")
    var_y = F.col("n") * syyd - syd * F.col("sy")
    slope = cov_n / var_x
    # degenerate series (one month, or zero variance) divide by zero:
    # Spark doubles yield NaN/Inf where DuckDB yields NULL — emit NULL
    # explicitly so both engines agree
    guard_x = var_x != 0
    guard_xy = guard_x & (var_y != 0)
    return stats.select(
        "nation",
        F.col("n").cast("bigint").alias("n_months"),
        F.when(guard_x, F.round(slope, 4)).alias("slope"),
        F.when(
            guard_x,
            F.round((syd - slope * F.col("sx")) / F.col("n"), 4),
        ).alias("intercept"),
        F.when(guard_xy, F.round((cov_n * cov_n) / (var_x * var_y), 6))
        .alias("r2"),
    ).orderBy("nation")


# --------------------------------------------------------------------------
# char_entropy — per-document character-distribution Shannon entropy
# over the fixed alphabet [a-z ] plus an "other" bucket. Low entropy
# flags repetitive/gibberish text (the compressibility proxy used by
# C4/Gopher-style cleaners alongside the ratio rules in text_quality).
#
# Determinism: per-char counts come from the exact
# len(text) - len(replace(text, ch)) trick; the entropy is then a
# FIXED left-associated chain of 28 scalar -(p·log2 p) terms — no
# float aggregation at all, so no partial-agg order to disagree on.
# One narrow projection over the scan; zero shuffles, zero explodes
# (contrast: an explode-chars + groupBy approach shuffles one row per
# CHARACTER — at 100 TB that's the whole corpus through the exchange).
# --------------------------------------------------------------------------
_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def _entropy_sql() -> str:
    cnt = [
        f"(len(t) - len(replace(t, '{ch}', '')))" for ch in _ALPHABET
    ]
    other = f"(len(t) - ({' + '.join(cnt)}))"
    terms = [
        f"CASE WHEN {c} > 0 THEN -({c} * 1.0 / len(t)) * log2({c} * 1.0 / len(t)) ELSE 0.0 END"
        for c in [*cnt, other]
    ]
    chain = terms[0]
    for t in terms[1:]:
        chain = f"({chain} + {t})"
    return f"""
WITH norm AS (SELECT doc_id, lower(text) AS t FROM documents)
SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars,
       ROUND({chain}, 4) AS entropy
FROM norm WHERE len(t) > 0
ORDER BY doc_id
"""


@register("char_entropy", _entropy_sql())
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 (guide §4.2): the expression form materialized 27 full
    # `replace(t, ch)` string copies PER ROW to count characters —
    # measured 6.4 s noop at sf0.1 in the rewrite probe. The Arrow
    # kernel counts every character of a batch in ONE vectorized
    # bincount over the flat utf8 buffer (row_id·28 + bucket), then
    # evaluates the SAME left-assoc 28-term -(p·log2 p) chain in
    # float64 — 1.0 s, output verified row-identical at sf0.1 (the
    # 4dp round sits ~1e12 ulps above any libm log2 divergence).
    # Byte==char only holds for ASCII, so any row with a byte ≥ 0x80
    # takes an exact per-row Python fallback replicating the SQL
    # (lower/len/count, same term order); the synthetic corpus is
    # pure ASCII, so the fast path covers every row — the fallback
    # keeps the contract honest for arbitrary input.
    import math

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    idx_map = np.full(256, 27, dtype=np.int64)
    for i, ch in enumerate(_ALPHABET):
        idx_map[ord(ch)] = i

    def _row_fallback(s: str):
        t = s.lower()
        ln = len(t)
        cnts = [t.count(ch) for ch in _ALPHABET]
        cnts.append(ln - sum(cnts))
        acc = 0.0
        for c in cnts:
            if c > 0:
                p = c * 1.0 / ln
                acc = acc + (-(p) * math.log2(p))
            else:
                acc = acc + 0.0
        return ln, acc

    def _entropy(batches):
        for rb in batches:
            nrows = rb.num_rows
            if nrows == 0:
                continue
            lowered = pc.utf8_lower(rb.column("text"))
            arr = (
                lowered.combine_chunks()
                if isinstance(lowered, pa.ChunkedArray)
                else lowered
            )
            offs_full = np.frombuffer(arr.buffers()[1], dtype=np.int32)
            offs = offs_full[arr.offset : arr.offset + nrows + 1]
            data = (
                np.frombuffer(arr.buffers()[2], dtype=np.uint8)
                if arr.buffers()[2]
                else np.empty(0, np.uint8)
            )
            lens = (offs[1:] - offs[:-1]).astype(np.int64)
            total = int(lens.sum())
            flat = data[offs[0] : offs[0] + total]
            row_id = np.repeat(np.arange(nrows, dtype=np.int64), lens)
            bucket = idx_map[flat]
            cnt = (
                np.bincount(row_id * 28 + bucket, minlength=nrows * 28)
                .reshape(nrows, 28)
                .astype(np.float64)
            )
            ln = lens.astype(np.float64)
            safe = np.where(ln > 0, ln, 1.0)
            acc = np.zeros(nrows, dtype=np.float64)
            for j in range(28):  # same left-assoc term order as the SQL
                c = cnt[:, j]
                p = c / safe
                acc = acc + np.where(
                    c > 0, -(p) * np.log2(np.where(p > 0, p, 1.0)), 0.0
                )
            n_chars = lens.copy()
            # exact per-row fallback for any non-ASCII row
            hi = np.zeros(nrows, dtype=bool)
            if total and (flat >= 0x80).any():
                hi_bytes = flat >= 0x80
                hi = (
                    np.bincount(row_id[hi_bytes], minlength=nrows) > 0
                )
                texts = rb.column("text").to_pylist()
                for r in np.nonzero(hi)[0]:
                    ln_r, ent_r = _row_fallback(texts[r])
                    n_chars[r] = ln_r
                    acc[r] = ent_r
            yield pa.record_batch(
                {
                    "doc_id": rb.column("doc_id"),
                    "n_chars": pa.array(n_chars, type=pa.int64()),
                    "entropy": pa.array(np.round(acc, 4), type=pa.float64()),
                    "keep": pa.array(n_chars > 0),
                }
            )

    d = load(spark, "documents", sf_dir).select("doc_id", "text")
    return (
        d.mapInArrow(
            _entropy,
            schema="doc_id long, n_chars long, entropy double, keep boolean",
        )
        .filter("keep")
        .drop("keep")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# source_overlap — source×source word-bigram-shingle Jaccard matrix:
# which document sources (crawls/feeds) duplicate each other's
# content. The provenance-level complement of the per-doc dedup ops.
#
# Scale shape: the key move is collapsing to DISTINCT (source, shingle)
# BEFORE the self-join — per-shingle join fan-out is then bounded by
# #sources² (here 20² = 400), independent of how many documents share
# the shingle, so there is no hot-shingle blow-up (contrast
# dedup_ngram_jaccard, which needs a DF cap because its key is the
# doc). One explode + distinct shuffle, one equi-join on shingle, and
# a #sources²-row aggregate; per-source set sizes broadcast into the
# final Jaccard projection.
# --------------------------------------------------------------------------
SOURCE_OVERLAP_SQL = f"""
WITH toks_t AS (
  SELECT source, {TOK_SQL} AS toks FROM documents
),
sh AS (
  SELECT DISTINCT source,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS shingle
  FROM toks_t
),
size_s AS (
  SELECT source, COUNT(*) AS n FROM sh GROUP BY source
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.n + sb.n - n_inter AS BIGINT) AS n_union,
       ROUND(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter
JOIN size_s sa ON sa.source = inter.source_a
JOIN size_s sb ON sb.source = inter.source_b
ORDER BY source_a, source_b
"""


@register("source_overlap", SOURCE_OVERLAP_SQL)
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_to_firehose_spark.operators.dedup import exploded_shingles

    # shared tokenize/lead/distinct shingle core (dedup.py), carrying
    # source instead of the dedup blocking keys, then collapsed to
    # distinct per source
    sh = (
        exploded_shingles(spark, sf_dir, carry=("source",))
        .select("source", "shingle")
        .distinct()
    )
    size_s = sh.groupBy("source").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = size_s.select(
        F.col("source").alias("source_a"), F.col("n").alias("n_a")
    )
    sb = size_s.select(
        F.col("source").alias("source_b"), F.col("n").alias("n_b")
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            union.cast("bigint").alias("n_union"),
            F.round(F.col("n_inter") * 1.0 / union, 6).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# bootstrap_ci — Poisson-bootstrap confidence interval for mean order
# value in 1995: each row enters replicate b with a DETERMINISTIC
# Poisson(1)-distributed weight drawn from md5(orderkey, b) through a
# fixed inverse-CDF CASE chain (no RNG; the standard
# bootstrap-at-scale trick — resampling n rows with replacement ≈
# per-row independent Poisson(1) weights, so no shuffle of the data,
# just a ×B narrow flatmap feeding one partial-aggregating groupBy
# whose shuffle is B rows of partial sums, not B copies of the data).
#
# Determinism: weights are integers, weighted sums run in
# DECIMAL(18,2), each replicate mean is one exact-input double
# division, and the CI bounds are ROW_NUMBER picks over those exact
# means — no float aggregation anywhere.
# --------------------------------------------------------------------------
N_BOOT = 32
# Cumulative Poisson(1) CDF: P(X<=k) for k=0..4; weights cap at 5.
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
)


def _pois_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {cases} ELSE 5 END"


_U_SQL = (
    "(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' || "
    "CAST(b AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0)"
)
_U_SPARK = (
    "conv(substring(md5(concat(CAST(o_orderkey AS STRING), ':', "
    "CAST(b AS STRING))), 1, 8), 16, 10) / 4294967296.0"
)

BOOTSTRAP_SQL = f"""
WITH base AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS y
  FROM orders WHERE year(o_orderdate) = 1995
),
reps AS (
  SELECT b, o_orderkey, y, {_pois_w_sql(_U_SQL)} AS w
  FROM base CROSS JOIN (SELECT unnest(generate_series(0, {N_BOOT - 1})) AS b)
),
boot AS (
  SELECT b,
         CAST(SUM(w * y) AS DOUBLE) / SUM(w) AS mean_b
  FROM reps GROUP BY b
),
ranked AS (
  SELECT mean_b, ROW_NUMBER() OVER (ORDER BY mean_b, b) AS rn FROM boot
),
point AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(y) AS DOUBLE) / COUNT(*) AS mu
  FROM base
)
SELECT n_rows,
       CAST({N_BOOT} AS BIGINT) AS n_boot,
       ROUND(mu, 4) AS point_mean,
       ROUND((SELECT mean_b FROM ranked WHERE rn = 2), 4) AS ci_lo,
       ROUND((SELECT mean_b FROM ranked WHERE rn = {N_BOOT - 1}), 4) AS ci_hi
FROM point
"""


@register("bootstrap_ci", BOOTSTRAP_SQL)
def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    o = load(spark, "orders", sf_dir)
    base = o.filter(F.year("o_orderdate") == 1995).select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("y")
    )
    reps = base.select(
        "o_orderkey",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(N_BOOT - 1))).alias("b"),
    )
    u = F.expr(_U_SPARK)
    w = F.lit(5)
    for k, c in reversed(list(enumerate(_POIS_CDF))):
        w = F.when(u < F.lit(c), F.lit(k)).otherwise(w)
    boot = (
        reps.withColumn("w", w)
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("y")).cast("double")
                / F.sum("w")
            ).alias("mean_b")
        )
    )
    ranked = boot.withColumn(
        "rn", F.row_number().over(W.orderBy("mean_b", "b"))
    )
    # BOTH CI bounds from ONE aggregate over the ranked replicates —
    # separate lo/hi subplans each replayed the full explode+md5
    # replicate pipeline (2x the dominant cost at every scale); a
    # conditional min per bound reads it once. Aggregate (not
    # filter+select) so an empty replicate table still yields ONE row
    # with NULL bounds — matching the oracle's scalar subqueries when
    # the filtered base is empty.
    ci = ranked.agg(
        F.round(
            F.min(F.when(F.col("rn") == 2, F.col("mean_b"))), 4
        ).alias("ci_lo"),
        F.round(
            F.min(F.when(F.col("rn") == N_BOOT - 1, F.col("mean_b"))), 4
        ).alias("ci_hi"),
    )
    point = base.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(
            F.sum("y").cast("double") / F.count("*"), 4
        ).alias("point_mean"),
    ).withColumn("n_boot", F.lit(N_BOOT).cast("bigint"))
    return point.join(F.broadcast(ci)).select(
        "n_rows", "n_boot", "point_mean", "ci_lo", "ci_hi"
    )


# --------------------------------------------------------------------------
# weighted_quantile — EXACT weighted quantiles (p50/p90 of extended
# price weighted by quantity, per return flag). The importance-weighted
# analogue of percentile_by_group — the primitive behind weighted data
# mixes ("what price level covers half the shipped VOLUME").
#
# Exactness: cumulative weights ride a RANGE window (peers collapse
# together, so within-tie row order can't matter), weights/values stay
# DECIMAL end-to-end, and each quantile is MIN(v | cumw ≥ p·totw) with
# p·totw an exact decimal product. One shuffle on the group key; the
# per-group totals broadcast back.
# --------------------------------------------------------------------------
WQ_SQL = """
WITH base AS (
  SELECT l_returnflag AS grp,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
         CAST(l_quantity AS DECIMAL(12,2)) AS w
  FROM lineitem
),
tot AS (SELECT grp, SUM(w) AS tw FROM base GROUP BY grp),
cum AS (
  SELECT grp, v,
         SUM(w) OVER (PARTITION BY grp ORDER BY v
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM base
)
SELECT c.grp,
       CAST(t.tw AS DOUBLE) AS total_weight,
       CAST(MIN(CASE WHEN c.cw >= CAST(0.5 AS DECIMAL(2,1)) * t.tw
                     THEN c.v END) AS DOUBLE) AS wq50,
       CAST(MIN(CASE WHEN c.cw >= CAST(0.9 AS DECIMAL(2,1)) * t.tw
                     THEN c.v END) AS DOUBLE) AS wq90
FROM cum c JOIN tot t ON t.grp = c.grp
GROUP BY c.grp, t.tw
ORDER BY c.grp
"""


@register("weighted_quantile", WQ_SQL)
def weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 re-plan (guide §2.5; the r13 sf1 scaling probe made this the
    # #1 op at scale): the RANGE window cumulated the WHOLE corpus in
    # |returnflag| = 3 partitions — a near-global sort at parallelism
    # 3 that ANTI-scaled (c8/c32 ratio 0.72, 19.9 s at sf1). Now a
    # DISTRIBUTED PREFIX SUM over a range-partitioned parallel sort:
    # per-partition weight subtotals are a BOUNDED collect (n_parts ×
    # |grps| rows — the media_repartition_by_bytes manifest idiom),
    # broadcast back as per-(partition, grp) offsets, and each task
    # emits at most one candidate row per (grp, threshold) — the
    # corpus never crosses the Python boundary back.
    #
    # Exactness (oracle-verified identical at sf0.1 AND sf1):
    # - money/weight become SCALED-INTEGER cents (decimal(·,2)·100 →
    #   long, exact); every cumulative is int64 (100 TB headroom:
    #   ~2e9 rows · 5e3 cents ≈ 1e13 ≪ 2^63);
    # - thresholds are integer cross-multiplications: cw ≥ 0.5·tw ⟺
    #   2·cw ≥ tw and cw ≥ 0.9·tw ⟺ 10·cw ≥ 9·tw — no decimal·decimal
    #   product to reproduce;
    # - ROWS-vs-RANGE ties: within a tie group of equal v the running
    #   sum reaches the RANGE window's shared cumulative at the LAST
    #   peer, and v qualifies under either semantics iff that last
    #   peer qualifies — the MIN qualifying v is unchanged;
    # - output doubles: int_cents / 100.0 is the correctly-rounded
    #   double of the same rational as CAST(decimal AS DOUBLE);
    # - localCheckpoint pins the SAMPLED range boundaries so the
    #   subtotal job and the candidate job read identical partitions
    #   (the ADVICE-r7 nondeterministic-repartition hazard).
    # Measured: 2.07 → 1.54 s at sf0.1; 15.9 → 3.5 s at sf1 (c32).
    li = load(spark, "lineitem", sf_dir)
    scaled = li.select(
        F.col("l_returnflag").alias("grp"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("vc"),
        (F.col("l_quantity").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("wc"),
    )
    n_parts = spark.sparkContext.defaultParallelism * 2
    parts = (
        scaled.repartitionByRange(n_parts, "grp", "vc")
        .sortWithinPartitions("grp", "vc")
        .localCheckpoint(eager=True)
    )
    sub = (
        parts.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid", "grp")
        .agg(F.sum("wc").alias("s"))
        .collect()
    )
    tw: dict[str, int] = {}
    running: dict[str, int] = {}
    offs: dict[tuple[int, str], int] = {}
    for r in sorted(sub, key=lambda r: r["_pid"]):
        g = r["grp"]
        offs[(r["_pid"], g)] = running.get(g, 0)
        running[g] = running.get(g, 0) + r["s"]
        tw[g] = tw.get(g, 0) + r["s"]
    bc = spark.sparkContext.broadcast((offs, tw))

    def _cand(batches):
        import numpy as np
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        offs_d, tw_d = bc.value
        carry: dict[str, int] = {}
        emitted: set[tuple[str, int]] = set()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # partition rows are sorted by (grp, vc); groupby with
            # sort=False preserves that intra-group order
            for g, sp in pdf.groupby("grp", sort=False):
                wc = sp["wc"].to_numpy()
                cum = carry.get(g, offs_d.get((pid, g), 0)) + np.cumsum(wc)
                carry[g] = int(cum[-1])
                t = tw_d[g]
                for thr, num, den in ((50, 2, 1), (90, 10, 9)):
                    if (g, thr) in emitted:
                        continue
                    idx = np.nonzero(num * cum >= den * t)[0]
                    if len(idx):
                        emitted.add((g, thr))
                        yield pd.DataFrame(
                            {
                                "grp": [g],
                                "thr": [thr],
                                "vcand": [int(sp["vc"].to_numpy()[idx[0]])],
                            }
                        )

    cand = parts.mapInPandas(_cand, "grp string, thr int, vcand long")
    twdf = spark.createDataFrame(
        [(g, int(t)) for g, t in sorted(tw.items())], "grp string, twc long"
    )
    return (
        cand.groupBy("grp")
        .agg(
            F.min(F.when(F.col("thr") == 50, F.col("vcand"))).alias("c50"),
            F.min(F.when(F.col("thr") == 90, F.col("vcand"))).alias("c90"),
        )
        .join(F.broadcast(twdf), "grp")
        .select(
            "grp",
            (F.col("twc") / 100.0).alias("total_weight"),
            (F.col("c50") / 100.0).alias("wq50"),
            (F.col("c90") / 100.0).alias("wq90"),
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# quantile_normalize — cross-source score calibration: map each doc's
# WITHIN-SOURCE rank of a quality score (n_chars here) onto the GLOBAL
# score distribution, so sources with skewed score scales become
# comparable before mix-weighting (the classic quantile-normalization
# step from expression analysis, applied to corpus curation).
#
# Determinism via pure integer arithmetic: within-source rank r of
# n_src rows maps to global position 1 + ((r-1)·(N-1)) DIV (n_src-1)
# — no float percentile anywhere — then ONE equi-join on the global
# position. Two rank shuffles (per-source, global) + one equi-join;
# nothing quadratic, no range join.
# --------------------------------------------------------------------------
QNORM_SQL = """
WITH ranked_src AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS n_src
  FROM documents
),
ranked_glob AS (
  SELECT n_chars AS g_val,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS pos
  FROM documents
),
n_tot AS (SELECT COUNT(*) AS n FROM documents),
mapped AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN n_src = 1 THEN 1
              ELSE 1 + CAST(((r - 1) * (n.n - 1)) // (n_src - 1) AS BIGINT)
         END AS pos
  FROM ranked_src CROSS JOIN n_tot n
)
SELECT m.doc_id, m.source,
       CAST(m.n_chars AS BIGINT) AS n_chars,
       CAST(g.g_val AS BIGINT) AS norm_chars
FROM mapped m JOIN ranked_glob g USING (pos)
ORDER BY m.doc_id
"""


@register("quantile_normalize", QNORM_SQL)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, "documents", sf_dir)
    ws = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked_src = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).alias("r"),
        F.count("*").over(W.partitionBy("source")).alias("n_src"),
    )
    # distributed global rank: collapse to the n_chars DOMAIN for the
    # cross-value offsets (tiny window), rank within each value by
    # doc_id (partitioned window) — no unpartitioned ROW_NUMBER
    # dragging the corpus to one task
    val_counts = d.groupBy("n_chars").agg(F.count("*").alias("vc"))
    w_dom = (
        W.orderBy("n_chars")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    offsets = val_counts.select(
        "n_chars", (F.sum("vc").over(w_dom) - F.col("vc")).alias("before")
    )
    ranked_glob = (
        d.join(F.broadcast(offsets), "n_chars")
        .select(
            F.col("n_chars").alias("g_val"),
            (F.col("before") + F.row_number().over(
                W.partitionBy("n_chars").orderBy("doc_id")
            ))
            .cast("bigint")
            .alias("pos"),
        )
    )
    n_tot = d.agg(F.count("*").alias("n"))
    # exact integer floor-division on BOTH engines (Spark `div`,
    # DuckDB `//`): a double-division floor goes off-by-one once the
    # product exceeds 2^53
    pos = F.when(F.col("n_src") == 1, F.lit(1).cast("bigint")).otherwise(
        1
        + F.expr("((r - 1) * (n - 1)) div (n_src - 1)").cast("bigint")
    )
    mapped = ranked_src.join(F.broadcast(n_tot)).select(
        "doc_id", "source", "n_chars", pos.alias("pos")
    )
    return (
        mapped.join(ranked_glob, "pos")
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("g_val").cast("bigint").alias("norm_chars"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# skyline_pareto — 2-D skyline (Pareto front) query: parts not
# DOMINATED on (retail price ↓, size ↑) — no other part is both
# cheaper and larger. The classic multi-criteria shortlist operator
# (Börzsönyi et al., "The Skyline Operator", ICDE '01).
#
# Spark-first shape: a point survives iff its price is strictly below
# the MINIMUM price of all strictly-larger sizes. That threshold
# depends ONLY on the point's size, so the corpus first collapses to
# per-size minima (one partial-aggregating groupBy on the size DOMAIN
# — ≤50 rows regardless of corpus size), the cummin-from-the-large-end
# window runs over that tiny domain table, and the thresholds
# broadcast back as an equi-join. NOT the naive O(n²) dominance
# self-join, and no global-sort window over the data (a bare
# unpartitioned window would drag the whole corpus to one task).
# Exact integers/decimals only, so no float ordering hazards.
#
# Dominance here (standard weak Pareto dominance): B dominates A iff
# B.size > A.size AND B.price <= A.price — strictly better on one
# axis, no worse on the other; equal-SIZE points coexist on the
# front.
# --------------------------------------------------------------------------
SKYLINE_SQL = """
WITH pts AS (
  SELECT p_partkey, p_size,
         CAST(p_retailprice AS DECIMAL(12,2)) AS price
  FROM part
),
scanned AS (
  SELECT p_partkey, p_size, price,
         MIN(price) OVER (ORDER BY p_size DESC
                          RANGE BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS best_larger
  FROM pts
)
SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
       CAST(price AS DOUBLE) AS price
FROM scanned
WHERE best_larger IS NULL OR price < best_larger
ORDER BY p_size DESC, p_partkey
"""


@register("skyline_pareto", SKYLINE_SQL)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    p = load(spark, "part", sf_dir)
    pts = p.select(
        "p_partkey",
        "p_size",
        F.col("p_retailprice").cast("decimal(12,2)").alias("price"),
    )
    # collapse to the size DOMAIN before any window: ≤50 rows
    per_size = pts.groupBy("p_size").agg(F.min("price").alias("mp"))
    # RANGE .. 1 PRECEDING over size DESC = min price among all
    # STRICTLY larger sizes (peers with equal size excluded); runs
    # over the domain table only
    wr = (
        W.orderBy(F.col("p_size").desc())
        .rangeBetween(W.unboundedPreceding, -1)
    )
    thresholds = per_size.select(
        "p_size", F.min("mp").over(wr).alias("best_larger")
    )
    scanned = pts.join(F.broadcast(thresholds), "p_size")
    return (
        scanned.filter(
            F.col("best_larger").isNull()
            | (F.col("price") < F.col("best_larger"))
        )
        .select(
            "p_partkey",
            F.col("p_size").cast("bigint").alias("p_size"),
            F.col("price").cast("double").alias("price"),
        )
        .orderBy(F.col("p_size").desc(), "p_partkey")
    )


# --------------------------------------------------------------------------
# attribution_last_touch — marketing-style last-touch revenue
# attribution: each purchase credits the user's MOST RECENT preceding
# click/view within a 2-hour horizon (else 'unattributed'), rolled up
# to (channel, n_purchases, total_value).
#
# Spark-first shape: NO join at all — touches and purchases ride one
# per-user window pass (carry-forward last non-null touch via
# last(..., ignorenulls) over an explicit ROWS frame; ts+event_id
# ordering makes the carried value deterministic under ties), then one
# channel rollup. The naive formulation is a per-purchase range join
# against all preceding touches (state × horizon blow-up); the
# carry-forward window is O(n) with a single user-key shuffle.
# Purchase values are summed as DECIMAL so partial-agg order can't
# perturb totals.
# --------------------------------------------------------------------------
ATTR_HORIZON_MIN = 120

ATTR_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type IN ('click', 'view') THEN event_type END
           AS touch_type,
         CASE WHEN event_type IN ('click', 'view') THEN ts END AS touch_ts,
         CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6))
         END AS purchase_value
  FROM events WHERE event_type IN ('click', 'view', 'purchase')
),
carried AS (
  SELECT user_id, ts, purchase_value,
         LAST_VALUE(touch_type IGNORE NULLS) OVER w AS lt_type,
         LAST_VALUE(touch_ts IGNORE NULLS) OVER w AS lt_ts
  FROM flagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
attributed AS (
  SELECT CASE WHEN lt_ts IS NOT NULL
                   AND epoch_us(ts) - epoch_us(lt_ts)
                       <= {ATTR_HORIZON_MIN}::BIGINT * 60 * 1000000
              THEN lt_type ELSE 'unattributed' END AS channel,
         purchase_value
  FROM carried WHERE purchase_value IS NOT NULL
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(purchase_value) AS DOUBLE) AS total_value
FROM attributed GROUP BY channel
ORDER BY channel
"""


@register("attribution_last_touch", ATTR_SQL)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load(spark, "events", sf_dir)
    is_touch = F.col("event_type").isin("click", "view")
    flagged = e.filter(
        F.col("event_type").isin("click", "view", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(is_touch, F.col("event_type")).alias("touch_type"),
        F.when(is_touch, F.col("ts")).alias("touch_ts"),
        F.when(
            F.col("event_type") == "purchase",
            F.col("value").cast("decimal(18,6)"),
        ).alias("purchase_value"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = flagged.select(
        "user_id",
        "ts",
        "purchase_value",
        F.last("touch_type", ignorenulls=True).over(w).alias("lt_type"),
        F.last("touch_ts", ignorenulls=True).over(w).alias("lt_ts"),
    )
    # microsecond-exact horizon test: cast("long") truncates to whole
    # seconds and flips purchases sitting exactly on the 2h boundary
    # (caught by the sf0.1 parity sweep)
    in_horizon = F.col("lt_ts").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("lt_ts")
        <= ATTR_HORIZON_MIN * 60 * 1_000_000
    )
    return (
        carried.filter(F.col("purchase_value").isNotNull())
        .select(
            F.when(in_horizon, F.col("lt_type"))
            .otherwise("unattributed")
            .alias("channel"),
            "purchase_value",
        )
        .groupBy("channel")
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.sum("purchase_value").cast("double").alias("total_value"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# item_cooccurrence — co-purchase affinity ("parts bought together"):
# for every pair of parts appearing in the same order, co-count and
# cosine affinity n_ab/√(n_a·n_b), top-3 partners per part. The
# item-item collaborative-filtering primitive.
#
# Scale shape (round-10 re-plan; the old both-directions basket
# self-join measured alpha 1.20 sf1→sf3, and a collect_set basket-
# array variant was WORSE — ObjectHashAggregate's per-basket objects
# degrade across runs under heap pressure at sf3: 12→29 s over three
# reps, while this plan holds 4.8 s flat): distinct (basket, item)
# rows are repartitioned ONCE on the basket key, the pair join
# self-joins that single exchange (ReusedExchange — zero extra
# shuffle, everything UnsafeRow/codegen, no object aggregation) with
# a < c so each unordered pair is counted ONCE; the (a,c) aggregate
# is the only other wide exchange, and the mirror image is restored
# by a post-aggregate union (|pairs|-sized, not |occurrences|).
# Per-item totals are catalog-sized and broadcast into the affinity
# projection; ranking is a window over rows already collapsed to one
# per pair. Affinity = exact integer counts through one fixed scalar
# sqrt expression, rounded 6dp — count symmetry makes the mirrored
# rows bit-identical to the two-directional aggregate the oracle
# states.
# --------------------------------------------------------------------------
COOC_TOP_K = 3
COOC_MIN_N = 2  # ignore singleton co-occurrences (noise floor)

COOC_SQL = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
item AS (
  SELECT l_partkey, COUNT(*) AS n FROM b GROUP BY l_partkey
),
pair AS (
  SELECT x.l_partkey AS a, y.l_partkey AS c, COUNT(*) AS n_ab
  FROM b x JOIN b y USING (l_orderkey)
  WHERE x.l_partkey <> y.l_partkey
  GROUP BY x.l_partkey, y.l_partkey
  HAVING COUNT(*) >= {COOC_MIN_N}
),
scored AS (
  SELECT a, c, n_ab,
         ROUND(n_ab / sqrt(CAST(ia.n AS DOUBLE) * ic.n), 6) AS affinity
  FROM pair
  JOIN item ia ON ia.l_partkey = pair.a
  JOIN item ic ON ic.l_partkey = pair.c
),
ranked AS (
  SELECT a AS partkey, c AS partner, CAST(n_ab AS BIGINT) AS n_ab, affinity,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY a ORDER BY affinity DESC, c) AS BIGINT) AS rk
  FROM scored
)
SELECT partkey, partner, n_ab, affinity, rk
FROM ranked WHERE rk <= {COOC_TOP_K}
ORDER BY partkey, rk
"""


@register("item_cooccurrence", COOC_SQL)
def item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    li = load(spark, "lineitem", sf_dir)
    # distinct basket rows, then ONE basket-key exchange both join
    # sides reuse; 2× core count keeps each task's pair-aggregate hash
    # map comfortably in memory (32-partition runs at sf3 crossed into
    # spill/GC territory and their walls became run-order dependent)
    # r13 (guide §2.4): distinct-then-repartition was TWO full
    # shuffles of the basket rows (the distinct's (okey,pkey) exchange,
    # then the okey exchange). Repartition FIRST and dedup in place:
    # hash-partitioning on l_orderkey co-locates every (okey, pkey)
    # group, so the dropDuplicates aggregate needs no second exchange —
    # same distinct rows, one corpus shuffle.
    b = (
        li.select("l_orderkey", "l_partkey")
        .repartition(
            spark.sparkContext.defaultParallelism * 2, "l_orderkey"
        )
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    item = b.groupBy("l_partkey").agg(F.count("*").alias("n"))
    x = b.select("l_orderkey", F.col("l_partkey").alias("a"))
    y = b.select("l_orderkey", F.col("l_partkey").alias("c"))
    # upper triangle only (a < c): each unordered pair rides the join
    # and the aggregate once
    up = (
        x.join(y, "l_orderkey")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= COOC_MIN_N)
    )
    # mirror AFTER aggregation: co-counts are symmetric, so the union
    # reproduces the oracle's both-directions pair table at |pairs|
    # cost
    pair = up.unionAll(
        up.select(F.col("c").alias("a"), F.col("a").alias("c"), "n_ab")
    )
    ia = item.select(F.col("l_partkey").alias("a"), F.col("n").alias("n_a"))
    ic = item.select(F.col("l_partkey").alias("c"), F.col("n").alias("n_c"))
    scored = (
        pair.join(ia, "a")
        .join(ic, "c")
        .select(
            "a",
            "c",
            "n_ab",
            F.round(
                F.col("n_ab")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_c")),
                6,
            ).alias("affinity"),
        )
    )
    wk = W.partitionBy("a").orderBy(F.desc("affinity"), "c")
    return (
        scored.withColumn("rk", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rk") <= COOC_TOP_K)
        .select(
            F.col("a").alias("partkey"),
            F.col("c").alias("partner"),
            F.col("n_ab").cast("bigint").alias("n_ab"),
            "affinity",
            "rk",
        )
        .orderBy("partkey", "rk")
    )


# --------------------------------------------------------------------------
# autocorrelation — lag-1/lag-2 autocorrelation of each event type's
# DAILY value-sum series (the burstiness / short-memory diagnostic
# behind alerting thresholds and seasonality checks).
#
# Estimator: r_k = Σ_{t≤n-k}(y_t−ȳ)(y_{t+k}−ȳ) / Σ(y_t−ȳ)², expanded
# to sufficient statistics so no mean subtraction happens row-wise:
#   num_k·n² = n²·Σy_t·y_{t+k} − n·sy·(A_k+B_k) + (n−k)·sy²
#   den·n²   = n·(n·syy − sy²)
# with A_k/B_k the head/tail partial sums. Every statistic is an EXACT
# DECIMAL aggregate (product operands widen to DECIMAL(19,6) so
# DuckDB promotes to int128 storage before multiplying — a bare
# (18,6)×(18,6) overflows its int64 lanes); the ratio is one fixed
# scalar double
# expression — the trend_ols discipline applied to time series.
#
# Scale shape: one groupBy collapses the corpus to (type, day) rows;
# lead windows + the stats aggregate run over that tiny series table.
# --------------------------------------------------------------------------
ACF_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
lagged AS (
  SELECT event_type, y,
         LEAD(y, 1) OVER w AS y1,
         LEAD(y, 2) OVER w AS y2
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(y) AS sy,
         SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
                  AS DECIMAL(38,12))) AS syy,
         SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y1 AS DECIMAL(19,6))
                  AS DECIMAL(38,12))) AS cxy1,
         SUM(CASE WHEN y1 IS NOT NULL THEN y END) AS a1,
         SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y2 AS DECIMAL(19,6))
                  AS DECIMAL(38,12))) AS cxy2,
         SUM(CASE WHEN y2 IS NOT NULL THEN y END) AS a2
  FROM lagged GROUP BY event_type
),
shifted AS (
  SELECT s.event_type, s.n, s.sy, s.syy, s.cxy1, s.cxy2, s.a1, s.a2,
         s.sy - f.first_y AS b1_full,
         s.sy - f.first_y - f.second_y AS b2_full
  FROM stats s JOIN (
    SELECT event_type,
           MAX(CASE WHEN rn = 1 THEN y END) AS first_y,
           MAX(CASE WHEN rn = 2 THEN y END) AS second_y
    FROM (SELECT event_type, y,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY day) AS rn
          FROM daily)
    WHERE rn <= 2 GROUP BY event_type
  ) f USING (event_type)
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       ROUND((n * n * CAST(cxy1 AS DOUBLE)
              - n * CAST(sy AS DOUBLE) * (CAST(a1 AS DOUBLE) + CAST(b1_full AS DOUBLE))
              + (n - 1) * CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * (n * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r1,
       ROUND((n * n * CAST(cxy2 AS DOUBLE)
              - n * CAST(sy AS DOUBLE) * (CAST(a2 AS DOUBLE) + CAST(b2_full AS DOUBLE))
              + (n - 2) * CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * (n * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
FROM shifted
ORDER BY event_type
"""


@register("autocorrelation", ACF_SQL)
def autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load(spark, "events", sf_dir)
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("y")
    )
    w = W.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "y",
        F.lead("y", 1).over(w).alias("y1"),
        F.lead("y", 2).over(w).alias("y2"),
        F.row_number().over(w).alias("rn"),
    )
    stats = lagged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)")).alias("syy"),
        F.sum((F.col("y") * F.col("y1")).cast("decimal(38,12)")).alias(
            "cxy1"
        ),
        F.sum(F.when(F.col("y1").isNotNull(), F.col("y"))).alias("a1"),
        F.sum((F.col("y") * F.col("y2")).cast("decimal(38,12)")).alias(
            "cxy2"
        ),
        F.sum(F.when(F.col("y2").isNotNull(), F.col("y"))).alias("a2"),
        F.max(F.when(F.col("rn") == 1, F.col("y"))).alias("first_y"),
        F.max(F.when(F.col("rn") == 2, F.col("y"))).alias("second_y"),
    )
    nd = F.col("n")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    b1 = (F.col("sy") - F.col("first_y")).cast("double")
    b2 = (F.col("sy") - F.col("first_y") - F.col("second_y")).cast("double")
    den = nd * (nd * syy - sy * sy)
    r1 = (
        nd * nd * F.col("cxy1").cast("double")
        - nd * sy * (F.col("a1").cast("double") + b1)
        + (nd - 1) * sy * sy
    ) / den
    r2 = (
        nd * nd * F.col("cxy2").cast("double")
        - nd * sy * (F.col("a2").cast("double") + b2)
        + (nd - 2) * sy * sy
    ) / den
    # constant series make den = 0: NULL (both engines) instead of
    # Spark's NaN-vs-DuckDB-NULL divergence
    guard = nd * (nd * syy - sy * sy) != 0
    return stats.select(
        "event_type",
        nd.cast("bigint").alias("n_days"),
        F.when(guard, F.round(r1, 6)).alias("r1"),
        F.when(guard, F.round(r2, 6)).alias("r2"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# hll_partition_merge — mergeable-sketch rollup: per-day HLL sketches
# of distinct users, merged upward to one weekly estimate per event
# type WITHOUT re-touching the raw data (hll_sketch_agg →
# hll_union_agg, Spark 3.5+ Datasketches). THE 100 TB cardinality
# pattern: daily partitions aggregate once into kilobyte sketches;
# every later rollup (weekly/monthly/global, late-arriving partition
# re-merge) is sketch-union over tiny state — contrast approx_distinct
# which must rescan raw events for each new grain.
#
# Oracle surface (round-9 single-scan rework; round-8's version
# joined the rollup against a SECOND raw scan for an exact weekly
# countDistinct — 2.31× the baseline and a contradiction of the op's
# own never-rescan charter): the sketch ESTIMATE is engine-specific,
# but per-day EXACT distincts fall out of the SAME daily aggregation
# that builds the sketches, and the weekly exact distinct is provably
# inside [max(daily exacts), sum(daily exacts)]. So the deterministic
# audit is one-sided bounds against those two numbers — raw events
# are touched exactly once, and the oracle's columns (n_days,
# sum_daily_users, max_daily_users) are exact in both engines.
#
# TRIPWIRE (by design, do not "fix" as an engine bug): the oracle
# hard-codes within_bound = TRUE, so parity encodes a PROBABILISTIC
# HLL claim as a hard invariant. lgK=12 sketch error is ~1.6%; the
# bound allows 5% + a HLL_ABS_TOL floor on each side, so a failure
# here on freshly generated data (gen_scale sf3+) is far more likely
# a legitimate sketch outlier than a regression — triage it as
# data-dependent before touching the plan.
#
# hll_partition_merge_raw keeps the pure sketch-only surface for the
# merge-consistency tests (test_mining.py).
# --------------------------------------------------------------------------
# Shared absolute floor for HLL error bounds — the op's within_bound
# audit and test_mining.py's error study use this same constant.
HLL_ABS_TOL = 5.0

HLL_MERGE_SQL = """
WITH daily AS (
  SELECT event_type,
         date_trunc('week', ts) AS week,
         CAST(ts AS DATE) AS day,
         COUNT(DISTINCT user_id) AS d_exact
  FROM events
  GROUP BY 1, 2, 3
)
SELECT event_type, week,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(d_exact) AS BIGINT) AS sum_daily_users,
       CAST(MAX(d_exact) AS BIGINT) AS max_daily_users,
       TRUE AS within_bound
FROM daily
GROUP BY event_type, week
ORDER BY event_type, week
"""


def hll_partition_merge_raw(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The pure mergeable-sketch plan: per-day sketches unioned to
    weekly estimates, raw data touched exactly once."""
    e = load(spark, "events", sf_dir)
    daily = e.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    return (
        daily.groupBy("event_type", "week")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("bigint")
            .alias("approx_users"),
        )
        .orderBy("event_type", "week")
    )


@register("hll_partition_merge", HLL_MERGE_SQL)
def hll_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One raw scan: pre-distinct to (type, week, day, user) grain —
    duplicate events collapse map-side and don't change HLL registers
    (nor the HIP estimate, which only moves on register updates) — then
    the daily agg emits BOTH the sketch and the exact daily distinct as
    count(*). Weekly rollup merges sketches and audits the estimate
    against the deterministic [max_daily, sum_daily] envelope of the
    true weekly distinct."""
    e = load(spark, "events", sf_dir)
    per_user_day = e.select(
        "event_type",
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.col("ts").cast("date").alias("day"),
        "user_id",
    ).distinct()
    daily = per_user_day.groupBy("event_type", "week", "day").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.count("*").alias("d_exact"),
    )
    weekly = daily.groupBy("event_type", "week").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("d_exact").cast("bigint").alias("sum_daily_users"),
        F.max("d_exact").cast("bigint").alias("max_daily_users"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))")
        .cast("bigint")
        .alias("approx_users"),
    )
    lo = F.col("max_daily_users") - F.greatest(
        F.lit(HLL_ABS_TOL), F.lit(0.05) * F.col("max_daily_users")
    )
    hi = F.col("sum_daily_users") + F.greatest(
        F.lit(HLL_ABS_TOL), F.lit(0.05) * F.col("sum_daily_users")
    )
    return weekly.select(
        "event_type",
        "week",
        "n_days",
        "sum_daily_users",
        "max_daily_users",
        ((F.col("approx_users") >= lo) & (F.col("approx_users") <= hi)).alias(
            "within_bound"
        ),
    ).orderBy("event_type", "week")


# --------------------------------------------------------------------------
# seasonality_index — classical ratio-to-trend seasonality: each
# month-of-year's index = (mean monthly revenue for that calendar
# month) / (overall monthly mean), per region. Index > 1 = seasonal
# peak. The decomposition primitive behind demand normalization.
#
# Exactness: both numerator and denominator derive from ONE exact
# decimal monthly-revenue table (region × month grain ≪ corpus); the
# index is a single double division of exact sums — no float
# aggregation. Shapes: one orders⋈customer⋈nation⋈region shuffle
# (dims broadcast), then two tiny aggregates over the monthly table.
# --------------------------------------------------------------------------
SEASON_SQL = """
WITH monthly AS (
  SELECT r_name AS region,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mon,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n_regionkey
  GROUP BY r_name, year(o_orderdate), month(o_orderdate)
),
per_mon AS (
  SELECT region, mon, SUM(rev) AS mon_rev, COUNT(*) AS n_mon
  FROM monthly GROUP BY region, mon
),
overall AS (
  SELECT region, SUM(rev) AS tot_rev, COUNT(*) AS n_all
  FROM monthly GROUP BY region
)
SELECT p.region, p.mon AS month,
       CAST(p.n_mon AS BIGINT) AS n_years,
       ROUND((CAST(p.mon_rev AS DOUBLE) / p.n_mon)
             / (CAST(o.tot_rev AS DOUBLE) / o.n_all), 6) AS index
FROM per_mon p JOIN overall o ON o.region = p.region
ORDER BY p.region, p.mon
"""


@register("seasonality_index", SEASON_SQL)
def seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    n = F.broadcast(load(spark, "nation", sf_dir))
    r = F.broadcast(load(spark, "region", sf_dir))
    monthly = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n, F.col("n_nationkey") == F.col("c_nationkey"))
        .join(r, F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(
            F.col("r_name").alias("region"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mon"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    per_mon = monthly.groupBy("region", "mon").agg(
        F.sum("rev").alias("mon_rev"), F.count("*").alias("n_mon")
    )
    overall = monthly.groupBy("region").agg(
        F.sum("rev").alias("tot_rev"), F.count("*").alias("n_all")
    )
    return (
        per_mon.join(F.broadcast(overall), "region")
        .select(
            "region",
            F.col("mon").alias("month"),
            F.col("n_mon").cast("bigint").alias("n_years"),
            F.round(
                (F.col("mon_rev").cast("double") / F.col("n_mon"))
                / (F.col("tot_rev").cast("double") / F.col("n_all")),
                6,
            ).alias("index"),
        )
        .orderBy("region", "month")
    )


# --------------------------------------------------------------------------
# revenue_gini — Gini concentration of order revenue across customers,
# per nation ("how head-heavy is demand"). Exact rank formulation:
# G = (2·Σᵢ i·yᵢ) / (n·Σy) − (n+1)/n over customers sorted by spend
# (ties broken by custkey → the i·yᵢ sum is deterministic).
#
# Exactness: per-customer spend is an exact decimal sum; i·yᵢ rides a
# DECIMAL(38,2) product-sum (rank ≤ 10⁹ fits the headroom); the final
# G is one fixed scalar double expression. Shapes: one custkey
# aggregate, one PER-NATION window (rank within nation, never a
# global sort), one per-nation aggregate.
# --------------------------------------------------------------------------
GINI_SQL = """
WITH spend AS (
  SELECT c_nationkey, o_custkey AS cust,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders JOIN customer ON c_custkey = o_custkey
  GROUP BY c_nationkey, o_custkey
),
ranked AS (
  SELECT c_nationkey, y,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY y, cust) AS i
  FROM spend
),
stats AS (
  SELECT c_nationkey,
         COUNT(*) AS n,
         SUM(y) AS sy,
         SUM(CAST(CAST(i AS DECIMAL(12,0)) * y AS DECIMAL(38,2))) AS siy
  FROM ranked GROUP BY c_nationkey
)
SELECT n_name AS nation, CAST(n AS BIGINT) AS n_customers,
       ROUND(2.0 * CAST(siy AS DOUBLE) / (n * CAST(sy AS DOUBLE))
             - (n + 1.0) / n, 6) AS gini
FROM stats JOIN nation ON n_nationkey = c_nationkey
ORDER BY nation
"""


@register("revenue_gini", GINI_SQL)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    n = F.broadcast(load(spark, "nation", sf_dir))
    spend = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_nationkey", F.col("o_custkey").alias("cust"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    )
    w = W.partitionBy("c_nationkey").orderBy("y", "cust")
    ranked = spend.withColumn("i", F.row_number().over(w))
    stats = ranked.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("sy"),
        F.sum(
            (F.col("i").cast("decimal(12,0)") * F.col("y")).cast(
                "decimal(38,2)"
            )
        ).alias("siy"),
    )
    gini = F.round(
        2.0 * F.col("siy").cast("double")
        / (F.col("n") * F.col("sy").cast("double"))
        - (F.col("n") + 1.0) / F.col("n"),
        6,
    )
    return (
        stats.join(n, F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("n").cast("bigint").alias("n_customers"),
            gini.alias("gini"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# cusum_changepoint — one-sided CUSUM drift detection per event type's
# daily count series: S_t = max(0, S_{t-1} + (x_t − μ − k)) flags
# sustained upward shifts. The recursion is NOT window-expressible —
# but the classic prefix identity S_t = P_t − min_{j≤t} P_j (with
# P_t = Σ_{i≤t}(x_i − μ − k)) turns it into one cumulative sum plus
# one running min: two RANGE/ROWS windows per series, fully
# declarative, exact.
#
# Exactness: x_t are integer counts; μ is exact only as a ratio, so
# the deviation is scaled by n — work on n·P terms: all integers,
# zero float anywhere until the final report. Allowance k = μ/4
# (scaled: n·k = sx/4 exact via 4n·P arithmetic). Alarm when scaled
# S_t > h·σ-free threshold: we report the raw statistic instead
# (s_scaled / (4n) as double) with its per-series max flag.
# Shapes: groupBy to (type, day), two windows, one broadcast of the
# per-type (n, sx) stats.
# --------------------------------------------------------------------------
CUSUM_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
stats AS (
  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx
  FROM daily GROUP BY event_type
),
pref AS (
  SELECT d.event_type, d.day,
         -- 4n-scaled deviation: 4n·(x−μ−k) = 4n·x − 5·sx (μ=sx/n, k=μ/4)
         SUM(4 * s.n * d.x - 5 * s.sx)
           OVER (PARTITION BY d.event_type ORDER BY d.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
         s.n, s.sx
  FROM daily d JOIN stats s USING (event_type)
),
cusum AS (
  SELECT event_type, day, n,
         p - LEAST(MIN(p) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   0) AS s_scaled
  FROM pref
)
SELECT event_type, CAST(day AS VARCHAR) AS day,
       ROUND(CAST(s_scaled AS DOUBLE) / (4 * n), 6) AS cusum_stat,
       CASE WHEN s_scaled > 0 THEN 1 ELSE 0 END AS drifting
FROM cusum
ORDER BY event_type, day
"""


@register("cusum_changepoint", CUSUM_SQL)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load(spark, "events", sf_dir)
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("x").alias("sx")
    )
    wc = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pref = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "n",
        F.sum(4 * F.col("n") * F.col("x") - 5 * F.col("sx"))
        .over(wc)
        .alias("p"),
    )
    s_scaled = F.col("p") - F.least(F.min("p").over(wc), F.lit(0))
    return (
        pref.withColumn("s_scaled", s_scaled)
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            F.round(
                F.col("s_scaled").cast("double") / (4 * F.col("n")), 6
            ).alias("cusum_stat"),
            F.when(F.col("s_scaled") > 0, 1).otherwise(0).alias("drifting"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# skew_report — join-key skew diagnostics for the keys the engine
# actually shuffles on (lineitem.l_orderkey, lineitem.l_partkey,
# events.user_id): per key-column, the frequency distribution of key
# counts — max, exact p50/p99 of per-key multiplicity, and the mass
# share of the hottest key and hottest 1% of keys. THE pre-flight for
# salting / AQE-skew-join decisions (operators/skew.py consumes
# exactly this signal).
#
# Exactness: everything is integer counts; quantiles are
# MIN(cnt | cumulative keys ≥ q·n_keys) over a per-column RANGE window
# on the (cnt, key-count) HISTOGRAM — the window runs over
# distinct-multiplicity rows (≤ max multiplicity, tiny), never over
# keys. Shares are exact-integer ratios rounded 6dp.
# Shapes per column: one key groupBy (the same shuffle a join would
# do), one multiplicity histogram groupBy (collapses to ≤ max-cnt
# rows), windows over that tiny table.
# --------------------------------------------------------------------------
def _skew_col_sql(table: str, col: str) -> str:
    return f"""
  SELECT '{table}.{col}' AS key_col, cnt, COUNT(*) AS k, SUM(cnt) AS mass
  FROM (SELECT {col}, COUNT(*) AS cnt FROM {table} GROUP BY {col})
  GROUP BY cnt
"""


SKEW_KEYS = [("lineitem", "l_orderkey"), ("lineitem", "l_partkey"), ("events", "user_id")]

SKEW_SQL = f"""
WITH hist AS (
{" UNION ALL ".join(_skew_col_sql(t, c) for t, c in SKEW_KEYS)}
),
tot AS (
  SELECT key_col, SUM(k) AS n_keys, SUM(mass) AS n_rows, MAX(cnt) AS max_cnt
  FROM hist GROUP BY key_col
),
cum AS (
  SELECT key_col, cnt, k, mass,
         SUM(k) OVER (PARTITION BY key_col ORDER BY cnt
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ck,
         SUM(mass) OVER (PARTITION BY key_col ORDER BY cnt DESC
                         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS hot_mass
  FROM hist
)
SELECT c.key_col,
       CAST(t.n_keys AS BIGINT) AS n_keys,
       CAST(t.n_rows AS BIGINT) AS n_rows,
       CAST(t.max_cnt AS BIGINT) AS max_multiplicity,
       CAST(MIN(CASE WHEN 2 * c.ck >= t.n_keys THEN c.cnt END) AS BIGINT)
         AS p50_multiplicity,
       CAST(MIN(CASE WHEN 100 * c.ck >= 99 * t.n_keys THEN c.cnt END)
            AS BIGINT) AS p99_multiplicity,
       ROUND(CAST(t.max_cnt AS DOUBLE) / t.n_rows, 6) AS top_key_share,
       ROUND(CAST(MIN(CASE WHEN 100 * (t.n_keys - c.ck + c.k) >= t.n_keys
                           THEN c.hot_mass END) AS DOUBLE) / t.n_rows, 6)
         AS hot1pct_share
FROM cum c JOIN tot t USING (key_col)
GROUP BY c.key_col, t.n_keys, t.n_rows, t.max_cnt
ORDER BY c.key_col
"""


@register("skew_report", SKEW_SQL)
def skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from pyspark.sql.window import Window as W

    hists = []
    for table, col in SKEW_KEYS:
        t = load(spark, table, sf_dir)
        keyed = t.groupBy(F.col(col).alias("key")).agg(
            F.count("*").alias("cnt")
        )
        hists.append(
            keyed.groupBy("cnt").agg(
                F.count("*").alias("k"), F.sum("cnt").alias("mass")
            ).select(F.lit(f"{table}.{col}").alias("key_col"), "cnt", "k", "mass")
        )
    hist = reduce(lambda a, b: a.unionAll(b), hists)
    tot = hist.groupBy("key_col").agg(
        F.sum("k").alias("n_keys"),
        F.sum("mass").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    w_asc = (
        W.partitionBy("key_col")
        .orderBy("cnt")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    w_desc = (
        W.partitionBy("key_col")
        .orderBy(F.col("cnt").desc())
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = hist.select(
        "key_col",
        "cnt",
        "k",
        "mass",
        F.sum("k").over(w_asc).alias("ck"),
        F.sum("mass").over(w_desc).alias("hot_mass"),
    )
    j = cum.join(F.broadcast(tot), "key_col")
    return (
        j.groupBy("key_col", "n_keys", "n_rows", "max_cnt")
        .agg(
            F.min(
                F.when(2 * F.col("ck") >= F.col("n_keys"), F.col("cnt"))
            ).alias("p50"),
            F.min(
                F.when(
                    100 * F.col("ck") >= 99 * F.col("n_keys"), F.col("cnt")
                )
            ).alias("p99"),
            # smallest hot-tail mass whose key population still covers
            # >= 1% of keys = the hottest-1%-of-keys mass (full tie
            # group included)
            F.min(
                F.when(
                    100 * (F.col("n_keys") - F.col("ck") + F.col("k"))
                    >= F.col("n_keys"),
                    F.col("hot_mass"),
                )
            ).alias("hot_mass_1pct"),
        )
        .select(
            "key_col",
            F.col("n_keys").cast("bigint").alias("n_keys"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("max_cnt").cast("bigint").alias("max_multiplicity"),
            F.col("p50").cast("bigint").alias("p50_multiplicity"),
            F.col("p99").cast("bigint").alias("p99_multiplicity"),
            F.round(
                F.col("max_cnt").cast("double") / F.col("n_rows"), 6
            ).alias("top_key_share"),
            F.round(
                F.col("hot_mass_1pct").cast("double") / F.col("n_rows"), 6
            ).alias("hot1pct_share"),
        )
        .orderBy("key_col")
    )


# --------------------------------------------------------------------------
# dp_noisy_release — differentially-private histogram release of the
# per-(event_type, day) event counts under the TRUNCATED two-sided
# geometric mechanism (the discrete Laplace of Ghosh-Roughgarden-
# Sundararajan '09, the integer-native DP noise used by production
# count releases): noise Z ∈ [-8, 8] with P(Z=z) ∝ α^|z|, α = 1/2
# (ε = ln 2 per unit sensitivity; the ±8 truncation clips ~0.4% tail
# mass — the standard practical compromise, documented not hidden).
#
# Randomness is a KEYED PRF, not an RNG: u32 = first 8 md5 hex chars
# of 'dp:'||type||':'||day — the reproducible-pipeline pattern where
# a secret-seeded PRF replaces ambient randomness (md5 stands in for
# the keyed PRF here). Noise is then a 17-branch inverse-CDF CASE
# chain over EXACT integer thresholds (floor(cdf·2^32), computed with
# rational arithmetic offline) — both engines compare the same
# integers, so the release is bit-identical. A production release
# would project only (event_type, day, n_released); n_true/noise stay
# in the output so the gate and tests can see the mechanism.
#
# Scale shape: one map-side-combined groupBy to cell granularity;
# noise is a narrow expression over the cells table (≤ types × days
# rows). The corpus is never shuffled, only counted.
# --------------------------------------------------------------------------
# floor(CDF(z) * 2^32) for z = -8..8 (exact, generated with Fraction).
_DP_THRESHOLDS = (
    (-8, 5607006), (-7, 16821020), (-6, 39249048), (-5, 84105103),
    (-4, 173817214), (-3, 353241435), (-2, 712089878), (-1, 1429786763),
    (0, 2865180532), (1, 3582877417), (2, 3941725860), (3, 4121150081),
    (4, 4210862192), (5, 4255718247), (6, 4278146275), (7, 4289360289),
)  # ELSE 8


def _dp_noise_sql(u32: str) -> str:
    cases = " ".join(
        f"WHEN {u32} < {t} THEN {z}" for z, t in _DP_THRESHOLDS
    )
    return f"CASE {cases} ELSE 8 END"


_DP_U_DUCK = (
    "(('0x' || substr(md5('dp:' || event_type || ':' || day), 1, 8))"
    "::BIGINT)"
)
_DP_U_SPARK = (
    "CAST(conv(substring(md5(concat('dp:', event_type, ':', day)), "
    "1, 8), 16, 10) AS BIGINT)"
)

DP_RELEASE_SQL = f"""
WITH cells AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         COUNT(*)::BIGINT AS n_true
  FROM events
  GROUP BY event_type, strftime(ts, '%Y-%m-%d')
),
noised AS (
  SELECT event_type, day, n_true,
         CAST({_dp_noise_sql(_DP_U_DUCK)} AS BIGINT) AS noise
  FROM cells
)
SELECT event_type, day, n_true, noise,
       GREATEST(CAST(0 AS BIGINT), n_true + noise) AS n_released
FROM noised
ORDER BY event_type, day
"""


@register("dp_noisy_release", DP_RELEASE_SQL)
def dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    cells = (
        ev.select(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n_true"))
    )
    noised = cells.withColumn(
        "noise",
        F.expr(_dp_noise_sql(_DP_U_SPARK)).cast("bigint"),
    )
    return noised.select(
        "event_type",
        "day",
        "n_true",
        "noise",
        F.greatest(
            F.lit(0).cast("bigint"), F.col("n_true") + F.col("noise")
        ).alias("n_released"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# benford_audit — first-digit fraud/fabrication screen: the leading
# digit of order totals against Benford's law (P(d) = log10(1+1/d)),
# with each digit's standardized deviation z = (obs − N·p) /
# sqrt(N·p·(1−p)). Fabricated or systematically-generated amounts
# bend this curve; it's the classic forensic-accounting audit, here
# one corpus-wide aggregation. (TPC-H prices are uniform-ish, not
# Benford — the op REPORTS the deviation; the law is the yardstick,
# not an assertion about the synthetic data.)
#
# Determinism: digit extraction is string arithmetic on the DECIMAL
# total (no float formatting); counts are exact ints; the Benford
# shares are inlined double literals (computed offline — no
# transcendentals evaluated in-engine); z is one fixed expression
# tree, 6dp-rounded.
# --------------------------------------------------------------------------
_BENFORD_P = {
    1: "0.3010299956639812", 2: "0.17609125905568124",
    3: "0.12493873660829992", 4: "0.09691001300805642",
    5: "0.07918124604762482", 6: "0.06694678963061322",
    7: "0.05799194697768673", 8: "0.05115252244738129",
    9: "0.04575749056067514",
}
# CAST the literals: Spark parses bare decimal literals as DECIMAL
# (DuckDB as DOUBLE), which would fork the output type
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(
        f"WHEN {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD_P.items()
    )
    + " END"
)

BENFORD_SQL = f"""
WITH digits AS (
  -- floor() explicitly: DuckDB's double→BIGINT cast ROUNDS where
  -- Spark's truncates, flipping e.g. 89999.6 between digits 8 and 9
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS BIGINT) AS digit
  FROM orders
  WHERE o_totalprice >= 1
),
counts AS (
  SELECT digit, COUNT(*)::BIGINT AS n FROM digits GROUP BY digit
),
tot AS (
  SELECT SUM(n)::BIGINT AS nn FROM counts
)
SELECT digit, n,
       ROUND(n::DOUBLE / nn::DOUBLE, 6) AS share,
       ROUND({_BENFORD_CASE}, 6) AS benford_share,
       ROUND((n::DOUBLE - nn::DOUBLE * ({_BENFORD_CASE}))
             / sqrt(nn::DOUBLE * ({_BENFORD_CASE})
                    * (1.0 - ({_BENFORD_CASE}))), 6) AS z
FROM counts CROSS JOIN tot
ORDER BY digit
"""


@register("benford_audit", BENFORD_SQL)
def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    digit = F.expr(
        "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), "
        "1, 1) AS BIGINT)"
    )
    counts = (
        o.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("nn"))
    p = F.expr(_BENFORD_CASE)
    nn_d = F.col("nn").cast("double")
    n_d = F.col("n").cast("double")
    z = (n_d - nn_d * p) / F.sqrt(nn_d * p * (F.lit(1.0) - p))
    return (
        counts.join(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(n_d / nn_d, 6).alias("share"),
            F.round(p, 6).alias("benford_share"),
            F.round(z, 6).alias("z"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# neyman_allocation — survey-sampling infrastructure: the optimal
# (Neyman) allocation of a fixed sample budget across strata,
# n_h ∝ N_h·σ_h (minimizes the variance of the stratified mean for a
# given budget). Strata = customer nations, y = order totals, B=1000.
# Integer allocations use largest-remainder rounding so Σn_h = B
# exactly. The principled replacement for "sample 5% everywhere" when
# strata variances differ.
#
# Determinism: σ_h comes from EXACT decimal sufficient statistics
# (n·Σy² − (Σy)² — order-independent sums, the column_corr
# discipline); per-stratum weights are 6dp-rounded into DECIMAL
# before the cross-stratum total so no float sum order can fork
# engines; remainders rank on (frac DESC, nation).
#
# Scale shape: one fact shuffle to stratum grain, then everything
# runs on the ≤25-row strata table (the global remainder window
# included — windows over STATISTICS, never over data).
# --------------------------------------------------------------------------
NEYMAN_B = 1000

NEYMAN_SQL = f"""
WITH y AS (
  SELECT n_name AS nation, CAST(o_totalprice AS DECIMAL(18,2)) AS y
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
),
st AS (
  SELECT nation, COUNT(*)::BIGINT AS nh, SUM(y) AS sy,
         SUM(CAST(y AS DECIMAL(38,4)) * y) AS syy
  FROM y GROUP BY nation
),
w AS (
  SELECT nation, nh,
         sqrt((nh::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
              / (nh::DOUBLE * nh::DOUBLE)) AS sigma,
         CAST(ROUND(nh::DOUBLE *
           sqrt((nh::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
                / (nh::DOUBLE * nh::DOUBLE)), 6) AS DECIMAL(28,6)) AS wgt
  FROM st
),
tot AS (
  SELECT SUM(wgt) AS tw FROM w
),
alloc AS (
  SELECT nation, nh, sigma,
         CAST(FLOOR({NEYMAN_B}.0 * (wgt::DOUBLE / tw::DOUBLE)) AS BIGINT)
           AS base,
         {NEYMAN_B}.0 * (wgt::DOUBLE / tw::DOUBLE)
           - FLOOR({NEYMAN_B}.0 * (wgt::DOUBLE / tw::DOUBLE)) AS frac
  FROM w CROSS JOIN tot
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY frac DESC, nation) AS r
  FROM alloc
),
rem AS (
  SELECT {NEYMAN_B} - SUM(base) AS rmd FROM alloc
)
SELECT nation, nh, ROUND(sigma, 6) AS sigma,
       CAST(base + CASE WHEN r <= rmd THEN 1 ELSE 0 END AS BIGINT)
         AS n_alloc
FROM rk CROSS JOIN rem
ORDER BY nation
"""


@register("neyman_allocation", NEYMAN_SQL)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    n = load(spark, "nation", sf_dir)
    y = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
        )
    )
    st = y.groupBy("nation").agg(
        F.count("*").alias("nh"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,4)") * F.col("y")).alias("syy"),
    )
    nh_d = F.col("nh").cast("double")
    sigma = F.sqrt(
        (nh_d * F.col("syy").cast("double")
         - F.col("sy").cast("double") * F.col("sy").cast("double"))
        / (nh_d * nh_d)
    )
    w = st.select(
        "nation",
        "nh",
        sigma.alias("sigma"),
        F.round(nh_d * sigma, 6).cast("decimal(28,6)").alias("wgt"),
    )
    tot = w.agg(F.sum("wgt").alias("tw"))
    share = F.lit(float(NEYMAN_B)) * (
        F.col("wgt").cast("double") / F.col("tw").cast("double")
    )
    alloc = w.join(F.broadcast(tot)).select(
        "nation",
        "nh",
        "sigma",
        F.floor(share).cast("bigint").alias("base"),
        (share - F.floor(share)).alias("frac"),
    )
    rk = alloc.withColumn(
        "r", F.row_number().over(W.orderBy(F.desc("frac"), "nation"))
    )
    rem = alloc.agg(
        (F.lit(NEYMAN_B) - F.sum("base")).alias("rmd")
    )
    return (
        rk.join(F.broadcast(rem))
        .select(
            "nation",
            "nh",
            F.round("sigma", 6).alias("sigma"),
            (
                F.col("base")
                + F.when(F.col("r") <= F.col("rmd"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_alloc"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# ddsketch_quantiles — mergeable QUANTILE sketch as pure DataFrame
# ops: DDSketch (Masson et al., VLDB'19) log-γ buckets over the event
# value, relative-accuracy α. bucket = ⌈log_γ(x)⌉ is a pointwise
# function of the value, so the sketch of any partition union is the
# SUM of bucket counts — exactly mergeable, no Python sketch object,
# no UDF: the whole thing is a groupBy + a tiny per-group cum-sum
# window over ≤ #buckets rows (a few hundred for α=0.01 across this
# value range). Quantile estimate = bucket midpoint 2γ^b/(γ+1) of the
# first bucket whose cumulative count reaches ⌈q·n⌉.
#
# THE 100 TB percentile pattern: per-partition bucket counts are the
# only shuffled state (map-side combined), and any later grain —
# weekly, per-source, late partitions — re-aggregates kilobytes of
# counts, never raw rows; contrast approx_percentile_by_group which
# rescans raw events per grain. Relative error ≤ α is pinned in
# pytest against the exact percentiles.
#
# Engine-fork hygiene: both engines compute LN(value)/LN(γ) in IEEE
# doubles; the ratio is rounded to 9dp BEFORE CEIL so a last-ulp libm
# divergence (~1e-16) cannot flip a bucket boundary, and estimates
# re-round to 6dp at the edge (oracle-parity-gotchas discipline).
# --------------------------------------------------------------------------
DD_ALPHA = 0.01
DD_GAMMA = (1 + DD_ALPHA) / (1 - DD_ALPHA)
# DDSketch's dedicated zero bucket (x ≤ 0 is not log-indexable):
# INT min sorts before every real bucket, so the cum-sum walk places
# the zero mass first and a quantile landing in it estimates 0.0
DD_ZERO_BUCKET = -(2**31)
_DD_QS = (("p50", 0.5), ("p95", 0.95), ("p99", 0.99))


def _dd_bucket_sql(col: str) -> str:
    return (
        f"CAST(CASE WHEN {col} <= 0 THEN {DD_ZERO_BUCKET} "
        f"ELSE CEIL(ROUND(LN({col}) / LN({DD_GAMMA!r}), 9)) END AS INT)"
    )


def _dd_est_sql(bucket: str) -> str:
    return (
        f"ROUND(CASE WHEN ({bucket}) = {DD_ZERO_BUCKET} THEN 0.0 "
        f"ELSE 2 * POW({DD_GAMMA!r}, {bucket}) / (1 + {DD_GAMMA!r}) END, 6)"
    )


def _dd_quantiles_sql() -> str:
    ests = ",\n       ".join(
        f"""{_dd_est_sql(f"MIN(CASE WHEN cum >= CEIL(ROUND({q!r} * n, 9)) THEN bucket END)")} AS {label}_est"""
        for label, q in _DD_QS
    )
    return f"""
WITH sk AS (
  SELECT event_type, {_dd_bucket_sql("value")} AS bucket,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM sk
)
SELECT event_type,
       {ests}
FROM cum
GROUP BY event_type
ORDER BY event_type
"""


@register("ddsketch_quantiles", _dd_quantiles_sql())
def ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load(spark, "events", sf_dir)
    sk = e.groupBy(
        "event_type",
        F.expr(_dd_bucket_sql("value")).alias("bucket"),
    ).agg(F.count("*").alias("cnt"))
    w = W.partitionBy("event_type").orderBy("bucket")
    cum = sk.select(
        "event_type",
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(W.partitionBy("event_type")).alias("n"),
    )
    aggs = [
        F.expr(
            _dd_est_sql(
                f"MIN(CASE WHEN cum >= CEIL(ROUND({q!r} * n, 9)) "
                "THEN bucket END)"
            )
        ).alias(f"{label}_est")
        for label, q in _DD_QS
    ]
    return cum.groupBy("event_type").agg(*aggs).orderBy("event_type")


def _dd_merge_sql() -> str:
    est = _dd_est_sql(
        "MIN(CASE WHEN cum >= CEIL(ROUND(0.95 * n, 9)) THEN bucket END)"
    )
    return f"""
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         {_dd_bucket_sql("value")} AS bucket, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2, 3
),
merged AS (
  SELECT event_type, bucket, SUM(cnt) AS cnt
  FROM daily GROUP BY 1, 2
),
mcum AS (
  SELECT event_type, bucket,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM merged
),
direct AS (
  SELECT event_type, {_dd_bucket_sql("value")} AS bucket, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
dcum AS (
  SELECT event_type, bucket,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM direct
),
m AS (SELECT event_type, {est} AS p95_merged FROM mcum GROUP BY event_type),
d AS (SELECT event_type, {est} AS p95_direct FROM dcum GROUP BY event_type)
SELECT m.event_type, m.p95_merged, d.p95_direct,
       CAST(m.p95_merged = d.p95_direct AS INT) AS merged_equals_direct
FROM m JOIN d ON m.event_type = d.event_type
ORDER BY m.event_type
"""


@register("ddsketch_partition_merge", _dd_merge_sql())
def ddsketch_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability law as a query: per-DAY bucket counts (the
    partition sketches a 100 TB pipeline would persist) merged by
    count-addition give BIT-IDENTICAL quantiles to a sketch built
    directly over the whole table — the quantile analogue of
    hll_partition_merge, but with an exact equality law instead of a
    sketch-union approximation, because DDSketch buckets are a
    pointwise function of the value."""
    from pyspark.sql.window import Window as W

    e = load(spark, "events", sf_dir)
    bucket = F.expr(_dd_bucket_sql("value")).alias("bucket")
    daily = e.groupBy(
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
        bucket,
    ).agg(F.count("*").alias("cnt"))
    merged = daily.groupBy("event_type", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    direct = e.groupBy("event_type", bucket).agg(F.count("*").alias("cnt"))

    def p95(sk: DataFrame, out: str) -> DataFrame:
        w = W.partitionBy("event_type").orderBy("bucket")
        cum = sk.select(
            "event_type",
            "bucket",
            F.sum("cnt").over(w).alias("cum"),
            F.sum("cnt").over(W.partitionBy("event_type")).alias("n"),
        )
        return cum.groupBy("event_type").agg(
            F.expr(
                _dd_est_sql(
                    "MIN(CASE WHEN cum >= CEIL(ROUND(0.95 * n, 9)) "
                    "THEN bucket END)"
                )
            ).alias(out)
        )

    m = p95(merged, "p95_merged")
    d = p95(direct, "p95_direct")
    return (
        m.join(d, "event_type")
        .select(
            "event_type",
            "p95_merged",
            "p95_direct",
            (F.col("p95_merged") == F.col("p95_direct"))
            .cast("int")
            .alias("merged_equals_direct"),
        )
        .orderBy("event_type")
    )
