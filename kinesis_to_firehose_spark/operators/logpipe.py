"""Log-pipeline parity ops (SURVEY.md §2.1) — the reference's record
path re-expressed as batch queries over `events`.

Reference semantics being mirrored:
- decode+enhance: firehose_sender.go:62-76 (ProcessMessage →
  decode.ParseAndEnhance → json.Marshal + '\n')
- allowlist / drop: batchconsumer tag routing (dropped records skip
  delivery)
- oversize dead-letter: Firehose 1000 KiB record cap (scaled down for
  the testdata)
- batch planning: main.go:50-53 (BatchCount=500, BatchSize=4 MiB per
  output stream, arrival order)
- drop stats: sender/stats/stats.go (1-minute tumbling counts of
  dropped records by app/level)
- shard backlog: the KCL worker's MillisBehindLatest, as records
  behind per shard of the kinesis_replay source

Scale notes: decode/serialize/filter are narrow (no shuffle).
batch_planner needs arrival order *per stream* only, so it window-
partitions by stream — at 100 TB this is a range-partition per key
group, never a global sort. drop_stats/throughput are partial-agg
(map-side combine) with tiny results.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesis_to_firehose_spark.functions.decode import (
    DECODED_SQL,
    JSONL_SQL,
    MAX_RECORD_BYTES,
    decode_enhance,
    jsonl_line,
)
from kinesis_to_firehose_spark.registry import register
from kinesis_to_firehose_spark.sources.tables import load

ALLOWED_TYPES = ("click", "view", "purchase", "signup")

BATCH_COUNT = 500  # main.go:51 BatchCount


def _decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_enhance(load(spark, "events", sf_dir))


# --------------------------------------------------------------------------
DECODE_SQL = f"""
WITH decoded AS ({DECODED_SQL})
SELECT event_id, ts, user_id, event_type, value, rawlog, prop_k, env,
       hostname, container_app, level
FROM decoded
"""


@register("decode_parse_enhance", DECODE_SQL)
def decode_parse_enhance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _decoded(spark, sf_dir)


# --------------------------------------------------------------------------
SERIALIZE_SQL = f"""
WITH decoded AS ({DECODED_SQL})
SELECT event_id, {JSONL_SQL} AS line, LENGTH({JSONL_SQL}) + 1 AS line_bytes
FROM decoded
"""


@register("serialize_jsonl", SERIALIZE_SQL)
def serialize_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _decoded(spark, sf_dir)
    line = jsonl_line(d)
    # +1: the reference appends '\n' per record (firehose_sender.go:73)
    return d.select(
        "event_id",
        line.alias("line"),
        (F.length(line) + 1).cast("bigint").alias("line_bytes"),
    )


# --------------------------------------------------------------------------
FILTER_SQL = """
SELECT event_id, ts, user_id, event_type
FROM events
WHERE event_type IN ('click', 'view', 'purchase', 'signup')
"""


@register("filter_allowlist", FILTER_SQL)
def filter_allowlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    return e.filter(F.col("event_type").isin(*ALLOWED_TYPES)).select(
        "event_id", "ts", "user_id", "event_type"
    )


# --------------------------------------------------------------------------
DEAD_LETTER_SQL = f"""
WITH decoded AS ({DECODED_SQL}),
serialized AS (
  SELECT event_id, event_type, LENGTH({JSONL_SQL}) + 1 AS line_bytes
  FROM decoded
)
SELECT event_id, event_type, line_bytes
FROM serialized
WHERE line_bytes > {MAX_RECORD_BYTES}
"""


@register("decode_dead_letter", DEAD_LETTER_SQL)
def decode_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oversize records → dead-letter set (Firehose record cap analogue)."""
    d = _decoded(spark, sf_dir)
    line_bytes = (F.length(jsonl_line(d)) + 1).cast("bigint").alias("line_bytes")
    return (
        d.select("event_id", "event_type", line_bytes)
        .filter(F.col("line_bytes") > MAX_RECORD_BYTES)
    )


# --------------------------------------------------------------------------
BATCH_PLAN_SQL = f"""
WITH decoded AS ({DECODED_SQL}),
serialized AS (
  SELECT event_id, event_type AS stream, ts,
         LENGTH({JSONL_SQL}) + 1 AS line_bytes
  FROM decoded
),
numbered AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY stream ORDER BY ts, event_id) AS rn
  FROM serialized
)
SELECT stream,
       CAST(FLOOR((rn - 1) / {BATCH_COUNT}) AS BIGINT) AS batch_idx,
       COUNT(*) AS n_records,
       CAST(SUM(line_bytes) AS BIGINT) AS batch_bytes,
       MIN(event_id) AS first_event_id,
       MAX(event_id) AS last_event_id
FROM numbered
GROUP BY stream, batch_idx
ORDER BY stream, batch_idx
"""


@register("batch_planner", BATCH_PLAN_SQL)
def batch_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign records to ≤500-count delivery batches per stream, in
    arrival order, and report per-batch size (main.go:50-53)."""
    d = _decoded(spark, sf_dir)
    line_bytes = (F.length(jsonl_line(d)) + 1).cast("bigint").alias("line_bytes")
    s = d.select("event_id", F.col("event_type").alias("stream"), "ts", line_bytes)
    w = W.partitionBy("stream").orderBy("ts", "event_id")
    numbered = s.withColumn("rn", F.row_number().over(w))
    return (
        numbered.withColumn(
            "batch_idx", F.floor((F.col("rn") - 1) / BATCH_COUNT).cast("bigint")
        )
        .groupBy("stream", "batch_idx")
        .agg(
            F.count("*").alias("n_records"),
            F.sum("line_bytes").alias("batch_bytes"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
        .orderBy("stream", "batch_idx")
    )


# --------------------------------------------------------------------------
# drop_stats — full stats.go parity. Each minute the reference emits
# total_dropped, app_count, a by-app map, and a by-level map
# (stats.go:27-41), with missing container_app → '_UNKNOWN_' and
# missing level → 'debug' (stats.go:49-56). Records with value < 5 /
# value ≥ 90 model partially-decoded records whose app / level fields
# are absent. Long format: one row per (minute, metric, key).
# --------------------------------------------------------------------------
_DS_APP_SQL = "CASE WHEN value >= 5 THEN event_type END"
_DS_LEVEL_SQL = (
    "CASE WHEN value < 50 THEN 'warning' WHEN value < 90 THEN 'critical' END"
)

_DS_PRE_CTES = f"""base AS (
  SELECT date_trunc('minute', ts) AS minute,
         COALESCE({_DS_APP_SQL}, '_UNKNOWN_') AS app,
         COALESCE({_DS_LEVEL_SQL}, 'debug') AS level
  FROM events
  WHERE event_type NOT IN ('click', 'view', 'purchase', 'signup')
),
pre AS (
  SELECT minute, app, level, COUNT(*) AS n FROM base GROUP BY 1, 2, 3
)"""

DROP_STATS_SQL = f"""
WITH {_DS_PRE_CTES}
SELECT minute, 'app' AS metric, app AS key, CAST(SUM(n) AS BIGINT) AS n
FROM pre GROUP BY minute, app
UNION ALL
SELECT minute, 'level', level, CAST(SUM(n) AS BIGINT) FROM pre GROUP BY minute, level
UNION ALL
SELECT minute, 'total', 'total_dropped', CAST(SUM(n) AS BIGINT) FROM pre GROUP BY minute
UNION ALL
SELECT minute, 'total', 'app_count', CAST(COUNT(DISTINCT app) AS BIGINT)
FROM pre GROUP BY minute
ORDER BY minute, metric, key
"""


@register("drop_stats", DROP_STATS_SQL)
def drop_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-minute drop stats with stats.go's exact output surface.

    One wide pre-aggregation on (minute, app, level) — the only
    shuffle that touches the raw records, map-side combined — then a
    single GROUPING SETS pass over the tiny intermediate produces the
    by-app / by-level / totals views, the same shape stats.go gets
    from its in-memory maps at tick time. One scan, no union, no
    checkpoint: the previous eager localCheckpoint re-materialized
    the pre-agg on every invocation (a full job + disk write per
    call, 0.47→1.34 s in the r3 bench); GROUPING SETS computes all
    four views in one aggregation instead."""
    e = load(spark, "events", sf_dir)
    dropped = e.filter(~F.col("event_type").isin(*ALLOWED_TYPES))
    pre = (
        dropped.select(
            F.date_trunc("minute", "ts").alias("minute"),
            F.coalesce(F.expr(_DS_APP_SQL), F.lit("_UNKNOWN_")).alias("app"),
            F.coalesce(F.expr(_DS_LEVEL_SQL), F.lit("debug")).alias("level"),
        )
        .groupBy("minute", "app", "level")
        .agg(F.count("*").alias("n"))
    )
    return stats_views(pre)


def stats_views(pre: DataFrame) -> DataFrame:
    """(minute, app, level, n) → stats.go's four per-minute views in
    long format. Shared by the batch op and the streaming path
    (tests/test_streaming.py): the streaming query maintains the same
    (minute, app, level) pre-aggregate as watermarked state, and this
    shaping runs on the tiny pre-aggregate — exactly how stats.go
    re-reads its in-memory maps at each tick.

    Single GROUPING SETS aggregation — ((minute,app), (minute,level),
    (minute)) — instead of a 4-branch union: each union branch would
    replay the pre-agg plan (4 raw scans) unless the intermediate
    is checkpointed, and the checkpoint itself costs a job per call.
    The Expand tripling happens on the already-aggregated rows
    (minutes × apps × levels), not the raw log, so the extra rows are
    thousands, not billions, at any scale. The per-minute grouping
    set carries both SUM(n) and COUNT(DISTINCT app); an array+explode
    unfolds it into the two total rows stats.go emits."""
    gid = F.grouping_id("minute", "app", "level")
    gs = pre.groupingSets(
        [["minute", "app"], ["minute", "level"], ["minute"]],
        "minute",
        "app",
        "level",
    ).agg(
        F.sum("n").alias("sum_n"),
        F.countDistinct("app").alias("n_apps"),
        gid.alias("gid"),
    )

    def row(metric, key, n):
        return F.struct(
            F.lit(metric).alias("metric"), key.alias("key"), n.alias("n")
        )

    unfolded = F.when(
        F.col("gid") == 1,  # (minute, app): level aggregated away
        F.array(row("app", F.col("app"), F.col("sum_n"))),
    ).when(
        F.col("gid") == 2,  # (minute, level)
        F.array(row("level", F.col("level"), F.col("sum_n"))),
    ).otherwise(  # (minute): the two per-minute totals
        F.array(
            row("total", F.lit("total_dropped"), F.col("sum_n")),
            row("total", F.lit("app_count"), F.col("n_apps")),
        )
    )
    return (
        gs.select("minute", F.explode(unfolded).alias("r"))
        .select("minute", "r.metric", "r.key", "r.n")
        .orderBy("minute", "metric", "key")
    )


# --------------------------------------------------------------------------
THROUGHPUT_SQL = """
SELECT user_id AS shard,
       date_trunc('minute', ts) AS minute,
       COUNT(*) AS n_records,
       ROUND(COUNT(*) / 60.0, 4) AS records_per_sec
FROM events
GROUP BY shard, minute
"""


@register("throughput_rate", THROUGHPUT_SQL)
def throughput_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard per-minute read rate (READ_RATE_LIMIT observability)."""
    e = load(spark, "events", sf_dir)
    return (
        e.groupBy(
            F.col("user_id").alias("shard"),
            F.date_trunc("minute", "ts").alias("minute"),
        )
        .agg(
            F.count("*").alias("n_records"),
            F.round(F.count("*") / 60.0, 4).alias("records_per_sec"),
        )
    )


# --------------------------------------------------------------------------
# decode_syslog_kayvee — the reference's actual input format: an
# RFC3164-ish syslog line whose program field carries env--app ECS
# metadata and whose payload is kayvee JSON
# (amazon-kinesis-client-go/decode.ParseAndEnhance). We synthesize the
# line from `events` (deterministic), then parse it back with the same
# regex in both engines — a round-trip proof of the decode path.
# --------------------------------------------------------------------------
_SYSLOG_RE = r"^<(\d+)>(\S+) (\S+) ([a-z]+)--([a-z]+)\[(\d+)\]: (.*)$"

SYSLOG_SQL = rf"""
WITH lines AS (
  SELECT event_id,
         '<' || CAST(8 + (event_id % 8) AS VARCHAR) || '>'
         || strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z'
         || ' ip-10-0-0-' || CAST(user_id AS VARCHAR)
         || ' production--' || event_type
         || '[' || CAST(1000 + user_id AS VARCHAR) || ']: '
         || '{{"title":"' || event_type || '","k":'
         || COALESCE(json_extract_string(props, '$.k'), 'null') || '}}'
           AS rawline
  FROM events
)
SELECT event_id,
       CAST(regexp_extract(rawline, '{_SYSLOG_RE}', 1) AS BIGINT) AS pri,
       CAST(regexp_extract(rawline, '{_SYSLOG_RE}', 1) AS BIGINT) // 8 AS facility,
       CAST(regexp_extract(rawline, '{_SYSLOG_RE}', 1) AS BIGINT) % 8 AS severity,
       regexp_extract(rawline, '{_SYSLOG_RE}', 2) AS ts_str,
       regexp_extract(rawline, '{_SYSLOG_RE}', 3) AS hostname,
       regexp_extract(rawline, '{_SYSLOG_RE}', 4) AS env,
       regexp_extract(rawline, '{_SYSLOG_RE}', 5) AS container_app,
       CAST(regexp_extract(rawline, '{_SYSLOG_RE}', 6) AS BIGINT) AS pid,
       CAST(json_extract_string(regexp_extract(rawline, '{_SYSLOG_RE}', 7), '$.k')
            AS INTEGER) AS payload_k,
       json_extract_string(regexp_extract(rawline, '{_SYSLOG_RE}', 7), '$.title')
         AS payload_title
FROM lines
"""


@register("decode_syslog_kayvee", SYSLOG_SQL)
def decode_syslog_kayvee(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "events", sf_dir)
    line = F.concat(
        F.lit("<"), (8 + F.col("event_id") % 8).cast("string"), F.lit(">"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("Z"),
        F.lit(" ip-10-0-0-"), F.col("user_id").cast("string"),
        F.lit(" production--"), F.col("event_type"),
        F.lit("["), (1000 + F.col("user_id")).cast("string"), F.lit("]: "),
        F.lit('{"title":"'), F.col("event_type"), F.lit('","k":'),
        F.coalesce(F.get_json_object("props", "$.k"), F.lit("null")),
        F.lit("}"),
    )
    lines = e.select("event_id", line.alias("rawline"))
    return parse_syslog_lines(lines)


def parse_syslog_lines(lines: DataFrame) -> DataFrame:
    """Regex-parse (event_id, rawline) rows. try_cast everywhere a
    capture feeds a numeric column: an unparseable line yields an
    empty capture, and under ANSI mode (Spark 4 default) a plain cast
    of '' would fail the whole job instead of that record — the
    reference errors per record (ParseAndEnhance), never per batch.

    r13 (guide §1.2 per-task work): seven per-group regexp_extract
    calls ran the matcher seven times per row. One anchored
    regexp_replace now emits all seven captures \\x01-joined and one
    split recovers them. The separator can collide: the timestamp and
    hostname (\\S+) and the payload (.*) may all contain \\x01, so a
    line that contains \\x01 anywhere takes the seven regexp_extract
    calls instead (exact for any input; lines without control bytes
    stay on the one-regex path). The rlike guard preserves
    regexp_extract's exact no-match ('' per group) and NULL-input
    (NULL per group) semantics — asserted by
    tests/test_sources_state.py::test_syslog_parse_survives_garbage_lines."""
    rx = _SYSLOG_RE
    sep = "\x01"
    raw = F.col("rawline")
    matched = raw.isNotNull() & raw.rlike(rx)
    parts = (
        F.when(
            matched & ~raw.contains(sep),
            F.split(
                F.regexp_replace(
                    "rawline", rx, sep.join(f"${g}" for g in range(1, 8))
                ),
                sep,
            ),
        )
        .when(
            matched,
            F.array(*[F.regexp_extract(raw, rx, g) for g in range(1, 8)]),
        )
        .when(raw.isNotNull(), F.array(*[F.lit("") for _ in range(7)]))
    )
    lines = lines.withColumn("_g", parts)
    g = lambda i: F.col("_g").getItem(i - 1)  # noqa: E731
    pri = g(1).try_cast("bigint")
    payload = g(7)
    return lines.select(
        "event_id",
        pri.alias("pri"),
        (pri / 8).try_cast("bigint").alias("facility"),
        (pri % 8).alias("severity"),
        g(2).alias("ts_str"),
        g(3).alias("hostname"),
        g(4).alias("env"),
        g(5).alias("container_app"),
        g(6).try_cast("bigint").alias("pid"),
        F.get_json_object(payload, "$.k").try_cast("int").alias("payload_k"),
        F.get_json_object(payload, "$.title").alias("payload_title"),
    )


# --------------------------------------------------------------------------
# stats_alert_route — the ops half of the drop-stats loop: kvconfig.yml
# routes log emissions whose title matches 'drop-stats' to an alert
# gauge series with value_field total_dropped (kvconfig.yml:1-11). The
# router is CONFIG-DRIVEN: KV_ROUTES mirrors the yml (matchers.title →
# output series / stat_type / value_field) and route_stats applies any
# such route table to a (title, minute, field, value) emission stream.
# Scale shape: the emissions table is minutes-sized (drop_stats'
# 'total' rows), so routing is a narrow filter+project per route over
# a tiny table — the raw log is touched only by drop_stats' one
# pre-aggregation.
# --------------------------------------------------------------------------
KV_ROUTES = {
    # kvconfig.yml: dropped-logs-alert
    "dropped-logs-alert": {
        "title": "drop-stats",
        "series": "kinesis-to-firehose-log-search.drop-stats",
        "stat_type": "gauge",
        "value_field": "total_dropped",
    },
}


def route_stats(
    emissions: DataFrame, routes: dict[str, dict[str, str]] = KV_ROUTES
) -> DataFrame:
    """Apply a kvconfig-style route table to metric emissions
    (title, minute, field, value): emissions equi-join the BROADCAST
    route table on (title matcher, value_field) and project the
    configured (route, series, stat_type, minute, value) gauge rows.
    One pass over the emissions regardless of route count — the
    previous per-route filter+union replayed the full drop-stats
    plan (raw scan + grouping sets) once per route, 2.2× the
    baseline at sf0.1 and N scans of the log at 100 TB."""
    spark = emissions.sparkSession
    rt = F.broadcast(
        spark.createDataFrame(
            [
                (name, r["title"], r["value_field"], r["series"], r["stat_type"])
                for name, r in sorted(routes.items())
            ],
            "route string, r_title string, r_field string, "
            "series string, stat_type string",
        )
    )
    return (
        emissions.join(
            rt,
            (F.col("title") == F.col("r_title"))
            & (F.col("field") == F.col("r_field")),
        )
        .select(
            "route",
            "series",
            "stat_type",
            "minute",
            F.col("value").cast("bigint").alias("value"),
        )
        .orderBy("route", "minute")
    )


ALERT_ROUTE_SQL = f"""
WITH {_DS_PRE_CTES},
wide AS (
  SELECT minute, SUM(n) AS total_dropped FROM pre GROUP BY minute
)
SELECT 'dropped-logs-alert' AS route,
       'kinesis-to-firehose-log-search.drop-stats' AS series,
       'gauge' AS stat_type, minute,
       CAST(total_dropped AS BIGINT) AS value
FROM wide
ORDER BY minute
"""


@register("stats_alert_route", ALERT_ROUTE_SQL)
def stats_alert_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = drop_stats(spark, sf_dir)
    emissions = stats.filter(F.col("metric") == "total").select(
        F.lit("drop-stats").alias("title"),
        "minute",
        F.col("key").alias("field"),
        F.col("n").alias("value"),
    )
    return route_stats(emissions)


# Per-shard backlog under the DuckDB gate (round-11, verdict task 7):
# records_behind_latest — the record-count analogue of KCL's
# MillisBehindLatest (sources/kinesis_datasource.py:755) — previously
# lived only in pytest. Here the events table is routed over 4 shards
# by the REAL producer (md5 of the user_id partition key), each shard
# is "consumed" through exactly half its complete records (offset =
# (line, byte) from the same boundary scan the connector polls with),
# and the emitted backlog table must match SQL recomputing the md5
# routing and the half-split arithmetic from the raw events.
SHARD_BACKLOG_N_SHARDS = 4

SHARD_BACKLOG_SQL = f"""
WITH routed AS (
  SELECT 'shard-' || CAST(
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           % {SHARD_BACKLOG_N_SHARDS} AS VARCHAR) AS shard
  FROM events
),
c AS (SELECT shard, COUNT(*) AS n FROM routed GROUP BY shard)
SELECT shard,
       CAST(n AS BIGINT) AS n_records,
       CAST(n // 2 AS BIGINT) AS consumed,
       CAST(n - n // 2 AS BIGINT) AS records_behind
FROM c
ORDER BY shard
"""


@register("shard_backlog", SHARD_BACKLOG_SQL)
def shard_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_to_firehose_spark.sources.kinesis_datasource import (
        _scan_complete,
        _shard_files,
        records_behind_latest,
        write_replay_slices_distributed,
    )
    from kinesis_to_firehose_spark.sources.tables import load

    records = load(spark, "events", sf_dir).select(
        F.col("user_id").cast("string").alias("pk"),
        F.to_json(F.struct("event_id", "ts", "event_type", "value")).alias(
            "data"
        ),
        "ts",
        "event_id",
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "stream")
        write_replay_slices_distributed(
            spark,
            records,
            src,
            n_shards=SHARD_BACKLOG_N_SHARDS,
            order_cols=("ts", "event_id"),
        )
        offsets: dict[str, list[int]] = {}
        totals: dict[str, int] = {}
        for f in _shard_files(src):
            shard = f[: -len(".jsonl")]
            fp = os.path.join(src, f)
            total, _ = _scan_complete(fp, 0, 0)
            line, byte = _scan_complete(fp, 0, 0, max_lines=total // 2)
            offsets[shard] = [line, byte]
            totals[shard] = total
        behind = records_behind_latest(src, offsets)
        data = [
            (s, totals[s], offsets[s][0], behind[s]) for s in sorted(totals)
        ]
    return spark.createDataFrame(
        data,
        "shard string, n_records long, consumed long, records_behind long",
    ).orderBy("shard")
