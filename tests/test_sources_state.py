"""Source robustness, persisted stores, env config and CLI tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kinesis_to_firehose_spark.sources.tables import load

SF = "/root/testdata/sf0.001"


def test_decode_enhance_survives_malformed_props(spark):
    """Malformed kayvee payloads must not kill the pipeline: the
    record survives with rawlog intact and a NULL parsed field (the
    dead-letter routing decision stays with the caller, as in the
    reference where ProcessMessage returns an error per record)."""
    from datetime import datetime

    from kinesis_to_firehose_spark.functions.decode import decode_enhance

    rows = [
        (1, datetime(2000, 1, 1), 7, "click", 1.0, '{"k": 3}'),
        (2, datetime(2000, 1, 1), 7, "click", 1.0, "not json at all"),
        (3, datetime(2000, 1, 1), 7, "click", 1.0, ""),
        (4, datetime(2000, 1, 1), 7, "click", 1.0, None),
        (5, datetime(2000, 1, 1), 7, "click", 1.0, '{"k": "str-not-int"}'),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["event_id"]: r for r in decode_enhance(df).collect()}
    assert len(out) == 5  # nothing dropped, nothing thrown
    assert out[1]["prop_k"] == 3
    for eid in (2, 3, 4, 5):
        assert out[eid]["prop_k"] is None
    assert out[2]["rawlog"] == "not json at all"  # original preserved


def test_syslog_parse_survives_garbage_lines(spark):
    """An unparseable syslog line must degrade to NULL fields for that
    record only — not abort the batch under ANSI mode."""
    from kinesis_to_firehose_spark.operators.logpipe import parse_syslog_lines

    rows = [
        (1, "<14>2000-01-01T00:00:00.000000Z ip-10-0-0-7 "
            'production--click[1007]: {"title":"click","k":3}'),
        (2, "complete garbage, no syslog shape"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "event_id long, rawline string")
    out = {r["event_id"]: r for r in parse_syslog_lines(df).collect()}
    assert len(out) == 3
    assert out[1]["pri"] == 14 and out[1]["payload_k"] == 3
    assert out[2]["pri"] is None and out[2]["payload_k"] is None
    assert out[3]["pri"] is None


def test_syslog_parse_keeps_separator_byte_in_fields(spark):
    """The parser joins its seven captures with \\x01 and splits them
    back, so a \\x01 inside the payload or the hostname must not shift
    or cut any field."""
    from kinesis_to_firehose_spark.operators.logpipe import parse_syslog_lines

    rows = [
        (1, "<14>2000-01-01T00:00:00.000000Z ip-10-0-0-7 "
            'production--click[1007]: {"title":"cl\x01ick","k":3}'),
        (2, "<14>2000-01-01T00:00:00.000000Z ip-10\x01-0-0-7 "
            'production--click[1007]: {"title":"click","k":4}'),
    ]
    df = spark.createDataFrame(rows, "event_id long, rawline string")
    out = {r["event_id"]: r for r in parse_syslog_lines(df).collect()}
    assert out[1]["payload_title"] == "cl\x01ick"
    assert out[1]["payload_k"] == 3
    assert out[2]["hostname"] == "ip-10\x01-0-0-7"
    assert (out[2]["env"], out[2]["container_app"], out[2]["pid"]) == (
        "production", "click", 1007
    )
    assert out[2]["payload_k"] == 4


def test_jsonl_read_captures_corrupt_records(spark, tmp_path):
    """PERMISSIVE ingestion: a malformed JSONL line must land in the
    _corrupt_record column — visible and dead-letterable — while good
    lines parse normally. (The silent alternative, DROPMALFORMED,
    loses data; FAILFAST kills the batch.)"""
    import os

    from pyspark.sql import types as T

    p = str(tmp_path / "in.jsonl")
    with open(p, "w") as f:
        f.write('{"event_id": 1, "event_type": "click"}\n')
        f.write("this is not json\n")
        f.write('{"event_id": 2, "event_type": "view"}\n')
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(p)
        .cache()  # required: corrupt-record column + raw-line queries
    )
    try:
        assert df.count() == 3
        good = df.filter(df._corrupt_record.isNull())
        bad = df.filter(df._corrupt_record.isNotNull())
        assert {r["event_id"] for r in good.collect()} == {1, 2}
        assert bad.count() == 1
        assert "not json" in bad.collect()[0]["_corrupt_record"]
    finally:
        df.unpersist()


def test_register_views_sql_surface(spark):
    """spark.sql over the registered views computes the same result as
    the DataFrame op (TPC-H q6 shape), and the view scan keeps filter
    pushdown."""
    from kinesis_to_firehose_spark.registry import all_ops
    from kinesis_to_firehose_spark.sources.tables import (
        register_views,
        unregister_views,
    )

    register_views(spark, SF)
    got = spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """
    ).collect()
    want = all_ops()["q6_forecast_revenue"].fn(spark, SF).collect()
    assert got[0]["revenue"] == want[0]["revenue"]
    try:
        plan = (
            spark.sql("SELECT l_orderkey FROM lineitem WHERE l_quantity < 5")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PushedFilters: [" in plan and "LessThan(l_quantity" in plan
    finally:
        # shared session: later tests must not silently resolve these
        unregister_views(spark)


def test_dedup_index_continuous_ingest(spark, tmp_path):
    """The persisted dedup index closes the continuous-ingest loop:
    build over the base corpus, probe batch1, APPEND batch1, probe
    batch2 — each probe must equal a from-scratch new-vs-old verdict
    computation over the same old side, and the probe plan must scan
    the stored index files (the corpus is never re-signatured)."""
    from kinesis_to_firehose_spark.operators.dedup import (
        doc_band_keys,
        doc_fingerprints,
        incremental_verdicts,
    )
    from kinesis_to_firehose_spark.plans.explain import physical_plan
    from kinesis_to_firehose_spark.sources.dedup_index import (
        build_dedup_index,
        probe_dedup_index,
    )

    sf = "/root/testdata/sf0.01"
    d = load(spark, "documents", sf)
    base = d.filter(F.col("doc_id") % 10 > 1)
    b1 = d.filter(F.col("doc_id") % 10 == 1)
    b2 = d.filter(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "dedup_index")

    build_dedup_index(spark, base, path)
    probe1 = probe_dedup_index(spark, b1, path)
    assert str(tmp_path) in physical_plan(probe1)  # reads the store
    expect1 = incremental_verdicts(
        doc_fingerprints(b1),
        doc_band_keys(b1),
        doc_fingerprints(base),
        doc_band_keys(base),
    )
    assert [tuple(r) for r in probe1.collect()] == [
        tuple(r) for r in expect1.collect()
    ]

    build_dedup_index(spark, b1, path, mode="append")
    probe2 = probe_dedup_index(spark, b2, path)
    old = d.filter(F.col("doc_id") % 10 != 0)
    expect2 = incremental_verdicts(
        doc_fingerprints(b2),
        doc_band_keys(b2),
        doc_fingerprints(old),
        doc_band_keys(old),
    )
    got2 = [tuple(r) for r in probe2.collect()]
    assert got2 == [tuple(r) for r in expect2.collect()]
    # batch2 docs sharing a fingerprint with batch1 are now caught
    assert len(got2) == b2.count()


def test_config_from_env_reference_semantics():
    """Env surface parity with main.go: every launch-yml var required
    (missing/empty → error naming the var), READ_RATE_LIMIT must be an
    int, LOG_FILE gains the timestamped .log suffix, and the resolved
    source config feeds the connector option map."""
    from datetime import datetime

    from kinesis_to_firehose_spark.streaming.config import (
        REQUIRED_ENV,
        config_from_env,
    )
    from kinesis_to_firehose_spark.streaming.firehose import (
        BATCH_COUNT,
        BATCH_INTERVAL_S,
        BATCH_SIZE,
    )

    full = {
        "KINESIS_AWS_REGION": "us-west-2",
        "KINESIS_STREAM_NAME": "logs",
        "KINESIS_APPLICATION_NAME": "k2f",
        "KINESIS_INITIAL_POSITION": "TRIM_HORIZON",
        "FIREHOSE_AWS_REGION": "us-west-1",
        "FIREHOSE_STREAM_NAME": "archive",
        "FIREHOSE_AWS_ENDPOINT": "https://firehose.us-west-1.amazonaws.com",
        "LOG_FILE": "/tmp/failed",
        "READ_RATE_LIMIT": "300",
        "_DEPLOY_ENV": "production",
    }
    cfg = config_from_env(full, now=datetime(2026, 8, 14, 12, 0, 5))
    assert cfg.failed_logs_file == "/tmp/failed.2026-08-14T12:00:05.log"
    assert cfg.source.read_rate_limit == 300
    assert cfg.source.initial_position == "TRIM_HORIZON"
    # the batch bounds are the reference constants, not env config
    assert BATCH_COUNT == 500 and BATCH_INTERVAL_S == 10.0
    assert BATCH_SIZE == 4 * 1024 * 1024
    opts = cfg.source.reader_options()
    assert opts["streamName"] == "logs"
    assert opts["startingPosition"] == "trim_horizon"
    # rate limit caps the per-shard fetch
    assert opts["kinesis.executor.maxFetchRecordsPerShard"] == "300"

    for var in REQUIRED_ENV:
        broken = dict(full)
        broken[var] = ""
        with pytest.raises(ValueError, match=var):
            config_from_env(broken)

    bad = dict(full)
    bad["READ_RATE_LIMIT"] = "fast"
    with pytest.raises(ValueError, match="must be an int"):
        config_from_env(bad)


def test_route_stats_config_driven(spark):
    """kvconfig-style router: routes select by title AND value_field,
    multiple routes emit independent series, non-matching emissions
    are dropped."""
    from kinesis_to_firehose_spark.operators.logpipe import route_stats

    emissions = spark.createDataFrame(
        [
            ("drop-stats", "m1", "total_dropped", 7),
            ("drop-stats", "m1", "app_count", 3),
            ("drop-stats", "m2", "total_dropped", 9),
            ("other-title", "m1", "total_dropped", 99),
        ],
        "title string, minute string, field string, value long",
    )
    routes = {
        "a": {
            "title": "drop-stats",
            "series": "s.drop",
            "stat_type": "gauge",
            "value_field": "total_dropped",
        },
        "b": {
            "title": "drop-stats",
            "series": "s.apps",
            "stat_type": "gauge",
            "value_field": "app_count",
        },
    }
    got = {
        (r["route"], r["minute"]): (r["series"], r["value"])
        for r in route_stats(emissions, routes).collect()
    }
    assert got == {
        ("a", "m1"): ("s.drop", 7),
        ("a", "m2"): ("s.drop", 9),
        ("b", "m1"): ("s.apps", 3),
    }


def test_cli_list_and_oracle(capsys):
    """CLI surface: `list` names every registry op with its oracle
    status, `oracle` prints the SQL twin, unknown ops exit 2 (no
    Spark session needed for any of these paths)."""
    from kinesis_to_firehose_spark.__main__ import main
    from kinesis_to_firehose_spark.registry import all_ops

    assert main(["list"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == len(all_ops())
    assert any(line.startswith("q1_pricing_summary\toracle") for line in out)

    assert main(["oracle", "q6_forecast_revenue"]) == 0
    assert "FROM lineitem" in capsys.readouterr().out

    assert main(["run", "definitely_not_an_op"]) == 2

    # round-8: hll_partition_merge gained a within_bound oracle, so
    # the registry has NO rows-only op left; pin that invariant and
    # exercise the rows-only exit path on a synthetic registry entry
    assert main(["oracle", "hll_partition_merge"]) == 0
    assert "within_bound" in capsys.readouterr().out
    assert all(op.sql is not None for op in all_ops().values())
    import unittest.mock as mock

    from kinesis_to_firehose_spark.registry import Op

    fake = dict(all_ops())
    fake["sketch_only"] = Op(
        name="sketch_only", fn=lambda s, d: None, sql=None
    )
    # main() imports all_ops from the registry at call time
    with mock.patch(
        "kinesis_to_firehose_spark.registry.all_ops", return_value=fake
    ):
        assert main(["oracle", "sketch_only"]) == 1  # rows-only


def test_knn_store_built_once_and_value_identical(spark):
    """The graph family's shared edge-list store: first touch builds,
    later touches scan the SAME store (no rebuild), and the stored
    edges are value-identical to a direct build — which is why every
    family oracle is unchanged by the store."""
    from kinesis_to_firehose_spark.operators.similarity import (
        KNN_K,
        build_knn_graph,
        knn_graph,
    )
    from kinesis_to_firehose_spark.sources import knn_store
    from kinesis_to_firehose_spark.sources.store_cache import store_path

    sf = "/root/testdata/sf0.001"
    path = store_path("knn_edges", sf, "embeddings", f"{KNN_K}|knn-edges-v1")
    first = knn_store.knn_edges(spark, sf)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    stamp = os.stat(path).st_mtime_ns
    knn_store.knn_edges(spark, sf)
    assert os.stat(path).st_mtime_ns == stamp  # no rebuild
    # the served op's plan is a store scan, not the band join
    plan = knn_graph(spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert path in plan
    assert "mapInPandas" not in plan.lower()  # rescore kernel absent
    direct = {tuple(r) for r in build_knn_graph(spark, sf).collect()}
    served = {tuple(r) for r in first.collect()}
    assert served == direct


def test_hilbert_value_is_bijective_unit_step_and_beats_morton(spark):
    """The defining Hilbert property on the full 256x256 grid: hval is
    a bijection onto [0, 65536) and CONSECUTIVE hvals are always grid
    neighbors (|dx|+|dy| == 1) — Morton jumps quadrants. Consequence
    measured directly: sorting by hval keeps a 2-D box query in fewer
    contiguous runs of the sort order than sorting by Morton."""
    from kinesis_to_firehose_spark.operators.analytics import (
        _hilbert_chain,
    )

    n = 256
    grid = spark.range(n * n).selectExpr(
        "id",
        f"CAST(id % {n} AS BIGINT) AS hx",
        f"CAST(id DIV {n} AS BIGINT) AS hy",
        "CAST(0 AS BIGINT) AS hd",
    )
    grid.createOrReplaceTempView("hilbert_grid")
    chain = _hilbert_chain(
        "spark",
        "SELECT id, hx AS gx, hy AS gy, hx, hy, hd FROM hilbert_grid",
        "id, gx, gy",
    )
    rows = spark.sql(f"SELECT gx, gy, hd FROM ({chain})").collect()
    by_d = {r["hd"]: (r["gx"], r["gy"]) for r in rows}
    assert len(by_d) == n * n  # bijection
    assert set(by_d) == set(range(n * n))
    for d in range(1, n * n):
        (x1, y1), (x2, y2) = by_d[d - 1], by_d[d]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, by_d[d - 1], by_d[d])

    # locality: a box query's cells form fewer contiguous runs in
    # Hilbert order than in Morton order (averaged over several boxes)
    def morton(x, y):
        m = 0
        for b in range(8):
            m |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return m

    inv_h = {v: d for d, v in by_d.items()}

    def runs(keys):
        ks = sorted(keys)
        return 1 + sum(1 for a, b in zip(ks, ks[1:]) if b != a + 1)

    h_runs = m_runs = 0
    for x0, y0, w in ((10, 10, 16), (100, 40, 32), (200, 128, 24)):
        cells = [
            (x, y) for x in range(x0, x0 + w) for y in range(y0, y0 + w)
        ]
        h_runs += runs([inv_h[c] for c in cells])
        m_runs += runs([morton(x, y) for x, y in cells])
    assert h_runs < m_runs  # the reason to pick Hilbert for layout


def test_store_cache_digest_and_atomic_build(spark, tmp_path, monkeypatch):
    """sources/store_cache.py contracts (ADVICE r6 #3): (1) the cache
    key digests the PART-FILE LISTING of a Spark-written dataset dir,
    so an in-place part-file rewrite reroutes the key even when the
    directory inode's stat is unchanged; (2) builds land via tempdir +
    atomic rename — a reader never sees a half-built store, and the
    loser of a concurrent-build race serves the winner's store."""
    import os

    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        source_digest,
        store_path,
    )

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.range(10).selectExpr("id AS doc_id").coalesce(2).write.parquet(
        str(sf / "documents.parquet")
    )

    d1 = source_digest(str(sf), "documents")
    # in-place rewrite of ONE part file: same directory, same file
    # names/count — only a part file's bytes (and mtime) change
    part = sorted((sf / "documents.parquet").glob("part-*.parquet"))[0]
    os.utime(part, ns=(123456789, 987654321000000000))
    d2 = source_digest(str(sf), "documents")
    assert d1 != d2, "part-file rewrite must change the digest"

    # params/version distinguish stores on the same corpus
    p_a = store_path("x", str(sf), "documents", "v1")
    p_b = store_path("x", str(sf), "documents", "v2")
    assert p_a != p_b

    builds = []

    def _build(tmp: str) -> None:
        builds.append(tmp)
        assert tmp != p_a  # never builds in the final path
        spark.range(3).write.parquet(tmp)

    got = ensure_store(p_a, _build)
    assert got == p_a and os.path.exists(os.path.join(p_a, "_SUCCESS"))
    assert spark.read.parquet(got).count() == 3
    # warm: second call serves without rebuilding
    ensure_store(p_a, _build)
    assert len(builds) == 1

    # race-loser path: final dir appears while our build is running
    p_c = store_path("y", str(sf), "documents", "v1")

    def _racing_build(tmp: str) -> None:
        spark.range(5).write.parquet(tmp)
        # the "other process" wins the rename while we were building
        spark.range(5).write.parquet(p_c)

    got_c = ensure_store(p_c, _racing_build)
    assert spark.read.parquet(got_c).count() == 5
    leftovers = [p for p in (tmp_path / "cache").iterdir() if ".tmp." in p.name]
    assert not leftovers, f"tmp dirs leaked: {leftovers}"

    # failing build: re-raises AND cleans its own tmp (ADVICE r7 —
    # the old pid-keyed tempdir leaked on every raise), leaving the
    # store absent so the next call can rebuild
    p_d = store_path("z", str(sf), "documents", "v1")
    with pytest.raises(RuntimeError, match="boom"):
        ensure_store(p_d, lambda tmp: (_ for _ in ()).throw(RuntimeError("boom")))
    assert not os.path.exists(p_d)
    leftovers = [p for p in (tmp_path / "cache").iterdir() if ".tmp." in p.name]
    assert not leftovers, f"failed build leaked tmp dirs: {leftovers}"
    got_d = ensure_store(p_d, lambda tmp: spark.range(7).write.parquet(tmp))
    assert spark.read.parquet(got_d).count() == 7
