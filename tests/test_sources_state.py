"""Format round-trips + stateful rate-limit operator tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kinesis_to_firehose_spark.sources.io import read_table, write_table
from kinesis_to_firehose_spark.sources.tables import load
from kinesis_to_firehose_spark.streaming.pipeline import (
    EVENT_SCHEMA,
    write_source_slice,
)
from kinesis_to_firehose_spark.streaming.ratelimit import rate_limited_counts

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_format_round_trip(spark, tmp_path, fmt):
    src = load(spark, "events", SF).select(
        "event_id", "user_id", "event_type", "value"
    )
    path = str(tmp_path / fmt)
    write_table(src, path, fmt)
    back = read_table(spark, path, fmt, schema=src.schema)
    assert back.count() == src.count()
    a = sorted(r["event_id"] for r in src.select("event_id").collect())
    b = sorted(int(r["event_id"]) for r in back.select("event_id").collect())
    assert a == b


def test_partitioned_write_prunes(spark, tmp_path):
    src = load(spark, "events", SF)
    path = str(tmp_path / "by_type")
    write_table(src, path, "parquet", partition_by=["event_type"])
    clicks = read_table(spark, path, "parquet").filter(
        F.col("event_type") == "click"
    )
    plan = clicks._jdf.queryExecution().executedPlan().toString()
    n = clicks.count()
    want = src.filter(F.col("event_type") == "click").count()
    assert n == want
    # partition filter, not a data filter: pruned at planning time
    assert "PartitionFilters" in plan or "event_type" not in plan


def test_schema_evolution_merge(spark, tmp_path):
    """Files written under an older schema must read back alongside
    newer files: added columns surface as NULL on old rows, and a
    projection of only old columns is unaffected."""
    from kinesis_to_firehose_spark.sources.io import read_table_evolved

    path = str(tmp_path / "evolving")
    v1 = load(spark, "events", SF).select("event_id", "user_id")
    v1.write.mode("append").parquet(path)
    v2 = load(spark, "events", SF).select(
        "event_id", "user_id", F.col("value").alias("score")
    )
    v2.write.mode("append").parquet(path)

    merged = read_table_evolved(spark, path)
    assert set(merged.columns) == {"event_id", "user_id", "score"}
    n = v1.count()
    assert merged.count() == 2 * n
    # old files surface the new column as NULL
    assert merged.filter(F.col("score").isNull()).count() == n
    # old-column projection reads both generations
    assert merged.select("event_id").count() == 2 * n
    with pytest.raises(ValueError):
        read_table_evolved(spark, path, fmt="csv")


def test_rename_round_trip(spark, tmp_path):
    """Column-rename → write → read → rename-back round trip is
    lossless, and renaming an absent column raises."""
    from kinesis_to_firehose_spark.sources.io import rename_columns

    src = load(spark, "events", SF).select("event_id", "user_id", "value")
    renamed = rename_columns(src, {"event_id": "id", "value": "v"})
    assert renamed.columns == ["id", "user_id", "v"]
    path = str(tmp_path / "renamed")
    write_table(renamed, path, "parquet")
    back = rename_columns(
        read_table(spark, path, "parquet"), {"id": "event_id", "v": "value"}
    )
    assert set(back.columns) == {"event_id", "user_id", "value"}
    a = sorted(r["event_id"] for r in src.collect())
    b = sorted(r["event_id"] for r in back.collect())
    assert a == b
    with pytest.raises(ValueError):
        rename_columns(src, {"nope": "x"})


def test_rate_limited_counts_state_accumulates(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    write_source_slice(spark, SF, src_dir, n_files=2)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # 2 micro-batches
        .parquet(src_dir)
    )
    out = rate_limited_counts(stream, records_per_trigger=10)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM rate_out").collect()
    assert rows, "stateful operator produced no output"
    total_expected = load(spark, "events", SF).count()
    # final totals across shards == total records (state accumulated)
    final_totals = {}
    for r in rows:
        final_totals[r["shard"]] = max(
            final_totals.get(r["shard"], 0), r["total_records"]
        )
    assert sum(final_totals.values()) == total_expected
    # over_limit consistent with the per-trigger budget
    assert all(r["over_limit"] >= 0 for r in rows)
    assert any(r["over_limit"] > 0 for r in rows)  # sf0.001 shards exceed 10


def test_compact_table_hits_target_file_count(spark, tmp_path):
    """1 MiB target over a source scattered into 64 tiny files →
    output file count == ceil(source_bytes / target); all rows
    survive."""
    from kinesis_to_firehose_spark.sources.io import compact_table
    from kinesis_to_firehose_spark.sources.tables import load

    src = str(tmp_path / "scattered")
    dst = str(tmp_path / "compacted")
    events = load(spark, "events", "/root/testdata/sf0.01")
    events.repartition(64).write.mode("overwrite").parquet(src)

    import os

    src_bytes = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.startswith("part-")
    )
    target = 1024 * 1024
    n_out = compact_table(spark, src, dst, target_file_bytes=target)
    import math

    assert n_out == math.ceil(src_bytes / target)
    assert spark.read.parquet(dst).count() == events.count()
    n_src_files = len([f for f in os.listdir(src) if f.startswith("part-")])
    assert n_out < n_src_files


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


def test_snapshot_write_and_point_lookup(spark, tmp_path):
    """The persisted snapshot serves point lookups correctly, the key
    filter reaches the parquet scan (PushedFilters), and each key
    lives in exactly one file (the pruning property of the layout)."""
    from kinesis_to_firehose_spark.registry import all_ops
    from kinesis_to_firehose_spark.sources.bucketed import (
        snapshot_data_root,
        snapshot_lookup,
        write_snapshot,
    )

    path = str(tmp_path / "snap")
    snap = all_ops()["latest_per_key"].fn(spark, SF)
    write_snapshot(spark, snap, path, n_key_files=4)

    want = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in snap.collect()
        if r["user_id"] in {1, 5, 9}
    }
    looked = snapshot_lookup(spark, path, "user_id", [1, 5, 9], n_key_files=4)
    got = {
        r["user_id"]: (r["event_id"], r["value"]) for r in looked.collect()
    }
    assert got == want

    plan = looked._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "user_id" in plan
    # the _pid partition filter prunes whole dirs at planning time
    assert "PartitionFilters" in plan and "_pid" in plan

    # layout property: a key's rows are never split across files
    back = spark.read.parquet(snapshot_data_root(path)).select(
        "user_id", F.input_file_name().alias("f")
    )
    multi = (
        back.groupBy("user_id")
        .agg(F.countDistinct("f").alias("nf"))
        .filter(F.col("nf") > 1)
        .count()
    )
    assert multi == 0


def test_zorder_layout_prunes_2d_box_queries(spark, tmp_path):
    """Z-order clustering must let a 2-D box query skip files that a
    single-column (time-sorted) layout cannot: per-file min/max boxes
    are small in BOTH dimensions, and results are identical."""
    from kinesis_to_firehose_spark.sources.layout import (
        candidate_files_for_box,
        write_zorder,
    )

    e = load(spark, "events", "/root/testdata/sf0.01").select(
        "event_id", "user_id", "ts", "value",
        F.unix_timestamp("ts").alias("ts_s"),
    )
    n_files = 16
    z_path = str(tmp_path / "zorder")
    lin_path = str(tmp_path / "linear")
    write_zorder(e, "user_id", "ts_s", z_path, n_files=n_files)
    # linear comparison layout: sorted by time only
    (
        e.repartitionByRange(n_files, "ts_s")
        .sortWithinPartitions("ts_s")
        .write.mode("overwrite")
        .parquet(lin_path)
    )

    users = e.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    times = e.agg(F.min("ts_s"), F.max("ts_s")).collect()[0]
    u_mid = (users[0] + users[1]) // 2
    t_mid = (times[0] + times[1]) // 2
    # the z-order win case: narrow in the dimension the time-sorted
    # layout cannot serve (1/16 of users), wide in time (1/2) — a
    # "this user's recent history" query
    box = (
        u_mid, u_mid + max(1, (users[1] - users[0]) // 16),
        t_mid, times[1],
    )
    z_hit, z_total = candidate_files_for_box(
        spark, z_path, "user_id", "ts_s", box
    )
    l_hit, l_total = candidate_files_for_box(
        spark, lin_path, "user_id", "ts_s", box
    )
    assert z_total == l_total == n_files
    # time-sorted layout cannot prune on user_id: the box hits every
    # time-overlapping file; z-order must strictly beat it
    assert z_hit < l_hit, (z_hit, l_hit)

    # correctness: the same box filter returns identical rows
    def box_rows(path):
        df = spark.read.parquet(path)
        return sorted(
            r["event_id"]
            for r in df.filter(
                (F.col("user_id") >= box[0]) & (F.col("user_id") <= box[1])
                & (F.col("ts_s") >= box[2]) & (F.col("ts_s") <= box[3])
            ).collect()
        )

    assert box_rows(z_path) == box_rows(lin_path)


def test_snapshot_merge_targeted_touches_only_changed_dirs(spark, tmp_path):
    """A targeted merge must rewrite exactly the _pid partition dirs
    whose keys changed — byte-identical (file names + mtime + size)
    elsewhere — and land on the same content a full rewrite would."""
    import os

    from kinesis_to_firehose_spark.registry import all_ops
    from kinesis_to_firehose_spark.sources.bucketed import (
        snapshot_data_root,
        snapshot_merge_targeted,
        write_snapshot,
    )

    n = 8
    path = str(tmp_path / "snap")
    snap = all_ops()["latest_per_key"].fn(spark, SF)
    write_snapshot(spark, snap, path, n_key_files=n)

    def dir_state():
        root = snapshot_data_root(path)
        out = {}
        for d in os.listdir(root):
            if not d.startswith("_pid="):
                continue
            full = os.path.join(root, d)
            out[d] = sorted(
                (f, os.path.getmtime(os.path.join(full, f)),
                 os.path.getsize(os.path.join(full, f)))
                for f in os.listdir(full)
                if f.startswith("part-")
            )
        return out

    before = dir_state()
    assert len(before) > 1  # the merge has unaffected dirs to preserve

    # change two keys: bump their value via a fake newer event
    changed_keys = sorted(r["user_id"] for r in snap.collect())[:2]
    changes = (
        snap.filter(F.col("user_id").isin(changed_keys))
        .withColumn("value", F.col("value") + 1000.0)
        .localCheckpoint(eager=True)
    )
    pids = snapshot_merge_targeted(spark, path, changes, n_key_files=n)
    assert 0 < len(pids) <= 2

    after = dir_state()
    assert set(after) == set(before)
    changed_dirs = {d for d in before if before[d] != after[d]}
    assert changed_dirs == {f"_pid={p}" for p in pids}

    # content equals (old snapshot with those keys replaced)
    got = {
        r["user_id"]: r["value"]
        for r in spark.read.parquet(snapshot_data_root(path)).collect()
    }
    for r in snap.collect():
        if r["user_id"] in changed_keys:
            assert got[r["user_id"]] == r["value"] + 1000.0
        else:
            assert got[r["user_id"]] == r["value"]


@pytest.mark.parametrize("layout", ["dirs", "manifest"])
def test_snapshot_merge_crash_atomicity(spark, tmp_path, monkeypatch, layout):
    """Chaos: kill the merge at EVERY stage boundary and assert a
    reader never observes a half-written store — it sees exactly the
    pre-merge content before the meta flip and exactly the post-merge
    content after it — and that a retried merge always converges.
    Runs for both store layouts (versioned dirs and manifest)."""
    import os

    import kinesis_to_firehose_spark.sources.bucketed as B

    def mk_df(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_id long, value double"
        )

    base_rows = [(i, 100 + i, float(i)) for i in range(12)]
    change_rows = [(2, 900, 2222.0), (7, 901, 7777.0)]
    pre = {r[0]: (r[1], r[2]) for r in base_rows}
    post = dict(pre)
    for k, e, v in change_rows:
        post[k] = (e, v)

    class Boom(RuntimeError):
        pass

    def read_store(path):
        return {
            r["user_id"]: (r["event_id"], r["value"])
            for r in B.snapshot_read(spark, path).collect()
        }

    for crash_at in ["pre-build", "post-build", "pre-commit", "post-commit"]:
        path = str(tmp_path / f"snap-{crash_at}")
        B.write_snapshot(
            spark, mk_df(base_rows), path, n_key_files=4, layout=layout
        )
        assert read_store(path) == pre

        def boom(stage, _crash=crash_at):
            if stage == _crash:
                raise Boom(stage)

        monkeypatch.setattr(B, "_chaos_hook", boom)
        try:
            B.snapshot_merge_targeted(spark, path, mk_df(change_rows))
            raise AssertionError("chaos hook did not fire")
        except Boom:
            pass
        # the store is never half-written: before the meta flip the
        # reader sees the old version intact, after it the new one
        observed = read_store(path)
        assert observed in (pre, post), (crash_at, observed)
        if crash_at == "post-commit":
            assert observed == post

        # recovery: a retried merge (no faults) always converges
        monkeypatch.setattr(B, "_chaos_hook", lambda stage: None)
        B.snapshot_merge_targeted(spark, path, mk_df(change_rows))
        assert read_store(path) == post
        # and leaves exactly one committed version behind (dead builds
        # and stale versions / unreferenced files garbage-collected)
        meta = B._read_meta(path)
        leftovers = [
            d
            for d in os.listdir(path)
            if d.startswith("v=")
            or d.startswith(".build-")
            or d.startswith("manifest-v")
        ]
        if layout == "dirs":
            assert leftovers == [f"v={meta['version']}"], leftovers
        else:
            assert leftovers == [f"manifest-v{meta['version']}.json"], leftovers
            manifest = B._read_manifest(path, meta["version"])
            on_disk = {
                os.path.join(d, f)
                for d in os.listdir(os.path.join(path, "data"))
                for f in os.listdir(os.path.join(path, "data", d))
            }
            referenced = {
                rel for rels in manifest["entries"].values() for rel in rels
            }
            assert on_disk == referenced


def test_manifest_merge_carries_unchanged_files_untouched(spark, tmp_path):
    """Manifest layout: an epoch merge must leave unchanged
    partitions' FILES byte-identical (same names, same mtimes — no
    rewrite, no re-link) and only replace the changed partitions'
    manifest entries; point lookups read only the named partitions'
    files."""
    import os

    import kinesis_to_firehose_spark.sources.bucketed as B

    def mk_df(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_id long, value double"
        )

    n = 8
    path = str(tmp_path / "snap")
    base_rows = [(i, 100 + i, float(i)) for i in range(32)]
    B.write_snapshot(
        spark, mk_df(base_rows), path, n_key_files=n, layout="manifest"
    )
    meta = B._read_meta(path)
    m1 = B._read_manifest(path, meta["version"])["entries"]

    def file_state():
        out = {}
        for rels in B._read_manifest(path, B._read_meta(path)["version"])[
            "entries"
        ].values():
            for rel in rels:
                full = os.path.join(path, "data", rel)
                out[rel] = (os.path.getmtime(full), os.path.getsize(full))
        return out

    before = file_state()
    changes = mk_df([(3, 900, 3333.0)])
    pids = B.snapshot_merge_targeted(spark, path, changes)
    assert len(pids) == 1
    after = file_state()
    m2 = B._read_manifest(path, B._read_meta(path)["version"])["entries"]
    # unchanged pids: identical entries AND identical files on disk
    for p in m1:
        if int(p) not in pids:
            assert m2[p] == m1[p]
            for rel in m1[p]:
                assert after[rel] == before[rel]
    # changed pid: new file names (immutable store, no in-place write)
    for p in map(str, pids):
        assert set(m2[p]).isdisjoint(set(m1.get(p, [])))

    # content: equals base with the changed key replaced
    got = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in B.snapshot_read(spark, path).collect()
    }
    want = {r[0]: (r[1], r[2]) for r in base_rows}
    want[3] = (900, 3333.0)
    assert got == want

    # lookup prunes at the driver: only the named pids' files are read
    looked = B.snapshot_lookup(spark, path, "user_id", [3])
    files_read = {
        os.path.relpath(r["f"].replace("file://", ""), os.path.join(path, "data"))
        for r in looked.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    allowed = set(m2[str(pids[0])])
    assert files_read <= allowed, (files_read, allowed)
    assert {r["user_id"] for r in looked.collect()} == {3}


def test_zorder_rank_buckets_spread_skewed_dimension(spark, tmp_path):
    """On a heavily skewed dimension, equi-depth bucketization must
    use far more distinct buckets than linear min/max scaling (whose
    range is dominated by outliers), and the layout must still serve
    box queries correctly."""
    from kinesis_to_firehose_spark.sources.layout import (
        _bucket_expr,
        _rank_bucket_expr,
    )

    # skew: value**4 spreads 0..~1e12 with most mass near 0
    e = (
        load(spark, "events", "/root/testdata/sf0.01")
        .select("event_id", "user_id", (F.col("value") ** 4).alias("v"))
    )
    st = e.agg(F.min("v").alias("mn"), F.max("v").alias("mx")).collect()[0]
    linear = e.select(
        _bucket_expr("v", float(st["mn"]), float(st["mx"])).alias("b")
    )
    ranked = e.select(_rank_bucket_expr(e, "v").alias("b"))
    n_linear = linear.distinct().count()
    n_ranked = ranked.distinct().count()
    assert n_ranked > 2 * n_linear, (n_linear, n_ranked)
    # buckets stay in range
    mm = ranked.agg(F.min("b"), F.max("b")).collect()[0]
    assert 0 <= mm[0] and mm[1] <= 255


def test_zorder_3dim_prunes_third_dimension(spark, tmp_path):
    """A (user, time, value) 3-dim Morton layout must prune a
    value-band query that the 2-dim (user, time) layout cannot prune
    at all, while returning identical rows."""
    from kinesis_to_firehose_spark.sources.layout import (
        candidate_files_for_preds,
        write_zorder,
    )

    e = load(spark, "events", "/root/testdata/sf0.01").select(
        "event_id", "user_id", "value",
        F.unix_timestamp("ts").alias("ts_s"),
    )
    n_files = 16
    p2 = str(tmp_path / "z2")
    p3 = str(tmp_path / "z3")
    write_zorder(e, "user_id", "ts_s", p2, n_files=n_files)
    write_zorder(e, "user_id", "ts_s", p3, n_files=n_files, z="value")

    v = e.agg(F.min("value"), F.max("value")).collect()[0]
    # value is right-skewed: probe a HIGH band (top 30% of the range,
    # ~1% of rows) — rare rows the 3-dim layout isolates into few
    # files while the 2-dim layout scatters them across all of them
    band = (v[0] + (v[1] - v[0]) * 0.7, v[1])
    wide_u = e.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    wide_t = e.agg(F.min("ts_s"), F.max("ts_s")).collect()[0]
    preds = {
        "user_id": (wide_u[0], wide_u[1]),
        "ts_s": (wide_t[0], wide_t[1]),
        "value": band,
    }
    hit2, total2 = candidate_files_for_preds(spark, p2, preds)
    hit3, total3 = candidate_files_for_preds(spark, p3, preds)
    assert total2 == total3 == n_files
    # the 2-dim layout gets no say over value (any pruning it shows is
    # incidental correlation); the 3-dim layout must strictly beat it
    assert hit3 < hit2, (hit3, hit2)

    def band_rows(path):
        return sorted(
            r["event_id"]
            for r in spark.read.parquet(path)
            .filter((F.col("value") >= band[0]) & (F.col("value") <= band[1]))
            .collect()
        )

    assert band_rows(p3) == band_rows(p2)


def test_manifest_stats_sidecar_skips_files(spark, tmp_path):
    """Footer-stats sidecar: a band scan on a NON-key column must skip
    every file whose [min,max] range misses the band — at the driver,
    before any file is opened — and still return exactly the rows a
    full filtered read returns. Stats survive targeted merges."""
    import os

    import kinesis_to_firehose_spark.sources.bucketed as B

    n = 4
    path = str(tmp_path / "snap")
    # craft values so each partition file has a tight, distinct value
    # range: value = pid * 100 + jitter
    users = list(range(64))
    pid_of = {
        r["user_id"]: r["p"]
        for r in spark.createDataFrame([(u,) for u in users], "user_id long")
        .select("user_id", B._pid_expr("user_id", n).alias("p"))
        .collect()
    }
    rows = [
        (u, 100 + u, float(pid_of[u] * 100 + (u % 7))) for u in users
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double")
    B.write_snapshot(
        spark, df, path, n_key_files=n, layout="manifest",
        stats_cols=("value",),
    )
    meta = B._read_meta(path)
    man = B._read_manifest(path, meta["version"])
    assert man["stats"], "no stats recorded"
    for s in man["stats"].values():
        assert "value" in s

    # band covering only pid 2's values
    lo, hi = 195.0, 290.0
    scan = B.snapshot_scan(spark, path, "value", lo, hi)
    files_read = {
        os.path.relpath(
            r["f"].replace("file://", ""), os.path.join(path, "data")
        )
        for r in scan.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    overlapping = {
        rel
        for rel, s in man["stats"].items()
        if not (s["value"][1] < lo or s["value"][0] > hi)
    }
    assert files_read <= overlapping
    assert len(overlapping) < sum(len(v) for v in man["entries"].values())

    want = sorted(
        (r[0], r[1], r[2]) for r in rows if lo <= r[2] <= hi
    )
    got = sorted(
        (r["user_id"], r["event_id"], r["value"]) for r in scan.collect()
    )
    assert got == want

    # merge a change into one partition: stats refresh for its new
    # file, survive untouched elsewhere, and the scan stays correct
    B.snapshot_merge_targeted(
        spark, path, spark.createDataFrame(
            [(users[0], 999, 205.0)], "user_id long, event_id long, value double"
        )
    )
    man2 = B._read_manifest(path, B._read_meta(path)["version"])
    assert man2["stats"]
    got2 = {
        (r["user_id"], r["event_id"])
        for r in B.snapshot_scan(spark, path, "value", lo, hi).collect()
    }
    assert (users[0], 999) in got2


@pytest.mark.parametrize("layout", ["dirs", "manifest"])
def test_snapshot_time_travel_with_retention(spark, tmp_path, layout):
    """keep_versions=2: after a merge, version N-1 still reads the
    exact pre-merge content (immutable shared files) while the default
    read sees the merge; after a second merge the oldest version falls
    out of the window and reading it raises instead of silently
    returning different data."""
    import pytest as _pytest

    import kinesis_to_firehose_spark.sources.bucketed as B

    def mk_df(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_id long, value double"
        )

    def store(df):
        return {r["user_id"]: r["value"] for r in df.collect()}

    path = str(tmp_path / "snap")
    base_rows = [(i, 100 + i, float(i)) for i in range(12)]
    B.write_snapshot(
        spark, mk_df(base_rows), path, n_key_files=4,
        layout=layout, keep_versions=2,
    )
    v1 = B._read_meta(path)["version"]

    B.snapshot_merge_targeted(spark, path, mk_df([(3, 900, 3333.0)]))
    v2 = B._read_meta(path)["version"]
    assert v2 == v1 + 1
    # default read = merged; time travel = pre-merge, bit for bit
    assert store(B.snapshot_read(spark, path))[3] == 3333.0
    old = store(B.snapshot_read(spark, path, version=v1))
    assert old[3] == 3.0 and len(old) == 12
    # versioned point lookup sees the old value of the changed key
    got = B.snapshot_lookup(spark, path, "user_id", [3], version=v1).collect()
    assert [r["value"] for r in got] == [3.0]

    B.snapshot_merge_targeted(spark, path, mk_df([(7, 901, 7777.0)]))
    # window moved: v2 retained, v1 gone — and must say so loudly
    assert store(B.snapshot_read(spark, path, version=v2))[7] == 7.0
    assert store(B.snapshot_read(spark, path, version=v2))[3] == 3333.0
    with _pytest.raises(ValueError, match="not retained"):
        B.snapshot_read(spark, path, version=v1)
    with _pytest.raises(ValueError, match="not retained"):
        B.snapshot_lookup(spark, path, "user_id", [3], version=v1)


@pytest.mark.parametrize("layout", ["dirs", "manifest"])
def test_snapshot_schema_evolution_across_epochs(spark, tmp_path, layout):
    """An epoch that adds a column merges cleanly: unchanged rows read
    back with NULL in the new column, changed rows carry their value,
    lookups on both old and new keys see the evolved schema, the meta
    schema history records which columns each version has, and a
    time-travel read of the pre-evolution version still has the OLD
    schema."""
    import kinesis_to_firehose_spark.sources.bucketed as B

    path = str(tmp_path / "snap")
    base = spark.createDataFrame(
        [(i, 100 + i, float(i)) for i in range(8)],
        "user_id long, event_id long, value double",
    )
    B.write_snapshot(
        spark, base, path, n_key_files=4, layout=layout, keep_versions=2
    )
    v1 = B._read_meta(path)["version"]

    evolved = spark.createDataFrame(
        [(3, 900, 3333.0, "gold")],
        "user_id long, event_id long, value double, tier string",
    )
    B.snapshot_merge_targeted(spark, path, evolved)

    out = {r["user_id"]: r for r in B.snapshot_read(spark, path).collect()}
    assert out[3]["tier"] == "gold" and out[3]["value"] == 3333.0
    assert out[5]["tier"] is None and out[5]["value"] == 5.0

    look = B.snapshot_lookup(spark, path, "user_id", [3, 5]).collect()
    assert {r["user_id"]: r["tier"] for r in look} == {3: "gold", 5: None}

    meta = B._read_meta(path)
    hist = meta["schema_history"]
    assert "tier" not in hist[str(v1)] and "tier" in hist[str(v1 + 1)]

    old_cols = set(B.snapshot_read(spark, path, version=v1).columns)
    assert "tier" not in old_cols


@pytest.mark.parametrize("layout", ["dirs", "manifest"])
def test_snapshot_rebucket_preserves_content_and_versioned_lookups(
    spark, tmp_path, layout
):
    """Re-bucketing 4 → 8 dirs keeps content identical, later merges
    target the NEW bucket count, and a versioned lookup against the
    pre-rebucket epoch prunes with the OLD bucket count (or it would
    silently miss keys)."""
    import kinesis_to_firehose_spark.sources.bucketed as B

    path = str(tmp_path / "snap")
    base = spark.createDataFrame(
        [(i, 100 + i, float(i)) for i in range(16)],
        "user_id long, event_id long, value double",
    )
    B.write_snapshot(
        spark, base, path, n_key_files=4, layout=layout, keep_versions=2
    )
    v1 = B._read_meta(path)["version"]

    B.snapshot_rebucket(spark, path, 8)
    meta = B._read_meta(path)
    assert meta["n_key_files"] == 8
    assert meta["bucket_history"][str(v1)] == 4

    got = {
        r["user_id"]: r["value"]
        for r in B.snapshot_read(spark, path).collect()
    }
    assert got == {i: float(i) for i in range(16)}

    # every key findable at the current version (new count) AND at the
    # retained pre-rebucket version (old count)
    for version in (None, v1):
        vals = {
            r["user_id"]: r["value"]
            for r in B.snapshot_lookup(
                spark, path, "user_id", list(range(16)), version=version
            ).collect()
        }
        assert vals == got, f"version={version}"

    # merges after the rebucket use the new layout
    B.snapshot_merge_targeted(
        spark, path, spark.createDataFrame(
            [(3, 900, 3333.0)], "user_id long, event_id long, value double"
        )
    )
    assert B.snapshot_lookup(spark, path, "user_id", [3]).collect()[0][
        "value"
    ] == 3333.0


def test_export_corpus_partitioned_deterministic_with_manifest(
    spark, tmp_path
):
    """Corpus export: (split, lang) Hive partitions with deterministic
    file names, a manifest whose per-partition doc/token counts match
    both the files on disk and the curation summary, reads that prune
    on the partition columns, and a re-export that reproduces the
    identical tree."""
    import json
    import os

    from kinesis_to_firehose_spark.registry import all_ops
    from kinesis_to_firehose_spark.sources.export import (
        export_corpus,
        read_export,
    )

    out = str(tmp_path / "corpus")
    manifest = export_corpus(spark, SF, out)
    parts = manifest["partitions"]
    assert parts and all(
        k.startswith("split=") and "/lang=" in k for k in parts
    )
    # file names deterministic; every listed file exists
    for key, p in parts.items():
        assert p["files"] == [
            f"part-{i:05d}.parquet" for i in range(len(p["files"]))
        ]
        for f in p["files"]:
            assert os.path.isfile(os.path.join(out, key, f))

    # manifest totals == the registry's curate_to_splits summary
    summary = {
        (r["split"], r["lang"]): (r["n_docs"], r["total_tokens"])
        for r in all_ops()["curate_to_splits"].fn(spark, SF).collect()
    }
    got = {
        tuple(s.split("=")[1] for s in key.split("/")): (
            p["n_docs"],
            p["n_tokens"],
        )
        for key, p in parts.items()
    }
    assert got == summary

    # partition-pruned read returns exactly that partition's docs
    some_split, some_lang = next(iter(summary))
    n = read_export(spark, out, split=some_split, lang=some_lang).count()
    assert n == summary[(some_split, some_lang)][0]
    plan = read_export(
        spark, out, split=some_split, lang=some_lang
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "split" in plan

    # re-export: identical tree (names + manifest)
    manifest2 = export_corpus(spark, SF, out)
    assert manifest2 == manifest
    with open(os.path.join(out, "_manifest.json")) as f:
        assert json.load(f) == manifest

    # files_per_partition actually fans out (salted repartition): the
    # big train partitions must land in >1 file, and content is
    # unchanged
    out2 = str(tmp_path / "corpus2")
    m2 = export_corpus(spark, SF, out2, files_per_partition=2)
    assert any(
        len(p["files"]) == 2
        for key, p in m2["partitions"].items()
        if key.startswith("split=train")
    )
    assert {
        k: (p["n_docs"], p["n_tokens"]) for k, p in m2["partitions"].items()
    } == {
        k: (p["n_docs"], p["n_tokens"])
        for k, p in manifest["partitions"].items()
    }


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


def test_zorder_scan_driver_side_file_skipping(spark, tmp_path):
    """zorder_scan plans over only the footer-surviving files (fewer
    than the directory's total for a selective box), never opens the
    pruned ones, and returns exactly the full filtered read."""
    import os

    from kinesis_to_firehose_spark.sources.layout import (
        candidate_files_for_preds,
        write_zorder,
        zorder_scan,
    )

    e = (
        spark.read.parquet(f"{SF}/events.parquet")
        .withColumn("ts_s", F.unix_timestamp("ts").cast("double"))
        .select("event_id", "user_id", "ts_s", "value")
    )
    path = str(tmp_path / "z")
    write_zorder(e, "user_id", "ts_s", path, n_files=16)

    lo_u, hi_u = 10, 30
    ts_med = e.selectExpr("percentile(ts_s, 0.5)").first()[0]
    preds = {"user_id": (lo_u, hi_u), "ts_s": (ts_med, ts_med + 86400 * 3)}

    n_cand, n_total = candidate_files_for_preds(spark, path, preds)
    assert n_cand < n_total  # the box is genuinely selective

    df = zorder_scan(spark, path, preds)
    # planned files == the footer-surviving set, not the whole dir
    planned = {
        os.path.basename(f)
        for f in df.inputFiles()
    }
    assert len(planned) == n_cand

    full = (
        spark.read.parquet(path)
        .filter(
            (F.col("user_id") >= lo_u) & (F.col("user_id") <= hi_u)
            & (F.col("ts_s") >= preds["ts_s"][0])
            & (F.col("ts_s") <= preds["ts_s"][1])
        )
    )
    got = sorted(r["event_id"] for r in df.collect())
    want = sorted(r["event_id"] for r in full.collect())
    assert got == want and got


@pytest.mark.parametrize("layout", ["dirs", "manifest"])
def test_snapshot_diff_is_partition_skipping_and_exact(spark, tmp_path, layout):
    """snapshot_diff between retained versions: reports exactly the
    added/updated keys of the epoch, classifies a full-rewrite delete,
    and — the O(changed) guarantee — partitions whose file identity is
    shared across versions (manifest entry copies / hard-linked dirs)
    are excluded from the read set at the driver."""
    import kinesis_to_firehose_spark.sources.bucketed as B

    def mk_df(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_id long, value double"
        )

    path = str(tmp_path / "snap")
    n = 4
    base = [(i, 100 + i, float(i)) for i in range(16)]
    B.write_snapshot(
        spark, mk_df(base), path, n_key_files=n, layout=layout,
        keep_versions=3,
    )
    v1 = B._read_meta(path)["version"]

    # epoch: update key 3, insert key 100
    B.snapshot_merge_targeted(spark, path, mk_df([(3, 900, 3333.0), (100, 901, 42.0)]))
    v2 = B._read_meta(path)["version"]

    got = {r["user_id"]: r["change"] for r in B.snapshot_diff(spark, path, v1, v2).collect()}
    assert got == {3: "updated", 100: "added"}

    # the skipping claim: only the pids of the changed keys survive
    meta = B._read_meta(path)
    changed = B._diff_pid_files(path, meta, v1, v2)
    expected_pids = {
        r["p"]
        for r in mk_df([(3, 0, 0.0), (100, 0, 0.0)])
        .select(B._pid_expr("user_id", n).alias("p"))
        .collect()
    }
    assert set(changed) == expected_pids
    assert len(changed) < n + 1  # strictly fewer than all pids

    # identical versions diff to empty without reading anything
    assert B.snapshot_diff(spark, path, v2, v2).count() == 0

    # a second epoch dropping key 5 via full rewrite → 'deleted'
    rewrite = [r for r in base if r[0] not in (3, 5)] + [(3, 900, 3333.0), (100, 901, 42.0)]
    B.write_snapshot(spark, mk_df(rewrite), path)
    v3 = B._read_meta(path)["version"]
    got3 = {r["user_id"]: r["change"] for r in B.snapshot_diff(spark, path, v2, v3).collect()}
    assert got3 == {5: "deleted"}


def test_snapshot_diff_empty_result_keeps_key_type(spark, tmp_path):
    """An empty diff (identical versions) must carry the store's real
    key type — here a STRING key — from the recorded meta, so unions
    with non-empty diffs line up."""
    import kinesis_to_firehose_spark.sources.bucketed as B

    path = str(tmp_path / "snap")
    df = spark.createDataFrame(
        [(f"k{i}", float(i)) for i in range(8)], "sku string, value double"
    )
    B.write_snapshot(spark, df, path, key="sku", n_key_files=2, keep_versions=2)
    v1 = B._read_meta(path)["version"]
    out = B.snapshot_diff(spark, path, v1, v1)
    assert out.count() == 0
    assert dict(out.dtypes)["sku"] == "string"


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
        doc_band_keys(base, checkpoint=True),
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
        doc_band_keys(old, checkpoint=True),
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


def test_dedup_index_bloom_and_compaction(spark, tmp_path):
    """Operational half of the index: (1) the bloom sidecar OR-merges
    on append and the bloomed probe equals the plain probe
    bit-for-bit (no false negatives — every exact dup still caught);
    (2) compacting an epoch store to flat preserves probe results
    while collapsing the epoch dirs."""
    import os

    from kinesis_to_firehose_spark.sources.dedup_index import (
        attach_bloom,
        build_dedup_index,
        compact_dedup_index,
        probe_dedup_index,
        probe_dedup_index_bloomed,
        read_bloom,
    )

    sf = "/root/testdata/sf0.01"
    d = load(spark, "documents", sf).select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 10 > 1)
    b1 = d.filter(F.col("doc_id") % 10 == 1)
    b2 = d.filter(F.col("doc_id") % 10 == 0)

    # --- bloom on a flat store
    flat = str(tmp_path / "flat")
    build_dedup_index(spark, base, flat)
    attach_bloom(spark, base, flat)
    assert read_bloom(flat) is not None
    plain = [tuple(r) for r in probe_dedup_index(spark, b2, flat).collect()]
    bloomed = [
        tuple(r)
        for r in probe_dedup_index_bloomed(spark, b2, flat).collect()
    ]
    assert bloomed == plain
    # append b1 and OR its bloom in: dups of b1 members must be caught
    before = list(read_bloom(flat)["words"])
    build_dedup_index(spark, b1, flat, mode="append")
    attach_bloom(spark, b1, flat)
    after = read_bloom(flat)["words"]
    assert all((a & b) == b for a, b in zip(after, before))  # OR-merge
    plain2 = [tuple(r) for r in probe_dedup_index(spark, b2, flat).collect()]
    bloomed2 = [
        tuple(r)
        for r in probe_dedup_index_bloomed(spark, b2, flat).collect()
    ]
    assert bloomed2 == plain2

    # --- compaction of an epoch store
    ep = str(tmp_path / "ep")
    build_dedup_index(spark, base, ep, epoch=0)
    build_dedup_index(spark, b1, ep, epoch=1)
    want = [tuple(r) for r in probe_dedup_index(spark, b2, ep).collect()]
    n_files_before = sum(len(fs) for _, _, fs in os.walk(f"{ep}/fp"))
    compact_dedup_index(spark, ep)
    assert not any(
        e.startswith("epoch=") for e in os.listdir(f"{ep}/fp")
    )
    got = [tuple(r) for r in probe_dedup_index(spark, b2, ep).collect()]
    assert got == want
    n_files_after = sum(len(fs) for _, _, fs in os.walk(f"{ep}/fp"))
    assert n_files_after < n_files_before


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


def test_hilbert_layout_prunes_at_least_as_well_as_zorder(spark, tmp_path):
    """Hilbert-clustered files must prune 2-D box queries at least as
    well as the Morton layout on average (unit-step adjacency gives
    each file a tighter min/max box), with identical query results."""
    from kinesis_to_firehose_spark.sources.layout import (
        candidate_files_for_box,
        write_hilbert,
        write_zorder,
    )

    e = load(spark, "events", "/root/testdata/sf0.01").select(
        "event_id", "user_id", "ts", "value",
        F.unix_timestamp("ts").alias("ts_s"),
    )
    n_files = 16
    h_path = str(tmp_path / "hilbert")
    z_path = str(tmp_path / "zorder")
    write_hilbert(e, "user_id", "ts_s", h_path, n_files=n_files)
    write_zorder(e, "user_id", "ts_s", z_path, n_files=n_files)

    users = e.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    times = e.agg(F.min("ts_s"), F.max("ts_s")).collect()[0]
    u_span = users[1] - users[0]
    t_span = times[1] - times[0]
    boxes = [
        (
            users[0] + u_span * a // 8,
            users[0] + u_span * (a + 1) // 8,
            times[0] + t_span * b // 4,
            times[0] + t_span * (b + 2) // 4,
        )
        for a in (1, 4, 6)
        for b in (0, 2)
    ]
    h_hits = z_hits = 0
    for box in boxes:
        h, ht = candidate_files_for_box(spark, h_path, "user_id", "ts_s", box)
        z, zt = candidate_files_for_box(spark, z_path, "user_id", "ts_s", box)
        assert ht == zt == n_files
        h_hits += h
        z_hits += z
    assert h_hits <= z_hits, (h_hits, z_hits)

    # correctness: identical rows through either layout
    box = boxes[0]
    def rows(path):
        df = spark.read.parquet(path)
        return sorted(
            r["event_id"]
            for r in df.filter(
                (F.col("user_id") >= box[0]) & (F.col("user_id") <= box[1])
                & (F.col("ts_s") >= box[2]) & (F.col("ts_s") <= box[3])
            ).collect()
        )

    assert rows(h_path) == rows(z_path)


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
