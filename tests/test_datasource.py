"""`kinesis_replay` Python Data Source contract (SURVEY §2.1):
shard-parallel batch reads, micro-batch streaming with per-shard
sequence-number offsets, and checkpointed resume with no re-delivery
— the Spark-4-native connector surface for the reference's KCL
consumer (main.go:49-56), minus only the AWS transport.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from kinesis_to_firehose_spark.sources.kinesis_datasource import (
    register_replay_source,
    shard_for_key,
    write_replay_slices,
)

N_SHARDS = 4


def _records(lo, hi):
    return [(f"key-{i}", f"payload-{i}") for i in range(lo, hi)]


def _drain(q):
    q.processAllAvailable()


def test_batch_read_is_shard_parallel(spark, tmp_path):
    """All records come back; reader parallelism == shard count; the
    sequence numbers are per-shard contiguous from 0."""
    d = str(tmp_path / "stream")
    write_replay_slices(d, _records(0, 200), n_shards=N_SHARDS)
    register_replay_source(spark)
    df = spark.read.format("kinesis_replay").option("path", d).load()
    rows = df.collect()
    assert len(rows) == 200
    assert {r["data"] for r in rows} == {f"payload-{i}" for i in range(200)}
    # routing matches the producer's md5 routing
    for r in rows:
        assert r["shard_id"] == f"shard-{shard_for_key(r['partition_key'], N_SHARDS)}"
    # per-shard sequence numbers contiguous from 0
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r["sequence_number"])
    for seqs in by_shard.values():
        assert sorted(seqs) == list(range(len(seqs)))
    # one task per shard
    nparts = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert nparts == N_SHARDS


def test_stream_delivers_increments_and_resumes(spark, tmp_path):
    """New appends arrive in later micro-batches; a restart from the
    checkpoint re-delivers nothing (per-shard offsets are the
    KCL-checkpoint analogue)."""
    d = str(tmp_path / "stream")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    write_replay_slices(d, _records(0, 50), n_shards=N_SHARDS)
    register_replay_source(spark)

    def start():
        return (
            spark.readStream.format("kinesis_replay")
            .option("path", d)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = start()
    try:
        _drain(q)
        got = spark.read.parquet(out)
        assert got.count() == 50
        # append → next micro-batch picks up exactly the delta
        write_replay_slices(d, _records(50, 80), n_shards=N_SHARDS)
        _drain(q)
        assert spark.read.parquet(out).count() == 80
    finally:
        q.stop()
        q.awaitTermination()

    # restart with NO new data: nothing re-delivered
    q = start()
    try:
        _drain(q)
        assert spark.read.parquet(out).count() == 80
        # append after restart: only the delta arrives
        write_replay_slices(d, _records(80, 100), n_shards=N_SHARDS)
        _drain(q)
        final = spark.read.parquet(out)
        assert final.count() == 100
        assert final.select("data").distinct().count() == 100
    finally:
        q.stop()
        q.awaitTermination()


def test_full_pipeline_through_replay_connector(spark, tmp_path):
    """The reference pipeline fronted by the connector: events →
    replay shards → format("kinesis_replay") stream → decode/enhance →
    Firehose sink; per-stream delivered counts equal the batch
    ground truth, and a checkpointed restart re-delivers nothing."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.sources.tables import load
    from kinesis_to_firehose_spark.streaming.firehose import read_delivered
    from kinesis_to_firehose_spark.streaming.pipeline import (
        run_pipeline_replay,
    )

    sf = "/root/testdata/sf0.001"
    d = str(tmp_path / "stream")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    ev = load(spark, "events", sf).select(
        "user_id",
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type", "value", "props")
        ).alias("data"),
    )
    write_replay_slices(
        d, [(str(r["user_id"]), r["data"]) for r in ev.collect()], n_shards=N_SHARDS
    )
    expected = {
        r["event_type"]: r["n"]
        for r in load(spark, "events", sf)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    q = run_pipeline_replay(spark, d, out, ck)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    got = {s: len(read_delivered(out, s)) for s in expected}
    assert got == expected

    # restart from the checkpoint with no new data: exactly-once
    q2 = run_pipeline_replay(spark, d, out, ck)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()
    got2 = {s: len(read_delivered(out, s)) for s in expected}
    assert got2 == expected


def test_torn_tail_line_is_deferred_until_terminated(spark, tmp_path):
    """A producer caught mid-append (no trailing newline) must not
    surface the torn record; once the newline lands, the record
    arrives whole in the next batch."""
    import json
    import os

    d = str(tmp_path / "stream")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    write_replay_slices(d, [("k1", "complete-1")], n_shards=1)
    # simulate a mid-append flush: half a JSON line, no newline
    torn = json.dumps({"pk": "k2", "data": "torn-record"})
    fp = os.path.join(d, "shard-0.jsonl")
    with open(fp, "a") as f:
        f.write(torn[: len(torn) // 2])
    register_replay_source(spark)
    q = (
        spark.readStream.format("kinesis_replay")
        .option("path", d)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        _drain(q)
        got = {r["data"] for r in spark.read.parquet(out).collect()}
        assert got == {"complete-1"}  # torn record withheld, no crash
        # producer finishes the append
        with open(fp, "a") as f:
            f.write(torn[len(torn) // 2 :] + "\n")
        _drain(q)
        got = {r["data"] for r in spark.read.parquet(out).collect()}
        assert got == {"complete-1", "torn-record"}
    finally:
        q.stop()
        q.awaitTermination()


def _consumer_first_stream(spark, tmp_path, **options):
    """Start a stream before the producer creates the directory: it
    must idle (not fail), then deliver each of the 20 records written
    afterwards exactly once, within the admission cap if one is set."""
    d = str(tmp_path / "not-yet")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    register_replay_source(spark)
    reader = spark.readStream.format("kinesis_replay").option("path", d)
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        _drain(q)  # no dir at all: idles, no exception
        assert q.isActive
        write_replay_slices(d, _records(0, 20), n_shards=2)
        _drain(q)
        got = spark.read.parquet(out)
        assert got.count() == 20
        assert {r["data"] for r in got.collect()} == {
            f"payload-{i}" for i in range(20)
        }
        cap = options.get("maxRecordsPerShardPerTrigger")
        if cap is not None:
            rows = [p["numInputRows"] for p in q.recentProgress]
            assert max(rows) <= 2 * int(cap), rows  # 2 shards
    finally:
        q.stop()
        q.awaitTermination()


def test_consumer_first_stream_idles_until_shards_appear(spark, tmp_path):
    """A stream started before the producer creates the directory must
    idle (not fail) and pick up records once shards appear."""
    _consumer_first_stream(spark, tmp_path)


def test_consumer_first_latest_reads_shards_born_after_start(
    spark, tmp_path
):
    """Under LATEST, a shard first seen after the run's first poll
    holds only post-start records, so it is read from its start:
    Kinesis LATEST skips records written before the consumer started,
    not shards created after it. Nothing written after the start is
    lost, and the new shards' first offers respect the admission cap
    (a shard positioned at its end would offer its whole log at once)."""
    _consumer_first_stream(
        spark,
        tmp_path,
        initialPosition="LATEST",
        maxRecordsPerShardPerTrigger="3",
    )


def test_unknown_initial_position_is_rejected(tmp_path):
    """initialPosition comes from outside (KINESIS_INITIAL_POSITION):
    a typo fails at reader construction, naming the bad value and the
    accepted ones, instead of replaying the whole stream as
    TRIM_HORIZON. The value is case-insensitive."""
    import pytest

    from kinesis_to_firehose_spark.sources.kinesis_datasource import (
        KinesisReplayStreamReader,
    )

    d = str(tmp_path / "stream")
    with pytest.raises(ValueError, match=r"'LASTEST'.*TRIM_HORIZON, LATEST"):
        KinesisReplayStreamReader({"path": d, "initialposition": "LASTEST"})
    r = KinesisReplayStreamReader({"path": d, "initialposition": "latest"})
    assert r.initial_position == "LATEST"


def test_latest_initial_position_skips_history(spark, tmp_path):
    """initialPositionInStream=LATEST (consumer.properties.template →
    KINESIS_INITIAL_POSITION): a consumer with no checkpoint starts at
    the stream HEAD — pre-existing records never surface, post-start
    appends do, and a checkpointed restart resumes normally (the KCL
    lease table overrides the configured position once it exists)."""
    d = str(tmp_path / "stream")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    write_replay_slices(d, _records(0, 50), n_shards=N_SHARDS)
    register_replay_source(spark)

    def start():
        return (
            spark.readStream.format("kinesis_replay")
            .option("path", d)
            .option("initialPosition", "LATEST")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = start()
    try:
        _drain(q)
        # history invisible: nothing delivered yet
        import os

        assert not os.path.exists(out) or (
            spark.read.parquet(out).count() == 0
        )
        # post-start records are the first thing the stream sees
        write_replay_slices(d, _records(50, 70), n_shards=N_SHARDS)
        _drain(q)
        got = spark.read.parquet(out)
        assert got.count() == 20
        assert {r["data"] for r in got.collect()} == {
            f"payload-{i}" for i in range(50, 70)
        }
    finally:
        q.stop()
        q.awaitTermination()

    # restart: the checkpoint (not LATEST) decides the resume point
    write_replay_slices(d, _records(70, 90), n_shards=N_SHARDS)
    q = start()
    try:
        _drain(q)
        final = spark.read.parquet(out)
        assert final.count() == 40  # 50..90, each exactly once
        assert final.select("data").distinct().count() == 40
    finally:
        q.stop()
        q.awaitTermination()


def test_read_rate_limit_enforced_per_trigger(spark, tmp_path):
    """READ_RATE_LIMIT (main.go:52) ENFORCED at the source: with
    maxRecordsPerShardPerTrigger=5 no micro-batch admits more than 5
    records per shard, and the stream still drains the full backlog
    (totals match) — the maxOffsetsPerTrigger analogue."""
    d = str(tmp_path / "stream")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    # single shard so per-batch numInputRows == per-shard admission
    write_replay_slices(d, [("k", f"p{i}") for i in range(23)], n_shards=1)
    register_replay_source(spark)
    q = (
        spark.readStream.format("kinesis_replay")
        .option("path", d)
        .option("maxRecordsPerShardPerTrigger", "5")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        _drain(q)
        got = spark.read.parquet(out)
        assert got.count() == 23
        assert got.select("data").distinct().count() == 23
        batch_rows = [
            p["numInputRows"] for p in q.recentProgress if p["numInputRows"]
        ]
        assert batch_rows, "expected at least one non-empty micro-batch"
        assert max(batch_rows) <= 5  # admission cap held on EVERY trigger
        assert sum(batch_rows) == 23
    finally:
        q.stop()
        q.awaitTermination()

    # restart safety: a cold poll cache must NOT re-deliver (the cap
    # never applies to an unknown position — uncapped catch-up scan)
    write_replay_slices(d, [("k", f"p{i}") for i in range(23, 33)], n_shards=1)
    q = (
        spark.readStream.format("kinesis_replay")
        .option("path", d)
        .option("maxRecordsPerShardPerTrigger", "5")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        _drain(q)
        final = spark.read.parquet(out)
        assert final.count() == 33
        assert final.select("data").distinct().count() == 33
    finally:
        q.stop()
        q.awaitTermination()


def test_distributed_slice_write_order_is_deterministic(spark, tmp_path):
    """write_replay_slices_distributed pins in-shard record order
    (ADVICE r6 #4): two writes of the same shuffled input produce
    byte-identical shard files, and with order_cols the per-key order
    is the declared arrival order — so assigned sequence numbers are
    reproducible run to run."""
    from kinesis_to_firehose_spark.sources.kinesis_datasource import (
        write_replay_slices_distributed,
    )

    rows = [(f"k{i % 7}", f"d{i:04d}", i) for i in range(500)]
    df = spark.createDataFrame(
        rows, "pk string, data string, seq long"
    ).repartition(16)

    def files(tag, order):
        p = str(tmp_path / tag)
        write_replay_slices_distributed(
            spark, df, p, n_shards=N_SHARDS, order_cols=order
        )
        return {
            s: open(f"{p}/shard-{s}.jsonl").read() for s in range(N_SHARDS)
        }

    a = files("a", ("seq",))
    b = files("b", ("seq",))
    assert a == b, "same input must produce identical shard files"
    # arrival order: within every shard, seq strictly increases
    import json as _json

    for content in a.values():
        seqs = [
            int(_json.loads(line)["data"][1:])
            for line in content.splitlines()
        ]
        assert seqs == sorted(seqs)
    # default (no order_cols) is still deterministic
    assert files("c", ()) == files("d", ())


def test_replay_options_derive_from_env_surface():
    """KinesisSourceConfig.replay_options maps the reference env knobs
    onto the simulator: initial position passes through; READ_RATE_LIMIT
    records/s/shard × idleTimeBetweenReadsInMillis → records/trigger."""
    from kinesis_to_firehose_spark.streaming.pipeline import (
        KinesisSourceConfig,
    )

    cfg = KinesisSourceConfig(
        stream_name="s",
        initial_position="LATEST",
        read_rate_limit=100,
        idle_time_between_reads_ms=1000,
    )
    opts = cfg.replay_options()
    assert opts["initialPosition"] == "LATEST"
    assert opts["maxRecordsPerShardPerTrigger"] == "100"
    # sub-second cadence scales the per-trigger budget down
    cfg2 = KinesisSourceConfig(
        stream_name="s",
        read_rate_limit=100,
        idle_time_between_reads_ms=250,
    )
    assert cfg2.replay_options()["maxRecordsPerShardPerTrigger"] == "25"
    # no rate limit → no admission cap option at all
    cfg3 = KinesisSourceConfig(stream_name="s", read_rate_limit=None)
    assert "maxRecordsPerShardPerTrigger" not in cfg3.replay_options()


def test_per_shard_lag_surfaces_in_progress_events(spark, tmp_path):
    """KCL MillisBehindLatest twin (round-10 verdict task 6): plant a
    lagging shard by capping per-trigger admission below one shard's
    record count, and assert the per-shard records-behind-latest
    backlog shows up in progress events next to observedMetrics — then
    drains to zero by the final batch."""
    from kinesis_to_firehose_spark.sources.kinesis_datasource import (
        records_behind_latest,
        shard_lag_listener,
    )

    d = str(tmp_path / "stream")
    # all keys routed to ONE shard → that shard holds all 40 records
    keys = [f"key-{i}" for i in range(200)]
    hot = [k for k in keys if shard_for_key(k, N_SHARDS) == 0][:1]
    assert hot, "need at least one key routing to shard-0"
    write_replay_slices(
        d, [(hot[0], f"payload-{i}") for i in range(40)], n_shards=N_SHARDS
    )
    register_replay_source(spark)

    # unit surface first: an un-consumed stream lags by its full count
    assert records_behind_latest(d, {}) == {
        f"shard-{i}": (40 if i == 0 else 0) for i in range(N_SHARDS)
    }
    # half-consumed [line, byte] offsets count only the unread delta
    import os as _os

    fp = _os.path.join(d, "shard-0.jsonl")
    with open(fp, "rb") as f:
        first = f.readline()
    assert records_behind_latest(d, {"shard-0": [1, len(first)]})[
        "shard-0"
    ] == 39

    listener = shard_lag_listener(d)
    spark.streams.addListener(listener)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    try:
        q = (
            spark.readStream.format("kinesis_replay")
            .option("path", d)
            .option("maxRecordsPerShardPerTrigger", "10")
            .load()
            .observe("lag_probe", F.count(F.lit(1)).alias("records"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            _drain(q)
        finally:
            q.stop()
            q.awaitTermination()
        # listener delivery is async: wait for a drained-tail event
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            if any(
                e["shard_lag"].get("shard-0") == 0 for e in listener.events
            ):
                break
            time.sleep(0.2)
        lags = [
            e["shard_lag"]["shard-0"]
            for e in listener.events
            if "shard-0" in e["shard_lag"]
        ]
        # the admission cap (10/trigger over 40 records) forces
        # intermediate batches to report a nonzero backlog...
        assert any(lag > 0 for lag in lags), lags
        # ...monotone non-increasing as the stream catches up, to 0
        assert min(lags) == 0, lags
        # and the same events carry the observe() metrics alongside
        with_obs = [
            e
            for e in listener.events
            if e["shard_lag"].get("shard-0", -1) >= 0
            and "lag_probe" in e["observed"]
        ]
        assert with_obs, listener.events
        assert any(e["observed"]["lag_probe"]["records"] > 0 for e in with_obs)
        assert spark.read.parquet(out).count() == 40
    finally:
        spark.streams.removeListener(listener)
