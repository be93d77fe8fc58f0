"""sf0.1 streaming soak (round-7 verdict task 8) — CI-optional.

Run with `python -m pytest -m soak tests/test_soak.py`; the default
suite skips it (conftest gates on the -m expression). One test drives
the forwarder over the sf0.1 events with chaos (transient per-record
transport failures, a mid-run crash, and a checkpoint restart),
asserting exactly-once delivery: kinesis_replay → decode/enhance →
the Firehose sink, admission cap 125 records/shard/trigger → ~200
triggers over 100k records, flaky transport + one crash + resume.
"""

from __future__ import annotations

import json
import os

import pytest

SF = "/root/testdata/sf0.1"

pytestmark = pytest.mark.soak


def test_soak_forwarder_exactly_once(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.sources.kinesis_datasource import (
        write_replay_slices_distributed,
    )
    from kinesis_to_firehose_spark.sources.tables import load
    from kinesis_to_firehose_spark.streaming.firehose import (
        LocalDirTransport,
        read_delivered,
    )
    from kinesis_to_firehose_spark.streaming.pipeline import (
        KinesisSourceConfig,
        run_pipeline_replay,
    )

    d = str(tmp_path / "stream")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    dl = str(tmp_path / "dl")
    crash_marker = str(tmp_path / "crashed-once")

    ev = load(spark, "events", SF)
    n_events = ev.count()
    feed = ev.select(
        F.col("user_id").cast("string").alias("pk"),
        F.to_json(
            F.struct(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            )
        ).alias("data"),
    )
    write_replay_slices_distributed(
        spark, feed, d, n_shards=4, order_cols=("ts", "event_id")
    )

    class ChaosTransport:
        """Every 11th record (content hash) fails its first attempt;
        one global crash mid-run, marker-gated so the resumed run is
        crash-free."""

        def __init__(self, epoch_id: int):
            self.epoch = epoch_id
            self._inner = None
            self._failed_once: set[bytes] = set()

        def __call__(self, records, stream):
            from pyspark import TaskContext

            if self._inner is None:
                tc = TaskContext.get()
                tid = (
                    f"p{tc.partitionId():05d}" if tc is not None else "p00000"
                )
                self._inner = LocalDirTransport(out, self.epoch, task_id=tid)
            failed = [
                i
                for i, r in enumerate(records)
                if hash(r) % 11 == 0 and r not in self._failed_once
            ]
            self._failed_once.update(records[i] for i in failed)
            ok = [r for i, r in enumerate(records) if i not in set(failed)]
            self._inner(ok, stream)
            # crash once, mid-run (after ~1/4 of the feed delivered)
            if self.epoch > 40 and not os.path.exists(crash_marker):
                with open(crash_marker, "w") as f:
                    f.write("1")
                raise ConnectionError("chaos: transport died mid-epoch")
            return failed

    cfg = KinesisSourceConfig(
        stream_name="soak",
        initial_position="TRIM_HORIZON",
        read_rate_limit=125,  # × 1s cadence → 125 records/shard/trigger
    )

    def start():
        return run_pipeline_replay(
            spark, d, out, ck, dead_letter_dir=dl,
            transport_factory=ChaosTransport, source_config=cfg,
        )

    q = start()
    with pytest.raises(StreamingQueryException, match="chaos"):
        q.processAllAvailable()
        q.awaitTermination()
    assert os.path.exists(crash_marker), "the chaos crash never fired"

    q = start()
    try:
        q.processAllAvailable()
        progress = q.lastProgress
        n_batches = progress["batchId"]
    finally:
        q.stop()
        q.awaitTermination()
    assert n_batches >= 150, f"only {n_batches} triggers"

    expected: dict[str, set] = {}
    for r in feed.collect():
        rec = json.loads(r["data"])
        expected.setdefault(rec["event_type"], set()).add(rec["event_id"])
    total_delivered = 0
    for stream_tag, ids in expected.items():
        got = read_delivered(out, stream_tag)
        assert len(got) == len(ids), (
            f"{stream_tag}: delivered {len(got)} != expected {len(ids)}"
        )
        assert {g["event_id"] for g in got} == ids
        total_delivered += len(got)
    assert total_delivered == n_events
    assert not os.path.isdir(dl) or not os.listdir(dl), "dead letters"
