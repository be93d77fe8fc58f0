"""Registry entries that drive the STREAMING pipeline end-to-end
(SURVEY.md §2.1 checkpoint_resume / kinesis_replay_source).

Each op physically runs Structured Streaming against temp dirs and
returns a small result DataFrame summarizing what was delivered —
so the driver's correctness gate exercises the streaming path, not
just batch queries. `checkpoint_resume` runs the forwarder over the
file source (run, stop, resume); `kinesis_replay_source` reads the
`kinesis_replay` source. Both summaries have exact SQL oracles
(delivery is loss-free over `events`).

Only such ops belong here: `registry.streaming_op_names()` is the set
of ops this module registers, which have no static batch plan to
digest and are left out of the bench's timed set.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_to_firehose_spark.registry import register
from kinesis_to_firehose_spark.streaming.firehose import read_delivered
from kinesis_to_firehose_spark.streaming.pipeline import (
    run_pipeline,
    write_source_slice,
)

STREAMS = ("click", "view", "purchase", "signup", "error")

COUNTS_BY_STREAM_SQL = """
SELECT event_type AS stream, COUNT(*) AS n_delivered
FROM events
GROUP BY event_type
ORDER BY stream
"""


def _delivered_counts(spark: SparkSession, root: str) -> DataFrame:
    data = [(s, len(read_delivered(root, s))) for s in STREAMS]
    return spark.createDataFrame(data, "stream string, n_delivered long").orderBy(
        "stream"
    )


@register("checkpoint_resume", COUNTS_BY_STREAM_SQL)
def checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the pipeline, stop it, restart from the same checkpoint with
    no new input: delivered counts must be unchanged (exactly-once).
    Oracle is the same per-type counts — any duplicate delivery on the
    resumed run breaks the match."""
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        write_source_slice(spark, sf_dir, src, n_files=2)
        q = run_pipeline(spark, src, out, ckpt)
        q.processAllAvailable()
        q.stop()
        q2 = run_pipeline(spark, src, out, ckpt)  # resume, no new data
        q2.processAllAvailable()
        q2.stop()
        return _delivered_counts(spark, out)


@register("kinesis_replay_source", "SELECT COUNT(*) AS n_records FROM events")
def kinesis_replay_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table through the REAL connector surface —
    the `kinesis_replay` Python Data Source (one partition per shard,
    per-shard sequence-number offsets) — and count records: every
    record surfaces exactly once through format("kinesis_replay").
    The producer half routes by user_id (Kinesis partition-key
    semantics: one user's records stay shard-ordered)."""
    from kinesis_to_firehose_spark.sources.kinesis_datasource import (
        register_replay_source,
        write_replay_slices_distributed,
    )
    from kinesis_to_firehose_spark.sources.tables import load

    register_replay_source(spark)
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
        # executor-side slice write — no record crosses the driver;
        # (ts, event_id) is the events table's arrival order, so each
        # user's records land shard-ordered as the docstring promises
        write_replay_slices_distributed(
            spark, records, src, n_shards=4, order_cols=("ts", "event_id")
        )
        name = "kinesis_replay_smoke"
        q = (
            spark.readStream.format("kinesis_replay")
            .option("path", src)
            .load()
            .groupBy()
            .agg(F.count("*").alias("n_records"))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.table(name)
