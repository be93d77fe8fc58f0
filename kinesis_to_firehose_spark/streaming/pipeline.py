"""End-to-end streaming pipeline: Kinesis-shaped source → decode →
Firehose-shaped sink (the whole reference app, Spark-first).

Reference: main.go wires batchconsumer(Kinesis/KCL) → FirehoseSender.
Here one query, `_start_forwarder`, does decode_enhance + jsonl
serialization (all narrow, codegen) → foreachBatch Firehose sink with
checkpointing (KCL checkpoint ≅ Spark streaming checkpoint; both give
resume). What a resumed epoch delivers depends on the transport:
`LocalDirTransport` is replay-idempotent through deterministic file
names; Firehose under `--aws` is at-least-once, as the reference is
(KCL checkpoints after the send).

Only the source differs between the two entry points: `run_pipeline`
reads the parquet file-stream simulator (each dropped file ≅ a shard's
worth of records), `run_pipeline_replay` the `kinesis_replay` shard
logs. `drop_stats_stream` is the streaming form of the reference's
stats.go.

A real cluster deployment would swap the file source for the
spark-sql-kinesis connector — config surface kept in
KinesisSourceConfig, but constructing a reader from it here raises,
because the connector jar cannot be shipped in this environment.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_to_firehose_spark.functions.decode import decode_enhance, jsonl_line
from kinesis_to_firehose_spark.streaming.firehose import (
    BATCH_INTERVAL_S,
    firehose_foreach_batch,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@dataclass(frozen=True)
class KinesisSourceConfig:
    """Config surface of the reference consumer: env vars from
    launch/kinesis-to-firehose-log-archive.yml plus the KCL worker
    knobs from consumer.properties.template. Local runs map the
    micro-batch-shaping knobs onto the file-stream simulator; the
    connector itself needs the spark-sql-kinesis jar (not shippable
    here)."""

    stream_name: str
    region: str = "us-west-2"
    app_name: str = "kinesis-to-firehose-spark"  # applicationName (lease table)
    initial_position: str = "LATEST"  # TRIM_HORIZON | LATEST
    read_rate_limit: int | None = None  # READ_RATE_LIMIT (records/s/shard)
    max_records: int = 10000  # maxRecords per GetRecords call
    idle_time_between_reads_ms: int = 1000  # idleTimeBetweenReadsInMillis
    failover_time_ms: int = 10000  # failoverTimeMillis (lease takeover)

    def reader_options(self) -> dict[str, str]:
        """The full option map for the open-source spark-sql-kinesis
        connector (`.format("kinesis")`), derived from this config —
        the piece of the wiring that IS testable without the jar.
        Option names follow the qubole/spark-sql-kinesis surface."""
        from kinesis_to_firehose_spark.sources.kinesis_datasource import (
            INITIAL_POSITIONS,
        )

        # KCL initial position → connector starting position, matched
        # case-insensitively as the replay reader does
        position = self.initial_position.upper()
        if position not in INITIAL_POSITIONS:
            raise ValueError(
                f"initial_position {self.initial_position!r} is not one "
                "of: " + ", ".join(INITIAL_POSITIONS)
            )
        opts = {
            "streamName": self.stream_name,
            "endpointUrl": f"https://kinesis.{self.region}.amazonaws.com",
            "awsUseInstanceProfile": "true",
            "startingPosition": position.lower(),
            # maxRecords per GetRecords call (consumer.properties)
            "kinesis.executor.maxFetchRecordsPerShard": str(self.max_records),
            # idleTimeBetweenReadsInMillis → fetch wait
            "kinesis.executor.maxFetchTimeInMs": str(
                self.idle_time_between_reads_ms
            ),
            "kinesis.client.describeShardInterval": str(self.failover_time_ms),
        }
        if self.read_rate_limit is not None:
            # READ_RATE_LIMIT records/s/shard ≈ records per 1s fetch
            opts["kinesis.executor.maxFetchRecordsPerShard"] = str(
                min(self.max_records, self.read_rate_limit)
            )
        return opts

    def reader(self, spark: SparkSession):
        """Build the connector reader. The options wiring is real; only
        `.load()` can fail here, because the spark-sql-kinesis jar is
        not shippable in this environment — the error says so instead
        of surfacing a bare ClassNotFound."""
        stream_reader = spark.readStream.format("kinesis")
        for k, v in self.reader_options().items():
            stream_reader = stream_reader.option(k, v)
        try:
            return stream_reader.load()
        except Exception as exc:
            raise RuntimeError(
                "The spark-sql-kinesis connector jar is not available in "
                "this environment; use file_stream_source() locally or add "
                "the connector jar on a real cluster."
            ) from exc

    def replay_options(self) -> dict[str, str]:
        """Map the reference's consumer knobs onto the kinesis_replay
        data source: initialPositionInStream passes through verbatim,
        and READ_RATE_LIMIT (records/s/shard, main.go:52) becomes the
        per-trigger admission cap using the KCL read cadence
        (idleTimeBetweenReadsInMillis) as the records/s → records/
        trigger conversion."""
        opts = {"initialPosition": self.initial_position}
        if self.read_rate_limit is not None:
            per_trigger = max(
                1,
                self.read_rate_limit
                * self.idle_time_between_reads_ms
                // 1000,
            )
            opts["maxRecordsPerShardPerTrigger"] = str(per_trigger)
        return opts


def file_stream_source(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Local Kinesis simulator: a directory where each new parquet file
    is a micro-batch of records (≅ shard get-records pages)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def decoded_stream(events: DataFrame) -> DataFrame:
    """Decode + serialize, producing (stream, line) delivery rows.

    stream tag = event_type: local transports keep one directory per
    type, to exercise multi-stream routing like kbc's []string tags.
    The boto3 transport built from the env config sends every tag to
    FIREHOSE_STREAM_NAME, the one stream of firehose_sender.go:75."""
    d = decode_enhance(events)
    return d.select(
        F.col("event_type").alias("stream"),
        jsonl_line(d).alias("line"),
        "ts",
    )


# Production trigger cadence — the reference's BatchInterval (main.go:48)
# is the outer bound on delivery latency; a processingTime trigger is
# Spark's equivalent knob, and the only place the interval applies.
# Tests pass trigger_processing_time=None so processAllAvailable()
# drains micro-batches back-to-back.
PRODUCTION_TRIGGER = f"{BATCH_INTERVAL_S:g} seconds"


def _start_forwarder(
    events: DataFrame,
    output_root: str,
    checkpoint_dir: str,
    dead_letter_dir: str | None,
    transport_factory,
    trigger_processing_time: str | None,
):
    """The one forwarder query, whatever the source: decode/serialize →
    Firehose sink with checkpoint/resume. Returns the StreamingQuery."""
    # native observability channel: per-micro-batch record/byte counts
    # surface in every progress event's observedMetrics (the
    # throughput signal the reference scrapes from its KCL worker
    # logs), computed inside the running plan — no second scan.
    delivery = decoded_stream(events).observe(
        "delivery_metrics",
        F.count(F.lit(1)).alias("records"),
        F.sum(F.length("line") + 1).alias("line_bytes"),
    )
    sink = firehose_foreach_batch(
        output_root,
        dead_letter_dir=dead_letter_dir,
        transport_factory=transport_factory,
    )
    writer = delivery.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_processing_time is not None:
        writer = writer.trigger(processingTime=trigger_processing_time)
    return writer.start()


def run_pipeline(
    spark: SparkSession,
    source_dir: str,
    output_root: str,
    checkpoint_dir: str,
    dead_letter_dir: str | None = None,
    transport_factory=None,
    trigger_processing_time: str | None = None,
):
    """The forwarder over the parquet file-stream simulator. Callers
    use q.processAllAvailable() for deterministic local runs; a real
    deployment passes trigger_processing_time=PRODUCTION_TRIGGER so
    micro-batches fire on the reference's 10 s cadence."""
    return _start_forwarder(
        file_stream_source(spark, source_dir),
        output_root,
        checkpoint_dir,
        dead_letter_dir,
        transport_factory,
        trigger_processing_time,
    )


def run_pipeline_replay(
    spark: SparkSession,
    replay_dir: str,
    output_root: str,
    checkpoint_dir: str,
    dead_letter_dir: str | None = None,
    transport_factory=None,
    source_config: KinesisSourceConfig | None = None,
    trigger_processing_time: str | None = None,
):
    """The forwarder fronted by the REAL connector surface:
    format("kinesis_replay") (shard-parallel reads, per-shard
    sequence-number offsets) → JSON payload decode. This is the closest
    local analogue of the production wiring (KCL shard consumer →
    ProcessMessage → Firehose, main.go:49-56): swap the replay
    directory for the AWS transport and nothing downstream changes."""
    from kinesis_to_firehose_spark.sources.kinesis_datasource import (
        register_replay_source,
    )

    register_replay_source(spark)
    reader = spark.readStream.format("kinesis_replay").option(
        "path", replay_dir
    )
    if source_config is not None:
        # initialPositionInStream + READ_RATE_LIMIT enforcement,
        # derived from the same env surface the reference consumes
        for k, v in source_config.replay_options().items():
            reader = reader.option(k, v)
    events = reader.load().select(
        F.from_json(F.col("data"), EVENT_SCHEMA).alias("e")
    ).select("e.*")
    return _start_forwarder(
        events,
        output_root,
        checkpoint_dir,
        dead_letter_dir,
        transport_factory,
        trigger_processing_time,
    )


def drop_stats_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Streaming drop-stats (stats.go): 1-minute tumbling window counts
    of dropped records by app/level, with a watermark for late data."""
    src = file_stream_source(spark, source_dir, max_files_per_trigger)
    dropped = src.filter(
        ~F.col("event_type").isin("click", "view", "purchase", "signup")
    )
    # same fallback semantics as the batch op (stats.go:49-56):
    # missing app → _UNKNOWN_, missing level → debug
    app = F.coalesce(
        F.when(F.col("value") >= 5, F.col("event_type")), F.lit("_UNKNOWN_")
    )
    level = F.coalesce(
        F.when(F.col("value") < 50, F.lit("warning")).when(
            F.col("value") < 90, F.lit("critical")
        ),
        F.lit("debug"),
    )
    return (
        dropped.withColumn("level", level)
        .withColumn("container_app", app)
        .withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "1 minute").alias("minute"),
            "container_app",
            "level",
        )
        .agg(F.count("*").alias("n_dropped"))
    )


def write_source_slice(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> None:
    """Split the events table into n parquet files to feed the file
    stream simulator."""
    from kinesis_to_firehose_spark.sources.tables import load

    os.makedirs(out_dir, exist_ok=True)
    (
        load(spark, "events", sf_dir)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(out_dir)
    )

