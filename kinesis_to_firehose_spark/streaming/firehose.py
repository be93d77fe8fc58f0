"""Firehose-style delivery sink for Structured Streaming.

Re-expresses the reference sender (/root/reference/sender/
firehose_sender.go) in Spark's execution model. Each of the
reference's delivery rules has one home:

- ProcessMessage → the decode/serialize columns happen upstream in
  the streaming DataFrame (JVM-side, codegen), not per record here.
- SendBatch (firehose_sender.go:96-134): per-record failure retry
  with 250 ms × 2ⁿ backoff, ≤ MAX_RETRIES rounds, then a
  PartialSendBatchError carrying the still-failed records — which the
  caller writes to the dead-letter directory (main.go FailedLogsFile).
  This is `send_batch`.
- Batch bounds (main.go:50-53): ≤ BATCH_COUNT records and
  ≤ BATCH_SIZE bytes per PutRecordBatch call, in `deliver_partition`.
- BatchInterval (main.go:48, BATCH_INTERVAL_S): the micro-batch
  trigger (`pipeline.PRODUCTION_TRIGGER`). A micro-batch partition is
  a fixed offset range and flushes every open batch at its end, so
  the sink keeps no timer of its own.
- WithMaxRetries(10) (firehose_sender.go:48): the botocore client
  config of `Boto3FirehoseTransport`. A raised transport call is a
  whole-call failure that aborts the task; the epoch then replays.

Spark mapping: the unit of delivery parallelism is the partition —
`foreachPartition` workers each run the batch/retry loop against the
transport, so delivery scales with the number of partitions instead
of a single consumer process. Replay: foreachBatch gives the sink
the epoch id; the default transport and the dead-letter writer both
use epoch/task-scoped file names, so a replayed epoch overwrites
rather than duplicates. `Boto3FirehoseTransport` re-sends a replayed
epoch, so Firehose delivery is at-least-once, as in the reference.

The transport is injectable: `LocalDirTransport` (the default, one
directory per stream), `Boto3FirehoseTransport` (PutRecordBatch,
`consume --aws`), or the tests' flaky and failing fakes.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

BATCH_COUNT = 500  # main.go:51
BATCH_SIZE = 4 * 1024 * 1024  # main.go:52 (4 MiB)
BATCH_INTERVAL_S = 10.0  # main.go:48, the micro-batch trigger cadence
# firehose_sender.go:125 checks `retries > 4` AFTER each resend, so the
# reference runs 6 backoff rounds (250 ms .. 8 s) before giving up.
MAX_RETRIES = 6
BASE_DELAY_S = 0.25  # firehose_sender.go:98 (250 ms)


class CatastrophicSendBatchError(RuntimeError):
    """Whole-call failure (firehose_sender.go:100) — abort the task."""


@dataclass
class PartialSendBatchError(RuntimeError):
    """Retries exhausted; carries the records still failing
    (firehose_sender.go:126-130)."""

    message: str
    failed_records: list[bytes]

    def __str__(self) -> str:  # pragma: no cover
        return f"{self.message} ({len(self.failed_records)} records)"


# A transport takes (records, stream_name) and returns indices of the
# records that failed (empty list = full success). Mirrors
# PutRecordBatch's per-record RequestResponses.
Transport = Callable[[list[bytes], str], list[int]]


class LocalDirTransport:
    """Simulated Firehose delivery stream: each PutRecordBatch call
    appends one file of newline-terminated records under
    <root>/<stream>/. File names carry (epoch, task, seq) so replayed
    epochs are idempotent (same name → overwrite) — PROVIDED task_id is
    deterministic across replays; firehose_foreach_batch derives it
    from the Spark partition id. The uuid fallback is only for ad-hoc
    direct use where no replay exists."""

    def __init__(self, root: str, epoch_id: int = 0, task_id: str | None = None):
        self.root = root
        self.epoch_id = epoch_id
        self.task_id = task_id or uuid.uuid4().hex[:8]
        self.seq = 0

    def __call__(self, records: list[bytes], stream: str) -> list[int]:
        d = os.path.join(self.root, stream)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(
            d, f"epoch={self.epoch_id:08d}-task={self.task_id}-{self.seq:06d}.jsonl"
        )
        self.seq += 1
        with open(path, "wb") as f:
            for r in records:
                f.write(r)
        return []


class Boto3FirehoseTransport:
    """The REAL AWS delivery seam: Firehose PutRecordBatch behind the
    same Transport protocol every fake implements (reference:
    firehose_sender.go:47-52, `firehose.New(sess)` + PutRecordBatch at
    :96-134). Wiring a production deployment is exactly what
    `consume --aws` does:

        cfg = config_from_env()
        transport_factory = lambda epoch: (
            Boto3FirehoseTransport.from_config(cfg))

    and every other layer (500-record/4 MiB batch planning, the
    250 ms × 2^n partial resend loop, drop stats, dead letters)
    applies unchanged, because this class speaks the same contract:
    return the indices of failed records, raise on API-call failure.
    The boto3 client is built lazily from the standard AWS
    region/credential chain — or injected (`client=`), which is how
    the tests exercise the request/response mapping with no network.

    The reference builds its client `WithMaxRetries(10).WithEndpoint(...)`
    (firehose_sender.go:47-50, endpoint from FIREHOSE_AWS_ENDPOINT via
    main.go:59). Both live in the botocore client config and nowhere
    else: botocore retries a throttled or 5xx call up to
    max_attempts=10, and the call raises only once those are spent
    (send_batch then aborts the task with CatastrophicSendBatchError).
    `from_config` plumbs region and endpoint from the resolved
    PipelineEnvConfig.

    `delivery_stream`, when set, names the one Firehose stream every
    batch goes to, whatever its per-type tag: the reference sends to
    FIREHOSE_STREAM_NAME only (firehose_sender.go:75), and
    `from_config` sets it from there."""

    # firehose_sender.go:48 WithMaxRetries(10): the SDK retry budget
    # for throttling/5xx on the PutRecordBatch call itself — distinct
    # from send_batch's per-RECORD partial-failure resend loop.
    MAX_API_RETRIES = 10

    def __init__(
        self,
        client=None,
        region_name: str | None = None,
        endpoint_url: str | None = None,
        max_attempts: int = MAX_API_RETRIES,
        boto3_module=None,
        delivery_stream: str | None = None,
    ):
        self._client = client
        self._region = region_name
        self._endpoint = endpoint_url
        self._max_attempts = max_attempts
        self._boto3 = boto3_module
        self._delivery_stream = delivery_stream

    @classmethod
    def from_config(cls, cfg, client=None):
        """Build from a resolved PipelineEnvConfig — region, endpoint
        and delivery stream exactly as the reference wires them
        (main.go:46-60)."""
        return cls(
            client=client,
            region_name=cfg.firehose_region,
            endpoint_url=cfg.firehose_endpoint,
            delivery_stream=cfg.firehose_stream,
        )

    def client_kwargs(self) -> dict:
        """kwargs for boto3.client('firehose', **kwargs)."""
        from botocore.config import Config  # noqa: PLC0415

        retries = {"max_attempts": self._max_attempts, "mode": "standard"}
        kw: dict = {"config": Config(retries=retries)}
        if self._region is not None:
            kw["region_name"] = self._region
        if self._endpoint is not None:
            kw["endpoint_url"] = self._endpoint
        return kw

    def _cli(self):
        if self._client is None:
            boto3 = self._boto3
            if boto3 is None:
                try:
                    import boto3  # noqa: PLC0415 — optional dependency
                except ImportError as exc:  # pragma: no cover — env-bound
                    raise RuntimeError(
                        "Boto3FirehoseTransport needs boto3 (pip install "
                        "boto3) or an injected client"
                    ) from exc
            self._client = boto3.client("firehose", **self.client_kwargs())
        return self._client

    def __call__(self, records: list[bytes], stream: str) -> list[int]:
        resp = self._cli().put_record_batch(
            DeliveryStreamName=self._delivery_stream or stream,
            Records=[{"Data": r} for r in records],
        )
        return [
            i
            for i, rr in enumerate(resp.get("RequestResponses", []))
            if rr.get("ErrorCode")
        ]


@dataclass
class SendStats:
    batches: int = 0
    records: int = 0
    bytes: int = 0
    retried_records: int = 0
    dead_letters: int = 0
    backoff_schedule: list[float] = field(default_factory=list)


def plan_batches(
    records: Iterable[bytes],
    batch_count: int = BATCH_COUNT,
    batch_size: int = BATCH_SIZE,
) -> Iterator[list[bytes]]:
    """Greedy arrival-order batching under count+size bounds — the
    sequential semantics of kbc's flush conditions (main.go:50-53)."""
    batch: list[bytes] = []
    size = 0
    for r in records:
        if batch and (len(batch) >= batch_count or size + len(r) > batch_size):
            yield batch
            batch, size = [], 0
        batch.append(r)
        size += len(r)
    if batch:
        yield batch


def send_batch(
    transport: Transport,
    batch: list[bytes],
    stream: str,
    stats: SendStats | None = None,
    sleep: Callable[[float], None] = time.sleep,
    max_retries: int = MAX_RETRIES,
    base_delay_s: float = BASE_DELAY_S,
) -> None:
    """Deliver one batch with the reference's retry loop
    (firehose_sender.go:96-134): resend only the failed records,
    doubling the delay each round; raise PartialSendBatchError with
    the survivors after max_retries rounds."""
    stats = stats if stats is not None else SendStats()
    try:
        failed_idx = transport(batch, stream)
    except PartialSendBatchError:
        raise
    except Exception as exc:  # whole-call failure
        raise CatastrophicSendBatchError(str(exc)) from exc

    stats.batches += 1
    stats.records += len(batch)
    stats.bytes += sum(len(r) for r in batch)

    retries = 0
    delay = base_delay_s
    pending = [batch[i] for i in failed_idx]
    while pending:
        if retries >= max_retries:
            stats.dead_letters += len(pending)
            raise PartialSendBatchError(
                f"Too many retries failed to put records -- stream: {stream}",
                pending,
            )
        stats.backoff_schedule.append(delay)
        sleep(delay)
        stats.retried_records += len(pending)
        try:
            failed_idx = transport(pending, stream)
        except Exception as exc:
            raise CatastrophicSendBatchError(str(exc)) from exc
        pending = [pending[i] for i in failed_idx]
        retries += 1
        delay *= 2


def deliver_partition(
    rows: Iterable,
    stream_col: str,
    line_col: str,
    make_transport: Callable[[], Transport],
    dead_letter_dir: str | None,
    sleep: Callable[[float], None] = time.sleep,
    dead_letter_scope: str | None = None,
) -> SendStats:
    """Per-partition delivery loop: group arriving rows by stream tag
    into bounded batches, send each with retries, write exhausted
    failures to the dead-letter directory (main.go FailedLogsFile).
    Every open batch flushes at the end of the partition.

    Each exhausted batch gets its own file, named by
    `dead_letter_scope` (the epoch and task) plus a sequence number, so
    a replayed epoch or retried task overwrites its dead letters
    instead of appending them twice. Without a scope the name carries
    a random id, as LocalDirTransport does for ad-hoc use.

    A row whose line is null (a payload the decode could not parse) is
    dropped, as the reference drops a record it cannot process. The
    check is here rather than a filter in the plan, where Spark would
    build each line twice: once for the filter, once for the output."""
    transport = make_transport()
    stats = SendStats()
    scope = dead_letter_scope or uuid.uuid4().hex[:8]
    dead_letter_seq = 0
    # per-stream open batches: (records, bytes)
    open_batches: dict[str, tuple[list[bytes], int]] = {}

    def flush(stream: str, batch: list[bytes]) -> None:
        nonlocal dead_letter_seq
        try:
            send_batch(transport, batch, stream, stats, sleep)
        except PartialSendBatchError as exc:
            name = f"failed-{stream}-{scope}-{dead_letter_seq:06d}.log"
            dead_letter_seq += 1
            _write_dead_letters(dead_letter_dir, name, exc.failed_records)

    for row in rows:
        line = row[line_col]
        if line is None:
            continue
        stream = row[stream_col]
        rec = (line + "\n").encode("utf-8")
        batch, size = open_batches.get(stream, ([], 0))
        if batch and (
            len(batch) >= BATCH_COUNT or size + len(rec) > BATCH_SIZE
        ):
            flush(stream, batch)
            batch, size = [], 0
        batch.append(rec)
        open_batches[stream] = (batch, size + len(rec))
    for stream, (batch, _) in open_batches.items():
        flush(stream, batch)
    return stats


def _write_dead_letters(
    dead_letter_dir: str | None, name: str, records: list[bytes]
) -> None:
    if dead_letter_dir is None:
        return
    os.makedirs(dead_letter_dir, exist_ok=True)
    with open(os.path.join(dead_letter_dir, name), "wb") as f:
        for r in records:
            f.write(r)


def firehose_foreach_batch(
    output_root: str,
    stream_col: str = "stream",
    line_col: str = "line",
    dead_letter_dir: str | None = None,
    transport_factory: Callable[[int], Transport] | None = None,
):
    """Build a foreachBatch(df, epoch_id) callable delivering each
    micro-batch through the Firehose protocol. Partition-parallel.

    The guarantee depends on the transport. With LocalDirTransport
    (the default) a replayed epoch rewrites the same epoch- and
    partition-scoped file names, so replay is idempotent. Through a
    `transport_factory` such as Boto3FirehoseTransport (`--aws`) a
    replayed epoch re-sends its PutRecordBatch calls and Firehose keeps
    both copies: at-least-once, as in the reference, where KCL
    checkpoints after the send."""

    def _sink(df, epoch_id: int) -> None:
        def _run(it):
            # Deterministic task id from the partition id: a replayed
            # epoch (or a task retry after a partial write) regenerates
            # the SAME (epoch, task, seq) file names and overwrites
            # instead of duplicating — a random id would break replay
            # idempotence exactly when it matters.
            from pyspark import TaskContext

            tc = TaskContext.get()
            task_id = f"p{tc.partitionId():05d}" if tc is not None else "p00000"
            if transport_factory is not None:
                make = lambda: transport_factory(epoch_id)  # noqa: E731
            else:
                make = lambda: LocalDirTransport(  # noqa: E731
                    output_root, epoch_id, task_id=task_id
                )
            deliver_partition(
                it, stream_col, line_col, make, dead_letter_dir,
                dead_letter_scope=f"epoch={epoch_id:08d}-task={task_id}",
            )

        df.select(stream_col, line_col).foreachPartition(_run)

    return _sink


def read_delivered(root: str, stream: str) -> list[dict]:
    """Read back everything delivered to a simulated stream dir."""
    d = os.path.join(root, stream)
    if not os.path.isdir(d):
        return []
    out: list[dict] = []
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            for ln in f.read().splitlines():
                if ln.strip():
                    out.append(json.loads(ln))
    return out
