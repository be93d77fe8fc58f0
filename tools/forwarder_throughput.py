"""End-to-end forwarder throughput: the mandate's "match-or-beat the
reference's single-node throughput" clause, measured directly.

Drives the full reference-parity pipeline — file-stream Kinesis
simulator -> decode/enhance -> canonical JSONL -> bounded Firehose
batches (500 records / 4 MiB) -> LocalDirTransport sink with
checkpointing — over the sf0.1 events feed (100k records by default;
--mult N replays the feed N times for a longer run) and reports
records/sec and MiB/sec of delivered JSONL, plus the batch-path
compute ceiling (decode+serialize+byte-count over a static DataFrame,
no streaming machinery).

Context for the anchor: the reference is a single-process Go KCL
relay whose per-record work is one JSON decode, field enhancement,
one JSON encode, and batched PutRecordBatch calls; its throughput on
one node is bounded by that single pipeline loop plus the 500-record
batch cap (sender/firehose_sender.go:62-76, main.go:50-53). This
measurement runs the same per-record work with the same batch bounds
through Spark's streaming engine on local[n].

Usage: python tools/forwarder_throughput.py [--mult N] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from kinesis_to_firehose_spark.session import get_spark
from kinesis_to_firehose_spark.sources.tables import load

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--mult", type=int, default=1, help="replay the events feed N times"
    )
    ap.add_argument("--out", default="FORWARDER_THROUGHPUT.json")
    args = ap.parse_args()
    mult, out_path = args.mult, args.out
    spark = get_spark("forwarder-throughput")
    from kinesis_to_firehose_spark.streaming.pipeline import (
        decoded_stream,
        run_pipeline,
    )

    work = tempfile.mkdtemp(prefix="fwd_bench.")
    src = f"{work}/src"
    ev = load(spark, "events", SF_DIR)
    if mult > 1:
        ev = ev.crossJoin(spark.range(mult).select(F.lit(1).alias("_m")))
        ev = ev.drop("_m")
    n_records = ev.count()
    # 25 slice files ~ the shard get-records pages the simulator models
    ev.repartition(25).write.mode("overwrite").parquet(src)

    # ---- batch-path compute ceiling: decode+serialize+byte count,
    # no streaming machinery, no sink IO
    t0 = time.perf_counter()
    row = (
        decoded_stream(spark.read.parquet(src))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("line") + 1).alias("bytes"),
        )
        .collect()[0]
    )
    batch_s = time.perf_counter() - t0
    assert row["n"] == n_records
    jsonl_bytes = int(row["bytes"])

    # ---- full streaming pipeline with the Firehose sink
    out, ck = f"{work}/out", f"{work}/ck"
    t0 = time.perf_counter()
    q = run_pipeline(spark, src, out, ck, dead_letter_dir=f"{work}/dl")
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    stream_s = time.perf_counter() - t0

    import glob

    delivered = 0
    for f_name in glob.glob(f"{out}/**/*.jsonl", recursive=True):
        with open(f_name, "rb") as fh:
            delivered += sum(1 for ln in fh if ln.strip())
    assert delivered == n_records, (delivered, n_records)

    result = {
        "records": n_records,
        "jsonl_mib": round(jsonl_bytes / 2**20, 1),
        "batch_path": {
            "seconds": round(batch_s, 2),
            "records_per_sec": round(n_records / batch_s),
            "mib_per_sec": round(jsonl_bytes / 2**20 / batch_s, 1),
        },
        "streaming_pipeline": {
            "seconds": round(stream_s, 2),
            "records_per_sec": round(n_records / stream_s),
            "mib_per_sec": round(jsonl_bytes / 2**20 / stream_s, 1),
        },
    }
    shutil.rmtree(work, ignore_errors=True)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(result, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
