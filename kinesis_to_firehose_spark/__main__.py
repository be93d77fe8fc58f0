"""CLI entrypoint — the engine drivable as an app, the way the
reference ships a runnable binary (main.go):

    python -m kinesis_to_firehose_spark list
    python -m kinesis_to_firehose_spark run q1_pricing_summary \
        --sf-dir /root/testdata/sf0.01 --limit 20 [--explain] [--json]
    python -m kinesis_to_firehose_spark oracle q1_pricing_summary

`list` prints every registered operator with its oracle status;
`run` executes one against the given testdata dir (table view or
JSON lines); `oracle` prints the op's DuckDB twin SQL. Exit code 2
for unknown ops, mirroring argparse conventions.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kinesis_to_firehose_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list registered operators")
    runp = sub.add_parser("run", help="run one operator")
    runp.add_argument("op")
    runp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    runp.add_argument("--limit", type=int, default=20)
    runp.add_argument("--explain", action="store_true")
    runp.add_argument("--json", action="store_true", dest="as_json")
    runp.add_argument("--cpus", type=int, default=None)
    orap = sub.add_parser("oracle", help="print an op's DuckDB SQL twin")
    orap.add_argument("op")
    conp = sub.add_parser(
        "consume",
        help="run the forwarder pipeline: stream source -> decode/"
        "enhance -> Firehose sink (the reference app's run mode)",
    )
    conp.add_argument("--source-dir", required=True)
    conp.add_argument(
        "--replay",
        action="store_true",
        help="read --source-dir through the kinesis_replay connector "
        "(shard JSONL logs) instead of the file simulator",
    )
    conp.add_argument("--output-root", required=True)
    conp.add_argument("--checkpoint-dir", required=True)
    conp.add_argument("--dead-letter-dir", default=None)
    conp.add_argument(
        "--aws",
        action="store_true",
        help="deliver every record to FIREHOSE_STREAM_NAME through "
        "boto3 PutRecordBatch (needs AWS credentials and the "
        "reference's env variables, streaming/config.py REQUIRED_ENV, "
        "which with --replay also set the read-rate limit and initial "
        "position; default is the local-directory Firehose simulator)",
    )
    conp.add_argument(
        "--once",
        action="store_true",
        help="process everything available, then exit (local runs); "
        "default keeps the 10 s production trigger running",
    )
    conp.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    if args.cmd == "consume":
        return _consume(args)

    from kinesis_to_firehose_spark.registry import all_ops

    ops = all_ops()
    if args.cmd == "list":
        for name in sorted(ops):
            kind = "oracle" if ops[name].sql is not None else "rows-only"
            print(f"{name}\t{kind}")
        return 0
    if args.op not in ops:
        print(f"unknown op: {args.op!r} (see `list`)", file=sys.stderr)
        return 2
    if args.cmd == "oracle":
        sql = ops[args.op].sql
        if sql is None:
            print(f"{args.op} has no SQL oracle (rows-only)", file=sys.stderr)
            return 1
        print(sql.strip())
        return 0

    from kinesis_to_firehose_spark.session import get_spark

    spark = get_spark(f"cli-{args.op}", cpus=args.cpus)
    df = ops[args.op].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.as_json:
        for r in df.limit(args.limit).collect():
            print(json.dumps(r.asDict(), default=str))
    else:
        df.show(args.limit, truncate=False)
    return 0


def _consume(args) -> int:
    """The forwarder run mode (reference main.go): stream source →
    decode/enhance → Firehose-protocol sink with checkpoint/resume.
    Local simulator transports by default; --aws swaps in the boto3
    PutRecordBatch transport behind the identical seam — nothing
    downstream changes. Its region, endpoint and delivery stream come
    from the reference's env surface, resolved before Spark starts so
    a missing variable fails at once (main.go:17-23); with --replay the
    same env sets the source's READ_RATE_LIMIT and initial position."""
    from kinesis_to_firehose_spark.streaming.pipeline import (
        PRODUCTION_TRIGGER,
        run_pipeline,
        run_pipeline_replay,
    )

    transport_factory = source_config = None
    if args.aws:
        from kinesis_to_firehose_spark.streaming.config import config_from_env
        from kinesis_to_firehose_spark.streaming.firehose import (
            Boto3FirehoseTransport,
        )

        cfg = config_from_env()
        transport_factory = lambda epoch: (  # noqa: E731
            Boto3FirehoseTransport.from_config(cfg)
        )
        source_config = cfg.source
    from kinesis_to_firehose_spark.session import get_spark

    spark = get_spark("kinesis-to-firehose-consume", cpus=args.cpus)
    # the parquet file source has no rate limit or initial position
    source_kwargs = {"source_config": source_config} if args.replay else {}
    run = run_pipeline_replay if args.replay else run_pipeline
    q = run(
        spark,
        args.source_dir,
        output_root=args.output_root,
        checkpoint_dir=args.checkpoint_dir,
        dead_letter_dir=args.dead_letter_dir,
        transport_factory=transport_factory,
        trigger_processing_time=None if args.once else PRODUCTION_TRIGGER,
        **source_kwargs,
    )
    if args.once:
        q.processAllAvailable()
        q.stop()
        return 0
    q.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
