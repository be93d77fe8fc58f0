"""Per-op physical-plan digest (SURVEY round-5 candidate 5).

`plan_digest(df)` reduces a physical plan to the counts that decide
100 TB behavior: exchanges (shuffles), broadcast exchanges, join
strategies, parquet scans, codegen spans, and the two scale-killers
(cartesian / broadcast-nested-loop). `write_digest()` sweeps every
batch op in the registry and writes PLAN_DIGEST.json at the repo
root — a committed artifact that makes plan regressions diffable
round-over-round the same way BASELINE.md makes wall-time
regressions diffable: a new Exchange in q5 or a SortMergeJoin
appearing where a broadcast used to be shows up as a one-line JSON
diff in review.

Run: python -m kinesis_to_firehose_spark.plans.digest
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame

from kinesis_to_firehose_spark.plans.explain import physical_plan

_COUNTERS = {
    "exchanges": "Exchange",
    "broadcast_exchanges": "BroadcastExchange",
    "sort_merge_joins": "SortMergeJoin",
    "broadcast_hash_joins": "BroadcastHashJoin",
    "shuffled_hash_joins": "ShuffledHashJoin",
    "file_scans": "FileScan",
    "cartesian_products": "CartesianProduct",
    "nested_loop_joins": "BroadcastNestedLoopJoin",
}


def plan_digest(df: DataFrame) -> dict[str, int]:
    plan = physical_plan(df)
    out = {k: plan.count(tok) for k, tok in _COUNTERS.items()}
    # BroadcastExchange rows also contain "Exchange"; report shuffle
    # exchanges as the difference so the headline number is shuffles
    out["exchanges"] -= out["broadcast_exchanges"]
    out["codegen_spans"] = plan.count("*(")
    return out


def digest_all(spark, sf_dir: str) -> dict[str, dict[str, int]]:
    from kinesis_to_firehose_spark.registry import all_ops, streaming_op_names

    # streaming ops have no static batch plan to digest
    streaming = streaming_op_names()
    out: dict[str, dict[str, int]] = {}
    for name, op in sorted(all_ops().items()):
        if name in streaming:
            continue
        out[name] = plan_digest(op.fn(spark, sf_dir))
    return out


def write_digest(
    path: str | None = None, sf_dir: str = "/root/testdata/sf0.01"
) -> str:
    from kinesis_to_firehose_spark.session import get_spark

    if path is None:
        path = str(Path(__file__).resolve().parents[2] / "PLAN_DIGEST.json")
    spark = get_spark("plan-digest", cpus=8)
    digest = digest_all(spark, sf_dir)
    with open(path, "w") as f:
        json.dump(digest, f, indent=1, sort_keys=True)
        f.write("\n")
    return path


if __name__ == "__main__":
    print(write_digest())
