"""Time named ops exactly like bench.py (best-of-N in one session):
an untimed count gives the row count, then each timed run writes the
op's full result to the noop sink.

Usage: python tools/time_ops.py [--reps 3] op1,op2,...
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kinesis_to_firehose_spark.registry import all_ops
from kinesis_to_firehose_spark.session import get_spark

import os

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    # argparse (ADVICE r12): flag values used to be skipped from the
    # positional op list by string equality — an op named like a flag
    # value was silently dropped from the timing set.
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("ops", nargs="+", help="op names (comma-separable)")
    args = ap.parse_args()
    names = [n for part in args.ops for n in part.split(",") if n]
    spark = get_spark("time-ops")
    ops = all_ops()

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    # warm the session like bench.py does
    ops["q1_pricing_summary"].fn(spark, SF_DIR).count()
    for name in names:
        n = ops[name].fn(spark, SF_DIR).count()
        spark.sparkContext._jvm.System.gc()
        best, runs = None, 0
        for _ in range(args.reps):
            t0 = time.perf_counter()
            run(ops[name].fn(spark, SF_DIR))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            runs += 1
        while best < 1.0 and runs < 5:
            t0 = time.perf_counter()
            run(ops[name].fn(spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
            runs += 1
        print(f"{name}: {best:.3f}s rows={n}")
    spark.stop()


if __name__ == "__main__":
    main()
