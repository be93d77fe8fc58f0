.DEFAULT_GOAL := test
SHELL := /bin/bash
SF_DIR ?= /root/testdata/sf0.1
SEED ?= 1
TRACE ?= 0

.PHONY: test parity parity-sf1 parity-sf3 bench bench-sf1 scale-curve scale-curve-sf10 build-curve-sf30 perfbench digest image judge

test:
	python -m pytest tests/ -x -q

# all-oracle Spark-vs-DuckDB hash parity; stamps PARITY_SWEEP.json
# (the pre-commit hook and pytest refuse operator edits over a stale
# stamp — see tools/parity_stamp.py)
parity:
	python regress.py --parity --all --budget 120

# budget 300: the slowest KNOWN-good sf1 oracle (dedup_edit_distance,
# the all-pairs-in-block Levenshtein definition) costs ~190 s on an
# idle host — 150 falsely timed it out in round 7
parity-sf1:
	python regress.py --parity --all --sf-dir .testdata/sf1 --budget 300

# third-decade parity exposure (r8 verdict task 6): the SCALE_CURVE
# heavy-op subset, oracle-checked at sf3. Stamped into
# PARITY_SWEEP.json as a named-subset (partial) sweep. Budget 2400:
# the readable-definition DuckDB oracles are intentionally quadratic
# (all-pairs-in-block levenshtein ~9x its ~190 s sf1 cost).
parity-sf3:
	python regress.py --parity --sf-dir .testdata/sf3 --budget 2400 \
	  --ops $$(python -c "from tools.scale_curve import CURVE_OPS; print(','.join(CURVE_OPS))")

bench:
	python bench.py | python regress.py -

# sf1 per-op bench anchor (Spark side only): writes BENCH_SF1.json,
# then checks every op against the 10x row-growth scale envelope
bench-sf1:
	SPARK_GRAFT_SF_DIR=.testdata/sf1 SPARK_GRAFT_BENCH_REPEATS=2 \
	SPARK_GRAFT_BENCH_OUT=BENCH_SF1.json python bench.py >/dev/null
	python regress.py --scale BENCH_SF1.json

# two-decade curvature probe for the heavy ops (sf1 vs sf3): writes
# SCALE_CURVE.json with per-op time alpha + output alpha
scale-curve:
	python tools/gen_scale.py /root/testdata/sf0.1 .testdata/sf1 10
	python tools/gen_scale.py /root/testdata/sf0.1 .testdata/sf3 30
	python tools/scale_curve.py

# fourth-decade envelope (Spark side only, no oracles): the 5 heaviest
# main-stanza ops re-timed at sf3 -> sf10, appended to SCALE_CURVE.json
scale-curve-sf10:
	python tools/gen_scale.py /root/testdata/sf0.1 .testdata/sf10 100
	python tools/scale_curve.py --sf10

# fifth-decade BUILD-cost probe for the corpus-store dedup plans
# (documents-only sf30 slice — facts nothing there reads are skipped):
# does the MAX_SHINGLE_DF cap flatten the containment/substring df
# ramp once saturated? Appends a build_sf10_sf30 stanza.
build-curve-sf30:
	python tools/gen_scale.py /root/testdata/sf0.1 .testdata/sf30-docs 300 documents
	python tools/dedup_build_curve.py

# the exact verification chain the round judge runs (round-10 verdict
# task 8): full oracle-parity sweep at sf0.01, the complete pytest
# suite, then a bench diff against BASELINE.md with the relative-
# outlier noise guard. Builder and judge measure the same way.
judge:
	python regress.py --parity --all --budget 120
	python -m pytest tests/ -q
	python bench.py | python regress.py -

digest:
	python -m kinesis_to_firehose_spark.plans.digest

image:
	docker build -t kinesis-to-firehose-spark .

# the repo benchmark (BENCHMARK.json): both forwarder workloads at the
# benchmark's run length (TRACE=1 adds the per-layer metrics), then the
# selfcheck that plants a dropped record, a duplicated record and a
# perturbed op result and shows the checks count each
perfbench:
	python3 perfbench/run.py --workload forward_drain --seed $(SEED) --seconds 15 --trace $(TRACE)
	python3 perfbench/run.py --workload forward_paced --seed $(SEED) --seconds 15 --trace $(TRACE)
	python3 perfbench/selfcheck.py
