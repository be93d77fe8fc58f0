"""Plan-shape assertions (SURVEY.md §5e): filters push to parquet,
columns prune, dims broadcast, hot paths stay in codegen."""

from __future__ import annotations

from kinesis_to_firehose_spark.plans.explain import (
    has_broadcast_join,
    pushed_filters,
    read_schemas,
    wholestage_codegen_ids,
)
from kinesis_to_firehose_spark.registry import all_ops, streaming_op_names

SF = "/root/testdata/sf0.01"
OPS = all_ops()
STREAMING = streaming_op_names()  # no static batch plan


def test_q6_filters_pushed_to_scan(spark):
    df = OPS["q6_forecast_revenue"].fn(spark, SF)
    pushed = pushed_filters(df)
    assert "l_shipdate" in pushed
    assert "l_quantity" in pushed or "l_discount" in pushed


def test_q6_column_pruning(spark):
    df = OPS["q6_forecast_revenue"].fn(spark, SF)
    schemas = read_schemas(df)
    # only the 4 needed columns are read, not the 11-column table
    assert "l_extendedprice" in schemas
    assert "l_returnflag" not in schemas
    assert "l_orderkey" not in schemas


def test_q3_broadcasts_customer(spark):
    # at test SF customer is far under the threshold → auto-broadcast
    assert has_broadcast_join(OPS["q3_shipping_priority"].fn(spark, SF))


def test_q5_broadcasts_dims(spark):
    assert has_broadcast_join(OPS["q5_local_supplier"].fn(spark, SF))


def test_scaling_tables_not_force_broadcast(spark):
    """VERDICT r1 #2: customer/supplier/part_avg grow linearly with the
    facts, so their joins must follow the size estimate, not a forced
    hint. Lowering the threshold simulates the 100× scale-up where the
    estimate exceeds it: those joins must stop broadcasting, while
    q5's fixed-size nation/region dims keep their explicit hints."""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for op in ("q3_shipping_priority", "q10_returned_items", "q17_small_qty"):
            plan = physical_plan(OPS[op].fn(spark, SF))
            # nation (25 rows) may keep its explicit hint in q10; the
            # scaling joins must all be shuffle joins
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, op
        q5 = physical_plan(OPS["q5_local_supplier"].fn(spark, SF))
        assert q5.count("BroadcastExchange") <= 2  # nation + region only
        assert "SortMergeJoin" in q5 or "ShuffledHashJoin" in q5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_decode_is_single_codegen_stage(spark):
    df = OPS["decode_parse_enhance"].fn(spark, SF)
    # narrow decode: no exchange, one codegen span over the scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert wholestage_codegen_ids(df) >= 1


def test_filter_allowlist_pushdown(spark):
    df = OPS["filter_allowlist"].fn(spark, SF)
    assert "event_type" in pushed_filters(df)


def test_drop_stats_single_raw_pass(spark):
    """The four drop_stats views must re-aggregate the materialized
    pre-agg, never replay the raw-events scan per branch."""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["drop_stats"].fn(spark, SF))
    # one raw scan feeding the pre-agg; GROUPING SETS fans the views
    # out from the aggregated intermediate, not from re-scans
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan


def test_decontaminate_joins_broadcast(spark):
    """The eval-gram semi-join and the contaminated-id anti-join must
    both broadcast (eval set and hit set are fixed-size relative to
    the corpus); a SortMergeJoin here would shuffle every gram of the
    full corpus at 100 TB."""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["decontaminate_ngram"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_interval_join_is_equi_not_nested_loop(spark):
    """The bucketed range join must plan as a hash equi-join on
    (user_id, bucket); a raw inequality join would fall back to
    BroadcastNestedLoopJoin, which cannot scale past a broadcastable
    side."""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["interval_join"].fn(spark, SF))
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_no_accidental_cartesian_or_nested_loop(spark):
    """Sweep EVERY registered batch op's physical plan: a
    CartesianProduct or BroadcastNestedLoopJoin is only legal where a
    deliberately tiny side is crossed in (ANN query/centroid fan-outs,
    1-row scalar aggregates). Anything else is an accidental
    scale-killer and fails here."""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    DELIBERATE = {
        # tiny broadcast cross joins by design:
        "ann_bruteforce_topk",   # 5 query vectors × candidates
        "ann_ivf_trained_topk",  # trained centroid list × vectors
        "ann_ivfpq_topk",        # same coarse centroid list × vectors
        "ann_index_search",      # stored centroid list × query vectors
        "ann_index_probe",       # same stored-centroid cross, epoch store
        "ann_lsh_topk",          # query-side fan-out
        "dedup_embedding",       # block-id grid
        "dedup_embedding_lsh",   # bucketed variant of the same kernel
        "q15_top_supplier",      # 1-row MAX(total_revenue)
        "q22_dormant_customers", # 1-row AVG(c_acctbal)
        "tfidf_top_terms",       # 1-row corpus doc count
        "q11_important_parts",   # 1-row value threshold
        "equidepth_histogram",   # 1-row decile-edge aggregate
        "value_outliers",        # per-type moments (≤5 rows)
        "embedding_quantize",    # per-vector scale cross
        "mm_ann_search",         # 3 media query vectors × candidates
        "epoch_shuffle",         # SHUFFLE_EPOCHS-row (3) epoch grid × docs
        "domain_mix_rebalance",  # 1-row total/source-count aggregate
        "unigram_logprob_score", # 1-row corpus token count
        "ppl_bucket_mix",        # composes unigram_logprob_score (same 1-row cross)
        "bm25_search",           # 1-row (N, avgdl) scalar aggregate
        "hybrid_search_rrf",     # 5 query vectors × candidates (sem arm)
        "graph_pagerank",        # 1-row n / dangling-mass scalar crosses
        "bigram_logprob_score",  # 1-row corpus token count
        "heavy_hitters_mg",      # 1-row total-count threshold scalar
        "contrastive_pairs",     # 1-row corpus-size scalar for the mod draw
        "rfm_segments",          # 1-row ref-date + quintile-edge scalars
        "collocations_pmi",      # 1-row corpus token count for PMI
        "fk_integrity_audit",    # per-edge 1-row total × orphan summaries
        "assoc_rules",           # 1-row basket-total scalar
        "bootstrap_ci",          # 1-row point/ci_lo/ci_hi scalar crosses
        "quantile_normalize",    # 1-row global-count scalar
        "keyness_terms",         # 1-row grand-total scalar cross
        "doc_tf_search",         # 5 query docs × candidates
        "ann_int8_topk",         # 5 query vectors × candidates
        "benford_audit",         # 1-row grand-total scalar cross
        "neyman_allocation",     # 1-row weight-total / remainder crosses
    }
    bad = []
    for name, op in sorted(OPS.items()):
        if name in DELIBERATE or name in STREAMING:
            continue
        plan = physical_plan(op.fn(spark, SF))
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            bad.append(name)
    assert not bad, f"accidental cartesian/NL joins in: {bad}"


def test_aqe_splits_skewed_join(spark):
    """§6 skew posture: a hot key (90% of the fact side) must trigger
    AQE's skew-join split instead of pinning one task."""
    from pyspark.sql import functions as F

    n = 400_000
    fact = spark.range(n).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        df = fact.join(dim, "k")
        # collect() (not count()) so the INSPECTED QueryExecution is the
        # one that ran — count() wraps the plan in its own execution
        assert len(df.collect()) > 0
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")


def test_q21_aggregate_form_scans_lineitem_once(spark):
    """r12 re-plan: the EXISTS/NOT EXISTS pair is computed as
    per-order aggregates (pair groupBy + okey windows), so the plan
    must scan lineitem exactly ONCE (the semi/anti join form scanned
    it three times and replayed the lineitem⋈orders join twice) and
    must never fall into a nested-loop over the fact table. The
    windows must reuse the join's okey partitioning (no exchange
    between the pair aggregate and the windows)."""
    import re

    from kinesis_to_firehose_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["q21_waiting_suppliers"].fn(spark, SF))
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan[:3000]
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_resample_windows_are_partitioned(spark):
    """Forward fill must run per-key: an empty Window partition spec
    (the classic move-everything-to-one-task trap) is a bug."""
    import re

    from kinesis_to_firehose_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["resample_gapfill"].fn(spark, SF))
    windows = re.findall(r"Window(?:GroupLimit)? \[[^\]]*\], \[([^\]]*)\]", plan)
    assert windows, "expected a Window node in the resample plan"
    for partition_spec in windows:
        assert partition_spec.strip(), "unpartitioned Window in plan"


def test_bm25_filters_tokens_before_shuffle(spark):
    """BM25's tf table must be built from tokens FILTERED to query
    terms by a broadcast semi-join BEFORE the groupBy shuffle — the
    tf aggregation then shuffles query-term matches only, never the
    full token explode. (Doc-length is the one deliberate corpus-wide
    aggregate.)"""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    plan = physical_plan(OPS["bm25_search"].fn(spark, SF))
    assert "LeftSemi" in plan  # query-term prefilter present
    # every non-scalar join is broadcast, not shuffle
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_plan_digest_counts(spark):
    """The digest must reduce plans to the right counters: the narrow
    decode op is zero-shuffle single-scan; q5 is broadcast-dims with
    at most two shuffles; the committed PLAN_DIGEST.json carries the
    same keys for round-over-round diffing."""
    import json
    from pathlib import Path

    from kinesis_to_firehose_spark.plans.digest import plan_digest

    d = plan_digest(OPS["decode_parse_enhance"].fn(spark, SF))
    assert d["exchanges"] == 0 and d["file_scans"] == 1
    assert d["cartesian_products"] == 0 and d["nested_loop_joins"] == 0

    q5 = plan_digest(OPS["q5_local_supplier"].fn(spark, SF))
    assert q5["broadcast_hash_joins"] == 5
    assert q5["exchanges"] <= 2
    assert q5["sort_merge_joins"] == 0

    committed = json.loads(
        (Path(__file__).resolve().parents[1] / "PLAN_DIGEST.json").read_text()
    )
    assert set(committed["decode_parse_enhance"]) == set(d)


def test_shuffle_advisor_arithmetic_and_aqe_coalesce(spark):
    """Over-provisioned shuffle partitions are safe because AQE
    demonstrably coalesces: a tiny aggregate run at 32 shuffle
    partitions executes with far fewer after coalescing."""
    # AQE coalesce in action: executed plan shows a coalesced
    # AQEShuffleRead with fewer partitions than the configured 32
    from kinesis_to_firehose_spark.sources.tables import load

    df = (
        load(spark, "orders", SF)
        .groupBy("o_orderstatus")
        .count()
    )
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead coalesced" in final, final[:2000]


def _unpartitioned_window_specs(plan_text: str) -> list[str]:
    """Window specs with NO partition columns in a plan dump.

    In both simple and formatted plan text every window expression
    carries `windowspecdefinition(partCols..., orderCols..., frame)`.
    Partition columns are bare expressions; order columns end in
    ASC/DESC [NULLS ...]; the frame starts with specifiedwindowframe.
    So a spec whose FIRST argument is an order item or the frame has
    an empty partition spec — the move-everything-to-one-task shape
    WindowExec warns about."""
    import re

    out = []
    for m in re.finditer(r"windowspecdefinition\(", plan_text):
        first = _first_call_arg(plan_text, m.end())
        if first.startswith("specifiedwindowframe") or re.search(
            r"\b(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?$", first
        ):
            out.append(first)
    return out


def _first_call_arg(text: str, start: int) -> str:
    """The first argument of the call whose argument list begins at
    text[start]. A comma ends it only at parenthesis depth 0, so
    `coalesce(a#1, b#2) ASC` stays one argument."""
    depth = 0
    for i in range(start, len(text)):
        c = text[i]
        if c == "(":
            depth += 1
        elif c == ")" and depth > 0:
            depth -= 1
        elif c in ",)" and depth == 0:
            return text[start:i].strip()
    return text[start:].strip()


def test_unpartitioned_window_specs_parses_nested_parentheses():
    """A nested call's comma must not end the first window-spec
    argument: an order item over coalesce(...) is still an order item,
    and a partition column over coalesce(...) is still a partition."""
    frame = "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"
    order_only = (
        "rank(x#3) windowspecdefinition(coalesce(a#1, b#2) ASC NULLS FIRST, "
        f"{frame}) AS rk#4"
    )
    assert _unpartitioned_window_specs(order_only) == [
        "coalesce(a#1, b#2) ASC NULLS FIRST"
    ]
    partitioned = (
        "rank(x#3) windowspecdefinition(coalesce(a#1, b#2), "
        f"x#3 DESC NULLS LAST, {frame}) AS rk#4"
    )
    assert _unpartitioned_window_specs(partitioned) == []
    frame_only = f"sum(v#5) windowspecdefinition({frame}) AS s#6"
    assert _unpartitioned_window_specs(frame_only) == [frame]


def test_every_unpartitioned_window_is_allowlisted(spark):
    """r12 verdict #7: sweep EVERY registered batch op's plan — an
    unpartitioned Window moves all rows to one task, so each one must
    sit on a provably BOUNDED input (the allowlist, reviewed below);
    a new one anywhere else fails here before it ships."""
    from kinesis_to_firehose_spark.plans.explain import physical_plan

    # every entry is bounded by construction — row counts independent
    # of corpus size (or capped by a constant times a tiny constant):
    ALLOWLIST = {
        "bootstrap_ci",          # N_BOOT replicate means (200 rows)
        "value_winsorize",       # ≤5 per-type moment rows
        "equidepth_histogram",   # decile edges (≤10 rows)
        "rfm_segments",          # quintile edges over 1-row scalars
        "quantile_normalize",    # n_chars VALUE-DOMAIN rank (bounded domain)
        "mmr_rerank",            # #queries·C candidate pool (bounded)
        "window_funnel_levels",  # ≤#levels funnel rows
        "top_n_per_group",       # presentation rank over ≤75 rows
        "vocab_top_terms",       # vocab-bounded term ranks
        "assoc_rules",           # itemset-bounded rule ranks
        "collocations_pmi",      # support-floored vocab²-bounded rule rank
        "ddsketch_partition_merge",  # sketch-bucket-bounded rows
        "trend_ols",             # ≤#nations rows
        "neyman_allocation",     # ≤#strata allocation rows
        "orders_backlog",        # ≤#months cumulative backlog rows
        "session_paths",         # ≤|event_type|³ distinct 3-step paths
        "skyline_pareto",        # ≤|p_size| DOMAIN rows (op docstring)
        "tokenize_to_ids",       # vocab-bounded id assignment rank
    }
    offenders = {}
    for name, op in sorted(OPS.items()):
        if name in STREAMING:
            continue
        specs = _unpartitioned_window_specs(physical_plan(op.fn(spark, SF)))
        if specs and name not in ALLOWLIST:
            offenders[name] = specs[:2]
    assert not offenders, f"unpartitioned windows outside allowlist: {offenders}"
