"""Persisted curation store — the curated-survivor table written once
per corpus content, shared by every consumer of the curation verdict
(curate_corpus, curate_to_splits).

Same build/serve contract as the dedup stores (sources/dedup_index.py)
and the ANN codebook (sources/ann_index.py): the quality-gate +
lang-agreement + exact-dup-survivor chain is a BUILD step paid once
per (corpus content, gate params); queries pay a parquet scan. The
cache key chains the gate threshold so a CURATE_MIN_QUALITY change
rebuilds, and `source_digest` reroutes the key on any data rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def curated_corpus_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_tokens, quality_score) for every curation
    survivor — one row per kept doc, fixed schema, no query
    parameters: the textbook store shape (round-11, verdict task 6).
    Consumers re-apply their own ordering; parquet read order is not
    part of the contract."""
    from kinesis_to_firehose_spark.operators.textops import (
        CURATE_MIN_QUALITY,
        curate_corpus_plan,
    )
    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    path = store_path(
        "curated",
        sf_dir,
        "documents",
        f"curated-v1|minq={CURATE_MIN_QUALITY}",
    )

    def _build(tmp: str) -> None:
        curate_corpus_plan(spark, sf_dir).write.mode("overwrite").parquet(
            tmp
        )

    return spark.read.parquet(ensure_store(path, _build))
