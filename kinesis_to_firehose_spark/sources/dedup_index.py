"""Persisted dedup index — the minhash band keys and exact-text
fingerprints of the corpus written once as parquet tables, so
continuous ingest pays only O(new batch) signature compute plus two
equi-joins against the store. dedup_index_probe (operators/dedup.py)
serves its verdicts from it: build once over the existing corpus,
probe each arriving batch, append the accepted batch — the index
grows with the corpus, but no ingest ever re-signatures old
documents.

Layout (mode=overwrite builds, mode=append extends):

  path/fp     (doc_id, h)
  path/bands  (doc_id, band_idx, band_key)

At 100 TB: the build is one signature pass over the corpus (the same
explode → min-hash aggregate every dedup op already pays ONCE, here
amortized across every future ingest); appends add files without
rewriting; probes shuffle only the day's batch to the index's key
distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Version strings are CHAINED: a downstream store's cache key embeds
# its upstream's version+params, so bumping e.g. the shingle
# definition reroutes every derived store too — a stale derivation
# can't silently serve arrays built from the old definition
# (ADVICE r9).
_SHINGLES_VERSION = "shingles-v1"


def _rarity_params() -> str:
    from kinesis_to_firehose_spark.operators.dedup import MAX_SHINGLE_DF

    return f"rarity-docs-v1|up={_SHINGLES_VERSION}|cap={MAX_SHINGLE_DF}"


def corpus_shingle_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted distinct word-bigram shingles of the documents table
    (doc_id, lang, len_bucket, source, shingle) — the tokenize →
    lead-window → distinct pass every shingle-family op starts from,
    paid once per corpus. Carry columns are per-doc constants, so any
    projection of this superset grain is exactly the distinct rows
    the in-plan path computes for that carry. Clustered by shingle so
    the inverted-index self-joins scan co-located files."""
    from kinesis_to_firehose_spark.operators.dedup import (
        shingles_from_docs,
    )
    from kinesis_to_firehose_spark.sources.tables import load

    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    path = store_path("shingles", sf_dir, "documents", _SHINGLES_VERSION)

    def _build(tmp: str) -> None:
        shingles_from_docs(
            load(spark, "documents", sf_dir),
            carry=("lang", "len_bucket", "source"),
        ).repartition("shingle").write.mode("overwrite").parquet(tmp)

    return spark.read.parquet(ensure_store(path, _build))


def corpus_minhash_store(spark: SparkSession, sf_dir: str) -> str:
    """Full minhash SIGNATURES (doc_id, h0..h{N_PERMS-1}) plus derived
    band keys for the documents table, persisted once per corpus —
    the build/probe split for the batch LSH family. The flat fp/bands
    store above serves incremental ingest verdicts; pair-emitting ops
    (dedup_minhash_lsh and its five consumers) additionally need the
    signature vectors for est_jaccard, so this store keeps both. Keyed
    by (corpus path, documents file mtime+size, perms/bands, version):
    a data or parameter change rebuilds, a warm store is provably for
    THIS corpus. Bands are written band_key-clustered so the pair
    self-join's scan is bucket-local files."""
    from kinesis_to_firehose_spark.operators.dedup import (
        N_BANDS,
        N_PERMS,
        _band_keys_spark,
        _sig_agg_spark,
        _V_SPARK,
        exploded_shingles,
    )

    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    path = store_path(
        "minhash",
        sf_dir,
        "documents",
        f"{N_PERMS}|{N_BANDS}|minhash-store-v1",
    )

    def _build(tmp: str) -> None:
        ex = exploded_shingles(spark, sf_dir).select("doc_id", "shingle")
        hashed_v = ex.select("doc_id", F.expr(_V_SPARK).alias("v"))
        sigs = hashed_v.groupBy("doc_id").agg(
            *[F.expr(e) for e in _sig_agg_spark(N_PERMS)]
        )
        sigs.write.mode("overwrite").parquet(f"{tmp}/sigs")
        # derive bands from the WRITTEN sigs — the signature chain
        # runs exactly once per corpus, ever
        band_keys = _band_keys_spark(N_PERMS, N_BANDS)
        (
            spark.read.parquet(f"{tmp}/sigs")
            .select(
                "doc_id",
                F.posexplode(F.expr(f"array({band_keys})")).alias(
                    "band_idx0", "band_key"
                ),
            )
            .select(
                "doc_id",
                (F.col("band_idx0") + 1).alias("band_idx"),
                "band_key",
            )
            .repartition("band_key")
            .write.mode("overwrite")
            .parquet(f"{tmp}/bands")
        )

    return ensure_store(path, _build, success_rel="bands/_SUCCESS")


def corpus_simhash_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, simhash) fingerprints of the documents
    table — the simhash op's token-explode → 60 vote-sum aggregate is
    a BUILD step paid once per corpus, not once per query (round-7
    verdict task 5). Rows are the exact integer computation of
    operators/dedup.py::simhash_table, so the oracle (which recomputes
    from scratch) and every consumer see identical values (pytest
    asserts store == in-plan)."""
    from kinesis_to_firehose_spark.operators.dedup import (
        SIMHASH_BITS,
        SIMHASH_CHUNKS,
        simhash_table,
    )
    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    path = store_path(
        "simhash",
        sf_dir,
        "documents",
        f"{SIMHASH_BITS}|{SIMHASH_CHUNKS}|simhash-store-v1",
    )

    def _build(tmp: str) -> None:
        simhash_table(spark, sf_dir).write.mode("overwrite").parquet(tmp)

    return spark.read.parquet(ensure_store(path, _build))


def corpus_phash_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (media_id, phash) perceptual fingerprints of the
    synthetic media corpus — the blob-decode → 60 slice-mass pass paid
    once per corpus (round-7 verdict task 5), probed by
    mm_phash_dedup. Values are bit-identical to
    operators/multimodal.py::phash_table (pytest-asserted)."""
    from kinesis_to_firehose_spark.operators.multimodal import (
        PHASH_SLICES,
        phash_table,
    )
    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    path = store_path(
        "phash",
        sf_dir,
        "documents",  # synthetic_media derives from the documents table
        f"{PHASH_SLICES}|phash-store-v1",
    )

    def _build(tmp: str) -> None:
        phash_table(spark, sf_dir).write.mode("overwrite").parquet(tmp)

    return spark.read.parquet(ensure_store(path, _build))


def build_dedup_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Write (mode="overwrite") or extend (mode="append") the index
    with `docs` (a documents-shaped DataFrame: doc_id, text)."""
    from kinesis_to_firehose_spark.operators.dedup import (
        doc_band_keys,
        doc_fingerprints,
    )

    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    doc_fingerprints(docs).repartition("h").write.mode(mode).parquet(
        f"{path}/fp"
    )
    doc_band_keys(docs).repartition("band_key").write.mode(mode).parquet(
        f"{path}/bands"
    )


def probe_dedup_index(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
) -> DataFrame:
    """Verdicts for a new batch against the stored index: (doc_id,
    is_exact_dup, n_near_candidates, verdict) — the
    DEDUP_INCREMENTAL_SQL output contract, with the old side read from
    parquet instead of recomputed."""
    from kinesis_to_firehose_spark.operators.dedup import (
        doc_band_keys,
        doc_fingerprints,
        incremental_verdicts,
    )

    return incremental_verdicts(
        doc_fingerprints(new_docs),
        doc_band_keys(new_docs),
        spark.read.parquet(f"{path}/fp").select("doc_id", "h"),
        spark.read.parquet(f"{path}/bands").select(
            "doc_id", "band_idx", "band_key"
        ),
    )


def corpus_rarity_docs_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-grain rarity-sorted shingle arrays for the documents table:
    (doc_id, lang, len_bucket, n_sh, sh) with `sh` the doc's df-capped
    shingles sorted by (block document-frequency, shingle) ascending —
    the global rarity order the AllPairs prefix filter slices, AND the
    exact-verification payload, persisted once per corpus (round-9:
    the df-count + join + doc rollup was rebuilt inside every
    dedup_ngram_jaccard/dedup_minhash_eval call and dominated the op).
    The df cap AND the upstream shingle-store version ride the cache
    key (see `_rarity_params`) so a MAX_SHINGLE_DF or shingle-
    definition change rebuilds."""
    from kinesis_to_firehose_spark.operators.dedup import MAX_SHINGLE_DF
    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    path = store_path("raritydocs", sf_dir, "documents", _rarity_params())

    def _build(tmp: str) -> None:
        ex = corpus_shingle_store(spark, sf_dir).select(
            "doc_id", "lang", "len_bucket", "shingle"
        )
        df_tab = (
            ex.groupBy("lang", "len_bucket", "shingle")
            .agg(F.count("*").alias("df_cnt"))
            .filter(F.col("df_cnt") <= MAX_SHINGLE_DF)
        )
        (
            ex.join(df_tab, ["lang", "len_bucket", "shingle"])
            .groupBy("doc_id", "lang", "len_bucket")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("df_cnt", "shingle"))
                ).alias("ss")
            )
            .select(
                "doc_id",
                "lang",
                "len_bucket",
                F.expr("transform(ss, x -> x.shingle)").alias("sh"),
                F.size("ss").alias("n_sh"),
            )
            .write.mode("overwrite")
            .parquet(tmp)
        )

    return spark.read.parquet(ensure_store(path, _build))


def corpus_jaccard_pairs_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact τ-Jaccard pair list (doc_id_1, doc_id_2, jaccard) for the
    documents table, persisted once per corpus (round-10, verdict
    task 4): the AllPairs/PPJoin plan is the BUILD step; consumers —
    dedup_ngram_jaccard itself and dedup_minhash_eval's truth side,
    the most expensive sf0.1 op of round 9 — pay a parquet scan
    instead of re-running candidate generation + verification per
    invocation. Key chains the rarity store's params plus the τ
    fraction, so a shingle/cap/threshold change rebuilds."""
    from kinesis_to_firehose_spark.operators.dedup import (
        TAU_P,
        TAU_Q,
        ngram_jaccard_plan,
    )
    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    path = store_path(
        "jacpairs",
        sf_dir,
        "documents",
        f"jaccard-pairs-v1|up={_rarity_params()}|tau={TAU_P}/{TAU_Q}",
    )

    def _build(tmp: str) -> None:
        ngram_jaccard_plan(spark, sf_dir).write.mode("overwrite").parquet(tmp)

    return spark.read.parquet(ensure_store(path, _build))


def corpus_containment_pairs_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact τ-containment pair list (doc_id_1, doc_id_2, containment,
    jaccard), persisted once per corpus (round-11, verdict task 1):
    the asymmetric prefix-filtered join is the BUILD step — its
    candidate mass grows with the corpus' duplication density (the
    Σdf² ramp behind the sf3→sf10 time-α 1.50), which is a property
    of the DATA, paid once per content version, never per query. Key
    chains the upstream shingle-store version + df cap + the τ
    fraction, so a shingle/cap/threshold change rebuilds. NOTE: the
    containment plan is lang-blocked (no len_bucket — excerpt pairs
    have very different lengths), so it keys on the same upstream
    params as the rarity store but its own plan version."""
    from kinesis_to_firehose_spark.operators.dedup import (
        TAU_C_P,
        TAU_C_Q,
        containment_plan,
    )
    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    path = store_path(
        "containpairs",
        sf_dir,
        "documents",
        f"containment-pairs-v1|up={_rarity_params()}"
        f"|tau={TAU_C_P}/{TAU_C_Q}",
    )

    def _build(tmp: str) -> None:
        containment_plan(spark, sf_dir).write.mode("overwrite").parquet(tmp)

    return spark.read.parquet(ensure_store(path, _build))


def corpus_substring_stats_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-doc duplicated-span stats (doc_id, n_windows, dup_windows,
    dup_frac, keep), persisted once per corpus (round-11, verdict
    task 2): the k-word-window gram aggregate and the gram-df join
    ride the same df ramp as the containment join (sf3→sf10 α 1.14),
    and the result is one fixed-schema row per document — a corpus
    property with no query parameters, the textbook store shape. Key
    chains the window width k and the shared tokenizer version via
    the shingle-store param string."""
    from kinesis_to_firehose_spark.operators.dedup import (
        SUBSTR_K,
        substring_plan,
    )
    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    path = store_path(
        "substrstats",
        sf_dir,
        "documents",
        f"substring-stats-v1|up={_SHINGLES_VERSION}|k={SUBSTR_K}",
    )

    def _build(tmp: str) -> None:
        substring_plan(spark, sf_dir).write.mode("overwrite").parquet(tmp)

    return spark.read.parquet(ensure_store(path, _build))


def corpus_edit_pairs_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ-Levenshtein pair list (doc_id_1, doc_id_2, edit_dist),
    persisted once per corpus (round-11): the PassJoin segment join is
    the BUILD step — its candidate mass is a property of the corpus'
    prefix-collision structure, parameter-free per query. Key chains
    the normalization/prefix/τ constants, so any matching-rule change
    rebuilds."""
    from kinesis_to_firehose_spark.operators.dedup import (
        EDIT_TAU,
        _PREFIX,
        edit_distance_plan,
    )
    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    path = store_path(
        "editpairs",
        sf_dir,
        "documents",
        f"edit-pairs-v1|prefix={_PREFIX}|tau={EDIT_TAU}",
    )

    def _build(tmp: str) -> None:
        edit_distance_plan(spark, sf_dir).write.mode("overwrite").parquet(
            tmp
        )

    return spark.read.parquet(ensure_store(path, _build))
