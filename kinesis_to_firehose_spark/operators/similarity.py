"""Similarity search (SURVEY.md §2.4) over `embeddings`.

- ann_bruteforce_topk: exact cosine top-k — the correctness baseline.
  Query side is tiny and broadcast; ranking is a per-query window (a
  partial per-partition top-k then a merge under AQE), never a global
  sort of all candidates.
- ann_index_search: IVF with deterministic seed centroids (vec_id <
  N_CENTROIDS): assign every vector to its nearest centroid (narrow
  map over a broadcast centroid list) into a persisted index, probe
  only the query's cells. SQL-expressible → full DuckDB oracle.
- ann_lsh_bucketed: random-hyperplane LSH where plane components come
  from md5 parity (deterministic, engine-reproducible); rows-only
  check (bucket recall vs brute force is asserted in pytest).

Norms are always hoisted to a column before any pair join — computed
n times, not n² times. At 100 TB the same plans hold: cell/bucket
assignment is a narrow map, probing is a co-partitioned equi-join on
cell id, and the only broadcast is the centroid/query side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesis_to_firehose_spark.operators.dedup import (
    EMB_DIM,
    NORMED_CTE,
    dot_expr,
    dot_expr_unrolled,
    norm_expr,
    normed_embeddings,
)
from kinesis_to_firehose_spark.registry import register
from kinesis_to_firehose_spark.sources.tables import load

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10
N_CENTROIDS = 8
IVF_TOP_K = 5
LSH_PLANES = 8

# unrolled codegen dot (bit-identical fold; see dot_expr_unrolled):
# every _COS consumer scores full EMB_DIM-wide embedding pairs
_COS = f"({dot_expr_unrolled('q_emb', 'c_emb', EMB_DIM)} / (q_nrm * c_nrm))"
_COS_SQL = f"({dot_expr('q.embedding', 'c.embedding', 'duck')} / (q.nrm * c.nrm))"


# --------------------------------------------------------------------------
BRUTE_SQL = f"""
{NORMED_CTE},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
         ROUND({_COS_SQL}, 6) AS cosine
  FROM normed q
  JOIN normed c ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, candidate_id
         ) AS rk
  FROM scored
)
SELECT query_id, candidate_id, cosine, rk
FROM ranked
WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


@register("ann_bruteforce_topk", BRUTE_SQL)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = normed_embeddings(spark, sf_dir)
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = n.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id", "candidate_id", F.round(F.expr(_COS), 6).alias("cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "candidate_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
_ASSIGN_COS_SQL = f"({dot_expr('v.embedding', 'c.embedding', 'duck')} / (v.nrm * c.nrm))"

N_PROBE = 2  # queries probe their 2 nearest cells (multi-probe IVF)

IVF_SQL = f"""
{NORMED_CTE},
centroids AS (
  SELECT vec_id AS centroid_id, embedding, nrm FROM normed
  WHERE vec_id < {N_CENTROIDS}
),
ranked_cells AS (
  SELECT v.vec_id, c.centroid_id AS cell,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND({_ASSIGN_COS_SQL}, 6) DESC, c.centroid_id
         ) AS rk
  FROM normed v, centroids c
),
assignment AS (
  SELECT vec_id, cell FROM ranked_cells WHERE rk = 1
),
probes AS (
  SELECT vec_id, cell FROM ranked_cells
  WHERE rk <= {N_PROBE} AND vec_id < {N_QUERIES}
),
probe AS (
  SELECT qa.vec_id AS query_id, ca.vec_id AS candidate_id, qa.cell
  FROM probes qa
  JOIN assignment ca ON qa.cell = ca.cell AND qa.vec_id != ca.vec_id
),
scored AS (
  SELECT p.query_id, p.candidate_id, p.cell,
         ROUND({_COS_SQL}, 6) AS cosine
  FROM probe p
  JOIN normed q ON q.vec_id = p.query_id
  JOIN normed c ON c.vec_id = p.candidate_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, candidate_id
         ) AS rk
  FROM scored
)
SELECT query_id, candidate_id, cell, cosine, rk
FROM ranked
WHERE rk <= {IVF_TOP_K}
ORDER BY query_id, rk
"""


def _ranked_cells(n: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-vector centroid ranking: a narrow map over the broadcast
    centroid list (the only sane shape at scale — centroids are always
    tiny, vectors never move)."""
    v = n.select(
        "vec_id", F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    wa = W.partitionBy("vec_id").orderBy(F.desc("score"), "centroid_id")
    return (
        v.join(F.broadcast(cents))
        .select(
            "vec_id",
            "centroid_id",
            F.round(F.expr(_COS), 6).alias("score"),
        )
        .withColumn("rk", F.row_number().over(wa))
        .select("vec_id", F.col("centroid_id").alias("cell"), "rk")
    )


def _assign_cells(n: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (rank-1 cell per vector) as ONE
    Arrow-batched pass (round-10: was the N×K interpreted-HOF cosine
    ranking of _ranked_cells filtered to rk=1 — the dominant constant
    of the IVF family and the Lloyd training loop at sf3). The tiny
    centroid table (≤ N_CENTROIDS rows, seed or trained) is collected
    and rides the closure; _assign_cells_np reproduces the rounded-
    cosine DESC, centroid_id tie-break bit-for-bit. _ranked_cells
    stays the declarative path for FULL rankings (query probes)."""
    import numpy as np
    import pandas as pd

    rows = sorted(
        cents.select("centroid_id", "c_emb").collect(), key=lambda r: r[0]
    )
    cent_ids = np.array([r[0] for r in rows], dtype=np.int64)
    Cn = np.array([list(r[1]) for r in rows], dtype=np.float64)
    vecs = n.select("vec_id", "embedding")

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.array(list(pdf["embedding"]), dtype=np.float64)
            idx = _assign_cells_np(E, Cn)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": cent_ids[idx],
                }
            )

    return vecs.mapInPandas(_assign, schema="vec_id long, cell long")


def _ivf_probe_topk(
    n: DataFrame, ranked_q: DataFrame, assignment: DataFrame
) -> DataFrame:
    """In-plan IVF probe stage (ann_ivf_trained_topk; search_ann_index
    runs the same probe against the store): MULTI-PROBE — each query
    searches its N_PROBE nearest cells while data vectors live in
    exactly one (so no candidate duplicates), a co-partitioned
    equi-join on cell id, exact-rescore, per-query top-k window.
    Probing 2 cells roughly doubles scanned candidates but rescues the
    near-boundary queries single-probe IVF misses. `ranked_q` is the
    query-side cell ranking; `assignment` the corpus-wide rank-1
    (vec_id, cell) map."""
    qa = ranked_q.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("rk") <= N_PROBE)
    ).select(F.col("vec_id").alias("query_id"), "cell")
    ca = assignment.select(F.col("vec_id").alias("candidate_id"), "cell")
    probe = qa.join(ca, "cell").filter(
        F.col("query_id") != F.col("candidate_id")
    )
    emb_q = n.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    emb_c = n.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = (
        probe.join(F.broadcast(emb_q), "query_id")
        .join(emb_c, "candidate_id")
        .select(
            "query_id",
            "candidate_id",
            "cell",
            F.round(F.expr(_COS), 6).alias("cosine"),
        )
    )
    wk = W.partitionBy("query_id").orderBy(F.desc("cosine"), "candidate_id")
    return (
        scored.withColumn("rk", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rk") <= IVF_TOP_K)
        .select("query_id", "candidate_id", "cell", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# ann_ivf_trained_topk — IVF with Lloyd-trained centroids, fully
# oracle-able: centroid means use QUANTIZED INTEGER ACCUMULATION —
# each member contributes round(e_d * 1e9) as a BIGINT, summed per
# (cell, dim). Integer addition is associative/commutative, so the
# distributed sum is independent of partition order (the reason the
# old float-avg variant was rows-only), yet the aggregation stays a
# single map-side-combined groupBy per iteration — no collect_list,
# no driver round-trip, scale-identical to the avg plan. Mean =
# sum::double / (count * 1e9): a 1e-9 centroid quantization no probe
# can observe through the 6-dp score rounding. Exact .5 rounding ties
# cannot occur (e*1e9 with float-mantissa e never lands on a binary
# .5), so Spark HALF_UP and DuckDB round() agree on every input. The
# DuckDB oracle unrolls the LLOYD_ITERS iterations as chained CTEs
# with the same fold orders → bit-exact parity.
# --------------------------------------------------------------------------
# EMB_DIM imported from operators.dedup (single source of truth)
LLOYD_ITERS = 3
_Q = 1_000_000_000  # centroid accumulation quantum (1e-9)


def _trained_ivf_sql(iters: int = LLOYD_ITERS) -> str:
    """DuckDB restatement of train_ivf_centroids + the probe tail."""

    def cos(emb: str, nrm: str) -> str:
        return f"ROUND(({dot_expr('v.embedding', emb, 'duck')} / (v.nrm * {nrm})), 6)"

    mean_terms = ", ".join(
        f"CAST(SUM(CAST(ROUND(v.embedding[{d + 1}]::DOUBLE * {_Q}.0) AS BIGINT)) AS DOUBLE)"
        f" / (COUNT(*) * {_Q}.0)"
        for d in range(EMB_DIM)
    )
    parts = [
        f"""{NORMED_CTE},
cents0 AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb, nrm AS c_nrm
  FROM normed WHERE vec_id < {N_CENTROIDS}
)"""
    ]
    for it in range(1, iters + 1):
        prev = f"cents{it - 1}"
        parts.append(
            f"""assign{it} AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.centroid_id AS cell,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY {cos('c.c_emb', 'c.c_nrm')} DESC, c.centroid_id
           ) AS rk
    FROM normed v, {prev} c
  ) WHERE rk = 1
),
sums{it} AS (
  SELECT a.cell AS centroid_id, list_value({mean_terms}) AS m_emb
  FROM normed v JOIN assign{it} a ON v.vec_id = a.vec_id
  GROUP BY a.cell
),
cents{it} AS (
  SELECT p.centroid_id,
         COALESCE(s.m_emb, p.c_emb) AS c_emb,
         {norm_expr('COALESCE(s.m_emb, p.c_emb)', 'duck')} AS c_nrm
  FROM {prev} p LEFT JOIN sums{it} s USING (centroid_id)
)"""
        )
    tail = f"""ranked_cells AS (
  SELECT v.vec_id, c.centroid_id AS cell,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY {cos('c.c_emb', 'c.c_nrm')} DESC, c.centroid_id
         ) AS rk
  FROM normed v, cents{iters} c
),
assignment AS (
  SELECT vec_id, cell FROM ranked_cells WHERE rk = 1
),
probes AS (
  SELECT vec_id, cell FROM ranked_cells
  WHERE rk <= {N_PROBE} AND vec_id < {N_QUERIES}
),
probe AS (
  SELECT qa.vec_id AS query_id, ca.vec_id AS candidate_id, qa.cell
  FROM probes qa
  JOIN assignment ca ON qa.cell = ca.cell AND qa.vec_id != ca.vec_id
),
scored AS (
  SELECT p.query_id, p.candidate_id, p.cell,
         ROUND({_COS_SQL}, 6) AS cosine
  FROM probe p
  JOIN normed q ON q.vec_id = p.query_id
  JOIN normed c ON c.vec_id = p.candidate_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, candidate_id
         ) AS rk
  FROM scored
)
SELECT query_id, candidate_id, cell, cosine, rk
FROM ranked
WHERE rk <= {IVF_TOP_K}
ORDER BY query_id, rk"""
    parts.append(tail)
    return ",\n".join(parts)


TRAINED_IVF_SQL = _trained_ivf_sql()


def train_ivf_centroids(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = N_CENTROIDS,
    iters: int = LLOYD_ITERS,
    prenormed: DataFrame | None = None,
) -> DataFrame:
    """Deterministic-init Lloyd iterations as pure DataFrame ops.

    Init = the first n_centroids vectors by vec_id (same as the seed
    variant). Each iteration: assign every vector to its nearest
    centroid (narrow map over the broadcast centroid list) and
    recompute each centroid as the per-dimension QUANTIZED mean of its
    members (sum of round(e*1e9) BIGINTs / (count*1e9) — order-free,
    hence oracle-able) — ONE shuffle per iteration (the cell groupBy,
    map-side combined), 64 sums instead of an explode. Cells that lose all
    members keep their previous centroid. The centroid set stays tiny,
    so each iteration's result is localCheckpointed to cut the plan
    (otherwise iteration k replays all k-1 predecessors).
    """
    n = prenormed if prenormed is not None else normed_embeddings(spark, sf_dir)
    cents = n.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    mean_dims = F.array(
        *[
            F.sum(
                F.round(F.element_at("embedding", d + 1).cast("double") * _Q)
                .cast("bigint")
            ).cast("double")
            / (F.count(F.lit(1)).cast("double") * _Q)
            for d in range(EMB_DIM)
        ]
    )
    for _ in range(iters):
        assignment = _assign_cells(n, cents)
        members = n.join(assignment, "vec_id")
        new = members.groupBy(F.col("cell").alias("centroid_id")).agg(
            mean_dims.alias("c_emb")
        )
        cents = (
            cents.select("centroid_id", F.col("c_emb").alias("old_emb"))
            .join(new, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("c_emb"), F.col("old_emb")).alias("c_emb"),
            )
            .withColumn(
                "c_nrm", F.expr(norm_expr("c_emb", "spark"))
            )
            .localCheckpoint(eager=True)
        )
    return cents


@register("ann_ivf_trained_topk", TRAINED_IVF_SQL)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Training is a BUILD step: the Lloyd codebook comes from the
    # persisted store (sources/ann_index.py::trained_centroids, keyed
    # by corpus content + K + iters), so a query pays centroid READ +
    # probe, never k-means. A cold store trains once — inside
    # training, the interpreted-HOF norm column is localCheckpointed
    # so each of the ~7 reuses doesn't recompute it.
    from kinesis_to_firehose_spark.sources.ann_index import (
        trained_centroids,
    )

    n = normed_embeddings(spark, sf_dir).localCheckpoint(eager=True)
    cents = trained_centroids(
        spark, sf_dir, N_CENTROIDS, LLOYD_ITERS, prenormed=n
    )
    ranked_q = _ranked_cells(n.filter(F.col("vec_id") < N_QUERIES), cents)
    return _ivf_probe_topk(n, ranked_q, _assign_cells(n, cents))


# --------------------------------------------------------------------------
# ann_lsh_bucketed — hyperplane signs derived from md5(plane, dim) so the
# planes are deterministic AND engine-reproducible: the same
# '{p}|{d}'-keyed parity planes back dedup_embedding_lsh, so the DuckDB
# oracle mirrors the bucket construction bit-for-bit (left-assoc double
# sums → identical sign bits).
# --------------------------------------------------------------------------
from kinesis_to_firehose_spark.operators.dedup import _emb_projection_bit


def _bucket_expr(engine: str) -> str:
    bits = [_emb_projection_bit(p, engine) for p in range(LSH_PLANES)]
    if engine == "spark":
        return "concat(" + ", ".join(bits) + ")"
    return " || ".join(bits)


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "embeddings", sf_dir)
    return e.select("vec_id", F.expr(_bucket_expr("spark")).alias("bucket"))


LSH_BUCKETED_SQL = f"""
SELECT bucket, COUNT(*) AS n_vectors
FROM (SELECT {_bucket_expr("duck")} AS bucket FROM embeddings)
GROUP BY bucket
ORDER BY bucket
"""


@register("ann_lsh_bucketed", LSH_BUCKETED_SQL)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket histogram of the hyperplane LSH index; in-bucket search
    reuses the brute-force kernel on a tiny slice."""
    return (
        lsh_buckets(spark, sf_dir)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("bucket")
    )


def lsh_topk(spark: SparkSession, sf_dir: str, top_k: int = TOP_K) -> DataFrame:
    """In-bucket ANN search: queries probe only candidates sharing
    their LSH bucket — the candidate set shrinks ~2^planes-fold, the
    probe is a co-partitioned equi-join on bucket, and scoring reuses
    the exact-cosine kernel. Recall vs brute force is asserted in
    pytest (approximate by design, so no SQL oracle)."""
    n = normed_embeddings(spark, sf_dir)
    b = lsh_buckets(spark, sf_dir)
    nb = n.join(b, "vec_id")
    q = nb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "bucket",
    )
    c = nb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        "bucket",
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id", "candidate_id", F.round(F.expr(_COS), 6).alias("cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "candidate_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= top_k)
        .orderBy("query_id", "rk")
    )


LSH_TOPK_SQL = f"""
{NORMED_CTE},
bucketed AS (
  SELECT vec_id, {_bucket_expr("duck")} AS bucket FROM embeddings
),
nb AS (
  SELECT n.vec_id, n.embedding, n.nrm, b.bucket
  FROM normed n JOIN bucketed b ON n.vec_id = b.vec_id
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
         ROUND({_COS_SQL}, 6) AS cosine
  FROM nb q
  JOIN nb c ON q.bucket = c.bucket
   AND q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, candidate_id
         ) AS rk
  FROM scored
)
SELECT query_id, candidate_id, cosine, rk
FROM ranked
WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


@register("ann_lsh_topk", LSH_TOPK_SQL)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_topk(spark, sf_dir)


# --------------------------------------------------------------------------
# embedding_quantize — symmetric int8 quantization per vector (the
# standard 4× memory cut for ANN indexes at scale: 64 float32 dims →
# 64 bytes + one scale). Narrow per-row map, no shuffle; dequantized
# cosine error is bounded by 1/127 per axis. The int8 codes are
# emitted as a CSV string so the value-hash compare is
# representation-independent across engines.
# --------------------------------------------------------------------------
QUANT_SQL = """
WITH scaled AS (
  SELECT vec_id,
         list_max(list_transform(embedding, v -> abs(v::DOUBLE))) AS max_abs
  FROM embeddings
)
SELECT e.vec_id,
       ROUND(s.max_abs, 6) AS scale,
       list_aggregate(
         list_transform(e.embedding,
                        v -> CAST(ROUND(v::DOUBLE * 127.0 / s.max_abs, 0) AS BIGINT)),
         'string_agg', ','
       ) AS q_csv
FROM embeddings e JOIN scaled s ON e.vec_id = s.vec_id
ORDER BY e.vec_id
"""


@register("embedding_quantize", QUANT_SQL)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "embeddings", sf_dir)
    max_abs = F.expr(
        "array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"
    )
    q_csv = F.expr(
        "array_join(transform(embedding, "
        "v -> CAST(round(CAST(v AS DOUBLE) * 127.0 / max_abs, 0) AS BIGINT)), ',')"
    )
    return (
        e.withColumn("max_abs", max_abs)
        .select(
            "vec_id",
            F.round("max_abs", 6).alias("scale"),
            q_csv.alias("q_csv"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# knn_graph — all-vectors k-nearest-neighbor GRAPH over the banded
# hyperplane-LSH candidate space: every vector's top-K in-bucket
# neighbors by exact cosine. The building block graph-based methods
# (HNSW-style search, graph clustering, label propagation over
# semantic neighbors) start from. Approximate by construction —
# neighbors outside every shared band are invisible — and the oracle
# mirrors the band table bit-exact, so the gate checks the
# implementation; in-bucket recall is pytest's job (ann_lsh_topk).
#
# Plan shape at 100 TB: band table is a narrow Arrow projection (one
# row per vector per band); candidates come from the (band_idx,
# band_key) self-equi-join; exact rescore touches candidates only;
# the final top-K is a per-source window over the candidate list
# (bounded by bucket sizes), never over the corpus.
# --------------------------------------------------------------------------
KNN_K = 3


def _knn_graph_sql() -> str:
    from kinesis_to_firehose_spark.operators.dedup import (
        _emb_cand_gated_sql,
        _PAIR_COS_SQL,
    )

    return f"""
WITH {_emb_cand_gated_sql()},
scored AS (
  SELECT cand.vec_id_1, cand.vec_id_2,
         ROUND({_PAIR_COS_SQL}, 6) AS cosine
  FROM cand
  JOIN ({NORMED_CTE} SELECT * FROM normed) a ON a.vec_id = cand.vec_id_1
  JOIN ({NORMED_CTE} SELECT * FROM normed) b ON b.vec_id = cand.vec_id_2
),
sym AS (
  SELECT vec_id_1, vec_id_2, cosine FROM scored
  UNION ALL
  SELECT vec_id_2 AS vec_id_1, vec_id_1 AS vec_id_2, cosine FROM scored
),
ranked AS (
  SELECT vec_id_1 AS src, vec_id_2 AS neighbor, cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY vec_id_1 ORDER BY cosine DESC, vec_id_2
         ) AS BIGINT) AS rank
  FROM sym
)
SELECT src, neighbor, cosine, rank
FROM ranked
WHERE rank <= {KNN_K}
ORDER BY src, rank
"""


def build_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass knn graph build: banded-LSH candidates → exact cosine
    rescore → per-vector top-k. Runs once per process — every graph-
    family op consumes the persisted result via sources/knn_store.py
    rather than replaying this join."""
    from kinesis_to_firehose_spark.operators.dedup import (
        emb_band_candidates,
        score_pairs_exact,
    )

    e = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    # hot-bucket-gated LSH candidates (see emb_band_candidates): test
    # scales are below the cap → identical to the full band join; at
    # sf1+ hot buckets chain in signature order instead of exploding
    # quadratically. Each unordered pair scores ONCE (v1 < v2) and is
    # mirrored after: the Arrow kernel's dot and the norm product are
    # commutative per IEEE, so cos(a,b) == cos(b,a) bitwise.
    from kinesis_to_firehose_spark.sources.ann_index import emb_band_store

    cand = emb_band_candidates(e, bands=emb_band_store(spark, sf_dir))
    # materialized: both union branches consume the scored pairs, and
    # without a cut Spark re-runs the Arrow kernel + joins per branch
    # (ReusedExchange covers exchanges, not the mapInPandas node)
    scored = score_pairs_exact(cand, e).localCheckpoint(eager=True)
    sym = scored.unionAll(
        scored.select(
            F.col("vec_id_2").alias("vec_id_1"),
            F.col("vec_id_1").alias("vec_id_2"),
            "cosine",
        )
    )
    w = W.partitionBy("vec_id_1").orderBy(F.desc("cosine"), "vec_id_2")
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= KNN_K)
        .select(
            F.col("vec_id_1").alias("src"),
            F.col("vec_id_2").alias("neighbor"),
            "cosine",
            "rank",
        )
        .orderBy("src", "rank")
    )


@register("knn_graph", _knn_graph_sql())
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The knn graph SERVED from the persisted edge-list store
    (sources/knn_store.py): first touch per process builds it, every
    later call — including the whole graph family — is a parquet
    scan. Store contents are value-identical to build_knn_graph, so
    the oracle is unchanged."""
    from kinesis_to_firehose_spark.sources.knn_store import knn_edges

    return knn_edges(spark, sf_dir).orderBy("src", "rank")


# --------------------------------------------------------------------------
# semantic_clusters — the knn_graph composed into CLUSTERS: neighbor
# edges at cosine ≥ τ collapse into connected components via the same
# alternating-star machinery as dedup_cc_star, labeling every vector
# with its semantic group (plus cluster size and its top in-cluster
# cosine as a cohesion signal). This is the standard embedding-space
# grouping step (topic/near-topic pools for mixing or per-cluster
# caps) — and the oracle restates the whole chain: band table →
# candidate edges → exact cosine → recursive-CTE components.
# Plan shape: everything before the CC loop is knn_graph's (narrow
# band projection + chunk equi-join + candidate-only rescore); each
# CC round shuffles only the EDGE list (≈ neighbors × vectors with a
# cosine gate, not the corpus).
# --------------------------------------------------------------------------
CLUSTER_COS_TAU = 0.45  # the dedup COSINE_TAU regime: the corpus's planted near-dup gap


def _semantic_clusters_sql() -> str:
    knn_body = _knn_graph_sql().replace("ORDER BY src, rank", "")
    return f"""
WITH RECURSIVE knn AS ({knn_body}),
pairs AS (
  SELECT LEAST(src, neighbor) AS a, GREATEST(src, neighbor) AS b,
         MAX(cosine) AS cosine
  FROM knn WHERE cosine >= {CLUSTER_COS_TAU}
  GROUP BY LEAST(src, neighbor), GREATEST(src, neighbor)
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL SELECT b, a FROM pairs
),
verts AS (SELECT DISTINCT src AS v FROM edges),
reach(v, l) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v
  WHERE r.l < e.dst
),
labeled AS (
  SELECT v AS vec_id, MIN(l) AS cluster_id FROM reach GROUP BY v
),
cohesion AS (
  SELECT v, MAX(cosine) AS top_cos FROM (
    SELECT a AS v, cosine FROM pairs
    UNION ALL SELECT b AS v, cosine FROM pairs
  ) GROUP BY v
)
SELECT lb.vec_id, lb.cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY lb.cluster_id) AS BIGINT)
         AS cluster_size,
       c.top_cos
FROM labeled lb JOIN cohesion c ON c.v = lb.vec_id
ORDER BY vec_id
"""


@register("semantic_clusters", _semantic_clusters_sql())
def semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_to_firehose_spark.operators.dedup import star_components

    knn = knn_graph(spark, sf_dir).filter(
        F.col("cosine") >= CLUSTER_COS_TAU
    )
    pairs = (
        knn.select(
            F.least("src", "neighbor").alias("a"),
            F.greatest("src", "neighbor").alias("b"),
            "cosine",
        )
        .groupBy("a", "b")
        .agg(F.max("cosine").alias("cosine"))
        .localCheckpoint(eager=True)
    )
    labels, _ = star_components(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    cohesion = (
        pairs.select(F.col("a").alias("v"), "cosine")
        .unionAll(pairs.select(F.col("b").alias("v"), "cosine"))
        .groupBy("v")
        .agg(F.max("cosine").alias("top_cos"))
    )
    w = W.partitionBy("cluster_id")
    return (
        labels.select(
            F.col("v").alias("vec_id"), F.col("l").alias("cluster_id")
        )
        .withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
        .join(cohesion, F.col("vec_id") == F.col("v"))
        .select("vec_id", "cluster_id", "cluster_size", "top_cos")
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# graph_pagerank — PageRank over the semantic knn graph: the standard
# graph-centrality pass that ranks HUB documents in embedding space
# (centrality over a knn graph surfaces canonical/duplicative content;
# the inverse signal feeds diversity-aware sampling). Five unrolled
# power iterations with damping 0.85 and dangling-mass
# redistribution.
# Determinism across engines (the PageRank-on-Spark trap is float
# fold order): each edge contribution pr/deg is rounded to 12dp and
# summed as DECIMAL(32,12) — exact, order-independent — and each new
# rank is re-rounded to 12dp, so both engines walk bit-identical
# trajectories regardless of parallelism.
# Scale shape: per iteration one (ranks ⋈ edges) equi-join + one
# groupBy-dst shuffle over the EDGE list (≤ K·|V| rows), the node
# update is a broadcast of two 1-row scalars; iterations are
# checkpoint-cut so the plan stays constant-depth. That is textbook
# distributed PageRank — nothing touches the corpus beyond |V|.
# --------------------------------------------------------------------------
PAGERANK_ITERS = 5


def _pagerank_sql() -> str:
    # MATERIALIZED (DuckDB-only keyword; this SQL never runs on Spark)
    # pins each multiply-referenced CTE to one evaluation — without it
    # DuckDB re-inlines the all-pairs-cosine knn body into every one
    # of the ~3 references per iteration and the oracle takes minutes
    # instead of seconds.
    # The whole power iteration runs in INTEGER units of 1e-12 (pru =
    # pagerank mass · 1e12): every division is exact half-up integer
    # arithmetic ((2a+b) // (2b)), every sum is exact, so the carried
    # state is bit-identical across engines, fold orders, and scale.
    # The previous formulation ROUNDed doubles at 12 dp each
    # iteration — deg=2 rows land on exact 12 dp midpoints where
    # Spark's shortest-string HALF_UP and DuckDB's binary rounding
    # fork (caught by the sf1 parity sweep, round 6).
    knn_body = _knn_graph_sql().replace("ORDER BY src, rank", "")
    parts = [
        f"edges AS MATERIALIZED (SELECT src, neighbor FROM knn)",
        "nodes AS (SELECT vec_id AS v FROM embeddings)",
        "deg AS MATERIALIZED "
        "(SELECT src AS v, COUNT(*) AS deg FROM edges GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "r0 AS (SELECT v, CAST((2000000000000 + nn.n) // (2 * nn.n)"
        " AS BIGINT) AS pru FROM nodes CROSS JOIN nn)",
    ]
    for i in range(PAGERANK_ITERS):
        parts.append(
            f"""c{i} AS (
  SELECT e.neighbor AS v,
         CAST(SUM((r.pru * 2 + d.deg) // (d.deg * 2)) AS BIGINT) AS contrib
  FROM r{i} r JOIN deg d ON d.v = r.v JOIN edges e ON e.src = r.v
  GROUP BY e.neighbor
)"""
        )
        parts.append(
            f"""g{i} AS (
  SELECT CAST(COALESCE(SUM(r.pru), 0) AS BIGINT) AS dm
  FROM r{i} r LEFT JOIN deg d ON d.v = r.v WHERE d.v IS NULL
)"""
        )
        parts.append(
            f"""r{i + 1} AS MATERIALIZED (
  SELECT n.v,
         CAST((300000000000 + nn.n) // (2 * nn.n)
              + (34 * (COALESCE(c.contrib, 0)
                       + (2 * g.dm + nn.n) // (2 * nn.n)) + 20) // 40
           AS BIGINT) AS pru
  FROM nodes n CROSS JOIN nn CROSS JOIN g{i} g
  LEFT JOIN c{i} c ON c.v = n.v
)"""
        )
    body = ",\n".join(parts)
    return f"""
WITH knn AS MATERIALIZED ({knn_body}),
{body}
SELECT r.v AS vec_id,
       CAST((2 * r.pru * nn.n + 1000000) // 2000000 AS DOUBLE) / 1000000.0
         AS pagerank
FROM r{PAGERANK_ITERS} r CROSS JOIN nn
ORDER BY vec_id
"""


@register("graph_pagerank", _pagerank_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the knn store scan is already a plan cut — no checkpoint
    edges = knn_graph(spark, sf_dir).select("src", "neighbor")
    nodes = load(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("v")
    ).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # Hoisted out of the power-iteration loop: out-degree is a static
    # property of the graph, so join it onto the edge list ONCE and
    # checkpoint — each iteration then needs a single r-to-edges join
    # instead of r-to-deg-to-edges (one fewer shuffle per iteration).
    edges_deg = edges.join(deg, "src").localCheckpoint(eager=True)
    # r12 hoists, one per former per-iteration recompute:
    # - n: a 1-row scalar → a driver literal (each iteration re-ran
    #   the embeddings scan + count through the crossJoin(nn) subplan);
    # - the DANGLING NODE SET (static graph property — only its mass
    #   changes per iteration): each iteration re-derived deg from the
    #   knn store scan + groupBy for the anti-join. Checkpointed once,
    #   broadcast into a semi-join per iteration.
    n = nodes.count()
    dang_nodes = nodes.join(
        edges_deg.select("src"), F.col("v") == F.col("src"), "left_anti"
    ).localCheckpoint(eager=True)
    # integer units of 1e-12 end-to-end (see _pagerank_sql): exact
    # half-up integer arithmetic carries bit-identical state in both
    # engines at any fold order / scale; n is a constant-folded
    # literal, bit-identical to the old 1-row crossJoin column
    r = nodes.select(
        "v",
        F.expr(
            f"CAST((2000000000000 + {n}) DIV (2 * {n}) AS BIGINT)"
        ).alias("pru"),
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            r.join(edges_deg, r["v"] == edges_deg["src"])
            .select(
                F.col("neighbor").alias("cv"),
                F.expr("(pru * 2 + deg) DIV (deg * 2)").alias("c"),
            )
            .groupBy("cv")
            .agg(F.sum("c").cast("long").alias("contrib"))
        )
        dang = r.join(
            F.broadcast(dang_nodes.select(F.col("v").alias("dv"))),
            r["v"] == F.col("dv"),
            "left_semi",
        ).agg(F.coalesce(F.sum("pru"), F.lit(0)).cast("long").alias("dm"))
        r = (
            nodes.crossJoin(F.broadcast(dang))
            .join(contrib, nodes["v"] == contrib["cv"], "left")
            .select(
                "v",
                F.expr(
                    f"CAST((300000000000 + {n}) DIV (2 * {n})"
                    " + (34 * (COALESCE(contrib, 0)"
                    f"          + (2 * dm + {n}) DIV (2 * {n})) + 20) DIV 40"
                    " AS BIGINT)"
                ).alias("pru"),
            )
            .localCheckpoint(eager=True)
        )
    return r.select(
        F.col("v").alias("vec_id"),
        F.expr(
            f"CAST((2 * pru * {n} + 1000000) DIV 2000000 AS DOUBLE)"
            " / 1000000.0"
        ).alias("pagerank"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# contrastive_pairs — training-data generation for embedding models:
# for every vector, one POSITIVE (its nearest knn_graph neighbor —
# rank 1 by exact cosine over the banded-LSH candidate space) and
# NEG_K deterministic random NEGATIVES drawn by md5 hash of
# (anchor, k) mod corpus size. A hash collision with the anchor or
# its positive is resolved by stepping +1 (twice at most: three
# consecutive ids cannot all land in a 2-element bad set), so both
# engines pick the identical negative with no RNG and no rejection
# loop. This is the standard (anchor, positive, negative) triplet
# mining shape for contrastive/InfoNCE training.
# Scale shape: positives ride the existing knn plan (band equi-join,
# no all-pairs); negatives are a pure narrow map off the positive
# rows (md5 + arithmetic) with two 1-row scalars broadcast — negative
# ids are drawn by index, never by joining the corpus.
# --------------------------------------------------------------------------
NEG_K = 2


def _contrastive_sql() -> str:
    knn_body = _knn_graph_sql().replace("ORDER BY src, rank", "")
    h = (
        "('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '-' || "
        "CAST(neg_rank AS VARCHAR)), 1, 8))::BIGINT"
    )
    return f"""
WITH knn AS MATERIALIZED ({knn_body}),
pos AS (
  SELECT src AS anchor_id, neighbor AS positive_id, cosine AS pos_cosine
  FROM knn WHERE rank = 1
),
nn AS (SELECT COUNT(*) AS n FROM embeddings),
ks AS (SELECT CAST(unnest(generate_series(1, {NEG_K})) AS BIGINT) AS neg_rank),
base AS (
  SELECT p.*, ks.neg_rank, nn.n, {h} % nn.n AS b0
  FROM pos p CROSS JOIN ks CROSS JOIN nn
),
fix1 AS (
  SELECT *, CASE WHEN b0 IN (anchor_id, positive_id)
                 THEN (b0 + 1) % n ELSE b0 END AS b1
  FROM base
),
fix2 AS (
  SELECT *, CASE WHEN b1 IN (anchor_id, positive_id)
                 THEN (b1 + 1) % n ELSE b1 END AS b2
  FROM fix1
)
SELECT anchor_id, positive_id, pos_cosine, neg_rank,
       CAST(b2 AS BIGINT) AS negative_id
FROM fix2
ORDER BY anchor_id, neg_rank
"""


@register("contrastive_pairs", _contrastive_sql())
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = (
        knn_graph(spark, sf_dir)
        .filter(F.col("rank") == 1)
        .select(
            F.col("src").alias("anchor_id"),
            F.col("neighbor").alias("positive_id"),
            F.col("cosine").alias("pos_cosine"),
        )
    )
    nn = (
        load(spark, "embeddings", sf_dir)
        .agg(F.count("*").alias("n"))
    )
    h = F.expr(
        "CAST(conv(substring(md5(CAST(anchor_id AS STRING) || '-' || "
        "CAST(neg_rank AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    )
    base = (
        pos.crossJoin(F.broadcast(nn))
        .select(
            "*",
            F.explode(F.sequence(F.lit(1), F.lit(NEG_K))).alias("nk"),
        )
        .withColumn("neg_rank", F.col("nk").cast("bigint"))
        .drop("nk")
        .withColumn("b0", h % F.col("n"))
    )
    def step(c):
        collides = (c == F.col("anchor_id")) | (c == F.col("positive_id"))
        return F.when(collides, (c + 1) % F.col("n")).otherwise(c)
    fixed = base.withColumn("b1", step(F.col("b0"))).withColumn(
        "b2", step(F.col("b1"))
    )
    return fixed.select(
        "anchor_id",
        "positive_id",
        "pos_cosine",
        "neg_rank",
        F.col("b2").cast("bigint").alias("negative_id"),
    ).orderBy("anchor_id", "neg_rank")


# --------------------------------------------------------------------------
# graph_triangle_count — per-node triangle counts over the UNDIRECTED
# knn graph (knn edges symmetrized to canonical a<b pairs): the local
# clustering signal that separates tight duplicate/boilerplate
# neighborhoods (many triangles) from chain-like topical neighbors
# (few). Standard distributed shape: with edges held a<b, a triangle
# (a<b<c) is found exactly once by joining E(a,b) ⋈ E(b,c) on the
# middle node and probing E(a,c) — two equi-join shuffles over the
# EDGE list only (≤ K·|V| rows; the wedge fan-out is bounded by the
# knn degree), then an explode to credit each corner.
# --------------------------------------------------------------------------
def _triangle_sql() -> str:
    knn_body = _knn_graph_sql().replace("ORDER BY src, rank", "")
    return f"""
WITH knn AS MATERIALIZED ({knn_body}),
edges AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, neighbor) AS a,
                  GREATEST(src, neighbor) AS b
  FROM knn
),
tris AS (
  SELECT e1.a AS a, e1.b AS b, e2.b AS c
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT unnest([a, b, c]) AS vec_id FROM tris
)
SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners
GROUP BY vec_id
ORDER BY vec_id
"""


@register("graph_triangle_count", _triangle_sql())
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        knn_graph(spark, sf_dir)
        .select(
            F.least("src", "neighbor").alias("a"),
            F.greatest("src", "neighbor").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tris = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("ta"),
            F.col("e1.b").alias("tb"),
            F.col("e2.b").alias("tc"),
        )
    )
    return (
        tris.select(
            F.explode(F.array("ta", "tb", "tc")).alias("vec_id")
        )
        .groupBy("vec_id")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# label_knn_accuracy — embedding-quality QA with the labels the table
# already carries: leave-one-out 1-NN label agreement per class (each
# vector's knn rank-1 neighbor votes; agreement rate ≈ how well the
# embedding space separates the labels — the cheapest useful probe
# before training anything). Rides the existing knn plan; the label
# joins are key-joins on vec_id.
# --------------------------------------------------------------------------
def _label_knn_sql() -> str:
    knn_body = _knn_graph_sql().replace("ORDER BY src, rank", "")
    return f"""
WITH knn AS MATERIALIZED ({knn_body}),
nn1 AS (SELECT src, neighbor FROM knn WHERE rank = 1),
votes AS (
  SELECT a.label AS label,
         CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS hit
  FROM nn1
  JOIN embeddings a ON a.vec_id = nn1.src
  JOIN embeddings b ON b.vec_id = nn1.neighbor
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(hit) AS BIGINT) AS n_correct,
       CAST((CAST(SUM(hit) AS BIGINT) * 20000 + COUNT(*))
            // (COUNT(*) * 2) AS DOUBLE) / 10000.0 AS accuracy
FROM votes
GROUP BY label
ORDER BY label
"""


@register("label_knn_accuracy", _label_knn_sql())
def label_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    nn1 = knn_graph(spark, sf_dir).filter(F.col("rank") == 1).select(
        "src", "neighbor"
    )
    labels = load(spark, "embeddings", sf_dir).select("vec_id", "label")
    votes = (
        nn1.join(
            labels.select(
                F.col("vec_id").alias("src"), F.col("label").alias("label")
            ),
            "src",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor"),
                F.col("label").alias("nb_label"),
            ),
            "neighbor",
        )
        .select(
            "label",
            (F.col("label") == F.col("nb_label")).cast("int").alias("hit"),
        )
    )
    return (
        votes.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("hit").cast("bigint").alias("n_correct"),
            F.expr(
                "CAST((SUM(hit) * 20000 + COUNT(*))"
                " DIV (COUNT(*) * 2) AS DOUBLE) / 10000.0"
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# label_centroid_stats — the second embedding-QA probe: per-label
# CLASS CENTROIDS (exact-decimal per-dimension mean — order-
# independent at any parallelism) and each vector's cosine to its own
# class centroid, aggregated to per-label cohesion stats (mean/min
# cosine + count of vectors at or below 0 — candidates for label
# noise). Complements label_knn_accuracy: knn agreement is local,
# centroid cohesion is global.
# Scale shape: one posexplode (×dims) into a (label, dim) aggregate —
# the centroid table is labels × dims, trivially broadcast; the
# rescore is a narrow map over the corpus. Determinism: dim sums in
# DECIMAL(20,8) of 8dp-rounded components; centroid dims and cosines
# re-rounded; the per-label mean divides an exact DECIMAL(18,6) sum.
# --------------------------------------------------------------------------
CENTROID_OUTLIER_TAU = 0.0


def _label_centroid_sql() -> str:
    dot_c = dot_expr("e.embedding", "t.c", "duck")
    nrm_e = norm_expr("e.embedding", "duck")
    nrm_c = norm_expr("c", "duck")
    return f"""
WITH ex AS (
  SELECT label, vec_id,
         unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
),
cd AS (
  SELECT label, dim,
         SUM(CAST(ROUND(x::DOUBLE, 8) AS DECIMAL(20,8))) AS s,
         COUNT(*) AS n
  FROM ex GROUP BY label, dim
),
cent AS (
  SELECT label, list(ROUND(CAST(s AS DOUBLE) / n, 8) ORDER BY dim) AS c
  FROM cd GROUP BY label
),
centn AS (SELECT label, c, {nrm_c} AS cnrm FROM cent),
scored AS (
  SELECT e.label, e.vec_id,
         ROUND({dot_c} / ({nrm_e} * t.cnrm), 6) AS cos
  FROM embeddings e JOIN centn t USING (label)
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS mean_cos,
       MIN(cos) AS min_cos,
       CAST(SUM(CASE WHEN cos <= {CENTROID_OUTLIER_TAU} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM scored
GROUP BY label
ORDER BY label
"""


@register("label_centroid_stats", _label_centroid_sql())
def label_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "embeddings", sf_dir)
    ex = e.select(
        "label",
        "vec_id",
        F.posexplode("embedding").alias("pos", "x"),
    ).select("label", "vec_id", (F.col("pos") + 1).alias("dim"), "x")
    cd = ex.groupBy("label", "dim").agg(
        F.sum(
            F.round(F.col("x").cast("double"), 8).cast("decimal(20,8)")
        ).alias("s"),
        F.count("*").alias("n"),
    )
    cent = (
        cd.select(
            "label",
            F.struct(
                "dim",
                F.round(F.col("s").cast("double") / F.col("n"), 8).alias(
                    "cval"
                ),
            ).alias("dc"),
        )
        .groupBy("label")
        .agg(
            F.expr("transform(array_sort(collect_list(dc)), s -> s.cval)")
            .alias("c")
        )
        .withColumn("cnrm", F.expr(norm_expr("c", "spark")))
    )
    cos = F.round(
        F.expr(dot_expr("embedding", "c", "spark"))
        / (F.expr(norm_expr("embedding", "spark")) * F.col("cnrm")),
        6,
    )
    scored = e.join(F.broadcast(cent), "label").select(
        "label", "vec_id", cos.alias("cos")
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("cos").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_cos"),
            F.min("cos").alias("min_cos"),
            F.sum(
                (F.col("cos") <= CENTROID_OUTLIER_TAU).cast("int")
            ).cast("bigint").alias("n_outliers"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Product quantization (pq_quantize / ann_pq_topk) — the memory-side
# half of billion-scale ANN (IVF-PQ): split the 64-dim vector into
# M=8 subspaces of 8 dims, quantize each subvector to its nearest of
# K=16 per-subspace centroids (codes: 8 bytes per vector instead of
# 256 — a 32× memory cut), and answer queries with ASYMMETRIC
# distance (ADC): the query precomputes its M×K distance table (tiny,
# broadcast), and each candidate's distance is just M table lookups
# summed — no float vector math per candidate at query time.
# Centroids are deterministic seed subvectors (vec_id < K), the same
# convention as the seed-IVF op; swap in Lloyd-trained subspace
# centroids exactly like ann_ivf_trained does for full vectors.
# Determinism: subspace L2 distances fold in fixed dim order (same
# IEEE sequence both engines), are rounded to 8dp before argmin with
# centroid-id tie-break; ADC sums 8dp-rounded lookups as
# DECIMAL(20,8) — exact, order-independent.
# Scale shape: quantization is a narrow map over a broadcast M×K
# centroid table; search shuffles only (candidate, subspace, code)
# lookup rows and aggregates per (query, candidate).
# --------------------------------------------------------------------------
PQ_M = 8        # subspaces
PQ_DSUB = 8     # dims per subspace (M * DSUB = 64)
PQ_K = 16       # centroids per subspace
PQ_TOP_K = 10


def l2sq_expr(a: str, b: str, engine: str) -> str:
    """Squared L2 over two equal-length arrays; fixed fold order."""
    if engine == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) "
        f"* ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), (x, y) -> x + y)"
    )


_PQ_SUBS_SQL = f"""subs AS (
  SELECT vec_id, m.m AS m,
         list_slice(embedding, m.m * {PQ_DSUB} + 1,
                    m.m * {PQ_DSUB} + {PQ_DSUB}) AS sv
  FROM embeddings
  CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
),
cents AS (
  SELECT m, vec_id AS cid, sv AS cv FROM subs WHERE vec_id < {PQ_K}
),
dists AS (
  SELECT s.vec_id, s.m, c.cid,
         ROUND({l2sq_expr('s.sv', 'c.cv', 'duck')}, 8) AS d
  FROM subs s JOIN cents c USING (m)
),
codes AS (
  SELECT vec_id, m, cid AS code
  FROM (
    SELECT vec_id, m, cid,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id, m ORDER BY d, cid
           ) AS rk
    FROM dists
  ) WHERE rk = 1
)"""

PQ_QUANTIZE_SQL = f"""
WITH {_PQ_SUBS_SQL}
SELECT vec_id, list(CAST(code AS BIGINT) ORDER BY m) AS codes
FROM codes
GROUP BY vec_id
ORDER BY vec_id
"""


def _pq_subs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice("embedding", m * PQ_DSUB + 1, PQ_DSUB).alias("sv"),
            )
            for m in range(PQ_M)
        ]
    )
    return e.select(
        "vec_id", F.explode(sub_structs).alias("s")
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _collect_vectors(df: DataFrame, id_col: str = "vec_id"):
    """Driver-side float64 matrix of a TINY vector table (codebook
    seeds / coarse centroids — tens of rows by convention), indexed
    densely by id rank. Returns (ids, matrix)."""
    import numpy as np

    rows = sorted(df.select(id_col, "embedding").collect(), key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return ids, mat


def _pq_codebook_np(mat):
    """(M, K, DSUB) float64 subspace codebook from K seed vectors."""
    return mat.reshape(PQ_K, PQ_M, PQ_DSUB).transpose(1, 0, 2)


def _encode_codes_np(E, C):
    """Vectorized nearest-subspace-centroid encode, matching the SQL
    definition: squared-L2 folds dim-by-dim from 0.0 (elementwise
    numpy adds are the same IEEE op sequence per element as
    aggregate/list_reduce), distances round to 8dp before argmin
    (np.round half-even vs SQL HALF_UP — divergent only within ~1 ulp
    of an 8dp midpoint; see _assign_cells_np for the canary posture),
    and np.argmin's first-minimum rule IS the ORDER BY d, cid
    tie-break. E: (n, dim); C: (M, K, DSUB); → (n, M) int64."""
    import numpy as np

    n = E.shape[0]
    codes = np.empty((n, PQ_M), dtype=np.int64)
    for m in range(PQ_M):
        sub = E[:, m * PQ_DSUB : (m + 1) * PQ_DSUB]
        acc = np.zeros((n, PQ_K), dtype=np.float64)
        for d in range(PQ_DSUB):  # fold order == aggregate/list_reduce
            diff = sub[:, d, None] - C[m, None, :, d]
            acc = acc + diff * diff
        codes[:, m] = np.argmin(np.round(acc, 8), axis=1)
    return codes


def _pq_code_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, codes array<bigint>): per-vector PQ codes via one
    Arrow-batched pass (round-10 rework; was an N×M×K interpreted-HOF
    distance join + row_number window — 17.8s at sf3 for what is
    ~60k×8×16 fused float ops). The codebook (16 seed vectors) rides
    the closure — the broadcast-small-dim pattern with a numpy body."""
    import numpy as np
    import pandas as pd

    _, seeds = _collect_vectors(
        load(spark, "embeddings", sf_dir).filter(F.col("vec_id") < PQ_K)
    )
    C = _pq_codebook_np(seeds)
    e = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")

    def _encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.array(list(pdf["embedding"]), dtype=np.float64)
            codes = _encode_codes_np(E, C)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return e.mapInPandas(_encode, schema="vec_id long, codes array<bigint>")


@register("pq_quantize", PQ_QUANTIZE_SQL)
def pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_code_arrays(spark, sf_dir).orderBy("vec_id")


ANN_PQ_SQL = f"""
WITH {_PQ_SUBS_SQL},
qtab AS (
  SELECT s.vec_id AS query_id, s.m, c.cid,
         ROUND({l2sq_expr('s.sv', 'c.cv', 'duck')}, 8) AS d
  FROM subs s JOIN cents c USING (m)
  WHERE s.vec_id < {N_QUERIES}
),
adc AS (
  SELECT q.query_id, k.vec_id AS candidate_id,
         CAST(SUM(CAST(q.d AS DECIMAL(20,8))) AS DOUBLE) AS dist
  FROM codes k
  JOIN qtab q ON q.m = k.m AND q.cid = k.code
  WHERE k.vec_id >= {N_QUERIES}
  GROUP BY q.query_id, k.vec_id
)
SELECT query_id, candidate_id, ROUND(dist, 6) AS adc_dist,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY dist, candidate_id
       ) AS BIGINT) AS rk
FROM adc
QUALIFY rk <= {PQ_TOP_K}
ORDER BY query_id, rk
"""


@register("ann_pq_topk", ANN_PQ_SQL)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    subs = _pq_subs(spark, sf_dir)
    cents = subs.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    d = F.round(F.expr(l2sq_expr("sv", "cv", "spark")), 8)
    qtab = (
        subs.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cents), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            F.col("cid").alias("code"),
            d.alias("d"),
        )
    )
    # candidate codes from the Arrow encode kernel; posexplode's
    # 0-based position IS the subspace index m
    codes = (
        _pq_code_arrays(spark, sf_dir)
        .filter(F.col("vec_id") >= N_QUERIES)
        .select("vec_id", F.posexplode("codes").alias("m", "code"))
    )
    adc = (
        codes.join(F.broadcast(qtab), ["m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("candidate_id"))
        .agg(
            F.sum(F.col("d").cast("decimal(20,8)"))
            .cast("double")
            .alias("dist")
        )
    )
    wk = W.partitionBy("query_id").orderBy("dist", "candidate_id")
    return (
        adc.withColumn("rk", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rk") <= PQ_TOP_K)
        .select(
            "query_id",
            "candidate_id",
            F.round("dist", 6).alias("adc_dist"),
            "rk",
        )
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# mmr_rerank — Maximal Marginal Relevance diverse re-ranking: take the
# brute-force top-MMR_C candidates per query and greedily select MMR_K
# of them maximizing λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s) — the
# standard redundancy-killer between retrieval and a context window
# (Carbonell & Goldstein '98). No Spark built-in exists; the greedy
# loop is a FIXED-K sequence, so both engines run the same K unrolled
# argmax stages (the pagerank trick) — fully declarative, no Python
# kernel, no recursion.
#
# Determinism: rel and pair sims are fold-order-exact cosines rounded
# to 6dp at creation; each stage score is one fixed scalar expression
# (CAST(λ) doubles) re-rounded to 6dp, ties → lower candidate_id, so
# both engines walk identical selection trajectories.
#
# Scale shape: the candidate pool is top-C per query (C=20) — every
# later stage joins tables bounded by #queries·C rows keyed on
# query_id, and the pair-sim table by #queries·C²; corpus size only
# enters through the initial (already-proven) top-C scan. cand/ps are
# localCheckpoint-ed so the K stages don't replay the corpus scan K
# times.
# --------------------------------------------------------------------------
MMR_C = 20
MMR_K = 5
# λ/(1-λ) as exact decimals: the stage score is computed entirely in
# decimal (double rel/sim re-quantized to DECIMAL(8,6), which both
# engines convert identically) and rounded as a decimal — half-away
# ties agree across engines, where double ROUND half-boundaries do
# not (observed: one 6dp boundary hit flipped a step-1 score).
_LAM = "CAST(0.7 AS DECIMAL(2,1))"
_OML = "CAST(0.3 AS DECIMAL(2,1))"  # 1 - λ
_SC1_SQL = f"CAST(ROUND({_LAM} * CAST(rel AS DECIMAL(8,6)), 6) AS DOUBLE)"
_SCN_SQL = (
    f"CAST(ROUND({_LAM} * CAST(rel AS DECIMAL(8,6)) - "
    f"{_OML} * CAST(maxsim AS DECIMAL(8,6)), 6) AS DOUBLE)"
)
_MMR_PAIR_SQL = f"({dot_expr('na.embedding', 'nb.embedding', 'duck')} / (na.nrm * nb.nrm))"


def _mmr_sql() -> str:
    parts = [
        f"""cand0 AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cid,
         ROUND({_COS_SQL.replace('q_emb', 'q.embedding').replace('c_emb', 'c.embedding').replace('q_nrm', 'q.nrm').replace('c_nrm', 'c.nrm')}, 6) AS rel
  FROM normed q
  JOIN normed c ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
)""",
        f"""cand AS MATERIALIZED (
  SELECT query_id, cid, rel FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY rel DESC, cid) AS rk
    FROM cand0)
  WHERE rk <= {MMR_C}
)""",
        f"""ps AS MATERIALIZED (
  SELECT x.query_id, x.cid AS a_id, y.cid AS b_id,
         ROUND({_MMR_PAIR_SQL}, 6) AS sim
  FROM cand x
  JOIN cand y ON x.query_id = y.query_id AND x.cid <> y.cid
  JOIN normed na ON na.vec_id = x.cid
  JOIN normed nb ON nb.vec_id = y.cid
)""",
        f"""s1 AS (
  SELECT query_id, cid, rel, {_SC1_SQL} AS score FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY rel DESC, cid) AS rk
    FROM cand)
  WHERE rk = 1
)""",
        "sel1 AS (SELECT query_id, cid FROM s1)",
    ]
    for i in range(2, MMR_K + 1):
        p = i - 1
        parts.append(f"""m{i} AS (
  SELECT c.query_id, c.cid, c.rel, MAX(p.sim) AS maxsim
  FROM cand c
  JOIN ps p ON p.query_id = c.query_id AND p.a_id = c.cid
  JOIN sel{p} s ON s.query_id = p.query_id AND s.cid = p.b_id
  WHERE NOT EXISTS (SELECT 1 FROM sel{p} d
                    WHERE d.query_id = c.query_id AND d.cid = c.cid)
  GROUP BY c.query_id, c.cid, c.rel
)""")
        parts.append(f"""s{i} AS (
  SELECT query_id, cid, rel, score FROM (
    SELECT query_id, cid, rel,
           {_SCN_SQL} AS score,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY {_SCN_SQL} DESC, cid
           ) AS rn
    FROM m{i})
  WHERE rn = 1
)""")
        parts.append(
            f"sel{i} AS (SELECT * FROM sel{p} "
            f"UNION ALL SELECT query_id, cid FROM s{i})"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT query_id, cid AS candidate_id, rel AS relevance, score AS mmr_score, "
        f"CAST({i} AS BIGINT) AS step FROM s{i}"
        for i in range(1, MMR_K + 1)
    )
    return f"{NORMED_CTE},\n" + ",\n".join(parts) + f"""
SELECT * FROM ({union})
ORDER BY query_id, step
"""


@register("mmr_rerank", _mmr_sql())
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    lam = F.lit(0.7).cast("decimal(2,1)")
    oml = F.lit(0.3).cast("decimal(2,1)")
    n = normed_embeddings(spark, sf_dir)
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = n.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id", "cid", F.round(F.expr(_COS), 6).alias("rel")
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("rel"), "cid")
    cand = (
        scored.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= MMR_C)
        .select("query_id", "cid", "rel")
        .localCheckpoint(eager=True)
    )
    na = n.select(
        F.col("vec_id").alias("a_vid"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    nb = n.select(
        F.col("vec_id").alias("b_vid"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    x = cand.select("query_id", F.col("cid").alias("a_id"))
    y = cand.select("query_id", F.col("cid").alias("b_id"))
    pair_cos = (
        f"({dot_expr_unrolled('a_emb', 'b_emb', EMB_DIM)} / (a_nrm * b_nrm))"
    )
    # broadcast the candidate-pair side into the embedding lookups:
    # every table here is bounded by #queries·C² rows (checkpointed
    # RDD-backed plans carry no size estimate, so without the hint the
    # planner fell back to sort-merge — 4 exchanges + sorts per join)
    ps = (
        F.broadcast(
            F.broadcast(
                x.join(y, "query_id").filter(F.col("a_id") != F.col("b_id"))
            ).join(na, F.col("a_vid") == F.col("a_id"))
        )
        .join(nb, F.col("b_vid") == F.col("b_id"))
        .select(
            "query_id", "a_id", "b_id",
            F.round(F.expr(pair_cos), 6).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    s1 = (
        cand.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") == 1)
        .select(
            "query_id", "cid", "rel",
            F.round(lam * F.col("rel").cast("decimal(8,6)"), 6)
            .cast("double")
            .alias("score"),
        )
    )
    sel = s1.select("query_id", "cid")
    steps = [s1.withColumn("step", F.lit(1).cast("bigint"))]
    psr = ps.select(
        F.col("query_id").alias("p_qid"), "a_id", "b_id", "sim"
    )
    for i in range(2, MMR_K + 1):
        # sel is ≤ #queries·K rows and psr ≤ #queries·C² — broadcast
        # every per-step join (checkpointed inputs have no size stats;
        # unhinted, each step planned 3 sort-merge joins)
        m = (
            cand.join(F.broadcast(sel), ["query_id", "cid"], "left_anti")
            .join(
                F.broadcast(psr),
                (F.col("query_id") == F.col("p_qid"))
                & (F.col("cid") == F.col("a_id")),
            )
            .join(
                F.broadcast(
                    sel.select(
                        F.col("query_id").alias("s_qid"),
                        F.col("cid").alias("s_cid"),
                    )
                ),
                (F.col("query_id") == F.col("s_qid"))
                & (F.col("b_id") == F.col("s_cid")),
            )
            .groupBy("query_id", "cid", "rel")
            .agg(F.max("sim").alias("maxsim"))
        )
        score = F.round(
            lam * F.col("rel").cast("decimal(8,6)")
            - oml * F.col("maxsim").cast("decimal(8,6)"),
            6,
        ).cast("double")
        ws = W.partitionBy("query_id").orderBy(F.desc("score"), "cid")
        si = (
            m.withColumn("score", score)
            .withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select("query_id", "cid", "rel", "score")
        )
        steps.append(si.withColumn("step", F.lit(i).cast("bigint")))
        sel = sel.unionAll(si.select("query_id", "cid")).localCheckpoint(
            eager=True
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.unionAll(s)
    return out.select(
        "query_id",
        F.col("cid").alias("candidate_id"),
        F.col("rel").alias("relevance"),
        F.col("score").alias("mmr_score"),
        "step",
    ).orderBy("query_id", "step")


# --------------------------------------------------------------------------
# mutual_knn — reciprocal-nearest-neighbor filter over the knn graph:
# keep only edges where BOTH endpoints rank each other in their top-K
# (a ∈ knn(b) ∧ b ∈ knn(a)). Mutual-kNN is the standard
# high-precision matching primitive (translation mining, robust dedup
# candidates, cluster seeding) — one-directional knn edges are noisy
# near hubs; reciprocity kills hub edges.
#
# Shape: the knn edge list (≤ K·|V| rows) self-joins on the REVERSED
# (src, neighbor) key — an equi-join between two edge-list-sized
# tables, nothing touches the corpus again (the Spark side
# localCheckpoints the knn result so the LSH band join isn't replayed
# for the second reference). Cosine is symmetric bit-for-bit (per-dim
# products commute inside the same fold), so one edge's score is
# reported for the pair.
# --------------------------------------------------------------------------
MUTUAL_KNN_SQL = f"""
WITH knn AS MATERIALIZED (
{_knn_graph_sql().replace("ORDER BY src, rank", "")}
)
SELECT k1.src AS vec_id_1, k1.neighbor AS vec_id_2, k1.cosine,
       k1.rank AS rank_ab, k2.rank AS rank_ba
FROM knn k1
JOIN knn k2 ON k2.src = k1.neighbor AND k2.neighbor = k1.src
WHERE k1.src < k1.neighbor
ORDER BY vec_id_1, vec_id_2
"""


@register("mutual_knn", MUTUAL_KNN_SQL)
def mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    knn = knn_graph(spark, sf_dir)  # store scan: both sides read parquet
    k2 = knn.select(
        F.col("src").alias("r_src"),
        F.col("neighbor").alias("r_neighbor"),
        F.col("rank").alias("rank_ba"),
    )
    return (
        knn.join(
            k2,
            (F.col("r_src") == F.col("neighbor"))
            & (F.col("r_neighbor") == F.col("src")),
        )
        .filter(F.col("src") < F.col("neighbor"))
        .select(
            F.col("src").alias("vec_id_1"),
            F.col("neighbor").alias("vec_id_2"),
            "cosine",
            F.col("rank").alias("rank_ab"),
            "rank_ba",
        )
        .orderBy("vec_id_1", "vec_id_2")
    )


# --------------------------------------------------------------------------
# embedding_drift — distribution-drift monitor between two cohorts
# (vec_id parity proxies deploy-window A vs B): per label, the L2
# distance between cohort centroids plus the cohort count ratio. The
# embedding-space analogue of feature-drift dashboards — a centroid
# that moves signals upstream encoder/data change before task metrics
# do.
#
# Determinism: centroids reuse label_centroid_stats' exact-decimal
# per-dimension accumulation (8dp-rounded components into
# DECIMAL(20,8) sums — order-free at any parallelism), and the
# distance folds (a_i−b_i)² in the same sequential order in both
# engines. Scale shape: one posexplode into a (label, cohort, dim)
# aggregate — the centroid table is labels × 2 × dims and the join
# that pairs cohorts is label-keyed over that tiny table; nothing
# quadratic, corpus touched once.
# --------------------------------------------------------------------------
def _drift_dist(a: str, b: str, engine: str) -> str:
    if engine == "spark":
        return (
            f"sqrt(aggregate(zip_with({a}, {b}, (x, y) -> "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
        )
    return (
        f"sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) "
        f"* ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), (x, y) -> x + y))"
    )


DRIFT_SQL = f"""
WITH ex AS (
  SELECT label, vec_id % 2 AS cohort,
         unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
),
cd AS (
  SELECT label, cohort, dim,
         SUM(CAST(ROUND(x::DOUBLE, 8) AS DECIMAL(20,8))) AS s,
         COUNT(*) AS n
  FROM ex GROUP BY label, cohort, dim
),
cent AS (
  SELECT label, cohort,
         list(ROUND(CAST(s AS DOUBLE) / n, 8) ORDER BY dim) AS c,
         MAX(n) AS n_vecs
  FROM cd GROUP BY label, cohort
)
SELECT a.label,
       CAST(a.n_vecs AS BIGINT) AS n_a,
       CAST(b.n_vecs AS BIGINT) AS n_b,
       ROUND({_drift_dist('a.c', 'b.c', 'duck')}, 6) AS centroid_l2,
       ROUND(b.n_vecs * 1.0 / a.n_vecs, 6) AS count_ratio
FROM cent a JOIN cent b ON a.label = b.label
WHERE a.cohort = 0 AND b.cohort = 1
ORDER BY a.label
"""


@register("embedding_drift", DRIFT_SQL)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "embeddings", sf_dir)
    ex = e.select(
        "label",
        (F.col("vec_id") % 2).alias("cohort"),
        F.posexplode("embedding").alias("pos", "x"),
    ).select("label", "cohort", (F.col("pos") + 1).alias("dim"), "x")
    cd = ex.groupBy("label", "cohort", "dim").agg(
        F.sum(
            F.round(F.col("x").cast("double"), 8).cast("decimal(20,8)")
        ).alias("s"),
        F.count("*").alias("n"),
    )
    cent = (
        cd.select(
            "label",
            "cohort",
            F.struct(
                "dim",
                F.round(F.col("s").cast("double") / F.col("n"), 8).alias(
                    "cval"
                ),
            ).alias("dc"),
            "n",
        )
        .groupBy("label", "cohort")
        .agg(
            F.expr("transform(array_sort(collect_list(dc)), s -> s.cval)")
            .alias("c"),
            F.max("n").alias("n_vecs"),
        )
    )
    a = cent.filter(F.col("cohort") == 0).select(
        "label", F.col("c").alias("ca"), F.col("n_vecs").alias("n_a")
    )
    b = cent.filter(F.col("cohort") == 1).select(
        "label", F.col("c").alias("cb"), F.col("n_vecs").alias("n_b")
    )
    return (
        a.join(b, "label")
        .select(
            "label",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.expr(_drift_dist("ca", "cb", "spark")), 6
            ).alias("centroid_l2"),
            F.round(F.col("n_b") * 1.0 / F.col("n_a"), 6).alias(
                "count_ratio"
            ),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# ann_ivfpq_topk — the composed IVFADC index (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011): an IVF
# coarse quantizer routes each vector to a cell, PQ encodes the
# RESIDUAL (vector − cell centroid) with a global M-subspace codebook,
# and queries probe their N_PROBE nearest cells scoring candidates by
# asymmetric distance (per-probed-cell residual distance tables, M
# lookups per candidate). This is the canonical billion-scale ANN
# layout — seed-centroid IVF (IVF_SQL) and ann_pq_topk are its two
# halves.
#
# Conventions: coarse centroids are the seed vectors (vec_id <
# N_CENTROIDS, as in IVF_SQL); the residual codebook seeds are
# the next PQ_K vectors' residuals (vec_id ∈ [N_CENTROIDS,
# N_CENTROIDS+PQ_K) — past the centroids, whose own residuals are
# degenerate zeros). Candidates are vec_id >= N_QUERIES (the
# ann_pq_topk convention).
#
# Determinism: residuals are exact IEEE double subtractions in fixed
# dim order; subspace L2 distances fold in fixed order and are
# rounded to 8dp before argmin with centroid-id tie-break; ADC sums
# the 8dp lookups as DECIMAL(20,8) — order-independent — and final
# ranks break ties on candidate_id.
#
# Scale shape: assignment and residual encode are narrow maps over
# broadcast centroid tables (coarse K + M×K codewords); the only
# per-candidate search cost is the (cell, m, code) equi-join against
# the broadcast query tables and a map-side-combined (query,
# candidate) aggregate — no full-vector float math at query time, no
# corpus shuffle beyond the code table itself.
# --------------------------------------------------------------------------
_RESID_SPARK = (
    "zip_with(embedding, c_emb, (x, y) -> "
    "CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
)


def _resid_duck(vec: str, cent: str) -> str:
    return (
        f"list_transform(range(1, len({vec}) + 1), "
        f"i -> {vec}[i]::DOUBLE - {cent}[i]::DOUBLE)"
    )


_SUBS_M_SQL = (
    f"CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m"
)

IVFPQ_SQL = f"""
{NORMED_CTE},
centroids AS (
  SELECT vec_id AS centroid_id, embedding, nrm FROM normed
  WHERE vec_id < {N_CENTROIDS}
),
ranked_cells AS (
  SELECT v.vec_id, c.centroid_id AS cell,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND({_ASSIGN_COS_SQL}, 6) DESC, c.centroid_id
         ) AS rk
  FROM normed v, centroids c
),
assignment AS (
  SELECT vec_id, cell FROM ranked_cells WHERE rk = 1
),
resid AS (
  SELECT v.vec_id, a.cell, {_resid_duck('v.embedding', 'c.embedding')} AS r
  FROM embeddings v
  JOIN assignment a ON a.vec_id = v.vec_id
  JOIN centroids c ON c.centroid_id = a.cell
),
rsubs AS (
  SELECT vec_id, cell, m.m AS m,
         list_slice(r, m.m * {PQ_DSUB} + 1,
                    m.m * {PQ_DSUB} + {PQ_DSUB}) AS sv
  FROM resid
  {_SUBS_M_SQL}
),
rcents AS (
  SELECT m, vec_id - {N_CENTROIDS} AS cid, sv AS cv
  FROM rsubs
  WHERE vec_id >= {N_CENTROIDS} AND vec_id < {N_CENTROIDS + PQ_K}
),
codes AS (
  SELECT vec_id, cell, m, cid AS code
  FROM (
    SELECT s.vec_id, s.cell, s.m, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY ROUND({l2sq_expr('s.sv', 'c.cv', 'duck')}, 8), c.cid
           ) AS rk
    FROM rsubs s JOIN rcents c USING (m)
    WHERE s.vec_id >= {N_QUERIES}
  ) WHERE rk = 1
),
qres AS (
  SELECT p.vec_id AS query_id, p.cell,
         {_resid_duck('v.embedding', 'c.embedding')} AS r
  FROM ranked_cells p
  JOIN embeddings v ON v.vec_id = p.vec_id
  JOIN centroids c ON c.centroid_id = p.cell
  WHERE p.vec_id < {N_QUERIES} AND p.rk <= {N_PROBE}
),
qtab AS (
  SELECT s.query_id, s.cell, s.m, c.cid AS code,
         ROUND({l2sq_expr('s.sv', 'c.cv', 'duck')}, 8) AS d
  FROM (
    SELECT query_id, cell, m.m AS m,
           list_slice(r, m.m * {PQ_DSUB} + 1,
                      m.m * {PQ_DSUB} + {PQ_DSUB}) AS sv
    FROM qres
    {_SUBS_M_SQL}
  ) s
  JOIN rcents c USING (m)
),
adc AS (
  SELECT q.query_id, k.vec_id AS candidate_id, k.cell,
         CAST(SUM(CAST(q.d AS DECIMAL(20,8))) AS DOUBLE) AS dist
  FROM codes k
  JOIN qtab q ON q.cell = k.cell AND q.m = k.m AND q.code = k.code
  GROUP BY q.query_id, k.vec_id, k.cell
)
SELECT query_id, candidate_id, cell, ROUND(dist, 6) AS adc_dist,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY dist, candidate_id
       ) AS BIGINT) AS rk
FROM adc
QUALIFY rk <= {PQ_TOP_K}
ORDER BY query_id, rk
"""


def _slice_resid_subs(df: DataFrame, keys: list[str]) -> DataFrame:
    """Explode a residual column ``r`` into (keys..., m, sv) subspace
    slices — the PQ_M-way fan-out is a pure narrow map."""
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice("r", m * PQ_DSUB + 1, PQ_DSUB).alias("sv"),
            )
            for m in range(PQ_M)
        ]
    )
    return df.select(*keys, F.explode(sub_structs).alias("s")).select(
        *keys, F.col("s.m").alias("m"), F.col("s.sv").alias("sv")
    )


def _assign_cells_np(E, Cn):
    """Nearest coarse cell per row, matching _ranked_cells' rk=1: the
    cosine folds dim-by-dim (dot_expr order) and divides by the nrm
    product (_ASSIGN_COS_SQL's tree) — those IEEE steps are exact
    twins. The 6dp rounding is np.round (scale-multiply, half-even)
    vs Spark/DuckDB's exact-decimal HALF_UP: identical except for
    inputs within ~1 ulp of a 6dp midpoint, where a differently
    rounded value could flip an argmax tie (ADVICE r10 — no such
    input exists in any tested corpus; the full oracle sweep at
    sf0.01/sf1/sf3 is the standing canary, and a flip would surface
    as a parity red, not a silent wrong answer). np.argmax's
    first-maximum rule IS the DESC, centroid_id tie-break."""
    import numpy as np

    from kinesis_to_firehose_spark.operators.dedup import _seq_norm

    acc = np.zeros((E.shape[0], Cn.shape[0]), dtype=np.float64)
    for d in range(E.shape[1]):  # fold order == aggregate/list_reduce
        acc = acc + E[:, d, None] * Cn[None, :, d]
    cos = acc / (_seq_norm(E)[:, None] * _seq_norm(Cn)[None, :])
    return np.argmax(np.round(cos, 6), axis=1)


def _ivfpq_codebooks(spark: SparkSession, sf_dir: str):
    """Driver-side (Cn, RC): the N_CENTROIDS coarse centroids and the
    (M, K, DSUB) residual codebook — the 16 seeds' exact IEEE
    residuals v − centroid[assigned cell], from 24 collected rows."""
    head = load(spark, "embeddings", sf_dir).filter(
        F.col("vec_id") < N_CENTROIDS + PQ_K
    )
    _, mat = _collect_vectors(head)
    Cn = mat[:N_CENTROIDS]
    seeds = mat[N_CENTROIDS:]
    seed_cells = _assign_cells_np(seeds, Cn)
    return Cn, _pq_codebook_np(seeds - Cn[seed_cells])


def _ivfpq_candidate_codes(
    spark: SparkSession, sf_dir: str, Cn, RC
) -> DataFrame:
    """(vec_id, cell, codes array<bigint>) for every candidate
    (vec_id ≥ N_QUERIES): coarse assignment + residual PQ encode fused
    into ONE Arrow pass (round-10 rework; was two interpreted-HOF
    joins — N×8 assignment cosines plus the N×M×K residual argmin —
    18.7s at sf3). Codebooks ride the closure — broadcast-small-dim
    with a numpy body."""
    import numpy as np
    import pandas as pd

    e = (
        load(spark, "embeddings", sf_dir)
        .filter(F.col("vec_id") >= N_QUERIES)
        .select("vec_id", "embedding")
    )

    def _encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.array(list(pdf["embedding"]), dtype=np.float64)
            cells = _assign_cells_np(E, Cn)
            codes = _encode_codes_np(E - Cn[cells], RC)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": cells,
                    "codes": list(codes),
                }
            )

    return e.mapInPandas(
        _encode, schema="vec_id long, cell long, codes array<bigint>"
    )


@register("ann_ivfpq_topk", IVFPQ_SQL)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # query side (N_QUERIES rows): keep the declarative path, but rank
    # cells for the QUERIES only — the corpus-wide ranking the old
    # plan paid here lives in the candidate kernel now
    n = normed_embeddings(spark, sf_dir)
    cents = n.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    ranked_q = _ranked_cells(n.filter(F.col("vec_id") < N_QUERIES), cents)
    e = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    cent_emb = cents.select(F.col("centroid_id").alias("cell"), "c_emb")

    Cn, RC = _ivfpq_codebooks(spark, sf_dir)
    # the rcents CTE as driver data: 128 (m, cid, codeword) rows of
    # exact IEEE doubles — identical values to the SQL construction
    rcents = spark.createDataFrame(
        [
            (m, cid, [float(x) for x in RC[m, cid]])
            for m in range(PQ_M)
            for cid in range(PQ_K)
        ],
        schema="m int, cid int, cv array<double>",
    )

    d = F.round(F.expr(l2sq_expr("sv", "cv", "spark")), 8)
    codes = _ivfpq_candidate_codes(spark, sf_dir, Cn, RC).select(
        "vec_id", "cell", F.posexplode("codes").alias("m", "code")
    )

    probes = ranked_q.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("rk") <= N_PROBE)
    ).select(F.col("vec_id").alias("query_id"), "cell")
    qres = (
        probes.join(
            e.withColumnRenamed("vec_id", "query_id"), "query_id"
        )
        .join(F.broadcast(cent_emb), "cell")
        .select("query_id", "cell", F.expr(_RESID_SPARK).alias("r"))
    )
    qsubs = _slice_resid_subs(qres, ["query_id", "cell"])
    qtab = qsubs.join(F.broadcast(rcents), "m").select(
        "query_id", "cell", "m", F.col("cid").alias("code"), d.alias("d")
    )
    adc = (
        codes.join(F.broadcast(qtab), ["cell", "m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("candidate_id"), "cell")
        .agg(
            F.sum(F.col("d").cast("decimal(20,8)"))
            .cast("double")
            .alias("dist")
        )
    )
    wq = W.partitionBy("query_id").orderBy("dist", "candidate_id")
    return (
        adc.withColumn("rk", F.row_number().over(wq).cast("bigint"))
        .filter(F.col("rk") <= PQ_TOP_K)
        .select(
            "query_id",
            "candidate_id",
            "cell",
            F.round("dist", 6).alias("adc_dist"),
            "rk",
        )
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# ann_int8_topk — search over the QUANTIZED representation: the 4×
# memory cut embedding_quantize buys is only real if queries never
# touch the float vectors, so this op ranks candidates entirely from
# int8 codes + per-vector scales — dot(q8, c8) in exact INTEGER
# arithmetic (≤ 64·127² ≪ 2^53), dequantized once per pair by
# score = dot · scale_q · scale_c / 127² (the symmetric-quantization
# identity). The standard serving path for int8 vector stores.
#
# Determinism: integer dots are exact; the dequant expression is one
# fixed parse tree of IEEE ops over identical inputs; 6dp round,
# candidate_id tie-break.
#
# Scale shape: identical to ann_bruteforce (broadcast query side, per-
# query window over candidates) but the candidate scan reads 64 bytes
# + one double per vector instead of 256 float bytes — the bandwidth
# cut IS the point; composes with IVF/LSH pruning unchanged.
# --------------------------------------------------------------------------
_Q8_SPARK = (
    "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 127.0 "
    "/ ma, 0) AS BIGINT))"
)
_MA_SPARK = "array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"

INT8_SQL = f"""
WITH ma AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, v -> abs(v::DOUBLE))) AS ma
  FROM embeddings
),
q8 AS (
  SELECT vec_id, ma,
         list_transform(embedding,
           v -> CAST(ROUND(v::DOUBLE * 127.0 / ma, 0) AS BIGINT)) AS q
  FROM ma
  WHERE ma > 0
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS candidate_id,
         ROUND(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, len(a.q) + 1),
             i -> a.q[i] * b.q[i])), (x, y) -> x + y) AS DOUBLE)
           * a.ma * b.ma / 16129.0, 6) AS score
  FROM q8 a
  JOIN q8 b ON a.vec_id < {N_QUERIES} AND b.vec_id >= {N_QUERIES}
)
SELECT query_id, candidate_id, score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY score DESC, candidate_id
       ) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= {TOP_K}
ORDER BY query_id, rk
"""


@register("ann_int8_topk", INT8_SQL)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "embeddings", sf_dir)
    q8 = (
        e.withColumn("ma", F.expr(_MA_SPARK))
        .filter(F.col("ma") > 0)
        .select("vec_id", "ma", F.expr(_Q8_SPARK).alias("q"))
    )
    # the per-pair integer dot runs as one Arrow-batched int64 matmul
    # (round-10: was an N_QUERIES×N interpreted-HOF fold per pair —
    # alpha 1.02, 6.3 s at sf3, pure expression-interpreter constant).
    # Quantization itself stays the Spark expression (_Q8_SPARK), so
    # the codes — where a half-boundary ROUND could bite — are
    # engine-computed exactly as the oracle's; the kernel only does
    # exact integer dots and the fixed dequant tree
    # ((double(dot)·ma_q)·ma_c)/127², rounded 6dp.
    import numpy as np
    import pandas as pd

    qrows = sorted(
        q8.filter(F.col("vec_id") < N_QUERIES).collect(),
        key=lambda r: r["vec_id"],
    )
    qid = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    maq = np.array([r["ma"] for r in qrows], dtype=np.float64)
    QA = np.array([list(r["q"]) for r in qrows], dtype=np.int64)
    cs = q8.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("candidate_id"),
        F.col("ma").alias("ma_c"),
        F.col("q").alias("qb"),
    )

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.array(list(pdf["qb"]), dtype=np.int64)
            mac = pdf["ma_c"].to_numpy(dtype=np.float64)
            cid = pdf["candidate_id"].to_numpy(dtype=np.int64)
            dots = B @ QA.T  # exact: |dot| <= 64*127² << 2^53
            sc = np.round(
                ((dots.astype(np.float64) * maq[None, :]) * mac[:, None])
                / 16129.0,
                6,
            )
            n_c, n_q = sc.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qid, n_c),
                    "candidate_id": np.repeat(cid, n_q),
                    "score": sc.reshape(-1),
                }
            )

    scored = cs.mapInPandas(
        _score, schema="query_id long, candidate_id long, score double"
    )
    wk = W.partitionBy("query_id").orderBy(F.desc("score"), "candidate_id")
    return (
        scored.withColumn("rk", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# ann_index_search — seed-centroid multi-probe IVF (IVF_SQL) served
# from a PERSISTED index (sources/ann_index.py): centroids +
# cell-partitioned assignments written once, searches probe the STORE
# — the vector-serving symmetry of dedup_index_probe. The oracle
# computes the IVF in one query (the store is an implementation
# detail the results must not observe).
# --------------------------------------------------------------------------
@register("ann_index_search", IVF_SQL)
def ann_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_to_firehose_spark.sources.ann_index import (
        build_ann_index,
        search_ann_index,
    )

    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    # content-keyed store (same convention as the codebook / minhash /
    # band stores): the corpus pass is a build step — a warm store
    # makes this op pure probe, and a data change rebuilds
    path = ensure_store(
        store_path(
            "ann_index", sf_dir, "embeddings", f"{N_CENTROIDS}|ivf-index-v1"
        ),
        lambda tmp: build_ann_index(spark, sf_dir, tmp),
        success_rel="assignment/_SUCCESS",
    )
    queries = normed_embeddings(spark, sf_dir).filter(
        F.col("vec_id") < N_QUERIES
    )
    return search_ann_index(spark, queries, path)


# --------------------------------------------------------------------------
# ann_index_probe — continuous-ingest ANN maintenance as a query
# (round-11, verdict task 5 — the vector-store twin of
# dedup_index_probe): the corpus splits into OLD (vec_id % 10 != 0,
# the standing index) and NEW (vec_id % 10 == 0, the ingest batch).
# The old side builds the epoch-layout IVF store once (epoch 0,
# codebook frozen from the old seeds); the new batch is assigned
# against the STORED centroids — never re-clustered, no old×old work
# — and appended as epoch 1; queries (a bounded slice of the new
# batch) then search old+new through the store. The oracle is
# IVF_SQL's seed-centroid IVF on the UNIONED corpus with old-seeded
# centroids: rank-1 nearest-centroid assignment is the same formula
# whether computed at build or at append, so the epoch store is an
# implementation detail the results must not observe (store == direct
# is pytest-pinned).
# --------------------------------------------------------------------------
ANN_NEW_MOD = 10  # vec_id % 10 == 0 → the "new" ingest batch
ANN_PROBE_QBOUND = 300  # query slice: new vectors with vec_id < 300

_PROBE_IVF_SQL = IVF_SQL.replace(
    f"WHERE vec_id < {N_CENTROIDS}",
    f"WHERE vec_id < {N_CENTROIDS} AND vec_id % {ANN_NEW_MOD} != 0",
).replace(
    f"WHERE rk <= {N_PROBE} AND vec_id < {N_QUERIES}",
    f"WHERE rk <= {N_PROBE} AND vec_id % {ANN_NEW_MOD} = 0"
    f" AND vec_id < {ANN_PROBE_QBOUND}",
)
# BOTH replaces must land (ADVICE r11: only the centroid side was
# checked — a drifted query-side WHERE text would silently revert the
# oracle to all vec_id < N_QUERIES): centroid restriction, query-side
# new-batch restriction, and the query bound.
assert (
    _PROBE_IVF_SQL != IVF_SQL
    and f"% {ANN_NEW_MOD} != 0" in _PROBE_IVF_SQL
    and f"% {ANN_NEW_MOD} = 0" in _PROBE_IVF_SQL
    and str(ANN_PROBE_QBOUND) in _PROBE_IVF_SQL
)


@register("ann_index_probe", _PROBE_IVF_SQL)
def ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_to_firehose_spark.sources.ann_index import (
        build_ann_index_epoch,
        search_ann_index,
    )
    from kinesis_to_firehose_spark.sources.store_cache import (
        ensure_store,
        store_path,
    )

    n = normed_embeddings(spark, sf_dir)
    is_new = F.col("vec_id") % ANN_NEW_MOD == 0

    def _build(tmp: str) -> None:
        # epoch 0: the standing corpus, codebook frozen from its seeds;
        # epoch 1: the ingest batch through the STORED centroids — the
        # exact append path the streaming twin replays
        build_ann_index_epoch(spark, n.filter(~is_new), tmp, epoch=0)
        build_ann_index_epoch(spark, n.filter(is_new), tmp, epoch=1)

    path = ensure_store(
        store_path(
            "ann_index_epochs",
            sf_dir,
            "embeddings",
            f"{N_CENTROIDS}|mod={ANN_NEW_MOD}|ivf-epochs-v1",
        ),
        _build,
        success_rel="assignment/epoch=1/_SUCCESS",
    )
    queries = n.filter(is_new & (F.col("vec_id") < ANN_PROBE_QBOUND))
    return search_ann_index(spark, queries, path)
