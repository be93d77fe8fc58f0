"""Deduplication operators (SURVEY.md §2.3) over `documents`.

Five families — exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine — all expressed in native Spark SQL functions with
byte-identical DuckDB oracles (hashing is md5-based so both engines
reproduce signatures exactly).

Scale posture:
- exact: single hash-groupBy shuffle on the fingerprint.
- jaccard: blocked on (lang, length-bucket) — never all-pairs.
- minhash: per-doc signature is a narrow map-side computation; the
  only shuffle is the (band, band_key) bucket join (standard LSH).
- simhash: pigeonhole chunk join (hamming ≤ 3 ⇒ one of 4 4-bit
  chunks equal) — equi-joins, no quadratic compare.
- embedding: blocked all-pairs here (testdata has no ANN index);
  the scale path is `ann_lsh_bucketed` in similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesis_to_firehose_spark.registry import register
from kinesis_to_firehose_spark.sources.tables import load

# ---- shared normalization / shingling ------------------------------------

NORM_EXPR = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"
NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

TOK_EXPR = "split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ')"
TOK_SQL = "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"

# word-bigram shingles, distinct. Spark side NEVER builds the shingle
# array (see exploded_shingles); the DuckDB oracle uses list ops, where
# the list is evaluated once per row.
SHINGLE_FROM_TOKS_SQL = (
    "list_distinct(list_transform(range(1, len(toks)), "
    "i -> toks[i] || ' ' || toks[i + 1]))"
)
# CTE producing (doc_id, lang, len_bucket, sh) for the DuckDB oracles.
SHINGLES_CTE = f"""
  WITH toks_t AS (
    SELECT doc_id, lang, n_chars // 64 AS len_bucket, {TOK_SQL} AS toks
    FROM documents
  ),
  s AS (
    SELECT doc_id, lang, len_bucket, {SHINGLE_FROM_TOKS_SQL} AS sh FROM toks_t
  )
"""

JACCARD_TAU = 0.5
COSINE_TAU = 0.45

# Document-frequency cap on shingles before the inverted-index join: a
# stop-phrase shingle shared by k docs creates k² join rows, so hot
# shingles are dropped from BOTH the intersection and the per-doc
# shingle counts (standard near-dup practice; the oracle mirrors it).
# Shingles this common carry no near-dup signal anyway.
MAX_SHINGLE_DF = 256

N_PERMS = 32
N_BANDS = 8
ROWS_PER_BAND = N_PERMS // N_BANDS

# Hot-bucket gate for the DEFAULT minhash band join (round-6 verdict
# task 2): a band bucket of k members yields k(k-1)/2 pairs in a plain
# self-join, so one adversarial bucket (boilerplate template, spam
# farm) can quadratic-blow the op. Buckets ≤ cap pair fully — on the
# real testdata the max bucket is 33 at sf1, so behavior is IDENTICAL
# to the ungated join at every tested scale — while a hot bucket
# contributes only doc_id-ordered chains (each member pairs with its
# MINHASH_HOT_CHAIN_LAGS predecessors), keeping it CONNECTED for the
# downstream CC ops at O(k·lags) cost. `dedup_minhash_gated` below
# keeps cap=2 so the oracle compare exercises both paths at sf0.01.
MINHASH_HOT_BUCKET_CAP = 256
MINHASH_HOT_CHAIN_LAGS = 8

# 60 bits (not 64): packing stays within positive signed-BIGINT range
# in both engines, so no two's-complement sign games in the oracle.
# 15-bit chunks give 32k-key pigeonhole buckets (vs 256 for the old
# 32-bit/8-bit layout) — far fewer spurious candidate pairs.
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # 4 chunks of 15 bits ⇒ hamming ≤ 3 has an equal chunk
HAMMING_TAU = 3

# Hot-bucket gate for the simhash pigeonhole chunk join (round-7
# verdict task 1: this and mm_phash_dedup were the last two candidate
# self-joins WITHOUT the gate). Pigeonhole buckets are 15-bit chunk
# values; boilerplate-heavy or near-constant corpora collapse many
# docs onto one chunk value and the plain join's output goes O(k²).
# Same cap/lag machinery as the minhash gate (gated_candidate_pairs);
# the chain keeps hot buckets connected for downstream clustering.
SIMHASH_HOT_BUCKET_CAP = 256


def exploded_shingles(
    spark: SparkSession,
    sf_dir: str,
    carry: tuple[str, ...] = ("lang", "len_bucket"),
) -> DataFrame:
    """(doc_id, *carry, shingle) — one row per DISTINCT word-bigram
    shingle per doc. `carry` names extra document columns to thread
    through (the derived "len_bucket" is recognized specially); this
    is THE shared shingle core — source_overlap and the dedup family
    both build on it so the tokenize/lead/distinct logic can't drift.

    Built with posexplode + window lead instead of array HOFs: Spark
    collapses projections and would otherwise inline the regex
    tokenizer into every element_at lambda (O(tokens²) regex work per
    doc, interpreted). Explode + lead stays in whole-stage codegen and
    the only shuffle is the per-doc window — the shape that scales.

    Served from the persisted per-corpus shingle store
    (sources/dedup_index.py::corpus_shingle_store): the tokenize/
    lead/distinct pass is a BUILD step; each of the five shingle-
    family consumers reads a projection of the stored superset grain
    (carry columns are per-doc constants, so projecting preserves
    distinctness). shingles_from_docs below stays the in-plan path
    for arbitrary batches (ingest probes, tests).
    """
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_shingle_store,
    )

    return corpus_shingle_store(spark, sf_dir).select(
        "doc_id", *carry, "shingle"
    )


def shingles_from_docs(
    d: DataFrame, carry: tuple[str, ...] = ("lang", "len_bucket")
) -> DataFrame:
    """DataFrame-level shingle core behind `exploded_shingles` — also
    feeds the persisted dedup index (sources/dedup_index.py), where
    the input is an arbitrary batch, not a loaded table."""
    carried = [
        (F.col("n_chars") / 64).cast("bigint").alias("len_bucket")
        if c == "len_bucket"
        else F.col(c)
        for c in carry
    ]
    toks = d.select(
        "doc_id",
        *carried,
        F.posexplode(F.expr(TOK_EXPR)).alias("pos", "tok"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    return (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            "doc_id",
            *carry,
            F.concat(F.col("tok"), F.lit(" "), F.col("nxt")).alias("shingle"),
        )
        .distinct()
    )


# --------------------------------------------------------------------------
# dedup_exact — canonical-survivor set by normalized-text fingerprint.
# --------------------------------------------------------------------------
EXACT_SQL = f"""
WITH hashed AS (
  SELECT doc_id, md5({NORM_SQL}) AS norm_hash,
         ROW_NUMBER() OVER (PARTITION BY md5({NORM_SQL}) ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY md5({NORM_SQL})) AS group_size
  FROM documents
)
SELECT doc_id, norm_hash, CAST(group_size AS BIGINT) AS group_size
FROM hashed
WHERE rn = 1
ORDER BY doc_id
"""


@register("dedup_exact", EXACT_SQL)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    hashed = d.select("doc_id", F.md5(F.expr(NORM_EXPR)).alias("norm_hash"))
    w = W.partitionBy("norm_hash")
    return (
        hashed.withColumn("rn", F.row_number().over(w.orderBy("doc_id")))
        .withColumn("group_size", F.count("*").over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "norm_hash", "group_size")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# dedup_ngram_jaccard — blocked Jaccard on word-bigram shingles via the
# AllPairs/PPJoin PREFIX FILTER (Bayardo et al. WWW'07, Xiao et al.
# WWW'08) over an inverted index. Candidate pairs come from a self-join
# of each doc's PREFIX ONLY — its n − ⌈τ·n⌉ + 1 rarest shingles under
# the global (df, shingle) order — plus the size-ratio filter
# τ·n1 ≤ n2 ∧ τ·n2 ≤ n1; survivors are exact-verified against the full
# capped index. EXACT, not approximate: for any pair with J ≥ τ the
# overlap is ≥ α = ⌈τ/(1+τ)·(n1+n2)⌉, and the (n−α+1)-prefix lemma
# (all elements ≤ min(last(P₁), last(P₂)) of either set lie in that
# set's prefix, so a disjoint-prefix pair can share at most α−1
# elements) guarantees a common prefix shingle; per-record
# ⌈τ·n⌉-prefixes are supersets of the α-prefixes whenever the size
# filter holds, so no false negatives. Round-9 rework: the previous
# full-index self-join was candidate-bound super-linear (SCALE_CURVE
# time-α 1.41 sf1→sf3) because within-cluster candidates grow ~n²; the
# prefix join generates candidates only through RARE shingles (the
# prefix is the low-df end of each doc), bounding fan-out by rare-df²
# instead of df-cap².
# --------------------------------------------------------------------------
NGRAM_JACCARD_SQL = f"""
{SHINGLES_CTE},
raw_exploded AS (
  SELECT doc_id, lang, len_bucket, unnest(sh) AS shingle FROM s
),
df_capped AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY lang, len_bucket, shingle) AS df_cnt
    FROM raw_exploded
  ) WHERE df_cnt <= {MAX_SHINGLE_DF}
),
exploded AS (
  SELECT doc_id, lang, len_bucket, shingle,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
  FROM df_capped
),
matches AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         MIN(a.n_sh) AS n1, MIN(b.n_sh) AS n2, COUNT(*) AS inter
  FROM exploded a
  JOIN exploded b
    ON a.shingle = b.shingle AND a.lang = b.lang
   AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
  GROUP BY doc_id_1, doc_id_2
)
SELECT doc_id_1, doc_id_2,
       ROUND(inter * 1.0 / (n1 + n2 - inter), 6) AS jaccard
FROM matches
WHERE inter * 1.0 / (n1 + n2 - inter) >= {JACCARD_TAU}
ORDER BY doc_id_1, doc_id_2
"""

# Exact-rational prefix lengths (τ = TAU_P/TAU_Q): float ceil(τ·n) can
# land one ULP above an exact integer and silently SHORTEN a prefix —
# a completeness bug — so both bounds use integer ceil-division.
TAU_P, TAU_Q = 1, 2  # JACCARD_TAU as a fraction
assert TAU_P / TAU_Q == JACCARD_TAU


def ngram_jaccard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllPairs candidate generation, array-intersect verification.

    The oracle is the readable full inverted-index definition; the
    Spark plan produces the identical result without ever grouping
    the full co-shingle pair space:

    - ASYMMETRIC prefixes (Bayardo et al.): under the global
      (df, shingle) rarity order, the PROBE side keeps each doc's
      first n − ⌈τ·n⌉ + 1 shingles, the INDEX side only
      n − ⌈2τ·n/(1+τ)⌉ + 1, with the join constrained to
      index-(n_sh, doc_id) < probe-(n_sh, doc_id) — the classic
      size-ordered processing expressed as a join predicate. For any
      pair with J ≥ τ the required overlap α = ⌈τ/(1+τ)(n1+n2)⌉
      satisfies α ≥ ⌈τ·n_probe⌉ and α ≥ ⌈2τ/(1+τ)·n_index⌉ (the
      index side is the smaller doc), so both prefixes contain an
      element of the intersection and — since every element of
      either set ranked at-or-below the shorter prefix's last
      element IS in that set's prefix — they share one. Both prefix
      bounds use exact integer ceil-division (see TAU_P/TAU_Q).
    - Verification joins the DISTINCT candidate pairs to a per-doc
      shingle-ARRAY table (doc grain, AQE-broadcastable at bench
      scale, a keyed shuffle at 100 TB — never per-shingle rows) and
      computes the exact intersection with array_intersect, a
      codegen'd hash-set probe per pair.
    """
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_rarity_docs_store,
    )

    # Doc-grain rarity-sorted shingle arrays from the persisted
    # per-corpus store (the df-count + rollup is a BUILD step —
    # queries pay a parquet scan); prefixes explode from array slices.
    docs_g = corpus_rarity_docs_store(spark, sf_dir)
    # exact integer ceil-division prefix bounds (see TAU_P/TAU_Q)
    probe = docs_g.select(
        "doc_id",
        "lang",
        "len_bucket",
        "n_sh",
        F.explode(
            F.expr(
                f"slice(sh, 1, size(sh)"
                f" - (({TAU_P} * size(sh) + {TAU_Q} - 1) DIV {TAU_Q}) + 1)"
            )
        ).alias("shingle"),
    )
    index = docs_g.select(
        "doc_id",
        "lang",
        "len_bucket",
        "n_sh",
        F.explode(
            F.expr(
                f"slice(sh, 1, size(sh)"
                f" - ((2 * {TAU_P} * size(sh) + {TAU_P} + {TAU_Q} - 1)"
                f" DIV ({TAU_P} + {TAU_Q})) + 1)"
            )
        ).alias("shingle"),
    )
    a = probe.alias("a")
    b = index.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (
                (F.col("b.n_sh") < F.col("a.n_sh"))
                | (
                    (F.col("b.n_sh") == F.col("a.n_sh"))
                    & (F.col("b.doc_id") < F.col("a.doc_id"))
                )
            )
            # size filter: τ·n_probe ≤ n_index (exact integers)
            & (TAU_P * F.col("a.n_sh") <= TAU_Q * F.col("b.n_sh")),
        )
        .select(
            F.col("a.doc_id").alias("doc_p"),
            F.col("b.doc_id").alias("doc_i"),
            F.col("a.n_sh").alias("np"),
            F.col("b.n_sh").alias("ni"),
        )
        # aggregate the match MULTISET per pair: p = |P_A ∩ P_B|
        # feeds the suffix bound below (and dedupes, so each pair
        # rides the array-verify joins once)
        .groupBy("doc_p", "doc_i", "np", "ni")
        .agg(F.count("*").alias("p"))
    )
    # Pair-level suffix bound (PPJoin-style, set-exact): with
    # w* = min(last(P_A), last(P_B)) under the global order, every
    # intersection element ≤ w* lies in BOTH prefixes (it ranks at or
    # below the prefix cut of each side), so at most p intersection
    # elements rank ≤ w*; elements beyond w* number ≤ n − L on the
    # side whose prefix ends at w* and ≤ n − p on the other. Which
    # side w* belongs to is unknown per pair, so take the max of both
    # cases — a sound upper bound on |A ∩ B|; pairs whose bound can't
    # reach α = ⌈τ/(1+τ)(n1+n2)⌉ never touch the verify joins. On the
    # sf3 decade this prunes ~98% of candidates (intra-cluster pairs
    # below τ).
    lp = F.col("np") - F.expr(
        f"({TAU_P} * np + {TAU_Q} - 1) DIV {TAU_Q}"
    ) + 1
    li = F.col("ni") - F.expr(
        f"(2 * {TAU_P} * ni + {TAU_P} + {TAU_Q} - 1)"
        f" DIV ({TAU_P} + {TAU_Q})"
    ) + 1
    alpha = F.expr(
        f"({TAU_P} * (np + ni) + {TAU_P} + {TAU_Q} - 1)"
        f" DIV ({TAU_P} + {TAU_Q})"
    )
    ub = F.col("p") + F.greatest(
        F.least(F.col("np") - lp, F.col("ni") - F.col("p")),
        F.least(F.col("ni") - li, F.col("np") - F.col("p")),
    )
    cand = cand.filter(ub >= alpha)
    v = (
        cand.join(
            docs_g.select(
                F.col("doc_id").alias("doc_p"), F.col("sh").alias("sh_p")
            ),
            "doc_p",
        )
        .join(
            docs_g.select(
                F.col("doc_id").alias("doc_i"), F.col("sh").alias("sh_i")
            ),
            "doc_i",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("sh_p", "sh_i"))
        )
    )
    jac = F.col("inter") / (F.col("np") + F.col("ni") - F.col("inter"))
    return (
        v.filter(jac >= JACCARD_TAU)
        .select(
            F.least("doc_p", "doc_i").alias("doc_id_1"),
            F.greatest("doc_p", "doc_i").alias("doc_id_2"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("doc_id_1", "doc_id_2")
    )


@register("dedup_ngram_jaccard", NGRAM_JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact τ-Jaccard pairs, served from the persisted per-corpus
    pair store (round-10, verdict task 4): the AllPairs plan
    (`ngram_jaccard_plan`, unchanged) is the store's BUILD step, paid
    once per corpus content; queries — this op and every consumer
    that needs the exact truth set (dedup_minhash_eval's recall
    denominator) — pay a parquet scan. Store == direct is pinned by
    tests/test_dedup_properties.py."""
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_jaccard_pairs_store,
    )

    return corpus_jaccard_pairs_store(spark, sf_dir).orderBy(
        "doc_id_1", "doc_id_2"
    )


# --------------------------------------------------------------------------
# dedup_minhash_lsh — 32-perm MinHash signatures, 8×4 banded LSH.
# Permutation p's hash of shingle x is md5('p|x'); the min is taken over
# hex strings (both engines order them identically). Signatures are
# computed by EXPLODING shingles and running 32 native min-aggregates —
# map-side partial aggregation, whole-stage codegen, no interpreted
# higher-order functions. The only shuffles are the signature groupBy
# and the (band_idx, band_key) bucket join — the canonical LSH shape
# that holds at 100 TB. The bucket join auto-gates hot buckets (see
# MINHASH_HOT_BUCKET_CAP above) so an adversarial bucket can't
# quadratic-blow the candidate output.
# --------------------------------------------------------------------------
# One md5 per shingle, then 32 universal-hash permutations
# h_p(v) = (a_p·v + b_p) mod 2³¹-1 over v = md5-prefix mod 2³¹-1.
# Products stay < 2⁶² so 64-bit arithmetic is exact and portable; md5
# count drops 32× vs hashing per permutation (the dominant cost).
_MERSENNE = 2147483647  # 2^31 - 1


def _perm_consts(p: int) -> tuple[int, int]:
    # deterministic LCG-derived odd multipliers/offsets per permutation
    a = (2654435761 * (p + 1) + 1) % _MERSENNE
    b = (40503 * (p + 7) * 2654435769 + 17) % _MERSENNE
    return a | 1, b


_V_SPARK = (
    f"(CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT) % {_MERSENNE})"
)
_V_SQL = f"(('0x' || substr(md5(shingle), 1, 15))::BIGINT % {_MERSENNE})"

def _sig_agg_spark(n_perms: int) -> list[str]:
    return [
        f"min(({a} * v + {b}) % {_MERSENNE}) AS h{p}"
        for p, (a, b) in ((p, _perm_consts(p)) for p in range(n_perms))
    ]


def _band_keys_spark(n_perms: int, n_bands: int) -> str:
    rows = n_perms // n_bands
    return ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(f"CAST(h{b * rows + r} AS STRING)" for r in range(rows))
        + "))"
        for b in range(n_bands)
    )


_SIG_AGG_SPARK = _sig_agg_spark(N_PERMS)
_SIG_AGG_SQL = ", ".join(
    f"min(({a} * v + {b}) % {_MERSENNE}) AS h{p}"
    for p, (a, b) in ((p, _perm_consts(p)) for p in range(N_PERMS))
)

_BAND_KEYS_SPARK = _band_keys_spark(N_PERMS, N_BANDS)
_BAND_KEYS_SQL = ", ".join(
    "md5("
    + " || ',' || ".join(
        f"CAST(h{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
    )
    + ")"
    for b in range(N_BANDS)
)

_HOT_LAGS_SQL = ",\n         ".join(
    f"LAG(doc_id, {j}) OVER (PARTITION BY band_idx, band_key "
    f"ORDER BY doc_id) AS p{j}"
    for j in range(1, MINHASH_HOT_CHAIN_LAGS + 1)
)
_HOT_ARMS_SQL = "\n    UNION ALL\n".join(
    f"    SELECT p{j} AS doc_id_1, doc_id AS doc_id_2 "
    f"FROM lagged WHERE p{j} IS NOT NULL"
    for j in range(1, MINHASH_HOT_CHAIN_LAGS + 1)
)

_EST_MATCH_SQL = " + ".join(
    f"(CASE WHEN s1.h{p} = s2.h{p} THEN 1 ELSE 0 END)" for p in range(N_PERMS)
)

MINHASH_SQL = f"""
{SHINGLES_CTE},
exploded AS (
  SELECT doc_id, unnest(sh) AS shingle FROM s
),
hashed_v AS (
  SELECT doc_id, {_V_SQL} AS v FROM exploded
),
sigs AS (
  SELECT doc_id, {_SIG_AGG_SQL} FROM hashed_v GROUP BY doc_id
),
bands AS (
  SELECT doc_id, unnest([{_BAND_KEYS_SQL}]) AS band_key,
         generate_subscripts([{_BAND_KEYS_SQL}], 1) AS band_idx
  FROM sigs
),
sized AS (
  SELECT doc_id, band_idx, band_key,
         COUNT(*) OVER (PARTITION BY band_idx, band_key) AS cnt
  FROM bands
),
lagged AS (
  -- adaptive gate (module comment at MINHASH_HOT_BUCKET_CAP): the
  -- chain window runs only over rows of buckets above the cap (lag
  -- values are unchanged by the filter since bucket membership is
  -- all-hot or all-small)
  SELECT doc_id,
         {_HOT_LAGS_SQL}
  FROM sized WHERE cnt > {MINHASH_HOT_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT doc_id_1, doc_id_2 FROM (
    SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
    FROM sized a
    JOIN sized b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    WHERE a.cnt <= {MINHASH_HOT_BUCKET_CAP}
    UNION ALL
{_HOT_ARMS_SQL}
  )
)
SELECT doc_id_1, doc_id_2,
       ROUND(({_EST_MATCH_SQL}) / {N_PERMS}.0, 6) AS est_jaccard
FROM cand
JOIN sigs s1 ON s1.doc_id = cand.doc_id_1
JOIN sigs s2 ON s2.doc_id = cand.doc_id_2
ORDER BY doc_id_1, doc_id_2
"""


@register("dedup_minhash_lsh", MINHASH_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs served from the persisted signature store
    (sources/dedup_index.py::corpus_minhash_store): the shingle→
    32-perm minhash pass is a BUILD step paid once per corpus, not
    once per query — round-5 `weak` #5 had five ops (this one, both
    CC variants, keep_best, minhash_eval, provenance_chain) each
    re-signaturing the corpus in-plan. The stored rows are the same
    deterministic computation, so the oracle and every downstream
    consumer see identical values (pytest asserts store == in-plan)."""
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_minhash_store,
    )

    path = corpus_minhash_store(spark, sf_dir)
    sigs = spark.read.parquet(f"{path}/sigs")
    bands = spark.read.parquet(f"{path}/bands")
    # presentation order lives HERE (the registered op's contract);
    # clustering/eval consumers take lsh_store_pairs_tau instead and
    # skip the global sort (r12)
    return lsh_pairs_from_sigs_bands(sigs, bands).orderBy(
        "doc_id_1", "doc_id_2"
    )


def minhash_lsh_pairs(
    exploded: DataFrame, n_perms: int = N_PERMS, n_bands: int = N_BANDS
) -> DataFrame:
    """Core LSH pipeline over exploded (doc_id, shingle) rows — reused
    by tests with synthetic near-dup corpora. Parameterized by
    (n_perms, n_bands) for the banded-recall scaling study
    (tests/test_dedup_properties.py); the registered op and its oracle
    stay pinned at 32/8.

    Signatures are materialized via localCheckpoint: the band self-join
    plus the signature rejoin would otherwise recompute the whole
    shingle→signature chain 4× through the plan. Unlike `persist()`
    (whose blocks live in the CacheManager until an explicit
    unpersist — a leak across repeated invocations), localCheckpoint
    blocks are released by the ContextCleaner as soon as the DataFrame
    is unreferenced, and callers get no cleanup obligation.
    """
    hashed_v = exploded.select("doc_id", F.expr(_V_SPARK).alias("v"))
    sigs = (
        hashed_v.groupBy("doc_id")
        .agg(*[F.expr(e) for e in _sig_agg_spark(n_perms)])
        .localCheckpoint(eager=True)
    )
    band_keys = _band_keys_spark(n_perms, n_bands)
    bands = sigs.select(
        "doc_id",
        F.posexplode(F.expr(f"array({band_keys})")).alias(
            "band_idx0", "band_key"
        ),
    ).withColumn("band_idx", F.col("band_idx0") + 1)
    # ordered output is part of this core's contract (tests compare it
    # row-for-row against the store-served registered op)
    return lsh_pairs_from_sigs_bands(sigs, bands, n_perms).orderBy(
        "doc_id_1", "doc_id_2"
    )


def gated_candidate_pairs(
    buckets: DataFrame,
    id_col: str,
    key_cols: tuple[str, ...],
    cap: int = MINHASH_HOT_BUCKET_CAP,
    lags: int = MINHASH_HOT_CHAIN_LAGS,
) -> DataFrame:
    """GENERIC adaptive hot-bucket gate over (id, bucket-key) rows —
    the one candidate-pair generator every banded dedup family rides
    (minhash LSH bands, simhash pigeonhole chunks, multimodal pHash
    chunks; round-7 verdict task 1 closed the last two ungated
    self-joins onto this). A sort-free count window sizes each
    bucket; buckets ≤ cap emit ALL pairs via the equi-self-join, and
    buckets above the cap emit only the id-ordered multi-lag CHAIN
    (member i paired with its `lags` predecessors) — O(k·lags)
    candidate rows for a k-member hot bucket, not O(k²), while the
    chain keeps the bucket CONNECTED for downstream clustering.
    Returns distinct (<id>_1, <id>_2) with _1 < _2. Mirrored
    bit-exactly by the SQL CTEs from gated_cand_cte_sql."""
    wb = W.partitionBy(*key_cols)
    sized = buckets.select(
        id_col, *key_cols, F.count("*").over(wb).alias("cnt")
    )
    a = sized.alias("a")
    b = sized.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for k in key_cols:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    small = (
        a.join(b, cond)
        .filter(F.col("a.cnt") <= cap)
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_1"),
            F.col(f"b.{id_col}").alias(f"{id_col}_2"),
        )
    )
    wo = wb.orderBy(id_col)
    lagged = sized.filter(F.col("cnt") > cap).select(
        id_col,
        *[
            F.lag(id_col, j).over(wo).alias(f"p{j}")
            for j in range(1, lags + 1)
        ],
    )
    # one explode over the lag array, not `lags` filtered union arms —
    # the arms each re-scan the bucket table (plan digest: file_scans
    # 4→12) for a branch that is EMPTY on any non-adversarial corpus
    hot = (
        lagged.select(
            F.col(id_col).alias(f"{id_col}_2"),
            F.explode(
                F.array(*[F.col(f"p{j}") for j in range(1, lags + 1)])
            ).alias(f"{id_col}_1"),
        )
        .filter(F.col(f"{id_col}_1").isNotNull())
        .select(f"{id_col}_1", f"{id_col}_2")
    )
    return small.unionAll(hot).distinct()


def gated_cand_cte_sql(
    src: str,
    id_col: str,
    key_cols: tuple[str, ...],
    cap: int,
    lags: int = MINHASH_HOT_CHAIN_LAGS,
) -> str:
    """DuckDB CTE text mirroring gated_candidate_pairs bit-exactly:
    `sized`/`lagged`/`cand` over bucket table `src`, emitting
    cand(<id>_1, <id>_2). Shared by the simhash + pHash oracles (the
    minhash oracle spells the same shape inline in MINHASH_SQL)."""
    keys = ", ".join(key_cols)
    part = f"PARTITION BY {keys} ORDER BY {id_col}"
    lag_cols = ",\n         ".join(
        f"LAG({id_col}, {j}) OVER ({part}) AS p{j}"
        for j in range(1, lags + 1)
    )
    arms = "\n    UNION ALL\n".join(
        f"    SELECT p{j} AS {id_col}_1, {id_col} AS {id_col}_2 "
        f"FROM lagged WHERE p{j} IS NOT NULL"
        for j in range(1, lags + 1)
    )
    join_on = " AND ".join(f"a.{k} = b.{k}" for k in key_cols)
    return f"""sized AS (
  SELECT {id_col}, {keys},
         COUNT(*) OVER (PARTITION BY {keys}) AS cnt
  FROM {src}
),
lagged AS (
  SELECT {id_col},
         {lag_cols}
  FROM sized WHERE cnt > {cap}
),
cand AS (
  SELECT DISTINCT {id_col}_1, {id_col}_2 FROM (
    SELECT a.{id_col} AS {id_col}_1, b.{id_col} AS {id_col}_2
    FROM sized a
    JOIN sized b ON {join_on} AND a.{id_col} < b.{id_col}
    WHERE a.cnt <= {cap}
    UNION ALL
{arms}
  )
)"""


def lsh_pairs_from_sigs_bands(
    sigs: DataFrame, bands: DataFrame, n_perms: int = N_PERMS,
    cap: int = MINHASH_HOT_BUCKET_CAP,
) -> DataFrame:
    """Pair generation from MATERIALIZED signatures and band keys —
    the probe half of the LSH pipeline, shared by the in-plan path
    (minhash_lsh_pairs) and the persisted store
    (sources/dedup_index.py::corpus_minhash_store).

    The band self-join carries the ADAPTIVE hot-bucket gate (module
    comment at MINHASH_HOT_BUCKET_CAP) via gated_candidate_pairs —
    a gate-friendly corpus pays zero chain overhead while an
    adversarial bucket of k members costs O(k·lags) candidate rows,
    not O(k²). Mirrored bit-exactly by the sized/lagged/cand CTEs of
    MINHASH_SQL."""
    cand = gated_candidate_pairs(
        bands.select("doc_id", "band_idx", "band_key"),
        "doc_id",
        ("band_idx", "band_key"),
        cap=cap,
    )
    s1 = sigs.alias("s1")
    s2 = sigs.alias("s2")
    est_match = sum(
        F.when(F.col(f"s1.h{p}") == F.col(f"s2.h{p}"), 1).otherwise(0)
        for p in range(n_perms)
    )
    return (
        cand.join(s1, F.col("s1.doc_id") == F.col("doc_id_1"))
        .join(s2, F.col("s2.doc_id") == F.col("doc_id_2"))
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(est_match / float(n_perms), 6).alias("est_jaccard"),
        )
    )


def lsh_store_pairs_tau(
    spark: SparkSession, sf_dir: str, tau: float
) -> DataFrame:
    """(doc_id_1, doc_id_2) candidate pairs with est_jaccard ≥ tau from
    the persisted minhash store, WITHOUT dedup_minhash_lsh's
    presentation orderBy — the five clustering/eval consumers feed the
    pairs straight into joins, aggregates or an eager checkpoint, where
    a global range-sort is pure dead weight (2 exchanges: the sampling
    pass + the range partition) that EliminateSorts does not always
    remove below a checkpoint boundary (r12, guide §2.4)."""
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_minhash_store,
    )

    path = corpus_minhash_store(spark, sf_dir)
    sigs = spark.read.parquet(f"{path}/sigs")
    bands = spark.read.parquet(f"{path}/bands")
    return (
        lsh_pairs_from_sigs_bands(sigs, bands)
        .filter(F.col("est_jaccard") >= tau)
        .select("doc_id_1", "doc_id_2")
    )


# --------------------------------------------------------------------------
# dedup_minhash_gated — minhash LSH with GATED HOT-BUCKET HANDLING.
# A band bucket holding k docs yields k(k-1)/2 candidate rows in the
# plain self-join; on adversarial corpora (boilerplate templates, spam
# farms) one bucket can hold a large fraction of the corpus and the
# join output — not the shuffle, which AQE skew-split already fixes —
# becomes quadratic. The gate: buckets with ≤ cap members emit
# all-pairs exactly as dedup_minhash_lsh; buckets ABOVE the cap emit
# only the doc_id-ordered CHAIN (member i paired with member i+1,
# k-1 pairs from a window lag — no join at all for the hot path).
# Chain pairing keeps every hot bucket CONNECTED, so downstream
# connected-components clustering (dedup_cc_star) recovers the same
# clusters whenever chain-adjacent members verify — exactly the
# hot-bucket regime, where members share a full band signature. Both
# the size count and the lag ride ONE shuffle on (band_idx, band_key).
# Cap is 2 here so the driver-gate corpus (max bucket = 3 at sf0.01)
# exercises BOTH paths through the oracle compare; production caps
# are O(10³). Adversarial-skew property test:
# tests/test_dedup_properties.py::test_gated_minhash_bounds_hot_buckets.
# --------------------------------------------------------------------------
HOT_BUCKET_CAP = 2

GATED_MINHASH_SQL = f"""
{SHINGLES_CTE},
exploded AS (
  SELECT doc_id, unnest(sh) AS shingle FROM s
),
hashed_v AS (
  SELECT doc_id, {_V_SQL} AS v FROM exploded
),
sigs AS (
  SELECT doc_id, {_SIG_AGG_SQL} FROM hashed_v GROUP BY doc_id
),
bands AS (
  SELECT doc_id, unnest([{_BAND_KEYS_SQL}]) AS band_key,
         generate_subscripts([{_BAND_KEYS_SQL}], 1) AS band_idx
  FROM sigs
),
sized AS (
  SELECT doc_id, band_idx, band_key,
         COUNT(*) OVER (PARTITION BY band_idx, band_key) AS cnt,
         LAG(doc_id) OVER (
           PARTITION BY band_idx, band_key ORDER BY doc_id) AS prev_id
  FROM bands
),
cand AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
  FROM sized a
  JOIN sized b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
  WHERE a.cnt <= {HOT_BUCKET_CAP}
  UNION
  SELECT prev_id AS doc_id_1, doc_id AS doc_id_2
  FROM sized
  WHERE cnt > {HOT_BUCKET_CAP} AND prev_id IS NOT NULL
)
SELECT doc_id_1, doc_id_2,
       ROUND(({_EST_MATCH_SQL}) / {N_PERMS}.0, 6) AS est_jaccard
FROM cand
JOIN sigs s1 ON s1.doc_id = cand.doc_id_1
JOIN sigs s2 ON s2.doc_id = cand.doc_id_2
ORDER BY doc_id_1, doc_id_2
"""


def minhash_lsh_pairs_gated(
    exploded: DataFrame,
    cap: int = HOT_BUCKET_CAP,
    n_perms: int = N_PERMS,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Gated variant of minhash_lsh_pairs (module comment above).

    Candidate output is O(Σ min(k, cap)·k) instead of O(Σ k²) per
    bucket; the hot path is a pure window lag, so an adversarial
    bucket holding the whole corpus costs k-1 rows, not k²/2.
    """
    hashed_v = exploded.select("doc_id", F.expr(_V_SPARK).alias("v"))
    sigs = (
        hashed_v.groupBy("doc_id")
        .agg(*[F.expr(e) for e in _sig_agg_spark(n_perms)])
        .localCheckpoint(eager=True)
    )
    band_keys = _band_keys_spark(n_perms, n_bands)
    bands = sigs.select(
        "doc_id",
        F.posexplode(F.expr(f"array({band_keys})")).alias(
            "band_idx0", "band_key"
        ),
    ).withColumn("band_idx", F.col("band_idx0") + 1)
    wb = W.partitionBy("band_idx", "band_key")
    sized = bands.select(
        "doc_id",
        "band_idx",
        "band_key",
        F.count("*").over(wb).alias("cnt"),
        F.lag("doc_id").over(wb.orderBy("doc_id")).alias("prev_id"),
    )
    a = sized.alias("a")
    b = sized.alias("b")
    small = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.cnt") <= cap)
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
    )
    hot = (
        sized.filter((F.col("cnt") > cap) & F.col("prev_id").isNotNull())
        .select(
            F.col("prev_id").alias("doc_id_1"),
            F.col("doc_id").alias("doc_id_2"),
        )
    )
    cand = small.union(hot).distinct()
    s1 = sigs.alias("s1")
    s2 = sigs.alias("s2")
    est_match = sum(
        F.when(F.col(f"s1.h{p}") == F.col(f"s2.h{p}"), 1).otherwise(0)
        for p in range(n_perms)
    )
    return (
        cand.join(s1, F.col("s1.doc_id") == F.col("doc_id_1"))
        .join(s2, F.col("s2.doc_id") == F.col("doc_id_2"))
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(est_match / float(n_perms), 6).alias("est_jaccard"),
        )
        .orderBy("doc_id_1", "doc_id_2")
    )


@register("dedup_minhash_gated", GATED_MINHASH_SQL)
def dedup_minhash_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = exploded_shingles(spark, sf_dir).select("doc_id", "shingle")
    return minhash_lsh_pairs_gated(ex)


# --------------------------------------------------------------------------
# dedup_simhash — 32-bit SimHash over tokens (bit j = sign of the
# token-frequency-weighted vote of md5 hex digit j's top bit), packed
# into a BIGINT so hamming distance is native bit_count(xor) — whole-
# stage codegen, no per-bit string work. Candidates come from a
# pigeonhole chunk join (hamming ≤ 3 ⇒ one of 4 8-bit chunks equal);
# on vocabulary-correlated corpora those buckets are large, so the
# per-pair cost being a couple of integer ops is what keeps this
# viable at scale. Signature: explode tokens → 32 conditional sums
# (map-side combined, linear in corpus size).
# --------------------------------------------------------------------------
# Vote bit j is the top bit of hex digit (j%15)+1 of one of four
# 15-digit md5 slices (two slices per md5; second md5 salted 's2|').
# The slices are conv'd to 60-bit BIGINTs ONCE per token, so the 60
# vote aggregates are integer shift/mask sums — codegen'd two-ops-each
# — instead of 60 substring+string-compare evaluations per token
# (whole op 1.94→1.45 s at sf0.1, bit-identical across engines). Digit d of a 15-digit slice sits at bits [(15-d)*4,
# (15-d)*4+3] of the conv'd value; its top bit is (14-(j%15))*4+3.


def _simhash_vals(engine: str) -> list[str]:
    if engine == "spark":
        md5s = ("md5(tok)", "md5(concat('s2|', tok))")
        return [
            f"CAST(conv(substring({m}, {pos}, 15), 16, 10) AS BIGINT)"
            for m in md5s
            for pos in (1, 16)
        ]
    md5s = ("md5(tok)", "md5('s2|' || tok)")
    return [
        f"('0x' || substr({m}, {pos}, 15))::BIGINT"
        for m in md5s
        for pos in (1, 16)
    ]


def _simhash_bit_src(j: int) -> tuple[int, int]:
    # (value index 1-4, shift) for vote bit j
    return j // 15 + 1, (14 - j % 15) * 4 + 3


def _simhash_vote_sums() -> list[str]:
    # engine-neutral: >> and & parse identically in Spark SQL + DuckDB
    return [
        f"SUM((v{g} >> {s}) & 1) AS s{j}"
        for j, (g, s) in ((j, _simhash_bit_src(j)) for j in range(SIMHASH_BITS))
    ]


def _simhash_pack() -> str:
    # bit j set iff the ±1 vote sum is positive: 2*ones > n_tok
    terms = " + ".join(
        f"(CASE WHEN 2 * s{j} > n_tok THEN CAST({1 << j} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    return f"({terms})"


_CHUNK_BITS = 15  # 4 chunks of 15 bits
_CHUNK_MASK = (1 << _CHUNK_BITS) - 1

SIMHASH_SQL_Q = f"""
WITH toks_t AS (
  SELECT doc_id, {TOK_SQL} AS toks FROM documents
),
exploded AS (
  SELECT doc_id, unnest(toks) AS tok FROM toks_t
),
vals AS (
  SELECT doc_id,
         {", ".join(f"{e} AS v{i + 1}" for i, e in enumerate(_simhash_vals("duck")))}
  FROM exploded
),
votes AS (
  SELECT doc_id, COUNT(*) AS n_tok,
         {", ".join(_simhash_vote_sums())}
  FROM vals GROUP BY doc_id
),
hashed AS (
  SELECT doc_id, {_simhash_pack()} AS simhash FROM votes
),
chunked AS (
  SELECT doc_id, c AS chunk_idx,
         (simhash >> ((c - 1) * {_CHUNK_BITS})) & {_CHUNK_MASK} AS chunk
  FROM hashed, generate_series(1, {SIMHASH_CHUNKS}) AS g(c)
),
{gated_cand_cte_sql("chunked", "doc_id", ("chunk_idx", "chunk"), SIMHASH_HOT_BUCKET_CAP)}
SELECT doc_id_1, doc_id_2,
       CAST(bit_count(xor(h1.simhash, h2.simhash)) AS BIGINT) AS hamming
FROM cand
JOIN hashed h1 ON h1.doc_id = cand.doc_id_1
JOIN hashed h2 ON h2.doc_id = cand.doc_id_2
WHERE bit_count(xor(h1.simhash, h2.simhash)) <= {HAMMING_TAU}
ORDER BY doc_id_1, doc_id_2
"""


def simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan (doc_id, simhash) fingerprints of the documents table —
    the build half of the per-corpus simhash store
    (sources/dedup_index.py::corpus_simhash_store). Kept separate so
    pytest can assert store == in-plan bit-exactly."""
    d = load(spark, "documents", sf_dir)
    exploded = d.select(
        "doc_id", F.explode(F.expr(TOK_EXPR)).alias("tok")
    )
    vals = exploded.select(
        "doc_id",
        *[
            F.expr(e).alias(f"v{i + 1}")
            for i, e in enumerate(_simhash_vals("spark"))
        ],
    )
    votes = vals.groupBy("doc_id").agg(
        F.count("*").alias("n_tok"),
        *[F.expr(e) for e in _simhash_vote_sums()],
    )
    return votes.select(
        "doc_id", F.expr(_simhash_pack()).alias("simhash")
    )


def simhash_pairs_from_table(hashed: DataFrame) -> DataFrame:
    """Gated pigeonhole pair generation over a (doc_id, simhash)
    table: explode the 4 15-bit chunks, run the hot-bucket-gated
    candidate join (gated_candidate_pairs — round-7 verdict task 1:
    the raw chunk self-join was one of the two remaining O(k²)
    pair generators), then verify candidates with bit_count(xor)
    against the signatures joined back by id."""
    chunked = hashed.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "array("
                + ", ".join(
                    f"shiftright(simhash, {c * _CHUNK_BITS}) & {_CHUNK_MASK}"
                    for c in range(SIMHASH_CHUNKS)
                )
                + ")"
            )
        ).alias("chunk_idx0", "chunk"),
    ).withColumn("chunk_idx", F.col("chunk_idx0") + 1)
    cand = gated_candidate_pairs(
        chunked.select("doc_id", "chunk_idx", "chunk"),
        "doc_id",
        ("chunk_idx", "chunk"),
        cap=SIMHASH_HOT_BUCKET_CAP,
    )
    h1 = hashed.alias("h1")
    h2 = hashed.alias("h2")
    hamming = F.bit_count(
        F.expr("h1.simhash ^ h2.simhash")
    ).cast("bigint")
    return (
        cand.join(h1, F.col("h1.doc_id") == F.col("doc_id_1"))
        .join(h2, F.col("h2.doc_id") == F.col("doc_id_2"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= HAMMING_TAU)
        .select("doc_id_1", "doc_id_2", "hamming")
        .orderBy("doc_id_1", "doc_id_2")
    )


@register("dedup_simhash", SIMHASH_SQL_Q)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated simhash near-dup pairs served from the PERSISTED
    per-corpus fingerprint store (round-7 verdict task 5: the
    fingerprints were the one repeated-pass primitive still recomputed
    per query). Store rows are the same deterministic integer
    computation as simhash_table, so the oracle and every consumer
    see identical values (pytest asserts store == in-plan)."""
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_simhash_store,
    )

    return simhash_pairs_from_table(corpus_simhash_store(spark, sf_dir))


# --------------------------------------------------------------------------
# dedup_embedding — cosine near-dup pairs over `embeddings`.
# --------------------------------------------------------------------------
def dot_expr(a: str, b: str, engine: str) -> str:
    """Double-precision dot product; identical sequential fold order in
    both engines ⇒ bit-identical IEEE results."""
    if engine == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (x, y) -> x + y)"
    )


def dot_expr_unrolled(a: str, b: str, n: int) -> str:
    """Spark-side dot product UNROLLED over a fixed-width array —
    bit-identical to dot_expr(a, b, 'spark'): the same left-assoc IEEE
    fold starting at 0.0 (the leading 0.0 term preserves even the
    ±0.0 edge), the same per-element double casts. The win (r12, guide
    §4.1/§1.2 per-task work): `aggregate(zip_with(...))` is an
    interpreted higher-order function evaluated per PAIR — the 64-dim
    lambda walk dominated the scoring stage of every pair join — while
    the unrolled chain compiles into whole-stage codegen straight-line
    arithmetic. Only valid when every array is exactly n wide (the
    embeddings tables are pinned at EMB_DIM; parity is bit-exact by
    construction and re-checked by the sweep)."""
    s = "CAST(0.0 AS DOUBLE)"
    for i in range(n):
        s = f"({s} + CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))"
    return s


def norm_expr(a: str, engine: str) -> str:
    if engine == "spark":
        return (
            f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), "
            "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        )
    return (
        f"sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform({a}, v -> v::DOUBLE * v::DOUBLE)), (x, y) -> x + y))"
    )


def norm_expr_unrolled(a: str, n: int) -> str:
    """Spark-side Euclidean norm UNROLLED over a fixed-width array —
    bit-identical to norm_expr(a, 'spark') and to the numpy _seq_norm
    fold: sqrt of the same left-assoc IEEE sum of squares starting at
    0.0, same per-element double casts. Same rationale and validity
    condition as dot_expr_unrolled (r12/r13, guide §4.1)."""
    s = "CAST(0.0 AS DOUBLE)"
    for i in range(n):
        s = f"({s} + CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE))"
    return f"sqrt({s})"


# Norms are hoisted to a column before the pair join (computed n times,
# not n² times); the division tree is identical in both engines.
NORMED_CTE = f"""
  WITH normed AS (
    SELECT vec_id, embedding, {norm_expr("embedding", "duck")} AS nrm
    FROM embeddings
  )
"""

_PAIR_COS_SQL = f"({dot_expr('a.embedding', 'b.embedding', 'duck')} / (a.nrm * b.nrm))"

DEDUP_EMB_SQL = f"""
{NORMED_CTE}
SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
       ROUND({_PAIR_COS_SQL}, 6) AS cosine
FROM normed a
JOIN normed b ON a.vec_id < b.vec_id
WHERE {_PAIR_COS_SQL} >= {COSINE_TAU}
ORDER BY vec_id_1, vec_id_2
"""


def normed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, "embeddings", sf_dir)
    return e.select(
        "vec_id", "embedding", F.expr(norm_expr("embedding", "spark")).alias("nrm")
    )


def _seq_norm(mat):
    """Euclidean norms with the dim-by-dim fold order of `list_reduce`
    (bit-identical IEEE intermediates in both engines)."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for d in range(mat.shape[1]):
        acc = acc + mat[:, d] * mat[:, d]
    return np.sqrt(acc)


# Block side for the distributed all-pairs sweep: per-task memory is
# ~2·CHUNK_ROWS·dim doubles of input + a CHUNK_ROWS² score block
# (256² doubles = 0.5 MiB), independent of the corpus size.
CHUNK_ROWS = 256

# Registry scale cap (round-6 verdict task 3): all-pairs cosine is
# intrinsically quadratic, so the op REFUSES corpora above this bound
# instead of silently burning a cluster — the production path for
# gapped corpora is dedup_embedding_lsh. 4000 vectors ≈ 8M pairs keeps
# the exact baseline (recall ground truth for the LSH variant) usable
# at sf ≤ 0.1 while sf1+ is a hard error, not a timeout.
EXACT_EMB_MAX_ROWS = 4000


@register(
    "dedup_embedding",
    DEDUP_EMB_SQL,
    max_rows=("embeddings", EXACT_EMB_MAX_ROWS),
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine via a DISTRIBUTED block-matrix sweep.

    Vectors are hashed into fixed-size blocks; the upper-triangular
    block-pair grid (bi ≤ bj) is built from block INDICES only and the
    chunk payloads are attached by two equi-joins, so nothing is ever
    collected to the driver and no full-table broadcast exists — each
    task sees exactly two bounded chunks. Scoring is an Arrow-batched
    numpy kernel that accumulates dimension-by-dimension (the
    sequential left-fold order of `list_reduce`), so every IEEE
    intermediate matches the DuckDB oracle bit-for-bit; a pure-SQL pair
    join would evaluate the dot product with interpreted higher-order
    lambdas (~90 s for 2M pairs).

    All-pairs at τ=0.45 is intrinsically quadratic — the testdata has
    no cosine gap (τ-pairs at 0.45-0.60 vs a 0.38 background 99.9th
    pct), so NO sublinear candidate filter can keep recall (measured:
    banded LSH needs ~90% of all pairs as candidates for recall 1.0).
    The block grid distributes that quadratic cost with bounded task
    memory; when a corpus does have a cosine gap (real near-dup, τ ≥
    0.8), use `dedup_embedding_lsh` below — the same kernel behind a
    banded-LSH candidate filter that prunes instead.
    """
    import numpy as np
    import pandas as pd

    e = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    # Single scalar action (count-star over parquet metadata) that
    # sizes the block grid; the data itself never leaves the cluster.
    n_rows = e.count()
    if n_rows > EXACT_EMB_MAX_ROWS:
        from kinesis_to_firehose_spark.registry import ScaleCapExceeded

        raise ScaleCapExceeded(
            f"dedup_embedding is the EXACT all-pairs baseline, capped at "
            f"{EXACT_EMB_MAX_ROWS} vectors ({n_rows} given): all-pairs "
            f"cosine is intrinsically quadratic. Use dedup_embedding_lsh "
            f"(banded-LSH candidates, same scoring kernel) on real corpora."
        )
    n_blocks = max(1, -(-n_rows // CHUNK_ROWS))
    # Each vector is replicated to its B grid cells (min(b,j), max(b,j))
    # as FLAT rows — no collect_list nesting, so the Arrow transfer
    # stays columnar — and one groupBy shuffle lands both chunks of a
    # cell in the same task.
    cells = F.array(
        *[
            F.struct(
                F.least("blk", F.lit(j)).alias("bi"),
                F.greatest("blk", F.lit(j)).alias("bj"),
            )
            for j in range(n_blocks)
        ]
    )
    replicated = (
        e.withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)))
        .select("vec_id", "embedding", "blk", F.explode(cells).alias("cell"))
        .select("vec_id", "embedding", "blk", "cell.bi", "cell.bj")
    )

    def _score_cell(key, pdf):
        bi_v, bj_v = key
        a_sel = pdf["blk"].to_numpy() == bi_v
        a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)[a_sel]
        a_mat = np.array(list(pdf["embedding"][a_sel]), dtype=np.float64)
        if bi_v == bj_v:
            b_ids, b_mat = a_ids, a_mat
        else:
            b_ids = pdf["vec_id"].to_numpy(dtype=np.int64)[~a_sel]
            b_mat = np.array(list(pdf["embedding"][~a_sel]), dtype=np.float64)
        if len(a_ids) == 0 or len(b_ids) == 0:
            return pd.DataFrame(
                {"vec_id_1": [], "vec_id_2": [], "cosine": []}
            ).astype({"vec_id_1": "int64", "vec_id_2": "int64", "cosine": "float64"})
        acc = np.zeros((len(a_ids), len(b_ids)), dtype=np.float64)
        for d in range(a_mat.shape[1]):  # fold order == list_reduce
            acc = acc + np.outer(a_mat[:, d], b_mat[:, d])
        cos = acc / np.outer(_seq_norm(a_mat), _seq_norm(b_mat))
        # a < b masks the diagonal cell; cross cells hold each unordered
        # pair once, emitted id-ordered.
        mask = (a_ids[:, None] < b_ids[None, :]) & (cos >= COSINE_TAU)
        if bi_v != bj_v:
            mask |= (a_ids[:, None] > b_ids[None, :]) & (cos >= COSINE_TAU)
        ai, bix = np.nonzero(mask)
        return pd.DataFrame(
            {
                "vec_id_1": np.minimum(a_ids[ai], b_ids[bix]),
                "vec_id_2": np.maximum(a_ids[ai], b_ids[bix]),
                "cosine": np.round(cos[ai, bix], 6),
            }
        )

    return (
        replicated.groupBy("bi", "bj")
        .applyInPandas(
            _score_cell, schema="vec_id_1 long, vec_id_2 long, cosine double"
        )
        .orderBy("vec_id_1", "vec_id_2")
    )


def score_pairs_exact(pairs: DataFrame, emb: DataFrame) -> DataFrame:
    """Exact fold-order cosine for explicit candidate pairs.

    `pairs` = (vec_id_1, vec_id_2); `emb` = (vec_id, embedding). Two
    equi-joins attach the vectors plus a per-vector norm column
    (computed ONCE per vector, before the join — the oracle's hoisted
    `normed` CTE, not a per-pair recompute), then the cosine is a pure
    whole-stage-codegen projection. This is the verify stage every
    candidate generator (LSH bands, IVF cells) shares.

    r13 (guide §4.2/§4.5, r12 verdict #1) — measured A/B at sf0.1,
    817k candidate pairs, fresh sessions: old mapInPandas kernel
    4.75 s → 3.08 s. Two changes:
    - norms ride the PRE-JOIN projection as a column (norm_expr_
      unrolled — bit-identical to the kernel's _seq_norm fold), so
      the kernel no longer recomputes two 64-term norms per pair;
    - mapInPandas → mapInArrow with a zero-copy flatten/reshape of
      the Arrow list buffers — the old `np.array(list(series))` built
      a Python list of 64-wide arrays per batch row.
    The dot keeps the numpy dim-by-dim fold (`acc = acc + A[:,d] *
    B[:,d]`) and np.round — the exact IEEE sequence and rounding of
    the old kernel, bit-identical output (asserted row-for-row in the
    rewrite probe and by the oracle/parity gates).
    NOT taken: a fully in-plan unrolled-dot projection (the r12
    dot_expr_unrolled treatment). Measured 16-25 s: per-PAIR the
    duplicated 64-term chains (filter + project) push the fused
    whole-stage-codegen method to ~34 KB bytecode — past the JVM
    JIT's method cap — and the stage runs as interpreted bytecode
    ("Generated method too long to be JIT compiled"). The unrolled
    form is only safe where the pair-scoring stage stays small
    (ann_* windows) — not where an aggregate+join+filter chain fuses
    around it.
    """
    import numpy as np
    import pyarrow as pa

    a = emb.select(
        F.col("vec_id").alias("vec_id_1"),
        F.col("embedding").alias("emb_1"),
        F.expr(norm_expr_unrolled("embedding", EMB_DIM)).alias("nrm_1"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_id_2"),
        F.col("embedding").alias("emb_2"),
        F.expr(norm_expr_unrolled("embedding", EMB_DIM)).alias("nrm_2"),
    )
    j = pairs.join(a, "vec_id_1").join(b, "vec_id_2")

    def _score(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            A = np.asarray(
                rb.column("emb_1").flatten(), dtype=np.float64
            ).reshape(n, -1)
            B = np.asarray(
                rb.column("emb_2").flatten(), dtype=np.float64
            ).reshape(n, -1)
            acc = np.zeros(n, dtype=np.float64)
            for d in range(A.shape[1]):  # fold order == list_reduce
                acc = acc + A[:, d] * B[:, d]
            cos = acc / (
                np.asarray(rb.column("nrm_1"))
                * np.asarray(rb.column("nrm_2"))
            )
            yield pa.record_batch(
                {
                    "vec_id_1": rb.column("vec_id_1"),
                    "vec_id_2": rb.column("vec_id_2"),
                    "cosine": pa.array(np.round(cos, 6), type=pa.float64()),
                }
            )

    return j.mapInArrow(
        _score, schema="vec_id_1 long, vec_id_2 long, cosine double"
    )


# --------------------------------------------------------------------------
# dedup_embedding_lsh — banded random-hyperplane LSH candidates, then
# exact rescoring. THE scale path for real near-dup corpora (cosine
# gap, τ ≥ 0.8): the only shuffles are the (band_idx, band_key)
# equi-join and the two rescore joins — no quadratic pair space.
# Approximate by construction (recall 11/14 at sf0.01 with this
# corpus's gapless τ=0.45; see dedup_embedding docstring), and the
# DuckDB oracle mirrors the same plane/band construction bit-for-bit,
# so the gate checks the implementation, not the recall; recall vs the
# exact op is asserted in tests/test_dedup_properties.py.
# --------------------------------------------------------------------------
EMB_LSH_BANDS = 8
EMB_LSH_ROWS = 4
EMB_DIM = 64


def _emb_plane_component(p: int, d: int, engine: str) -> str:
    # deterministic ±1 from md5 parity — same construction both engines
    fn = "substring" if engine == "spark" else "substr"
    return f"(CASE WHEN {fn}(md5('{p}|{d}'), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END)"


def _emb_projection_bit(p: int, engine: str) -> str:
    if engine == "spark":
        elem = "CAST(element_at(embedding, {i}) AS DOUBLE)"
    else:
        elem = "embedding[{i}]::DOUBLE"
    terms = " + ".join(
        f"{elem.format(i=d + 1)} * {_emb_plane_component(p, d, engine)}"
        for d in range(EMB_DIM)
    )
    return f"(CASE WHEN ({terms}) >= 0 THEN '1' ELSE '0' END)"


def _emb_band_keys(engine: str) -> list[str]:
    concat = (
        (lambda bits: "concat(" + ", ".join(bits) + ")")
        if engine == "spark"
        else (lambda bits: " || ".join(bits))
    )
    return [
        concat(
            [
                _emb_projection_bit(b * EMB_LSH_ROWS + r, engine)
                for r in range(EMB_LSH_ROWS)
            ]
        )
        for b in range(EMB_LSH_BANDS)
    ]


DEDUP_EMB_LSH_SQL = f"""
WITH {{GATED_CAND}},
scored AS (
  SELECT cand.vec_id_1, cand.vec_id_2,
         ROUND({_PAIR_COS_SQL}, 6) AS cosine
  FROM cand
  JOIN ({NORMED_CTE} SELECT * FROM normed) a ON a.vec_id = cand.vec_id_1
  JOIN ({NORMED_CTE} SELECT * FROM normed) b ON b.vec_id = cand.vec_id_2
)
SELECT vec_id_1, vec_id_2, cosine
FROM scored
WHERE cosine >= {COSINE_TAU}
ORDER BY vec_id_1, vec_id_2
"""


def _emb_planes():
    """±1 plane components from md5 parity — the same values the
    oracle's `_emb_plane_component` SQL produces."""
    import hashlib

    import numpy as np

    n_planes = EMB_LSH_BANDS * EMB_LSH_ROWS
    planes = np.empty((n_planes, EMB_DIM), dtype=np.float64)
    for p in range(n_planes):
        for d in range(EMB_DIM):
            h = hashlib.md5(f"{p}|{d}".encode()).hexdigest()
            planes[p, d] = 1.0 if h[0] >= "8" else -1.0
    return planes


def emb_band_table(e: DataFrame) -> DataFrame:
    """(vec_id, band_idx, band_key) hyperplane-LSH bands for an
    embeddings DataFrame — the shared candidate-generation stage of
    `dedup_embedding_lsh` and `decontaminate_embedding`.

    Band keys come from a vectorized Arrow UDF, not a SQL expression:
    the 32-plane × 64-dim projection blows past janino's method-size
    limit and would run interpreted per-row. The kernel folds
    dimension-by-dimension (acc += emb[:,d] * plane[d]) — the same
    left-assoc order as the oracle's `t0 + t1 + ... + t63`, so the
    sign bits (and hence the candidate set) are engine-identical.
    The result is localCheckpointed: every caller joins the band table
    against itself (or a filtered split of it), and without the
    checkpoint the Arrow projection kernel runs once per join side
    (no ReusedExchange). The band table is (vec_id, band_idx, key) —
    tiny next to the vectors.
    """
    import numpy as np
    import pandas as pd

    def _band_keys(emb):
        planes = _emb_planes()
        mat = np.array(list(emb), dtype=np.float64)
        proj = np.zeros((len(emb), planes.shape[0]), dtype=np.float64)
        for d in range(EMB_DIM):  # fold order == SQL left-assoc sum
            proj += np.outer(mat[:, d], planes[:, d])
        bits = proj >= 0
        return pd.Series(
            [
                [
                    "".join(
                        "1" if bits[i, b * EMB_LSH_ROWS + r] else "0"
                        for r in range(EMB_LSH_ROWS)
                    )
                    for b in range(EMB_LSH_BANDS)
                ]
                for i in range(len(emb))
            ]
        )

    band_keys = F.pandas_udf(_band_keys, "array<string>")
    return (
        e.select("vec_id", band_keys("embedding").alias("ks"))
        .select(
            "vec_id",
            # full 32-bit signature: hot-bucket chaining orders bucket
            # members by it so chain-adjacent vectors agree on MORE
            # planes than arbitrary id order would give
            F.array_join("ks", "").alias("sig"),
            F.posexplode("ks").alias("band_idx0", "band_key"),
        )
        .withColumn("band_idx", F.col("band_idx0") + 1)
        .select("vec_id", "band_idx", "band_key", "sig")
        .localCheckpoint(eager=True)
    )


# Hot-bucket gate for the hyperplane-LSH self-join (the emb-space
# analogue of minhash_lsh_pairs_gated): buckets up to the cap pair
# fully — at the test scales (max bucket 181 at sf0.1) behavior is
# IDENTICAL to the ungated join — while a hot bucket contributes only
# per-member chains in SIGNATURE order (each member pairs with its
# EMB_HOT_CHAIN_LAGS signature-predecessors), so an sf1-and-beyond
# bucket of k members costs O(k · lags) candidate rows, not O(k²).
# Measured: 104M candidate pairs at sf1 ungated → ~1.3M gated.
EMB_HOT_BUCKET_CAP = 256
EMB_HOT_CHAIN_LAGS = 8


def emb_band_candidates(
    e: DataFrame, bands: DataFrame | None = None
) -> DataFrame:
    """Unordered candidate pairs (vec_id_1 < vec_id_2) from the
    hyperplane-LSH band table with ADAPTIVE hot-bucket gating: the
    bucket size is computed with a sort-free count window, small
    buckets (≤ cap) go straight to the full pair join, and the
    sig-ordered 8-lag chain window runs ONLY over rows of buckets
    above the cap. An ungated-friendly corpus (sf0.1: max bucket 181)
    pays zero chain overhead — round-5 `weak` #6 charged ~1 s here
    for a chain window sorted over every row — while an adversarial
    bucket of k members still costs O(k · lags), preserving sf1's
    104M→~1M candidate cut. Pass `bands` (e.g. the persisted
    per-corpus table from sources/ann_index.py::emb_band_store) to
    skip the Arrow projection entirely."""
    if bands is None:
        bands = emb_band_table(e)
    wb = W.partitionBy("band_idx", "band_key")
    sized = bands.select(
        "vec_id",
        "band_idx",
        "band_key",
        "sig",
        F.count("*").over(wb).alias("cnt"),
    )
    a = sized.drop("sig").alias("a")
    b = sized.drop("sig").alias("b")
    small = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(F.col("a.cnt") <= EMB_HOT_BUCKET_CAP)
        .select(
            F.col("a.vec_id").alias("vec_id_1"),
            F.col("b.vec_id").alias("vec_id_2"),
        )
    )
    wo = wb.orderBy("sig", "vec_id")
    lagged = sized.filter(F.col("cnt") > EMB_HOT_BUCKET_CAP).select(
        "vec_id",
        *[
            F.lag("vec_id", j).over(wo).alias(f"p{j}")
            for j in range(1, EMB_HOT_CHAIN_LAGS + 1)
        ],
    )
    # one explode over the lag array, not 8 filtered union arms (each
    # arm re-scans the band table for a usually-empty hot branch)
    hot = (
        lagged.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.col(f"p{j}")
                        for j in range(1, EMB_HOT_CHAIN_LAGS + 1)
                    ]
                )
            ).alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .select(
            F.least("prev", "vec_id").alias("vec_id_1"),
            F.greatest("prev", "vec_id").alias("vec_id_2"),
        )
    )
    return small.unionAll(hot).distinct()


def _emb_cand_gated_sql() -> str:
    """DuckDB CTE block mirroring emb_band_candidates bit-exactly:
    defines keyed/bands/sized/lagged/cand (cand = DISTINCT vec_id_1 <
    vec_id_2 pairs)."""
    keys = ", ".join(_emb_band_keys("duck"))
    lag_cols = ", ".join(
        f"LAG(vec_id, {j}) OVER (PARTITION BY band_idx, band_key "
        f"ORDER BY sig, vec_id) AS p{j}"
        for j in range(1, EMB_HOT_CHAIN_LAGS + 1)
    )
    hot_arms = "\n    UNION ALL\n".join(
        f"""    SELECT LEAST(p{j}, vec_id) AS vec_id_1,
           GREATEST(p{j}, vec_id) AS vec_id_2
    FROM lagged WHERE p{j} IS NOT NULL"""
        for j in range(1, EMB_HOT_CHAIN_LAGS + 1)
    )
    return f"""keyed AS MATERIALIZED (
  SELECT vec_id, [{keys}] AS ks FROM embeddings
),
bands AS (
  SELECT vec_id,
         unnest(ks) AS band_key,
         generate_subscripts(ks, 1) AS band_idx,
         array_to_string(ks, '') AS sig
  FROM keyed
),
sized AS MATERIALIZED (
  SELECT vec_id, band_idx, band_key, sig,
         COUNT(*) OVER (PARTITION BY band_idx, band_key) AS cnt
  FROM bands
),
lagged AS (
  -- adaptive gate: the sig-ordered chain window runs only over rows
  -- of buckets above the cap (lag values are unchanged by the filter
  -- since bucket membership is all-hot or all-small)
  SELECT vec_id, band_idx, band_key, cnt, {lag_cols}
  FROM sized WHERE cnt > {EMB_HOT_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT vec_id_1, vec_id_2 FROM (
    SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
    FROM sized a
    JOIN sized b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.vec_id < b.vec_id
    WHERE a.cnt <= {EMB_HOT_BUCKET_CAP}
    UNION ALL
{hot_arms}
  )
)"""


@register(
    "dedup_embedding_lsh",
    DEDUP_EMB_LSH_SQL.format(GATED_CAND=_emb_cand_gated_sql()),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_to_firehose_spark.sources.ann_index import emb_band_store

    e = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    # band table from the persisted per-corpus store: the Arrow
    # projection is a build step, queries pay a parquet scan
    cand = emb_band_candidates(e, bands=emb_band_store(spark, sf_dir))
    return (
        score_pairs_exact(cand, e)
        .filter(F.col("cosine") >= COSINE_TAU)
        .orderBy("vec_id_1", "vec_id_2")
    )


# --------------------------------------------------------------------------
# dedup_edit_distance — Levenshtein ≤ τ on 32-char normalized prefixes
# within (lang, length-bucket) blocks. The ORACLE is the readable
# in-block all-pairs definition; the Spark plan is PassJoin-style
# segment filtering (see the op docstring) producing a provable
# superset of candidates, then exact verification — so both sides
# compute identical results while the Spark side never enumerates the
# quadratic in-block pair space. τ=3 (was 8): τ+1 segments of the
# 32-char prefix must be ≥ 8 chars to be selective join keys — τ=8
# would need 9 segments of 3-4 chars, which collide on common English
# trigrams and defeat the filter. dist ≤ 3 on a 32-char prefix is the
# tight near-dup bound anyway; looser matching belongs to
# ngram_jaccard/minhash upstream.
# --------------------------------------------------------------------------
EDIT_TAU = 3
_PREFIX = 32
_SEG_LEN = 8
_N_SEGS = EDIT_TAU + 1  # pigeonhole: dist ≤ τ ⇒ one segment matches

EDIT_SQL = f"""
WITH p AS (
  SELECT doc_id, lang, n_chars // 64 AS len_bucket,
         substr({NORM_SQL}, 1, {_PREFIX}) AS prefix
  FROM documents
)
SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edit_dist
FROM p a
JOIN p b
  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= {EDIT_TAU}
ORDER BY doc_id_1, doc_id_2
"""


def edit_distance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-block Levenshtein pairs via PassJoin (Li, Deng, Feng,
    VLDB'12) with the paper's length-aware even partition and
    multi-match-aware substring selection.

    Same logical result as the oracle's all-pairs-in-block filter, but
    the plan never enumerates the quadratic in-block pair space. The
    probe doc (smaller doc_id) with prefix length ℓ is partitioned
    into τ+1 = 4 even segments (lengths ⌊ℓ/4⌋/⌈ℓ/4⌉ — for the common
    capped ℓ = 32 that is the 4×8 layout); if edit(a, b) ≤ τ, some
    segment of a occurs VERBATIM in b at a bounded shift (pigeonhole).
    Round-9 rework (the candidate:survivor ratio dominated sf3 wall):

    - the index side emits substrings PER CANDIDATE PROBE LENGTH
      ℓ ∈ [plen_b − τ, plen_b + τ], so Δ = plen_b − ℓ is known at
      emission and the full multi-match-aware window
      o ∈ [max(−i, Δ−(τ−i)), min(i, Δ+(τ−i))] (complete per the
      paper's Lemma 3: taking the last error-free segment bounds the
      shift by the i preceding segments' errors, the first bounds it
      around Δ by the τ−i following ones) is applied BEFORE the join.
      For an all-32-char corpus this emits just 1+3+3+1 = 8 rows at
      Δ = 0 — candidates for equal-length pairs come only from those;
      the blanket ±τ scheme emitted 22;
    - the join is a pure 5-key equi-join (block, ℓ, segment, content)
      with no residual window predicate, and the length filter
      |Δ| ≤ τ is structural (only those ℓ are emitted);
    - probes shorter than 4 chars can have empty segments (the
      pigeonhole degenerates), so pairs where either side's prefix is
      ≤ τ chars go through a tiny-docs arm: all-pairs among docs with
      plen ≤ τ against partners with plen ≤ 2τ — degenerate strings,
      O(tiny²) with tiny ≈ 0 on real corpora;
    - banded verification: levenshtein(p1, p2, τ) early-exits via the
      threshold DP band (O(τ·n) per pair, not O(n²)).
    """
    d = load(spark, "documents", sf_dir)
    p = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 64).cast("bigint").alias("len_bucket"),
        F.substring(F.expr(NORM_EXPR), 1, _PREFIX).alias("prefix"),
    ).withColumn("plen", F.length("prefix"))

    def seg_layout(length: int) -> list[tuple[int, int]]:
        """(start, seg_len) per segment for an even τ+1 partition —
        the last (length mod 4) segments take the extra char."""
        base, rem = divmod(length, _N_SEGS)
        out, pos = [], 1
        for i in range(_N_SEGS):
            seg = base + (1 if i >= _N_SEGS - rem else 0)
            out.append((pos, seg))
            pos += seg
        return out

    # The (ℓ, segment, offset) enumeration lives in TINY broadcast
    # dimension tables (≈120 / ≈1300 rows) with the multi-match
    # windows and substring-fit conditions precomputed — a literal
    # struct-array explode of the same enumeration blew past the
    # 64 KB codegen method limit and fell back to interpreted eval.
    # Probe side: each doc emits its own τ+1 pieces for ℓ = plen.
    probe_layout = spark.createDataFrame(
        [
            (length, i, s, seg)
            for length in range(_N_SEGS, _PREFIX + 1)
            for i, (s, seg) in enumerate(seg_layout(length))
            if seg > 0
        ],
        "l int, seg_idx int, s int, seg_len int",
    )
    seg_a = (
        p.filter(F.col("plen") > EDIT_TAU)
        .join(F.broadcast(probe_layout), F.col("plen") == F.col("l"))
        .select(
            "doc_id",
            "lang",
            "len_bucket",
            "prefix",
            "l",
            "seg_idx",
            F.expr("substring(prefix, s, seg_len)").alias("content"),
        )
    )
    # Index side: for every candidate probe length ℓ within ±τ of this
    # doc's length (plen_match = ℓ + Δ), emit the ℓ-layout substrings
    # inside the multi-match-aware window o ∈ [max(−i, Δ−(τ−i)),
    # min(i, Δ+(τ−i))] — Δ is static per dimension row, so both the
    # window and the pos+len≤plen fit check are precomputed.
    index_rows = []
    for length in range(_N_SEGS, _PREFIX + 1):
        for i, (s, seg) in enumerate(seg_layout(length)):
            if seg == 0:
                continue
            for delta in range(-EDIT_TAU, EDIT_TAU + 1):
                plen_match = length + delta
                if not (1 <= plen_match <= _PREFIX):
                    continue
                lo = max(-i, delta - (EDIT_TAU - i))
                hi = min(i, delta + (EDIT_TAU - i))
                for o in range(lo, hi + 1):
                    pos = s + o
                    if pos >= 1 and pos + seg - 1 <= plen_match:
                        index_rows.append(
                            (length, i, pos, seg, plen_match)
                        )
    index_layout = spark.createDataFrame(
        index_rows, "l int, seg_idx int, pos int, seg_len int, plen_match int"
    )
    seg_b = p.join(
        F.broadcast(index_layout), F.col("plen") == F.col("plen_match")
    ).select(
        "doc_id",
        "lang",
        "len_bucket",
        "prefix",
        "l",
        "seg_idx",
        F.expr("substring(prefix, pos, seg_len)").alias("content"),
    )
    a = seg_a.alias("a")
    b = seg_b.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.l") == F.col("b.l"))
            & (F.col("a.seg_idx") == F.col("b.seg_idx"))
            & (F.col("a.content") == F.col("b.content"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            F.col("a.prefix").alias("p1"),
            F.col("b.prefix").alias("p2"),
        )
    )
    # Tiny-docs arm: prefixes ≤ τ chars break the pigeonhole (empty
    # segments). Their partners are ≤ 2τ chars by the length filter.
    t_a = p.filter(F.col("plen") <= EDIT_TAU).alias("ta")
    t_b = p.filter(F.col("plen") <= 2 * EDIT_TAU).alias("tb")
    tiny = t_a.join(
        t_b,
        (F.col("ta.lang") == F.col("tb.lang"))
        & (F.col("ta.len_bucket") == F.col("tb.len_bucket"))
        & (F.col("ta.doc_id") != F.col("tb.doc_id"))
        & (
            (F.col("tb.plen") - F.col("ta.plen")).between(
                -EDIT_TAU, EDIT_TAU
            )
        ),
    ).select(
        F.least("ta.doc_id", "tb.doc_id").alias("doc_id_1"),
        F.greatest("ta.doc_id", "tb.doc_id").alias("doc_id_2"),
        F.when(
            F.col("ta.doc_id") < F.col("tb.doc_id"), F.col("ta.prefix")
        )
        .otherwise(F.col("tb.prefix"))
        .alias("p1"),
        F.when(
            F.col("ta.doc_id") < F.col("tb.doc_id"), F.col("tb.prefix")
        )
        .otherwise(F.col("ta.prefix"))
        .alias("p2"),
    )
    dist = F.levenshtein(F.col("p1"), F.col("p2"), EDIT_TAU)
    return (
        cand.unionAll(tiny)
        .distinct()
        .withColumn("edit_dist", dist.cast("bigint"))
        .filter(F.col("edit_dist").between(0, EDIT_TAU))
        .select("doc_id_1", "doc_id_2", "edit_dist")
        .orderBy("doc_id_1", "doc_id_2")
    )


@register("dedup_edit_distance", EDIT_SQL)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ-Levenshtein pairs served from the persisted per-corpus store
    (round-11: the last heavy dedup pair op without one — PassJoin's
    candidate generation is a corpus property like the jaccard /
    containment pair lists, 27 s at sf10 paid per query for a
    parameter-free result). `edit_distance_plan` (unchanged) is the
    BUILD step; queries pay a parquet scan. Store == direct is pinned
    by tests/test_dedup_properties.py."""
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_edit_pairs_store,
    )

    return corpus_edit_pairs_store(spark, sf_dir).orderBy(
        "doc_id_1", "doc_id_2"
    )


# --------------------------------------------------------------------------
# dedup_index_probe — continuous-ingest dedup: check a NEW batch of
# documents (doc_id % 10 == 0 models the day's arrivals) against the
# EXISTING corpus, never old-vs-old. Exact membership via the
# normalized fingerprint plus near-dup candidates via the minhash band
# index, joined new×old only. The old side's fingerprints and band
# keys are a persisted index (sources/dedup_index.py) updated per
# ingest; per-ingest cost is O(new batch) signature work + equi-joins
# that touch only matching band buckets — the corpus is never
# re-paired against itself.
# --------------------------------------------------------------------------
NEW_MOD = 10

DEDUP_INCREMENTAL_SQL = f"""
{SHINGLES_CTE},
exploded AS (
  SELECT doc_id, unnest(sh) AS shingle FROM s
),
hashed_v AS (
  SELECT doc_id, {_V_SQL} AS v FROM exploded
),
sigs AS (
  SELECT doc_id, {_SIG_AGG_SQL} FROM hashed_v GROUP BY doc_id
),
bands AS (
  SELECT doc_id, unnest([{_BAND_KEYS_SQL}]) AS band_key,
         generate_subscripts([{_BAND_KEYS_SQL}], 1) AS band_idx
  FROM sigs
),
near AS (
  SELECT n.doc_id, COUNT(DISTINCT o.doc_id) AS n_near
  FROM bands n
  JOIN bands o
    ON n.band_idx = o.band_idx AND n.band_key = o.band_key
  WHERE n.doc_id % {NEW_MOD} = 0 AND o.doc_id % {NEW_MOD} != 0
  GROUP BY n.doc_id
),
fp AS (
  SELECT doc_id, md5({NORM_SQL}) AS h FROM documents
),
new_exact AS (
  SELECT e.doc_id,
         CASE WHEN EXISTS (
           SELECT 1 FROM fp o WHERE o.doc_id % {NEW_MOD} != 0 AND o.h = e.h
         ) THEN 1 ELSE 0 END AS is_exact_dup
  FROM fp e WHERE e.doc_id % {NEW_MOD} = 0
)
SELECT ne.doc_id,
       CAST(ne.is_exact_dup AS BIGINT) AS is_exact_dup,
       CAST(COALESCE(near.n_near, 0) AS BIGINT) AS n_near_candidates,
       CASE WHEN ne.is_exact_dup = 1 THEN 'exact'
            WHEN COALESCE(near.n_near, 0) > 0 THEN 'near'
            ELSE 'unique' END AS verdict
FROM new_exact ne
LEFT JOIN near ON ne.doc_id = near.doc_id
ORDER BY ne.doc_id
"""


def doc_band_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) minhash band-index rows for an
    arbitrary documents-shaped DataFrame — the rows the persisted
    dedup index stores and probes (sources/dedup_index.py)."""
    ex = shingles_from_docs(docs, carry=()).select("doc_id", "shingle")
    hashed_v = ex.select("doc_id", F.expr(_V_SPARK).alias("v"))
    sigs = hashed_v.groupBy("doc_id").agg(
        *[F.expr(e) for e in _sig_agg_spark(N_PERMS)]
    )
    return (
        sigs.select(
            "doc_id",
            F.posexplode(F.expr(f"array({_BAND_KEYS_SPARK})")).alias(
                "band_idx0", "band_key"
            ),
        )
        .withColumn("band_idx", F.col("band_idx0") + 1)
        .select("doc_id", "band_idx", "band_key")
    )


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, h) normalized-text md5 fingerprints — the exact-dup
    half of the dedup index."""
    return docs.select("doc_id", F.md5(F.expr(NORM_EXPR)).alias("h"))


def incremental_verdicts(
    new_fp: DataFrame,
    new_bands: DataFrame,
    old_fp: DataFrame,
    old_bands: DataFrame,
) -> DataFrame:
    """New-vs-old verdict assembly: exact membership via the
    fingerprint join, near candidates via the band equi-join, one
    verdict row per new doc. dedup_index_probe reads the old side from
    the persisted index (sources/dedup_index.py)."""
    near = (
        new_bands.alias("n")
        .join(
            old_bands.alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_key") == F.col("o.band_key")),
        )
        .groupBy(F.col("n.doc_id").alias("doc_id"))
        .agg(F.countDistinct(F.col("o.doc_id")).alias("n_near"))
    )
    new_exact = new_fp.join(
        old_fp.select("h").distinct().withColumn("hit", F.lit(1)),
        "h",
        "left",
    ).select(
        "doc_id",
        F.when(F.col("hit").isNotNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_exact_dup"),
    )
    return (
        new_exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            "is_exact_dup",
            F.coalesce(F.col("n_near"), F.lit(0))
            .cast("bigint")
            .alias("n_near_candidates"),
            F.when(F.col("is_exact_dup") == 1, "exact")
            .when(F.coalesce(F.col("n_near"), F.lit(0)) > 0, "near")
            .otherwise("unique")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


@register("dedup_index_probe", DEDUP_INCREMENTAL_SQL)
def dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-old dedup verdicts served from a PERSISTED index: the
    old side's fingerprints and band keys are built once into a
    parquet index store (sources/dedup_index.py) and the probe joins
    the new batch against the STORED tables — per-ingest cost is
    O(new batch) signature work + two equi-joins; the corpus is never
    re-signatured. The index is an implementation detail the verdicts
    must not observe: the oracle computes both sides from the
    documents table."""
    import os
    import tempfile

    from kinesis_to_firehose_spark.sources.dedup_index import (
        build_dedup_index,
        probe_dedup_index,
    )

    d = load(spark, "documents", sf_dir)
    is_new = F.col("doc_id") % NEW_MOD == 0
    path = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_dedup_index_"
        + os.path.basename(os.path.normpath(sf_dir)),
    )
    build_dedup_index(spark, d.filter(~is_new), path)
    return probe_dedup_index(spark, d.filter(is_new), path)


# --------------------------------------------------------------------------
# dedup_cc_star — the last stage of the near-dup pipeline: candidate
# PAIRS (minhash est_jaccard ≥ τ, read from the persisted pair store)
# → dup CLUSTERS, labelled by the component minimum. Computed with the
# alternating large-star / small-star algorithm (Kiveris et al.,
# "Connected Components in MapReduce and Beyond", SoCC'14) rather than
# min-label propagation, whose O(diameter) rounds blow up on
# chain-shaped graphs (templated doc series where doc_i ~ doc_{i+1}
# only). Large-star hangs every above-u neighbor directly off u's
# neighborhood minimum; small-star re-hangs the below-u neighbors;
# alternating the two collapses any component into a star in
# O(log² n) rounds regardless of diameter. Each phase is a window min
# over the EDGE list (the tiny LSH-candidate output, never the
# corpus), so each round is one bounded shuffle. Edges stay
# canonically oriented src > dst throughout, which makes the
# convergence check a set compare of two small distinct edge lists.
# The DuckDB oracle states the same fixpoint as a recursive CTE.
# --------------------------------------------------------------------------
CLUSTER_TAU = 0.5

_MINHASH_BODY = MINHASH_SQL.replace(
    "\nORDER BY doc_id_1, doc_id_2\n", "\n"
)

CONNECTED_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_id_1, doc_id_2 FROM ({_MINHASH_BODY})
  WHERE est_jaccard >= {CLUSTER_TAU}
),
edges AS (
  SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
  UNION ALL SELECT doc_id_2, doc_id_1 FROM pairs
),
verts AS (SELECT DISTINCT src AS v FROM edges),
reach(v, l) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v
  WHERE r.l < e.dst
),
labeled AS (
  SELECT v AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY v
)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM labeled
ORDER BY doc_id
"""


_STAR_MAX_ROUNDS = 20


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, m = min(Γ(u) ∪ {u}); src > dst out.

    r12 re-plan (guide §2.4): the neighborhood minimum rides a
    partition-wide window over ONE src exchange instead of a separate
    groupBy-min table joined back onto the edges (which cost a second
    exchange for the join's probe side). The trailing distinct is gone
    too — _small_star's window min is duplicate-invariant and its own
    final distinct collapses the round's output, so duplicates never
    survive a round (bounded: ≤ |sym(e)| rows within the round)."""
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = F.least(F.min("dst").over(W.partitionBy("src")), F.col("src"))
    return (
        sym.withColumn("m", m)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v ≤ u plus (u, m); input/output src > dst.

    Same window-for-join trade as _large_star: min over the src
    partition replaces the groupBy+join pair (2 exchanges → 1). The
    (u, m) self-arm is emitted per edge row instead of per distinct
    src — the final distinct collapses it to the identical set."""
    me = edges.withColumn("m", F.min("dst").over(W.partitionBy("src")))
    return (
        me.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionAll(me.select("src", F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def star_components(edges: DataFrame) -> tuple[DataFrame, int]:
    """Collapse an undirected edge list (any orientation) into per-node
    labels ``(v, l)`` where l is the component minimum. Returns the
    labels DataFrame and the number of (large, small) rounds taken —
    O(log² n) even on path graphs where label propagation needs O(n).
    Raises ValueError if the edges still change after _STAR_MAX_ROUNDS
    rounds.
    """
    e = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    e_cnt = e.count()
    for _ in range(_STAR_MAX_ROUNDS):
        n = _small_star(_large_star(e)).localCheckpoint(eager=True)
        rounds += 1
        # two-tier convergence check (r12): both sides are distinct
        # sets, so unequal COUNTS prove inequality without any shuffle
        # (counting a checkpointed frame just sums block sizes). Only
        # a count tie — typically the single converged round — pays
        # the exact set compare (a row in exactly one side groups to
        # count 1). Exactness is unchanged: the set compare still
        # decides every tie.
        n_cnt = n.count()
        if n_cnt == e_cnt:
            changed = (
                n.unionAll(e)
                .groupBy("src", "dst")
                .count()
                .filter(F.col("count") == 1)
                .limit(1)
                .count()
            )
        else:
            changed = 1
        e, e_cnt = n, n_cnt
        if changed == 0:
            break
    else:
        # still changing at the cap: the labels would be a partial
        # collapse (split clusters), so fail instead of returning them
        raise ValueError(
            f"star_components did not converge in {_STAR_MAX_ROUNDS} "
            f"rounds"
        )
    roots = e.select(F.col("dst").alias("v")).subtract(
        e.select(F.col("src").alias("v"))
    )
    labels = e.select(F.col("src").alias("v"), F.col("dst").alias("l")).unionAll(
        roots.select("v", F.col("v").alias("l"))
    )
    return labels, rounds


@register("dedup_cc_star", CONNECTED_COMPONENTS_SQL)
def dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_store_pairs_tau(spark, sf_dir, CLUSTER_TAU).select(
        F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst")
    )
    labels, _ = star_components(pairs)
    w = W.partitionBy("cluster_id")
    return (
        labels.select(
            F.col("v").alias("doc_id"), F.col("l").alias("cluster_id")
        )
        .withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# dedup_substring — duplicated-SPAN detection (the exact-substring
# dedup of Lee et al., "Deduplicating Training Data Makes Language
# Models Better", adapted to word windows): every k-word window of
# every document is hashed; a window that also occurs in ANOTHER
# document is a duplicated span. Emits per-doc window counts, the
# duplicated-window fraction, and the keep decision (< 50 % of the
# doc duplicated elsewhere). Complements doc-level near-dup (minhash/
# simhash): it catches boilerplate shared across otherwise-distinct
# documents.
#
# Plan shape at 100 TB: tokens explode narrowly, the window leads need
# one shuffle on doc_id, then occurrences collapse to (doc_id, gram)
# COUNTS before anything joins — the gram-frequency aggregate and the
# (doc,gram)⋈gram join both run on the collapsed table, map-side
# combined. No all-pairs anywhere; the widest shuffle key is the gram
# string (at real scale you'd md5 it — kept readable here because the
# oracle must mirror it byte-for-byte).
# --------------------------------------------------------------------------
SUBSTR_K = 8

DEDUP_SUBSTRING_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {TOK_SQL} AS t FROM documents
),
wins AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - {SUBSTR_K - 1}, 0)),
                               i -> array_to_string(list_slice(t, i, i + {SUBSTR_K - 1}), ' ')))
           AS gram
  FROM toks
),
per_dg AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM wins GROUP BY doc_id, gram
),
nd AS (
  SELECT gram, COUNT(*) AS n_docs FROM per_dg GROUP BY gram
)
SELECT per_dg.doc_id,
       CAST(SUM(c) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_windows,
       CAST((CAST(SUM(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS BIGINT) * 2000000
             + SUM(c)) // (SUM(c) * 2) AS DOUBLE) / 1000000.0 AS dup_frac,
       CAST(CASE WHEN SUM(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) * 2 < SUM(c)
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM per_dg JOIN nd USING (gram)
GROUP BY per_dg.doc_id
ORDER BY doc_id
"""


def substring_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    toks = d.select(
        "doc_id", F.posexplode(F.expr(TOK_EXPR)).alias("pos", "tok")
    )
    # window leads, not array lambdas: stays in whole-stage codegen
    # (see exploded_shingles for the interpreted-HOF rationale)
    w = W.partitionBy("doc_id").orderBy("pos")
    leads = [
        F.lead("tok", i).over(w).alias(f"t{i}") for i in range(1, SUBSTR_K)
    ]
    wins = (
        toks.select("doc_id", "tok", *leads)
        .filter(F.col(f"t{SUBSTR_K - 1}").isNotNull())
        .select(
            "doc_id",
            F.concat_ws(
                " ", "tok", *[f"t{i}" for i in range(1, SUBSTR_K)]
            ).alias("gram"),
        )
    )
    per_dg = wins.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    # n_docs as a WINDOW over the (doc, gram) table, not a gram-keyed
    # aggregate joined back: same semantics, one fewer exchange — and
    # it removes the join Spark mis-planned as a BROADCAST at the
    # fifth decade (the gram table passed the size estimate at sf30,
    # then shipped 1 GiB of task results into the driver and died on
    # maxResultSize; a window can never broadcast).
    dup_w = F.sum(
        F.when(F.col("n_docs") >= 2, F.col("c")).otherwise(F.lit(0))
    )
    return (
        per_dg.withColumn(
            "n_docs", F.count("*").over(W.partitionBy("gram"))
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_windows"),
            dup_w.cast("bigint").alias("dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "dup_windows",
            # exact half-up integer rounding of the int ratio — no
            # double ROUND midpoint semantics to fork across engines
            F.expr(
                "CAST((dup_windows * 2000000 + n_windows)"
                " DIV (n_windows * 2) AS DOUBLE) / 1000000.0"
            ).alias("dup_frac"),
            (F.col("dup_windows") * 2 < F.col("n_windows"))
            .cast("bigint")
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


@register("dedup_substring", DEDUP_SUBSTRING_SQL)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span stats served from the persisted
    per-corpus store (round-11, verdict task 2: the (doc, gram)
    aggregate ⋈ gram-df join rides the same Σdf² ramp as containment
    — sf3→sf10 time-α 1.14 at 54 s — and the whole per-doc table is a
    corpus property: one row per doc, fixed schema, no query
    parameters). `substring_plan` (unchanged) is the BUILD step;
    queries pay a parquet scan. Store == direct is pinned by
    tests/test_dedup_properties.py; the planted-boilerplate case
    runs against the direct plan."""
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_substring_stats_store,
    )

    return corpus_substring_stats_store(spark, sf_dir).orderBy("doc_id")


# --------------------------------------------------------------------------
# dedup_keep_best — the dedup pipeline's final verdict: near-dup
# CLUSTERS (minhash pairs → star CC, as dedup_cc_star) plus a per-doc
# quality score, keeping exactly ONE representative per cluster — the
# highest-scoring member (distinct-token count; ties to the lowest
# doc_id). What a user of a curation pipeline actually consumes:
# every doc labeled with its cluster, size, score, and keep bit.
#
# Plan shape at 100 TB: the cluster label table is O(near-dup docs) —
# tiny next to the corpus — so the corpus side is one narrow scored
# projection plus a broadcast-shaped join/anti-join against labels;
# the window runs ONLY over the clustered slice, never the corpus.
# Oracle: the dedup_cc_star recursive-CTE fixpoint extended with the
# score + ROW_NUMBER pick.
# --------------------------------------------------------------------------
KEEP_BEST_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_id_1, doc_id_2 FROM ({_MINHASH_BODY})
  WHERE est_jaccard >= {CLUSTER_TAU}
),
edges AS (
  SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
  UNION ALL SELECT doc_id_2, doc_id_1 FROM pairs
),
verts AS (SELECT DISTINCT src AS v FROM edges),
reach(v, l) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v
  WHERE r.l < e.dst
),
labeled AS (
  SELECT v AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY v
),
scored AS (
  SELECT doc_id, CAST(len(list_distinct({TOK_SQL})) AS BIGINT) AS score
  FROM documents
),
labeled_all AS (
  SELECT s.doc_id,
         COALESCE(lb.cluster_id, s.doc_id) AS cluster_id,
         s.score
  FROM scored s LEFT JOIN labeled lb ON lb.doc_id = s.doc_id
)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       score,
       CAST(CASE WHEN ROW_NUMBER() OVER (
                 PARTITION BY cluster_id ORDER BY score DESC, doc_id) = 1
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM labeled_all
ORDER BY doc_id
"""


@register("dedup_keep_best", KEEP_BEST_SQL)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_store_pairs_tau(spark, sf_dir, CLUSTER_TAU).select(
        F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst")
    )
    labels, _ = star_components(pairs)
    d = load(spark, "documents", sf_dir)
    scored = d.select(
        "doc_id",
        F.size(F.array_distinct(F.expr(TOK_EXPR))).cast("bigint").alias("score"),
    )
    # SHUFFLE_HASH: labels is a checkpointed RDD-backed plan with no
    # size stats, so the planner defaulted both corpus-side joins to
    # sort-merge — full sorts of the scored table for joins whose
    # build side is the (bounded) clustered-label slice (guide §3.1).
    clustered = scored.join(
        labels.select(
            F.col("v").alias("doc_id"), F.col("l").alias("cluster_id")
        ).hint("shuffle_hash"),
        "doc_id",
    )
    wc = W.partitionBy("cluster_id")
    wr = W.partitionBy("cluster_id").orderBy(F.col("score").desc(), "doc_id")
    clustered_out = clustered.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(wc).cast("bigint").alias("cluster_size"),
        "score",
        (F.row_number().over(wr) == 1).cast("bigint").alias("keep"),
    )
    singles = scored.join(
        labels.hint("shuffle_hash"), scored.doc_id == labels.v, "left_anti"
    ).select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        F.lit(1).cast("bigint").alias("cluster_size"),
        "score",
        F.lit(1).cast("bigint").alias("keep"),
    )
    return clustered_out.unionByName(singles).orderBy("doc_id")


# --------------------------------------------------------------------------
# dedup_containment — asymmetric near-SUPERSET detection: containment
# C(A,B) = |A∩B| / min(|A|,|B|) over the same DF-capped word-bigram
# shingle index as dedup_ngram_jaccard. Catches excerpt/quote
# relationships symmetric Jaccard misses: a short doc fully embedded
# in a long one has high containment but low Jaccard (the union is
# dominated by the long doc), so it survives every Jaccard-style
# dedup pass. Curation pipelines (e.g. Dolma's dedup stage) run
# containment alongside Jaccard for exactly this case. Same
# inverted-index shape — pairs sharing zero shingles never
# materialize; one extra column over the existing aggregate.
# --------------------------------------------------------------------------
CONTAIN_TAU = 0.8

CONTAINMENT_SQL = f"""
{SHINGLES_CTE},
raw_exploded AS (
  SELECT doc_id, lang, len_bucket, unnest(sh) AS shingle FROM s
),
df_capped AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY lang, shingle) AS df_cnt
    FROM raw_exploded
  ) WHERE df_cnt <= {MAX_SHINGLE_DF}
),
exploded AS (
  SELECT doc_id, lang, shingle,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
  FROM df_capped
),
matches AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         MIN(a.n_sh) AS n1, MIN(b.n_sh) AS n2, COUNT(*) AS inter
  FROM exploded a
  JOIN exploded b
    ON a.shingle = b.shingle AND a.lang = b.lang
   AND a.doc_id < b.doc_id
  GROUP BY doc_id_1, doc_id_2
)
SELECT doc_id_1, doc_id_2,
       ROUND(inter * 1.0 / LEAST(n1, n2), 6) AS containment,
       ROUND(inter * 1.0 / (n1 + n2 - inter), 6) AS jaccard
FROM matches
WHERE inter * 1.0 / LEAST(n1, n2) >= {CONTAIN_TAU}
ORDER BY doc_id_1, doc_id_2
"""


# CONTAIN_TAU = 0.8 as an exact fraction (prefix bounds use integer
# ceil-division — see TAU_P/TAU_Q for why float ceil is a
# completeness bug)
TAU_C_P, TAU_C_Q = 4, 5
assert TAU_C_P / TAU_C_Q == CONTAIN_TAU


def containment_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric prefix-filtered containment join (round-10: the
    fourth-decade envelope exposed the full inverted-index self-join
    at time-alpha 1.73 sf3→sf10 against out-alpha 0.73 — candidate
    mass Σ df² grows with duplication density even though results
    don't).

    Jaccard's AllPairs size filter (τ·n1 ≤ n2) is exactly what
    containment must NOT apply — excerpt pairs have wildly different
    sizes — but a ONE-SIDED prefix filter is still sound: for
    C(A,B) = |A∩B|/min(|A|,|B|) ≥ τ with A the smaller side,
    |A∩B| ≥ ⌈τ·n_a⌉ = α, so at most n_a − α elements of A lie outside
    B and A's (n_a − α + 1)-prefix under the global (df, shingle)
    rarity order must contain a shared shingle. Candidates therefore
    come from joining the SMALL side's prefix (the rare ~(1−τ) end of
    each doc) against the FULL index restricted to
    (n_a, doc_id) < (n_b, doc_id) — fan-out is rare-df·df instead of
    df² — and survivors are exact-verified with one array_intersect
    per distinct pair.

    NOTE: blocked on lang only (no len_bucket) — containment pairs
    are precisely the ones with very DIFFERENT lengths, so the
    length-bucket blocking that's right for Jaccard would hide them;
    the doc-grain arrays are built in-plan on the lang-blocked
    (lang, shingle) df order, NOT from the rarity store (whose cap
    and order are (lang, len_bucket, shingle)-based)."""
    ex = shingles_from_docs(
        load(spark, "documents", sf_dir), ("lang",)
    )
    capped = (
        ex.withColumn(
            "df_cnt", F.count("*").over(W.partitionBy("lang", "shingle"))
        )
        .filter(F.col("df_cnt") <= MAX_SHINGLE_DF)
    )
    # doc-grain rarity-sorted arrays (the jacpairs-store layout,
    # lang-blocked): prefix slices explode from these, and the same
    # arrays are the verification payload
    docs_g = (
        capped.groupBy("doc_id", "lang")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("df_cnt", "shingle"))
            ).alias("ss")
        )
        .select(
            "doc_id",
            "lang",
            F.expr("transform(ss, x -> x.shingle)").alias("sh"),
            F.size("ss").alias("n_sh"),
        )
    )
    # small side: prefix of length n − ⌈τ·n⌉ + 2 — ONE element longer
    # than the completeness minimum, which buys a match-COUNT bound:
    # every A∩B element in A's L-prefix is a join match, elements
    # beyond the prefix number ≤ n − L, so inter ≤ p + n − L and a
    # true pair must match p ≥ α − (n − L) prefix shingles (= 2 for
    # the +2 prefix; clamps to α for tiny docs where L = n). Random
    # single-shingle collisions — the quadratic bulk of the candidate
    # mass at the fourth decade (71M of 71M join rows at sf10 were
    # distinct pairs, true positives 28k) — die at the count filter
    # instead of riding the array-verify joins. slice() past the array
    # end just returns the array, so the +2 needs no explicit clamp.
    probe = docs_g.select(
        "doc_id",
        "lang",
        "n_sh",
        F.explode(
            F.expr(
                f"slice(sh, 1, size(sh)"
                f" - (({TAU_C_P} * size(sh) + {TAU_C_Q} - 1) DIV {TAU_C_Q})"
                f" + 2)"
            )
        ).alias("shingle"),
    )
    # big side: the full capped index (no size floor exists for the
    # larger doc of a containment pair — it may dwarf the smaller)
    index = docs_g.select(
        "doc_id",
        "lang",
        "n_sh",
        F.explode("sh").alias("shingle"),
    )
    a = probe.alias("a")
    b = index.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") == F.col("b.lang"))
            # a is the SMALLER side (ties by doc_id), per the lemma
            & (
                (F.col("a.n_sh") < F.col("b.n_sh"))
                | (
                    (F.col("a.n_sh") == F.col("b.n_sh"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_s"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("ns"),
            F.col("b.n_sh").alias("nb"),
        )
        # aggregate the match multiset (p = |prefix(A) ∩ B|) and apply
        # the count bound: keep only p + (ns − L) ≥ α — exact integer
        # arithmetic, sound by the prefix-count lemma above
        .groupBy("doc_s", "doc_b", "ns", "nb")
        .agg(F.count("*").alias("p"))
        .filter(
            F.col("p")
            + (
                F.col("ns")
                - F.least(
                    F.col("ns"),
                    F.col("ns")
                    - F.expr(
                        f"({TAU_C_P} * ns + {TAU_C_Q} - 1) DIV {TAU_C_Q}"
                    )
                    + 2,
                )
            )
            >= F.expr(f"({TAU_C_P} * ns + {TAU_C_Q} - 1) DIV {TAU_C_Q}")
        )
    )
    v = (
        cand.join(
            docs_g.select(
                F.col("doc_id").alias("doc_s"), F.col("sh").alias("sh_s")
            ),
            "doc_s",
        )
        .join(
            docs_g.select(
                F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_s", "sh_b")))
    )
    cont = F.col("inter") / F.least("ns", "nb")
    jac = F.col("inter") / (F.col("ns") + F.col("nb") - F.col("inter"))
    return (
        v.filter(cont >= CONTAIN_TAU)
        .select(
            F.least("doc_s", "doc_b").alias("doc_id_1"),
            F.greatest("doc_s", "doc_b").alias("doc_id_2"),
            F.round(cont, 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("doc_id_1", "doc_id_2")
    )


@register("dedup_containment", CONTAINMENT_SQL)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ-containment pairs served from the persisted per-corpus pair
    store (round-11, verdict task 1 option b: the prefix-filtered
    plan is sound and correct at every tested decade, but its
    candidate mass rides Σdf² with the scale generator's df ramp —
    sf3→sf10 time-α 1.50 against out-α < 1 — and that ramp is a
    property of the CORPUS, so it belongs in a once-per-corpus build,
    not in every query). `containment_plan` (unchanged) is the
    store's BUILD step; this op and any consumer of the excerpt-pair
    truth set pay a parquet scan. Store == direct is pinned by
    tests/test_dedup_properties.py."""
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_containment_pairs_store,
    )

    return corpus_containment_pairs_store(spark, sf_dir).orderBy(
        "doc_id_1", "doc_id_2"
    )


# --------------------------------------------------------------------------
# dedup_minhash_eval — index-quality evaluation as a query: score the
# minhash-LSH near-dup detector (est_jaccard ≥ τ over banded
# candidates) against the exact n-gram-Jaccard pairs at the same
# threshold — precision / recall / F1 of the sketch, computed at
# corpus scale in one plan. The per-corpus quality dashboard that
# tells you whether 32 perms / 8 bands is enough BEFORE you trust the
# index (the pytest banded-recall study answers the same question on
# planted data; this op answers it on the real corpus).
#
# Scale shape: both pair sets come from the already-bounded band /
# capped-inverted-index joins; the eval itself is a full-outer join of
# two pair lists (≪ corpus) and one 1-row aggregate.
# --------------------------------------------------------------------------
MINHASH_EVAL_SQL = f"""
WITH pred AS (
  SELECT doc_id_1, doc_id_2
  FROM ({MINHASH_SQL})
  WHERE est_jaccard >= {JACCARD_TAU}
),
truth AS (
  SELECT doc_id_1, doc_id_2 FROM ({NGRAM_JACCARD_SQL})
),
j AS (
  SELECT CASE WHEN p.doc_id_1 IS NOT NULL THEN 1 ELSE 0 END AS in_pred,
         CASE WHEN t.doc_id_1 IS NOT NULL THEN 1 ELSE 0 END AS in_truth
  FROM pred p
  FULL OUTER JOIN truth t
    ON p.doc_id_1 = t.doc_id_1 AND p.doc_id_2 = t.doc_id_2
),
agg AS (
  SELECT SUM(in_pred)::BIGINT AS n_pred,
         SUM(in_truth)::BIGINT AS n_true,
         SUM(in_pred * in_truth)::BIGINT AS n_hit
  FROM j
),
pr AS (
  SELECT n_pred, n_true, n_hit,
         CASE WHEN n_pred = 0 THEN 0.0
              ELSE n_hit::DOUBLE / n_pred::DOUBLE END AS p,
         CASE WHEN n_true = 0 THEN 0.0
              ELSE n_hit::DOUBLE / n_true::DOUBLE END AS r
  FROM agg
)
SELECT n_pred, n_true, n_hit,
       CASE WHEN n_pred = 0 THEN 0.0 ELSE
         CAST((n_hit * 2000000 + n_pred) // (n_pred * 2) AS DOUBLE)
           / 1000000.0 END AS precision,
       CASE WHEN n_true = 0 THEN 0.0 ELSE
         CAST((n_hit * 2000000 + n_true) // (n_true * 2) AS DOUBLE)
           / 1000000.0 END AS recall,
       ROUND(CASE WHEN p + r = 0.0 THEN 0.0
                  ELSE 2.0 * p * r / (p + r) END, 6) AS f1
FROM pr
"""


@register("dedup_minhash_eval", MINHASH_EVAL_SQL)
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = lsh_store_pairs_tau(spark, sf_dir, JACCARD_TAU).withColumn(
        "in_pred", F.lit(1)
    )
    # truth pairs straight from the persisted store (round-10 task 4:
    # both sides of the eval are now store probes — no signature or
    # AllPairs re-run per invocation), skipping dedup_ngram_jaccard's
    # presentation sort, dead weight under a join
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_jaccard_pairs_store,
    )

    truth = (
        corpus_jaccard_pairs_store(spark, sf_dir)
        .select("doc_id_1", "doc_id_2")
        .withColumn("in_truth", F.lit(1))
    )
    j = pred.join(truth, ["doc_id_1", "doc_id_2"], "full_outer").select(
        F.coalesce("in_pred", F.lit(0)).alias("in_pred"),
        F.coalesce("in_truth", F.lit(0)).alias("in_truth"),
    )
    agg = j.agg(
        F.sum("in_pred").cast("bigint").alias("n_pred"),
        F.sum("in_truth").cast("bigint").alias("n_true"),
        F.sum(F.col("in_pred") * F.col("in_truth"))
        .cast("bigint")
        .alias("n_hit"),
    )
    p = F.when(F.col("n_pred") == 0, F.lit(0.0)).otherwise(
        F.col("n_hit").cast("double") / F.col("n_pred").cast("double")
    )
    r = F.when(F.col("n_true") == 0, F.lit(0.0)).otherwise(
        F.col("n_hit").cast("double") / F.col("n_true").cast("double")
    )
    pr = agg.select("n_pred", "n_true", "n_hit", p.alias("p"), r.alias("r"))
    f1 = F.when(F.col("p") + F.col("r") == 0.0, F.lit(0.0)).otherwise(
        F.lit(2.0) * F.col("p") * F.col("r") / (F.col("p") + F.col("r"))
    )
    return pr.select(
        "n_pred",
        "n_true",
        "n_hit",
        # int-ratio rounding in exact integer half-up arithmetic (the
        # f1 round stays on p/r-derived doubles that are identical in
        # both engines — a nonlinear quotient, midpoint-safe)
        F.expr(
            "CASE WHEN n_pred = 0 THEN 0.0D ELSE CAST((n_hit * 2000000"
            " + n_pred) DIV (n_pred * 2) AS DOUBLE) / 1000000.0 END"
        ).alias("precision"),
        F.expr(
            "CASE WHEN n_true = 0 THEN 0.0D ELSE CAST((n_hit * 2000000"
            " + n_true) DIV (n_true * 2) AS DOUBLE) / 1000000.0 END"
        ).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


# --------------------------------------------------------------------------
# dedup_provenance_chain — duplicate PROVENANCE: each near-dup's
# minimum-id candidate partner becomes its parent (parent < child by
# construction, so the parent map is a FOREST — acyclic, every walk
# terminates); walking parent links yields, for every duplicated
# document, the ORIGINAL it ultimately derives from and the chain
# depth — the "who copied whom, transitively" audit that cluster ids
# alone don't give.
#
# Spark side is POINTER DOUBLING, not the naive walk (round-10 rework;
# was a WITH RECURSIVE walk whose round count equals the longest chain
# DEPTH, each round re-joining the frontier against the full parent
# forest — 36s at sf3, the largest wall on SCALE_CURVE): the mapping
# doc → (ancestor at distance d) is composed with ITSELF each round,
# so reach doubles — ⌈log₂ depth⌉ self-joins of a table bounded by the
# duplicate-doc count, each localCheckpoint-ed so the plan stays flat.
# The DuckDB oracle keeps the readable recursive-CTE definition; both
# compute root = deepest ancestor and depth = chain length, exact
# integers, so results agree bit-for-bit.
#
# Scale shape: all tables are bounded by the candidate-pair set
# (≪ corpus); round count is log of the longest duplication chain —
# a 2^40-deep chain (never) would take 40 self-joins of a pair-bounded
# table. No full-forest re-walk per level.
# --------------------------------------------------------------------------
_PROV_RECURSION = """
WITH RECURSIVE parents AS (
  SELECT doc_id_2 AS doc, MIN(doc_id_1) AS parent
  FROM {pairs} GROUP BY doc_id_2
),
walk(doc, anc, depth) AS (
  SELECT doc, parent, 1 FROM parents
  UNION ALL
  SELECT w.doc, p.parent, w.depth + 1
  FROM walk w JOIN parents p ON p.doc = w.anc
),
deepest AS (
  SELECT doc, anc AS root, depth,
         ROW_NUMBER() OVER (PARTITION BY doc ORDER BY depth DESC) AS rk
  FROM walk
),
chains AS (
  SELECT doc AS doc_id, root AS root_id, depth FROM deepest WHERE rk = 1
),
roots AS (
  SELECT DISTINCT root_id AS doc_id, root_id, 0 AS depth FROM chains
  WHERE root_id NOT IN (SELECT doc FROM parents)
)
SELECT doc_id, root_id, CAST(depth AS BIGINT) AS depth
FROM (SELECT * FROM chains UNION ALL SELECT * FROM roots)
ORDER BY doc_id
"""

PROVENANCE_SQL = f"""
{_PROV_RECURSION.format(pairs=f'''(
  SELECT doc_id_1, doc_id_2 FROM ({_MINHASH_BODY})
  WHERE est_jaccard >= {CLUSTER_TAU}
)''')}
"""


# log₂ bound on chain depth: 2^48 parent hops would need more docs
# than any corpus holds; a non-converged exit past this is a cycle,
# which the parent<child forest construction makes impossible.
_PROV_MAX_ROUNDS = 48


def pointer_double_forest(parents: DataFrame) -> tuple[DataFrame, int]:
    """Collapse a parent FOREST ``(doc, parent)`` (parent < doc, so
    acyclic) into ``(doc, anc, depth)`` where anc is each doc's root
    ancestor and depth its chain length, in O(log depth) self-joins.

    Round k maps every doc to its ancestor at distance min(2^k, true
    depth): compose the mapping with itself — a doc whose current
    ancestor is still someone's child splices that ancestor's own
    (reach, depth) onto its own; a doc whose ancestor is a root is
    finished and passes through untouched. Converged when no row
    spliced. Each round is one equi-join of the mapping against
    itself (both sides the same checkpointed table, size = #dup
    docs), never against the corpus.
    """
    m = parents.select(
        "doc", F.col("parent").alias("anc"), F.lit(1).alias("depth")
    ).localCheckpoint(eager=True)
    rounds = 0
    for _ in range(_PROV_MAX_ROUNDS):
        b = m.select(
            F.col("doc").alias("b_doc"),
            F.col("anc").alias("b_anc"),
            F.col("depth").alias("b_depth"),
        )
        nxt = (
            m.join(b, m["anc"] == b["b_doc"], "left")
            .select(
                "doc",
                F.coalesce("b_anc", "anc").alias("anc"),
                (F.col("depth") + F.coalesce("b_depth", F.lit(0))).alias(
                    "depth"
                ),
                F.col("b_doc").isNotNull().alias("spliced"),
            )
            .localCheckpoint(eager=True)
        )
        rounds += 1
        extended = nxt.filter("spliced").limit(1).count()
        m = nxt.drop("spliced")
        if extended == 0:
            break
    else:
        # never converged inside the round cap: 2^48 exceeds any
        # possible acyclic chain, so the input violated the
        # parent < doc forest contract (a cycle) — fail loudly
        # instead of returning a partially collapsed mapping
        # (ADVICE r10).
        raise ValueError(
            f"pointer_double_forest did not converge in "
            f"{_PROV_MAX_ROUNDS} rounds: input is not an acyclic "
            f"parent forest (cycle suspected)"
        )
    return m, rounds


@register("dedup_provenance_chain", PROVENANCE_SQL)
def dedup_provenance_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_store_pairs_tau(spark, sf_dir, CLUSTER_TAU)
    parents = pairs.groupBy(F.col("doc_id_2").alias("doc")).agg(
        F.min("doc_id_1").alias("parent")
    )
    m, _ = pointer_double_forest(parents)
    # chains ∪ roots, the oracle's output grain: at convergence every
    # anc is a root (∉ parents), so the oracle's NOT IN filter on
    # root_id is the identity here — distinct(anc) IS the root set.
    chains = m.select(
        F.col("doc").alias("doc_id"),
        F.col("anc").alias("root_id"),
        F.col("depth").cast("bigint").alias("depth"),
    )
    roots = (
        m.select(F.col("anc").alias("doc_id"))
        .distinct()
        .select(
            "doc_id",
            F.col("doc_id").alias("root_id"),
            F.lit(0).cast("bigint").alias("depth"),
        )
    )
    return chains.unionAll(roots).orderBy("doc_id")
