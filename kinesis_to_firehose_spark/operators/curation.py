"""Corpus-curation operators (SURVEY.md §2.5 extension).

Training-data pipeline stages beyond the per-doc text metrics:
benchmark decontamination (n-gram overlap with a held-out eval split),
Gopher-style repetition filtering, and a fused per-document quality
score that combines the already-verified signals into one number.

Reference parity note: the reference app (graveyard/kinesis-to-firehose)
has no analogue — these come from the 100 TB training-data mandate.
All shapes are chosen for that scale: the eval-gram table is
fixed-size (benchmarks don't grow with the corpus) so the
decontamination join broadcasts; repetition metrics are one
explode + one per-doc shuffle reused by window and agg; the fused
score is a join of narrow per-doc tables on doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesis_to_firehose_spark.operators.dedup import NORM_EXPR, NORM_SQL, TOK_EXPR, TOK_SQL
from kinesis_to_firehose_spark.registry import register
from kinesis_to_firehose_spark.sources.tables import load

# Held-out eval split: deterministic, id-stable (doc_id % EVAL_MOD == 0
# plays the role of "the benchmark set" on the synthetic corpus).
EVAL_MOD = 97

# Word-4-gram contamination. Real pipelines use 8-13-gram overlap; the
# synthetic corpus draws from a ~30-word vocabulary, so 4-grams give
# the same ~1-2% contamination rate a 13-gram check gives on web text.
GRAM_N = 4

# Gopher-style repetition gates, set at the corpus p75-ish knee.
MAX_DUP_WORD_RATIO = 0.6
MAX_DUP_BIGRAM_RATIO = 0.05


def _exploded_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, tok) — one row per token of the normalized text."""
    d = load(spark, "documents", sf_dir)
    return d.select(
        "doc_id", F.posexplode(F.expr(TOK_EXPR)).alias("pos", "tok")
    )


# --------------------------------------------------------------------------
# decontaminate_ngram — drop training docs sharing any word-4-gram with
# the eval split. The gram table is built with posexplode + window
# leads (codegen-friendly; no interpreted array lambdas — see
# dedup.exploded_shingles for why). Eval grams are DISTINCT over a
# fixed-size split, so Catalyst broadcasts them into the semi-join;
# the contaminated-id set is small and broadcasts into the anti-join.
# At 100 TB: two narrow passes over the corpus + two broadcast joins —
# no all-pairs, no big shuffle.
# --------------------------------------------------------------------------
DECONTAMINATE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {TOK_SQL} AS t FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - {GRAM_N - 1}, 0)),
                               i -> array_to_string(list_slice(t, i, i + {GRAM_N - 1}), ' ')))
           AS gram
  FROM toks
),
eval_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {EVAL_MOD} = 0
),
contaminated AS (
  SELECT DISTINCT g.doc_id AS doc_id
  FROM grams g JOIN eval_grams e USING (gram)
  WHERE g.doc_id % {EVAL_MOD} != 0
)
SELECT d.doc_id, d.lang
FROM documents d
WHERE d.doc_id % {EVAL_MOD} != 0
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
ORDER BY d.doc_id
"""


def _word_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, gram) — one row per word-GRAM_N-gram occurrence."""
    toks = _exploded_tokens(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", i).over(w).alias(f"t{i}") for i in range(1, GRAM_N)]
    last = f"t{GRAM_N - 1}"
    return (
        toks.select("doc_id", "tok", *leads)
        .filter(F.col(last).isNotNull())
        .select(
            "doc_id",
            F.concat_ws(
                " ", "tok", *[f"t{i}" for i in range(1, GRAM_N)]
            ).alias("gram"),
        )
    )


@register("decontaminate_ngram", DECONTAMINATE_SQL)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = _word_ngrams(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    contaminated = (
        grams.filter(~is_eval)
        .join(eval_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    d = load(spark, "documents", sf_dir)
    return (
        d.filter(~is_eval)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# repetition_filter — per-doc duplicate-word and duplicate-bigram
# ratios (the Gopher repetition signals), plus the keep decision. One
# explode, then the bigram window and the per-doc aggregate share the
# same doc_id partitioning — a single shuffle of token rows, map-side
# combined into one row per doc. Narrow everywhere else.
# --------------------------------------------------------------------------
REPETITION_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {TOK_SQL} AS t FROM documents
),
m AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         len(list_distinct(t)) AS n_distinct,
         len(list_distinct(list_transform(range(1, len(t)),
                                          i -> t[i] || ' ' || t[i + 1])))
           AS n_distinct_bigrams
  FROM toks
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(1 - n_distinct * 1.0 / n_tokens, 4) AS dup_word_ratio,
       ROUND(1 - n_distinct_bigrams * 1.0 / greatest(n_tokens - 1, 1), 4)
         AS dup_bigram_ratio,
       CAST(CASE WHEN 1 - n_distinct * 1.0 / n_tokens <= {MAX_DUP_WORD_RATIO}
                  AND 1 - n_distinct_bigrams * 1.0 / greatest(n_tokens - 1, 1)
                      <= {MAX_DUP_BIGRAM_RATIO}
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM m
ORDER BY doc_id
"""


def _repetition_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, n_distinct_bigrams)."""
    toks = _exploded_tokens(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("pos")
    return (
        toks.withColumn(
            "bigram", F.concat(F.col("tok"), F.lit(" "), F.lead("tok").over(w))
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct"),
            # lead() is NULL on each doc's last token; countDistinct
            # skips NULLs, matching the oracle's len(t)-1 bigram list.
            F.countDistinct("bigram").alias("n_distinct_bigrams"),
        )
    )


@register("repetition_filter", REPETITION_SQL)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _repetition_measures(spark, sf_dir)
    dup_word = 1 - F.col("n_distinct") * 1.0 / F.col("n_tokens")
    dup_bigram = 1 - F.col("n_distinct_bigrams") * 1.0 / F.greatest(
        F.col("n_tokens") - 1, F.lit(1)
    )
    keep = (
        (dup_word <= MAX_DUP_WORD_RATIO)
        & (dup_bigram <= MAX_DUP_BIGRAM_RATIO)
    )
    return m.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(dup_word, 4).alias("dup_word_ratio"),
        F.round(dup_bigram, 4).alias("dup_bigram_ratio"),
        F.when(keep, 1).otherwise(0).cast("bigint").alias("keep"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# quality_fused — one learned-ish score per document from the verified
# component signals: heuristic quality score, language agreement,
# exact-dup survivorship, and (1 - repetition). Components are rounded
# to 4 dp BEFORE fusing on both engines so the fused arithmetic is
# bit-identical. Joins on doc_id let Catalyst share the documents scan
# across the component subplans.
# --------------------------------------------------------------------------
FUSED_KEEP_TAU = 0.55

FUSED_SQL = rf"""
WITH q AS (
  SELECT doc_id,
         ROUND(
           LEAST(1.0, len(string_split_regex(lower(trim(text)), '\s+')) / 200.0) * 0.5
           + (len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              x -> x IN ('the', 'and', 'of', 'to', 'in', 'a', 'is', 'it'))) * 1.0
              / len(string_split_regex(lower(trim(text)), '\s+'))) * 0.3
           + (1 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0 / length(text)) * 0.2
         , 4) AS quality_score
  FROM documents
),
lid AS (
  SELECT doc_id,
         CASE WHEN lang = (
           CASE
             WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
             WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
             WHEN es_hits >= fr_hits THEN 'es'
             ELSE 'fr'
           END) THEN 1 ELSE 0 END AS lang_ok
  FROM (
    SELECT doc_id, lang,
           len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> x IN ('the', 'and', 'of', 'to', 'in'))) AS en_hits,
           len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> x IN ('der', 'die', 'und', 'das', 'ist'))) AS de_hits,
           len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> x IN ('el', 'la', 'los', 'de', 'que'))) AS es_hits,
           len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> x IN ('le', 'les', 'et', 'des', 'un'))) AS fr_hits
    FROM documents
  )
),
surv AS (
  SELECT doc_id,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY md5({NORM_SQL}) ORDER BY doc_id) = 1
              THEN 1 ELSE 0 END AS is_survivor
  FROM documents
),
rep AS (
  SELECT doc_id,
         ROUND(1 - len(list_distinct(t)) * 1.0 / len(t), 4) AS dup_word_ratio
  FROM (SELECT doc_id, {TOK_SQL} AS t FROM documents)
)
SELECT q.doc_id,
       q.quality_score,
       CAST(lid.lang_ok AS BIGINT) AS lang_ok,
       CAST(surv.is_survivor AS BIGINT) AS is_survivor,
       rep.dup_word_ratio,
       ROUND(q.quality_score * 0.4 + lid.lang_ok * 0.2 + surv.is_survivor * 0.2
             + (1 - rep.dup_word_ratio) * 0.2, 4) AS fused_score,
       CAST(CASE WHEN ROUND(q.quality_score * 0.4 + lid.lang_ok * 0.2
                            + surv.is_survivor * 0.2
                            + (1 - rep.dup_word_ratio) * 0.2, 4) >= {FUSED_KEEP_TAU}
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM q
JOIN lid USING (doc_id)
JOIN surv USING (doc_id)
JOIN rep USING (doc_id)
ORDER BY q.doc_id
"""


def fused_quality_scored(
    spark: SparkSession, sf_dir: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    # ONE corpus scan (r12 re-plan; was 4 subplans — text_quality,
    # text_lang_id, the survivor window, _repetition_measures — glued
    # by 3 doc_id joins, 4 documents scans and an explode+shuffle for
    # the repetition side). Every component except is_survivor is a
    # per-row expression, so they fuse into a single projection; the
    # expressions are IMPORTED from the component ops (textops._hits /
    # _tokens, dedup.TOK_EXPR) so the values cannot drift from what
    # text_quality / text_lang_id / repetition_filter compute. The
    # dup-word ratio uses size(array_distinct(tokens)) per row — the
    # same value the exploded countDistinct produced, and literally
    # the oracle's len(list_distinct(t))/len(t). Only shuffle left:
    # the md5-survivor window. `carry` threads extra document columns
    # through (quality_adaptive_gate carries lang, saving its own
    # corpus join).
    from kinesis_to_firehose_spark.operators.textops import (
        LANG_PROFILES,
        STOPWORDS,
        _hits,
        _tokens,
    )

    d = load(spark, "documents", sf_dir)
    n_tokens = F.size(_tokens())
    stop_ratio = _hits(STOPWORDS) / n_tokens
    punct_ratio = F.regexp_count(
        "text", F.lit("[^A-Za-z0-9\\s]")
    ) / F.length("text")
    quality_score = F.round(
        F.least(F.lit(1.0), n_tokens / 200.0) * 0.5
        + stop_ratio * 0.3
        + (1 - punct_ratio) * 0.2,
        4,
    )
    hits = {lang: _hits(words) for lang, words in LANG_PROFILES.items()}
    en, de, es, fr = (hits[x] for x in ("en", "de", "es", "fr"))
    predicted = (
        F.when((en >= de) & (en >= es) & (en >= fr), F.lit("en"))
        .when((de >= es) & (de >= fr), F.lit("de"))
        .when(es >= fr, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    lang_ok = (
        F.when(predicted == F.col("lang"), 1).otherwise(0).cast("bigint")
    )
    dup_word_ratio = F.round(
        1
        - F.size(F.array_distinct(F.expr(TOK_EXPR)))
        * 1.0
        / F.size(F.expr(TOK_EXPR)),
        4,
    )
    per_doc = d.select(
        "doc_id",
        *carry,
        quality_score.alias("quality_score"),
        lang_ok.alias("lang_ok"),
        dup_word_ratio.alias("dup_word_ratio"),
        F.md5(F.expr(NORM_EXPR)).alias("h"),
    )
    is_survivor = (
        F.when(
            F.row_number().over(W.partitionBy("h").orderBy("doc_id")) == 1, 1
        )
        .otherwise(0)
        .cast("bigint")
    )
    fused = F.round(
        F.col("quality_score") * 0.4
        + F.col("lang_ok") * 0.2
        + F.col("is_survivor") * 0.2
        + (1 - F.col("dup_word_ratio")) * 0.2,
        4,
    )
    return per_doc.withColumn("is_survivor", is_survivor).withColumn(
        "fused_score", fused
    )


@register("quality_fused", FUSED_SQL)
def quality_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        fused_quality_scored(spark, sf_dir)
        .withColumn(
            "keep",
            F.when(F.col("fused_score") >= FUSED_KEEP_TAU, 1)
            .otherwise(0)
            .cast("bigint"),
        )
        .select(
            "doc_id",
            "quality_score",
            "lang_ok",
            "is_survivor",
            "dup_word_ratio",
            "fused_score",
            "keep",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# tokenize_to_ids — apply a trained vocabulary: rank the top-VOCAB_K
# terms by corpus frequency (ties broken lexically, rank = token id),
# then map every token occurrence to its id (OOV → -1). Long format
# (doc_id, pos, token_id) so the output is pure BIGINTs — the
# array-reassembly is a trivial downstream collect_list per doc. The
# vocab is fixed-size → broadcast into the mapping join; the token
# explode is the same single shuffle every *_token op here pays.
# --------------------------------------------------------------------------
VOCAB_K = 100
OOV_ID = -1

TOKENIZE_SQL = rf"""
WITH tok AS (
  SELECT doc_id, t.term, t.pos
  FROM (
    SELECT doc_id, unnest({TOK_SQL}) AS term,
           generate_subscripts({TOK_SQL}, 1) AS pos
    FROM documents
  ) t(doc_id, term, pos)
),
vocab AS (
  SELECT term,
         CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS BIGINT) - 1
           AS token_id
  FROM tok GROUP BY term
  ORDER BY token_id LIMIT {VOCAB_K}
)
SELECT tok.doc_id, CAST(tok.pos AS BIGINT) AS pos,
       COALESCE(vocab.token_id, {OOV_ID}) AS token_id
FROM tok LEFT JOIN vocab USING (term)
ORDER BY doc_id, pos
"""


@register("tokenize_to_ids", TOKENIZE_SQL)
def tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _exploded_tokens(spark, sf_dir).select(
        "doc_id", (F.col("pos") + 1).alias("pos"), F.col("tok").alias("term")
    )
    # Distributed top-k FIRST (orderBy+limit = TakeOrdered, a partial
    # per-partition top-k merged on the driver-side of the job — never
    # a single-partition sort of the full term table), THEN the global
    # rank window runs over only VOCAB_K rows.
    top_terms = (
        toks.groupBy("term")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), "term")
        .limit(VOCAB_K)
    )
    vocab = top_terms.select(
        "term",
        (F.row_number().over(W.orderBy(F.desc("tf"), "term")) - 1)
        .cast("bigint")
        .alias("token_id"),
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.coalesce(F.col("token_id"), F.lit(OOV_ID))
            .cast("bigint")
            .alias("token_id"),
        )
        .orderBy("doc_id", "pos")
    )


# --------------------------------------------------------------------------
# pack_sequences — concat-and-chunk training-sequence packing: docs in
# doc_id order per language are laid head-to-tail and cut every
# SEQ_LEN tokens; a doc's pack is where its first token lands. The
# running offset is a prefix-sum window per lang (range-partitioned
# sort, no global order), identical to batch_planner's byte-packing
# shape — this is that operator re-targeted at token budgets.
# --------------------------------------------------------------------------
SEQ_LEN = 2048

PACK_SQL = rf"""
WITH counted AS (
  SELECT doc_id, lang, CAST(len({TOK_SQL}) AS BIGINT) AS n_tokens
  FROM documents
),
running AS (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS tokens_before
  FROM counted
)
SELECT doc_id, lang, n_tokens,
       CAST(tokens_before // {SEQ_LEN} AS BIGINT) AS pack_id,
       CAST(tokens_before % {SEQ_LEN} AS BIGINT) AS offset_in_pack
FROM running
ORDER BY lang, doc_id
"""


@register("pack_sequences", PACK_SQL)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    counted = d.select(
        "doc_id",
        "lang",
        F.size(F.expr(TOK_EXPR)).cast("bigint").alias("n_tokens"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    running = counted.withColumn(
        "tokens_before",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"),
    )
    return running.select(
        "doc_id",
        "lang",
        "n_tokens",
        (F.col("tokens_before") / SEQ_LEN)
        .cast("bigint")
        .alias("pack_id"),
        (F.col("tokens_before") % SEQ_LEN).cast("bigint").alias(
            "offset_in_pack"
        ),
    ).orderBy("lang", "doc_id")


# --------------------------------------------------------------------------
# tfidf_top_terms — per-document top-3 terms by tf·idf (the classic
# keyword extractor). Term counts per doc and document frequencies
# come from the SAME exploded pass; idf joins back by term (DF table ≪
# corpus, broadcast); top-3 is a per-doc window over that doc's own
# terms — never a global sort. ln() on both engines; tfidf rounded to
# 6 dp before ranking so the rank ties break identically.
# --------------------------------------------------------------------------
TFIDF_TOP = 3

TFIDF_SQL = rf"""
WITH tok AS (
  SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
),
n_docs AS (SELECT COUNT(*) AS n FROM documents),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * ln(n.n * 1.0 / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n_docs n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, term
         ) AS rk
  FROM scored
)
SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {TFIDF_TOP}
ORDER BY doc_id, rk
"""


@register("tfidf_top_terms", TFIDF_SQL)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _exploded_tokens(spark, sf_dir).select("doc_id", F.col("tok").alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = load(spark, "documents", sf_dir).agg(
        F.count("*").alias("n")
    )
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TFIDF_TOP)
        .orderBy("doc_id", "rk")
    )


# --------------------------------------------------------------------------
# source_quality_report — the per-crawl dashboard: for each `source`,
# corpus share, mean quality score, mean token count, and exact-dup
# rate. All four signals re-use the verified component expressions;
# one narrow pass + one groupBy on source (a handful of groups no
# matter the corpus size).
# --------------------------------------------------------------------------
SOURCE_REPORT_SQL = rf"""
WITH per_doc AS (
  SELECT source,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
         LEAST(1.0, len(string_split_regex(lower(trim(text)), '\s+')) / 200.0) * 0.5
         + (len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x IN ('the', 'and', 'of', 'to', 'in', 'a', 'is', 'it'))) * 1.0
            / len(string_split_regex(lower(trim(text)), '\s+'))) * 0.3
         + (1 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0 / length(text)) * 0.2
           AS q,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY md5({NORM_SQL}) ORDER BY doc_id) > 1
              THEN 1 ELSE 0 END AS is_dup
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(q), 4) AS avg_quality,
       CAST((CAST(SUM(n_tokens) AS BIGINT) * 200 + COUNT(*))
            // (COUNT(*) * 2) AS DOUBLE) / 100.0 AS avg_tokens,
       CAST((CAST(SUM(is_dup) AS BIGINT) * 20000 + COUNT(*))
            // (COUNT(*) * 2) AS DOUBLE) / 10000.0 AS dup_rate
FROM per_doc
GROUP BY source
ORDER BY source
"""


@register("source_quality_report", SOURCE_REPORT_SQL)
def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_to_firehose_spark.operators.textops import (
        STOPWORDS,
        _hits,
        _tokens,
    )

    d = load(spark, "documents", sf_dir)
    n_tokens = F.size(_tokens())
    q = (
        F.least(F.lit(1.0), n_tokens / 200.0) * 0.5
        + (_hits(STOPWORDS) / n_tokens) * 0.3
        + (1 - F.regexp_count("text", F.lit("[^A-Za-z0-9\\s]")) / F.length("text"))
        * 0.2
    )
    is_dup = F.when(
        F.row_number().over(
            W.partitionBy(F.md5(F.expr(NORM_EXPR))).orderBy("doc_id")
        )
        > 1,
        1,
    ).otherwise(0)
    per_doc = d.select(
        "source",
        n_tokens.alias("n_tokens"),
        q.alias("q"),
        is_dup.alias("is_dup"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("q"), 4).alias("avg_quality"),
            # integer-ratio rounding via exact half-up integer math:
            # no engine ROUND on a double, so no midpoint fork
            F.expr(
                "CAST((SUM(n_tokens) * 200 + COUNT(*))"
                " DIV (COUNT(*) * 2) AS DOUBLE) / 100.0"
            ).alias("avg_tokens"),
            F.expr(
                "CAST((SUM(is_dup) * 20000 + COUNT(*))"
                " DIV (COUNT(*) * 2) AS DOUBLE) / 10000.0"
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# quality_adaptive_gate — adaptive per-language curation threshold:
# keep a doc when its fused quality score is at or above its
# LANGUAGE'S p25 (fixed global thresholds mis-gate whole languages
# whose score distributions sit lower). The per-lang quantile is a
# tiny aggregate (one row per language) broadcast back into a narrow
# filter — the quantile-threshold-join pattern.
# --------------------------------------------------------------------------
GATE_QUANTILE = 0.25

ADAPTIVE_GATE_SQL = rf"""
WITH scored AS (
  SELECT d.doc_id, d.lang, f.fused_score
  FROM documents d
  JOIN ({FUSED_SQL.replace("ORDER BY q.doc_id", "")}) f ON d.doc_id = f.doc_id
),
thresholds AS (
  SELECT lang,
         ROUND(quantile_cont(fused_score, {GATE_QUANTILE}), 4) AS tau
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.fused_score, t.tau
FROM scored s JOIN thresholds t USING (lang)
WHERE s.fused_score >= t.tau
ORDER BY s.doc_id
"""


@register("quality_adaptive_gate", ADAPTIVE_GATE_SQL)
def quality_adaptive_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lang rides the fused single scan (r12: was quality_fused ⋈
    # documents on doc_id — a corpus shuffle join just to re-attach a
    # column the scan already had). Materialize the scored table once:
    # thresholds AND the gate both consume it, and without a cut
    # Catalyst replays the fused pipeline on each side. 3 narrow
    # columns per doc — at warehouse scale this is the quality table
    # you'd persist anyway before deriving gates.
    scored = (
        fused_quality_scored(spark, sf_dir, carry=("lang",))
        .select("doc_id", "lang", "fused_score")
        .localCheckpoint(eager=True)
    )
    thresholds = scored.groupBy("lang").agg(
        F.round(
            F.expr(f"percentile(fused_score, {GATE_QUANTILE})"), 4
        ).alias("tau")
    )
    return (
        scored.join(F.broadcast(thresholds), "lang")
        .filter(F.col("fused_score") >= F.col("tau"))
        .select("doc_id", "lang", "fused_score", "tau")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# split_train_val_test — deterministic 90/5/5 corpus split by md5 of
# the doc id (engine-portable, re-run-stable: a grown corpus never
# moves a previously assigned doc between splits). Output is the
# per-split manifest summary; the assignment expression itself is a
# narrow map suitable for a partitioned writer. Pure map + one tiny
# aggregate — no shuffle of the corpus itself.
# --------------------------------------------------------------------------
SPLIT_SQL = """
SELECT CASE WHEN b < 90 THEN 'train'
            WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           AS b,
         n_chars
  FROM documents
)
GROUP BY 1
ORDER BY 1
"""


@register("split_train_val_test", SPLIT_SQL)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) "
        "AS BIGINT) % 100"
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# curate_to_splits — the training-ready endpoint of the curation
# chain: curated corpus (quality ∧ lang-agreement ∧ exact-dup
# survivor) → deterministic 90/5/5 split → per-(split, lang) manifest
# with document and token budgets. One plan end-to-end: Catalyst
# shares the curation subplans, the split is a narrow md5 map, and the
# manifest is a tiny two-key aggregate — the numbers a training run
# needs to size its data loader, computed without materializing any
# intermediate corpus.
# --------------------------------------------------------------------------
def _curate_body_sql() -> str:
    from kinesis_to_firehose_spark.operators.textops import CURATE_SQL

    return CURATE_SQL.replace("ORDER BY q.doc_id", "")


def _splits_sql() -> str:
    return f"""
SELECT CASE WHEN b < 90 THEN 'train'
            WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split,
       lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM (
  SELECT lang, n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           AS b
  FROM ({_curate_body_sql()})
)
GROUP BY 1, lang
ORDER BY 1, lang
"""


# --------------------------------------------------------------------------
# pii_redact — scrub emails / phone numbers / IPv4 addresses before
# training. Counts per category plus an md5 of the redacted text (the
# restatable proof both engines produced byte-identical output).
# Patterns are RE2-safe (no backrefs/lookarounds) so Java regex and
# DuckDB agree; replacement order is fixed email → phone → ip. A
# narrow per-row map — no shuffle at any scale; the only cost is the
# regex engine, which stays JVM-side.
# --------------------------------------------------------------------------
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

PII_SQL = f"""
WITH red AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,
         len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phones,
         len(regexp_extract_all(text, '{PII_IP}')) AS n_ips,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_PHONE}', '<PHONE>', 'g'),
           '{PII_IP}', '<IP>', 'g') AS redacted
  FROM documents
)
SELECT doc_id,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_phones AS BIGINT) AS n_phones,
       CAST(n_ips AS BIGINT) AS n_ips,
       md5(redacted) AS redacted_md5
FROM red
ORDER BY doc_id
"""


def redact_pii(text_col: Column) -> Column:
    """The redaction expression itself — shared by the registry op and
    unit tests that inject synthetic PII."""
    out = F.regexp_replace(text_col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    return F.regexp_replace(out, PII_IP, "<IP>")


@register("pii_redact", PII_SQL)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count("text", F.lit(PII_PHONE)).cast("bigint").alias("n_phones"),
        F.regexp_count("text", F.lit(PII_IP)).cast("bigint").alias("n_ips"),
        F.md5(redact_pii(F.col("text"))).alias("redacted_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# domain_mix_rebalance — downsample over-represented sources toward a
# uniform target mix (the "don't let one crawl dominate the run"
# step). Per-source keep rate = (total/k)/n_s capped at 1; membership
# is the same md5 bucket used by the splitter, so the sample is
# deterministic and re-run-stable. Source counts are a k-row aggregate
# broadcast back into a narrow filter — the corpus itself is never
# shuffled, and the output manifest is another k-row aggregate.
# --------------------------------------------------------------------------
MIX_BUCKETS = 10000

MIX_SQL = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_before FROM documents GROUP BY source
),
rates AS (
  SELECT source, n_before,
         LEAST(1.0, (SELECT COUNT(*) * 1.0 FROM documents)
                    / (SELECT COUNT(DISTINCT source) FROM documents)
                    / n_before) AS rate
  FROM counts
),
kept AS (
  SELECT d.source, COUNT(*) AS n_after
  FROM documents d JOIN rates r USING (source)
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          % {MIX_BUCKETS} < FLOOR(r.rate * {MIX_BUCKETS})
  GROUP BY d.source
)
SELECT r.source,
       CAST(r.n_before AS BIGINT) AS n_before,
       CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_after,
       ROUND(r.rate, 4) AS rate
FROM rates r LEFT JOIN kept k USING (source)
ORDER BY r.source
"""


@register("domain_mix_rebalance", MIX_SQL)
def domain_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    counts = d.groupBy("source").agg(F.count("*").alias("n_before"))
    totals = d.agg(
        F.count("*").alias("total"),
        F.countDistinct("source").alias("k"),
    )
    rates = counts.join(F.broadcast(totals)).select(
        "source",
        "n_before",
        F.least(
            F.lit(1.0),
            F.col("total") * 1.0 / F.col("k") / F.col("n_before"),
        ).alias("rate"),
    )
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) "
        f"AS BIGINT) % {MIX_BUCKETS}"
    )
    kept = (
        d.join(F.broadcast(rates), "source")
        .filter(bucket < F.floor(F.col("rate") * MIX_BUCKETS))
        .groupBy("source")
        .agg(F.count("*").alias("n_after"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_before").cast("bigint").alias("n_before"),
            F.coalesce(F.col("n_after"), F.lit(0))
            .cast("bigint")
            .alias("n_after"),
            F.round("rate", 4).alias("rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# unigram_logprob_score — CCNet-style LM quality proxy: score each doc
# by the mean log-probability of its tokens under the corpus's own
# unigram distribution (gibberish and boilerplate-heavy docs sit in
# the tails). One token explode feeds both the term-frequency table
# and the per-doc average; the TF table is vocabulary-sized (≪ corpus,
# broadcast-able) and the total-token count is a single scalar — so
# the whole op is the explode shuffle plus one per-doc aggregate.
# --------------------------------------------------------------------------
UNIGRAM_SQL = rf"""
WITH tok AS (
  SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents
),
tf AS (
  SELECT term, COUNT(*) AS c FROM tok GROUP BY term
),
tot AS (SELECT COUNT(*) AS n FROM tok)
SELECT tok.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(ln(tf.c * 1.0 / tot.n)), 4) AS avg_logprob
FROM tok JOIN tf USING (term) CROSS JOIN tot
GROUP BY tok.doc_id
ORDER BY tok.doc_id
"""


@register("unigram_logprob_score", UNIGRAM_SQL)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _exploded_tokens(spark, sf_dir).select(
        "doc_id", F.col("tok").alias("term")
    )
    tf = toks.groupBy("term").agg(F.count("*").alias("c"))
    tot = toks.agg(F.count("*").alias("n"))
    return (
        toks.join(F.broadcast(tf), "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") * 1.0 / F.col("n"))), 4).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


@register("curate_to_splits", _splits_sql())
def curate_to_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_to_firehose_spark.operators.textops import curate_corpus

    kept = curate_corpus(spark, sf_dir)
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) "
        "AS BIGINT) % 100"
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        kept.select(split.alias("split"), "lang", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


# --------------------------------------------------------------------------
# bm25_search — ranked full-text retrieval over `documents`: classic
# BM25 (k1/b, Robertson-Sparck Jones idf) for a fixed query set,
# top-10 docs per query. The 100 TB shape: the query-term list is
# tiny and BROADCAST, so the token explode is filtered to query terms
# BEFORE its groupBy shuffle (tf table ≈ matching docs × query terms,
# not the corpus); doc lengths are one map-side-combined groupBy over
# the corpus; df and the (N, avgdl) scalars are broadcast back.
# Cross-engine determinism: each per-term score is rounded to 8dp and
# cast to DECIMAL(18,8) before the per-(query, doc) SUM — decimal
# addition is exact and order-independent, so ranking never depends
# on float fold order in either engine.
# --------------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
BM25_QUERIES: dict[int, list[str]] = {
    0: ["fast", "hash", "join"],
    1: ["stream", "window", "agg"],
    2: ["slow", "table", "scan"],
}

_QT_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, terms in BM25_QUERIES.items() for t in terms
)

# Core BM25 CTE chain (ends at `agg`: one dscore row per matching
# (query, doc)) — shared by BM25_SQL and the hybrid-retrieval oracle.
_BM25_CORE_CTES = f"""toks AS (
  SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents
),
qt(query_id, term) AS (VALUES {_QT_VALUES}),
dl AS (SELECT doc_id, len({TOK_SQL}) AS dl FROM documents),
scal AS (
  SELECT COUNT(*) AS n_docs, AVG(dl * 1.0) AS avgdl FROM dl
),
dft AS (
  SELECT term, COUNT(DISTINCT doc_id) AS dft FROM toks
  WHERE term IN (SELECT term FROM qt) GROUP BY term
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         CAST(ROUND(
           ln((s.n_docs - d.dft + 0.5) / (d.dft + 0.5) + 1)
           * tf.tf * ({BM25_K1} + 1)
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)),
           8) AS DECIMAL(18, 8)) AS tscore
  FROM tf
  JOIN qt q USING (term)
  JOIN dft d USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN scal s
),
agg AS (
  SELECT query_id, doc_id, SUM(tscore) AS dscore
  FROM scored GROUP BY query_id, doc_id
)"""

BM25_SQL = f"""
WITH {_BM25_CORE_CTES}
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       ROUND(CAST(dscore AS DOUBLE), 6) AS score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY dscore DESC, doc_id
       ) AS BIGINT) AS rk
FROM agg
QUALIFY rk <= {BM25_TOP_K}
ORDER BY query_id, rk
"""


def _bm25_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 core shared by bm25_search and hybrid_search_rrf: one
    decimal-exact dscore row per matching (query_id, doc_id)."""
    # doc length rides the token explode (r12 re-plan: dl was a
    # separate corpus-sized (doc_id, dl) table joined onto tf — a full
    # corpus shuffle just to re-attach a value already known at the
    # row the tokens explode from; carried through the semi-join and
    # folded into the tf aggregate, that join disappears)
    d = load(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.expr(TOK_EXPR).alias("t")).select(
        "doc_id",
        F.size("t").alias("dl"),
        F.explode("t").alias("term"),
    )
    qt = spark.createDataFrame(
        [(qid, t) for qid, terms in BM25_QUERIES.items() for t in terms],
        "query_id long, term string",
    )
    scal = d.select(F.size(F.expr(TOK_EXPR)).alias("dl")).agg(
        F.count("*").alias("n_docs"), F.avg(F.col("dl") * 1.0).alias("avgdl")
    )
    matched = toks.join(
        F.broadcast(qt.select("term").distinct()), "term", "left_semi"
    )
    dft = matched.groupBy("term").agg(F.countDistinct("doc_id").alias("dft"))
    tf = matched.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"),
        # dl is constant per doc_id; min() re-emits it post-aggregate
        F.min("dl").alias("dl"),
    )
    idf = F.log(
        (F.col("n_docs") - F.col("dft") + 0.5) / (F.col("dft") + 0.5) + 1
    )
    tscore = F.round(
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        ),
        8,
    ).cast("decimal(18,8)")
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(scal))
        .select("query_id", "doc_id", tscore.alias("tscore"))
    )
    return scored.groupBy("query_id", "doc_id").agg(
        F.sum("tscore").alias("dscore")
    )


@register("bm25_search", BM25_SQL)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _bm25_agg(spark, sf_dir)
    w = W.partitionBy("query_id").orderBy(F.desc("dscore"), "doc_id")
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= BM25_TOP_K)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("dscore").cast("double"), 6).alias("score"),
            "rk",
        )
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# hybrid_search_rrf — modern retrieval-pipeline fusion: the SAME query
# set ranked lexically (BM25 over text) and semantically (exact cosine
# over the doc's embedding; vec_id aligns 1:1 with doc_id in the
# testdata), fused with Reciprocal Rank Fusion
# (Cormack/Clarke/Büttcher: score = Σ 1/(60 + rank)). RRF needs no
# score calibration between the two retrievers — only ranks — which
# is why it's the standard first fusion in RAG/search stacks.
# Scale shape: the lexical side is the broadcast-prefiltered BM25 plan
# (query-term semi-join before any shuffle); the semantic side
# broadcasts the tiny anchor-vector set and ranks per query over a
# narrow cosine map; fusion joins two ≤(queries × FUSE_N)-row rank
# lists — trivially small at any corpus size.
# Determinism: ranks are integers from decimal-exact (lexical) or
# 6dp-rounded (cosine) orderings with doc_id tie-breaks; the RRF sum
# is two double terms in fixed order — bit-identical across engines.
# --------------------------------------------------------------------------
RRF_K = 60
FUSE_N = 20  # depth of each retriever's list entering the fusion
HYBRID_TOP_K = 10


def _hybrid_sql() -> str:
    from kinesis_to_firehose_spark.operators.dedup import (
        dot_expr,
        norm_expr,
    )

    # anchor on the ACTUAL query-id set, not a count-derived range —
    # a non-contiguous BM25_QUERIES key would silently mis-align the
    # two arms otherwise
    q_ids = ", ".join(str(q) for q in sorted(BM25_QUERIES))
    cos = f"({dot_expr('q.embedding', 'c.embedding', 'duck')} / (q.nrm * c.nrm))"
    return f"""
WITH {_BM25_CORE_CTES},
lex AS (
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY dscore DESC, doc_id
         ) AS BIGINT) AS lex_rk
  FROM agg
  QUALIFY lex_rk <= {FUSE_N}
),
normed AS (
  SELECT vec_id, embedding, {norm_expr("embedding", "duck")} AS nrm
  FROM embeddings
),
sem_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         ROUND({cos}, 6) AS cosine
  FROM normed q
  JOIN normed c ON q.vec_id IN ({q_ids}) AND c.vec_id != q.vec_id
),
sem AS (
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, doc_id
         ) AS BIGINT) AS sem_rk
  FROM sem_scored
  QUALIFY sem_rk <= {FUSE_N}
),
fused AS (
  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         COALESCE(l.doc_id, s.doc_id) AS doc_id,
         l.lex_rk, s.sem_rk,
         COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + l.lex_rk), 0.0)
         + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + s.sem_rk), 0.0)
           AS rrf
  FROM lex l
  FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       ROUND(rrf, 6) AS rrf_score, lex_rk, sem_rk,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY rrf DESC, doc_id
       ) AS BIGINT) AS rk
FROM fused
QUALIFY rk <= {HYBRID_TOP_K}
ORDER BY query_id, rk
"""


@register("hybrid_search_rrf", _hybrid_sql())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_to_firehose_spark.operators.dedup import (
        EMB_DIM,
        dot_expr_unrolled,
        normed_embeddings,
    )

    # lexical list: BM25 dscore ranking, top FUSE_N per query
    wl = W.partitionBy("query_id").orderBy(F.desc("dscore"), "doc_id")
    lex = (
        _bm25_agg(spark, sf_dir)
        .withColumn("lex_rk", F.row_number().over(wl).cast("bigint"))
        .filter(F.col("lex_rk") <= FUSE_N)
        .select("query_id", "doc_id", "lex_rk")
    )
    # semantic list: anchor = the query doc's own vector (vec_id ≡
    # doc_id), broadcast against the corpus
    n = normed_embeddings(spark, sf_dir)
    # the actual key set, mirroring the oracle's IN list
    q = n.filter(F.col("vec_id").isin(*BM25_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = n.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    # unrolled codegen dot (r13 §4.1): the corpus × BM25_QUERIES pair
    # scoring was an interpreted aggregate(zip_with(...)) per pair;
    # same bit-identical left-assoc fold (see dot_expr_unrolled)
    cos = f"({dot_expr_unrolled('q_emb', 'c_emb', EMB_DIM)} / (q_nrm * c_nrm))"
    ws = W.partitionBy("query_id").orderBy(F.desc("cosine"), "doc_id")
    sem = (
        c.join(F.broadcast(q))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", F.round(F.expr(cos), 6).alias("cosine"))
        .withColumn("sem_rk", F.row_number().over(ws).cast("bigint"))
        .filter(F.col("sem_rk") <= FUSE_N)
        .select("query_id", "doc_id", "sem_rk")
    )
    fused = lex.join(sem, ["query_id", "doc_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (RRF_K + F.col("lex_rk")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (RRF_K + F.col("sem_rk")), F.lit(0.0))
    wr = W.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rrf", rrf)
        .withColumn("rk", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rk") <= HYBRID_TOP_K)
        .select(
            "query_id",
            "doc_id",
            F.round("rrf", 6).alias("rrf_score"),
            "lex_rk",
            "sem_rk",
            "rk",
        )
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# decontaminate_embedding — semantic decontamination: drop training
# vectors too close (cosine ≥ τ) to ANY held-out eval vector. The
# n-gram pass (decontaminate_ngram) catches verbatim leakage; this
# catches paraphrased leakage the way modern LLM data pipelines do —
# eval-set neighbors in embedding space. Candidates come from the
# shared hyperplane-LSH band table (dedup.emb_band_table), so the
# plan is two narrow band projections + a (band_idx, band_key)
# equi-join of TRAIN bands against the tiny EVAL band side + the
# exact Arrow rescore on candidates only — never train×eval
# all-pairs. At 100 TB the eval band table broadcasts.
# Output: every train vector with its eval-candidate count, max eval
# cosine (NULL when no candidate), and the keep bit.
# --------------------------------------------------------------------------
def _emb_decon_sql() -> str:
    from kinesis_to_firehose_spark.operators.dedup import (
        COSINE_TAU,
        NORMED_CTE,
        _emb_band_keys,
        _PAIR_COS_SQL,
    )

    band_list = ", ".join(_emb_band_keys("duck"))
    return f"""
WITH bands AS (
  SELECT vec_id,
         unnest([{band_list}]) AS band_key,
         generate_subscripts([{band_list}], 1) AS band_idx
  FROM embeddings
),
cand AS (
  SELECT DISTINCT t.vec_id AS vec_id_1, e.vec_id AS vec_id_2
  FROM bands t
  JOIN bands e
    ON t.band_idx = e.band_idx AND t.band_key = e.band_key
  WHERE t.vec_id % {EVAL_MOD} != 0 AND e.vec_id % {EVAL_MOD} = 0
),
scored AS (
  SELECT cand.vec_id_1, ROUND({_PAIR_COS_SQL}, 6) AS cosine
  FROM cand
  JOIN ({NORMED_CTE} SELECT * FROM normed) a ON a.vec_id = cand.vec_id_1
  JOIN ({NORMED_CTE} SELECT * FROM normed) b ON b.vec_id = cand.vec_id_2
),
per_train AS (
  SELECT vec_id_1 AS vec_id,
         CAST(COUNT(*) AS BIGINT) AS n_eval_cands,
         MAX(cosine) AS max_eval_cos
  FROM scored GROUP BY vec_id_1
)
SELECT e.vec_id,
       CAST(COALESCE(p.n_eval_cands, 0) AS BIGINT) AS n_eval_cands,
       p.max_eval_cos,
       CAST(CASE WHEN COALESCE(p.max_eval_cos, -2) >= {COSINE_TAU}
                 THEN 0 ELSE 1 END AS BIGINT) AS keep
FROM embeddings e
LEFT JOIN per_train p ON p.vec_id = e.vec_id
WHERE e.vec_id % {EVAL_MOD} != 0
ORDER BY e.vec_id
"""


@register("decontaminate_embedding", _emb_decon_sql())
def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_to_firehose_spark.operators.dedup import (
        COSINE_TAU,
        score_pairs_exact,
    )
    from kinesis_to_firehose_spark.sources.ann_index import emb_band_store

    e = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    # persisted per-corpus band table; train/eval splits are filters
    # over the same stored rows (band keys are per-vector)
    bands = emb_band_store(spark, sf_dir)
    is_eval = F.col("vec_id") % EVAL_MOD == 0
    t = bands.filter(~is_eval).alias("t")
    v = bands.filter(is_eval).alias("v")
    cand = (
        t.join(
            v,
            (F.col("t.band_idx") == F.col("v.band_idx"))
            & (F.col("t.band_key") == F.col("v.band_key")),
        )
        .select(
            F.col("t.vec_id").alias("vec_id_1"),
            F.col("v.vec_id").alias("vec_id_2"),
        )
        .distinct()
    )
    per_train = (
        score_pairs_exact(cand, e)
        .groupBy("vec_id_1")
        .agg(
            F.count("*").cast("bigint").alias("n_eval_cands"),
            F.max("cosine").alias("max_eval_cos"),
        )
        .withColumnRenamed("vec_id_1", "vec_id")
    )
    return (
        e.filter(~is_eval)
        .select("vec_id")
        .join(per_train, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n_eval_cands"), F.lit(0))
            .cast("bigint")
            .alias("n_eval_cands"),
            "max_eval_cos",
            F.when(
                F.coalesce(F.col("max_eval_cos"), F.lit(-2.0)) >= COSINE_TAU, 0
            )
            .otherwise(1)
            .cast("bigint")
            .alias("keep"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# ppl_bucket_mix — CCNet-style perplexity bucketing (Wenzek et al.
# 2020): per language, split the corpus into head/middle/tail terciles
# by LM score (here the unigram log-prob proxy — lower = less
# predictable = tail) and report each bucket's doc/token mass. The
# op downstream mixers consume to oversample "head" data or cap
# "tail". Composition: unigram_logprob_score → per-lang exact tercile
# edges (tiny, broadcast back) → bucket + aggregate. Edges and scores
# are rounded to 4dp on both sides before comparison, so bucket
# assignment is engine-identical even at edge ties.
# Plan shape at 100 TB: the scored table is the op's one wide stage
# (token explode + broadcast TF join); everything after is a tiny
# per-lang aggregate broadcast back plus one (lang,bucket) groupBy.
# --------------------------------------------------------------------------
_UNIGRAM_BODY = UNIGRAM_SQL.replace("ORDER BY tok.doc_id", "")

PPL_BUCKET_SQL = f"""
WITH scored AS (
  SELECT d.doc_id, d.lang, u.n_tokens, u.avg_logprob
  FROM documents d JOIN ({_UNIGRAM_BODY}) u ON d.doc_id = u.doc_id
),
edges AS (
  SELECT lang,
         ROUND(quantile_cont(avg_logprob, 0.33), 4) AS p33,
         ROUND(quantile_cont(avg_logprob, 0.67), 4) AS p67
  FROM scored GROUP BY lang
),
tot AS (SELECT lang, COUNT(*) AS lang_docs FROM scored GROUP BY lang),
bucketed AS (
  SELECT s.lang,
         CASE WHEN s.avg_logprob <= e.p33 THEN 'tail'
              WHEN s.avg_logprob <= e.p67 THEN 'middle'
              ELSE 'head' END AS bucket,
         s.n_tokens
  FROM scored s JOIN edges e USING (lang)
)
SELECT b.lang, b.bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(b.n_tokens) AS BIGINT) AS n_tokens,
       ROUND(COUNT(*) * 1.0 / MIN(t.lang_docs), 4) AS doc_share
FROM bucketed b JOIN tot t USING (lang)
GROUP BY b.lang, b.bucket
ORDER BY lang, bucket
"""


@register("ppl_bucket_mix", PPL_BUCKET_SQL)
def ppl_bucket_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = unigram_logprob_score(spark, sf_dir)
    d = load(spark, "documents", sf_dir).select("doc_id", "lang")
    # materialize once: three consumers (edges, tot, the final
    # aggregate) would otherwise each replay the token explode +
    # broadcast-TF join (same shape as quality_adaptive_gate's cut)
    scored = d.join(u, "doc_id").localCheckpoint(eager=True)
    edges = scored.groupBy(F.col("lang").alias("e_lang")).agg(
        F.round(F.expr("percentile(avg_logprob, 0.33)"), 4).alias("p33"),
        F.round(F.expr("percentile(avg_logprob, 0.67)"), 4).alias("p67"),
    )
    tot = scored.groupBy(F.col("lang").alias("t_lang")).agg(
        F.count("*").alias("lang_docs")
    )
    bucket = (
        F.when(F.col("avg_logprob") <= F.col("p33"), "tail")
        .when(F.col("avg_logprob") <= F.col("p67"), "middle")
        .otherwise("head")
    )
    return (
        scored.join(F.broadcast(edges), F.col("lang") == F.col("e_lang"))
        .withColumn("bucket", bucket)
        .join(F.broadcast(tot), F.col("lang") == F.col("t_lang"))
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.count("*") / F.min("lang_docs"), 4
            ).alias("doc_share"),
        )
        .orderBy("lang", "bucket")
    )


# --------------------------------------------------------------------------
# chunk_documents — RAG/pretraining chunking WITHIN a document:
# overlapping sliding token windows (CHUNK_LEN tokens, stride
# CHUNK_STRIDE, so consecutive chunks share CHUNK_LEN-CHUNK_STRIDE
# tokens of context). Complements pack_sequences, which concatenates
# ACROSS documents with no overlap: packing feeds pretraining,
# chunking feeds retrieval indexes where each chunk must stand alone
# but boundary-straddling answers need the overlap. Emits the chunk's
# token count and an md5 of its text (stable identity for downstream
# embedding/dedup) instead of the text itself — the parity check then
# covers exact chunk CONTENT without shipping it twice.
# Scale shape: pure narrow map (split + sequence + explode + slice)
# — no shuffle at all until the output sort; chunk fan-out is
# n_tokens/stride per doc, bounded and uniform.
# --------------------------------------------------------------------------
CHUNK_LEN = 64
CHUNK_STRIDE = 48

CHUNK_SQL = rf"""
WITH toks AS (
  SELECT doc_id, lang, {TOK_SQL} AS t FROM documents
),
chunks AS (
  SELECT doc_id, lang,
         unnest(generate_series(1, greatest(len(t), 1), {CHUNK_STRIDE}))
           AS start_pos,
         t
  FROM toks
)
SELECT doc_id, lang,
       CAST((start_pos - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(list_slice(t, start_pos, start_pos + {CHUNK_LEN} - 1))
            AS BIGINT) AS n_tokens,
       md5(array_to_string(
         list_slice(t, start_pos, start_pos + {CHUNK_LEN} - 1), ' '))
         AS chunk_md5
FROM chunks
ORDER BY doc_id, chunk_id
"""


@register("chunk_documents", CHUNK_SQL)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    toks = d.select("doc_id", "lang", F.expr(TOK_EXPR).alias("t"))
    # start positions 1, 1+stride, ... over the 1-indexed token array
    # (slice() is 1-indexed in Spark like list_slice in DuckDB)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("t"), F.lit(1)),
        F.lit(CHUNK_STRIDE),
    )
    chunk = F.slice(F.col("t"), F.col("start_pos"), CHUNK_LEN)
    return (
        toks.select(
            "doc_id", "lang", "t", F.explode(starts).alias("start_pos")
        )
        .select(
            "doc_id",
            "lang",
            ((F.col("start_pos") - 1) / CHUNK_STRIDE)
            .cast("bigint")
            .alias("chunk_id"),
            F.size(chunk).cast("bigint").alias("n_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# --------------------------------------------------------------------------
# bigram_logprob_score — the bigram upgrade of unigram_logprob_score:
# score each doc by the mean log-probability of its token BIGRAMS
# under an interpolated corpus bigram LM,
#   P(w2 | w1) = 0.7 * c(w1 w2) / c_start(w1) + 0.3 * c(w2) / N
# (c_start(w1) = bigrams starting with w1; the 0.3 unigram floor
# keeps unseen continuations finite — Jelinek-Mercer interpolation).
# A bigram model separates "rare words" from "rare word ORDER":
# shuffled/templated text scores near its unigram bound while natural
# text gains from predictable transitions — the standard CCNet-style
# quality axis one step up.
# Scale shape: one bigram explode (lead over the per-doc window);
# count tables are vocab- and vocab²-bounded (broadcast), N is a
# 1-row scalar; then one per-doc aggregate. No corpus-sized shuffle
# beyond the explode.
# --------------------------------------------------------------------------
BIGRAM_LAMBDA = 0.7

# Shared bigram count-table CTE chain (bg explode + bigram/start/
# unigram/total counts) — the single source of truth for every
# bigram-based op (LM scoring, PMI collocations): a tokenizer or
# windowing tweak lands in one place.
_BIGRAM_CORE_CTES = rf"""toks AS (
  SELECT doc_id, {TOK_SQL} AS t FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i])) AS w1,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i + 1])) AS w2
  FROM toks
),
cb AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
cs AS (SELECT w1, COUNT(*) AS cstart FROM bg GROUP BY w1),
uni AS (
  SELECT term, COUNT(*) AS cu
  FROM (SELECT unnest({TOK_SQL}) AS term FROM documents)
  GROUP BY term
),
tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM uni)"""

BIGRAM_SQL = rf"""
WITH {_BIGRAM_CORE_CTES}
SELECT bg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(ln({BIGRAM_LAMBDA} * cb.c * 1.0 / cs.cstart
                    + {1 - BIGRAM_LAMBDA} * uni.cu * 1.0 / tot.n)), 4)
         AS avg_logprob
FROM bg
JOIN cb USING (w1, w2)
JOIN cs USING (w1)
JOIN uni ON uni.term = bg.w2
CROSS JOIN tot
GROUP BY bg.doc_id
ORDER BY bg.doc_id
"""


def _bigram_counts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """(bg, cb, cs, uni, tot) — the bigram explode plus its four
    count tables, the DataFrame twin of _BIGRAM_CORE_CTES, shared by
    bigram_logprob_score and collocations_pmi."""
    toks = _exploded_tokens(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    cb = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    # r13 (guide §2.3): cstart(w1) = Σ_{w2} c(w1,w2) exactly (integer
    # counts), so derive it from the vocab²-bounded cb table instead
    # of re-aggregating the full corpus bigram stream a second time.
    cs = cb.groupBy("w1").agg(F.sum("c").alias("cstart"))
    uni = toks.groupBy(F.col("tok").alias("term")).agg(
        F.count("*").alias("cu")
    )
    tot = uni.agg(F.sum("cu").cast("bigint").alias("n"))
    return bg, cb, cs, uni, tot


@register("bigram_logprob_score", BIGRAM_SQL)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    bg, cb, cs, uni, tot = _bigram_counts(spark, sf_dir)
    p = (
        F.lit(BIGRAM_LAMBDA) * F.col("c") / F.col("cstart")
        + F.lit(1 - BIGRAM_LAMBDA) * F.col("cu") / F.col("n")
    )
    return (
        bg.join(F.broadcast(cb), ["w1", "w2"])
        .join(F.broadcast(cs), "w1")
        .join(F.broadcast(uni), F.col("w2") == F.col("term"))
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg(F.log(p)), 4).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# heavy_hitters_mg — Misra-Gries heavy hitters as a TWO-PASS exact op:
# pass 1 runs the classic k-counter Misra-Gries summary PER PARTITION
# inside mapInPandas (O(k) memory per task regardless of partition
# size); by the pigeonhole argument any term with global frequency
# > N/(k+1) must survive at least one partition's summary, so the
# union of partition survivors is a guaranteed SUPERSET of the true
# heavy hitters. Pass 2 exactly recounts ONLY the candidate terms
# (broadcast semi-join — the candidate set is ≤ k × partitions rows)
# and keeps those above the threshold. Net effect: exact heavy
# hitters with a full groupBy over only the candidate-matching rows —
# the standard scale pattern when the raw term shuffle (vocab of
# billions at 100 TB) is the bottleneck. Because pass 2 is exact, the
# op is fully oracle-checkable (plain GROUP BY ... HAVING) even
# though pass 1 is a sketch — unlike HLL/quantile sketches which stay
# rows-only.
# --------------------------------------------------------------------------
MG_K = 32  # counters per partition; threshold = N / (MG_K + 1)

HEAVY_HITTERS_SQL = rf"""
WITH tok AS (
  SELECT unnest({TOK_SQL}) AS term FROM documents
),
tot AS (SELECT COUNT(*) AS n FROM tok)
SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
FROM tok CROSS JOIN tot
GROUP BY term, tot.n
HAVING COUNT(*) * ({MG_K} + 1) > n
ORDER BY freq DESC, term
"""


def _mg_partial(iterator):
    """Partition-local Misra-Gries: ≤ MG_K counters, streamed over
    Arrow batches. Yields the surviving (term, count) pairs; counts
    are the LOWER-BOUND sketch counts (not used downstream — pass 2
    recounts exactly), survivors alone carry the superset guarantee."""
    import pandas as pd

    counters: dict[str, int] = {}
    for batch in iterator:
        for term in batch["term"]:
            if term in counters:
                counters[term] += 1
            elif len(counters) < MG_K:
                counters[term] = 1
            else:
                # decrement-all step; drop zeroed counters
                dead = []
                for t in counters:
                    counters[t] -= 1
                    if counters[t] == 0:
                        dead.append(t)
                for t in dead:
                    del counters[t]
    yield pd.DataFrame(
        {"term": list(counters), "mg_count": list(counters.values())}
    )


@register("heavy_hitters_mg", HEAVY_HITTERS_SQL)
def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    toks = _exploded_tokens(spark, sf_dir).select("tok")
    terms = toks.select(F.col("tok").alias("term"))
    schema = StructType(
        [
            StructField("term", StringType()),
            StructField("mg_count", LongType()),
        ]
    )
    candidates = (
        terms.mapInPandas(_mg_partial, schema).select("term").distinct()
    )
    tot = terms.agg(F.count("*").alias("n"))
    return (
        terms.join(F.broadcast(candidates), "term")
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .join(F.broadcast(tot))
        .filter(F.col("freq") * (MG_K + 1) > F.col("n"))
        .select("term", "freq")
        .orderBy(F.desc("freq"), "term")
    )


# --------------------------------------------------------------------------
# build_inverted_index — the serve-side retrieval index as a TABLE:
# term → document frequency, collection frequency, and the posting
# list of doc_ids, CHUNKED into fixed-size blocks (term, block_id,
# postings[≤BLOCK]) the way real engines segment posting lists — a
# hot term's postings at 100 TB would otherwise be one multi-GB array
# in a single row/task. Downstream, bm25_search-style scoring reads
# (term, block) slices; block boundaries are deterministic (doc_id
# order), so the layout is reproducible byte-for-byte.
# Scale shape: one (term) shuffle for the counts + one
# (term, block_id) aggregate for the blocks; rows are bounded by
# BLOCK, never by the corpus.
# --------------------------------------------------------------------------
POSTING_BLOCK = 256


INVERTED_INDEX_SQL = rf"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({TOK_SQL}) AS term FROM documents
),
cf AS (
  SELECT term, COUNT(*) AS coll_freq
  FROM (SELECT unnest({TOK_SQL}) AS term FROM documents)
  GROUP BY term
),
numbered AS (
  SELECT term, doc_id,
         CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id)
                     - 1) * 1.0 / {POSTING_BLOCK}) AS BIGINT) AS block_id
  FROM tok
)
SELECT n.term,
       n.block_id,
       CAST(cf.coll_freq AS BIGINT) AS coll_freq,
       CAST(COUNT(*) AS BIGINT) AS block_df,
       list(n.doc_id ORDER BY n.doc_id) AS postings
FROM numbered n JOIN cf USING (term)
GROUP BY n.term, n.block_id, cf.coll_freq
ORDER BY term, block_id
"""


@register("build_inverted_index", INVERTED_INDEX_SQL)
def build_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _exploded_tokens(spark, sf_dir).select(
        "doc_id", F.col("tok").alias("term")
    )
    tok = toks.distinct()
    cf = toks.groupBy("term").agg(F.count("*").alias("coll_freq"))
    w = W.partitionBy("term").orderBy("doc_id")
    numbered = tok.withColumn(
        "block_id",
        F.floor((F.row_number().over(w) - 1) / POSTING_BLOCK).cast("bigint"),
    )
    return (
        numbered.groupBy("term", "block_id")
        .agg(
            F.count("*").cast("bigint").alias("block_df"),
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
        )
        .join(F.broadcast(cf), "term")
        .select(
            "term",
            "block_id",
            F.col("coll_freq").cast("bigint").alias("coll_freq"),
            "block_df",
            "postings",
        )
        .orderBy("term", "block_id")
    )


# --------------------------------------------------------------------------
# collocations_pmi — collocation mining: bigrams ranked by pointwise
# mutual information PMI = ln(N · c(w1,w2) / (c(w1) · c(w2))) with a
# minimum-count support filter (PMI is noise without it — hapax pairs
# max it out). Surfaces multiword units ("new york") a tokenizer
# should learn as merges; the standard first signal for BPE-merge /
# phrase-vocabulary induction. Reuses the bigram-LM count tables:
# everything after the bigram explode is vocab²-bounded.
# PMI is one ln() over an integer ratio per surviving bigram —
# rounded at the edge, no float accumulation anywhere.
# --------------------------------------------------------------------------
PMI_MIN_COUNT = 25
PMI_TOP_K = 50

PMI_SQL = rf"""
WITH {_BIGRAM_CORE_CTES},
cbf AS (SELECT * FROM cb WHERE c >= {PMI_MIN_COUNT})
SELECT w1, w2, CAST(cbf.c AS BIGINT) AS pair_count,
       ROUND(ln(tot.n * cbf.c * 1.0 / (u1.cu * u2.cu)), 6) AS pmi,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ln(tot.n * cbf.c * 1.0 / (u1.cu * u2.cu)) DESC, w1, w2
       ) AS BIGINT) AS rk
FROM cbf
JOIN uni u1 ON u1.term = cbf.w1
JOIN uni u2 ON u2.term = cbf.w2
CROSS JOIN tot
QUALIFY rk <= {PMI_TOP_K}
ORDER BY rk
"""


@register("collocations_pmi", PMI_SQL)
def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, cb_all, _, uni, tot = _bigram_counts(spark, sf_dir)
    cb = cb_all.filter(F.col("c") >= PMI_MIN_COUNT)
    pmi = F.log(
        F.col("n") * F.col("c") * F.lit(1.0) / (F.col("cu1") * F.col("cu2"))
    )
    wr = W.orderBy(F.desc("pmi_raw"), "w1", "w2")
    return (
        cb.join(
            F.broadcast(uni.select(F.col("term").alias("w1"), F.col("cu").alias("cu1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("term").alias("w2"), F.col("cu").alias("cu2"))),
            "w2",
        )
        .join(F.broadcast(tot))
        .withColumn("pmi_raw", pmi)
        .withColumn("rk", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rk") <= PMI_TOP_K)
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("pair_count"),
            F.round("pmi_raw", 6).alias("pmi"),
            "rk",
        )
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# keyness_terms — per-source distinctive vocabulary by chi-square
# keyness (the corpus-linguistics standard: Dunning '93 / Rayson &
# Garside 2000 use LL; the 2x2 chi-square here shares the same
# contingency table): for each (source, term), a = term occurrences in
# the source, b = occurrences elsewhere, c/d = the complements, chi2 =
# N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)); keep only over-represented
# terms (ad > bc) and report the top-5 per source. The per-source
# "what makes this crawl different" signal that drives source
# triage / mixture decisions in a training-data pipeline.
#
# Determinism: counts are exact integers; products ad/bc (< 2^53 at
# any realistic count) are exact doubles, the over-representation
# gate compares them as BIGINTs, and the chi2 expression is one fixed
# parse tree of IEEE ops — identical doubles both engines, rounded to
# 6dp, ties broken on term.
#
# Scale shape: one token explode collapses straight into a map-side-
# combined (source, term) count; everything after runs on vocabulary-
# sized tables (term totals: vocab rows; source totals + grand total:
# broadcast). The top-5 window partitions the vocab×sources table by
# source — the corpus is never shuffled, only counted.
# --------------------------------------------------------------------------
KEYNESS_TOP = 5

KEYNESS_SQL = rf"""
WITH toks AS (
  SELECT source, unnest({TOK_SQL}) AS term FROM documents
),
st AS (
  SELECT source, term, COUNT(*)::BIGINT AS a
  FROM toks GROUP BY source, term
),
tt AS (
  SELECT term, SUM(a)::BIGINT AS t FROM st GROUP BY term
),
stot AS (
  SELECT source, SUM(a)::BIGINT AS s FROM st GROUP BY source
),
tot AS (
  SELECT SUM(a)::BIGINT AS n FROM st
),
cells AS (
  SELECT st.source, st.term, st.a,
         tt.t - st.a AS b,
         stot.s - st.a AS c,
         tot.n - tt.t - stot.s + st.a AS d,
         tot.n AS n
  FROM st
  JOIN tt USING (term)
  JOIN stot USING (source)
  CROSS JOIN tot
),
scored AS (
  SELECT source, term, a, b,
         ROUND(
           (n::DOUBLE *
            ((a::DOUBLE * d::DOUBLE - b::DOUBLE * c::DOUBLE) *
             (a::DOUBLE * d::DOUBLE - b::DOUBLE * c::DOUBLE)))
           / ((a + b)::DOUBLE * (c + d)::DOUBLE *
              (a + c)::DOUBLE * (b + d)::DOUBLE),
           6) AS chi2
  FROM cells
  WHERE a * d > b * c
)
SELECT source, term, a AS n_source, b AS n_rest, chi2,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY source ORDER BY chi2 DESC, term
       ) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= {KEYNESS_TOP}
ORDER BY source, rk
"""

_CHI2_EXPR = (
    "(CAST(n AS DOUBLE) * "
    "((CAST(a AS DOUBLE) * CAST(d AS DOUBLE) - "
    "CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) * "
    "(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) - "
    "CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))) "
    "/ (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE) * "
    "CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))"
)


@register("keyness_terms", KEYNESS_SQL)
def keyness_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    toks = docs.select("source", F.explode(F.expr(TOK_EXPR)).alias("term"))
    st = toks.groupBy("source", "term").agg(F.count("*").alias("a"))
    tt = st.groupBy("term").agg(F.sum("a").alias("t"))
    stot = st.groupBy("source").agg(F.sum("a").alias("s"))
    tot = st.agg(F.sum("a").alias("n"))
    cells = (
        st.join(tt, "term")
        .join(F.broadcast(stot), "source")
        .join(F.broadcast(tot))
        .select(
            "source",
            "term",
            "a",
            (F.col("t") - F.col("a")).alias("b"),
            (F.col("s") - F.col("a")).alias("c"),
            (F.col("n") - F.col("t") - F.col("s") + F.col("a")).alias("d"),
            "n",
        )
    )
    scored = cells.filter(
        F.col("a") * F.col("d") > F.col("b") * F.col("c")
    ).select(
        "source",
        "term",
        "a",
        "b",
        F.round(F.expr(_CHI2_EXPR), 6).alias("chi2"),
    )
    wk = W.partitionBy("source").orderBy(F.desc("chi2"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rk") <= KEYNESS_TOP)
        .select(
            "source",
            "term",
            F.col("a").alias("n_source"),
            F.col("b").alias("n_rest"),
            "chi2",
            "rk",
        )
        .orderBy("source", "rk")
    )


# --------------------------------------------------------------------------
# ngram_novelty — ingest-order novelty audit: for each document, the
# fraction of its DISTINCT word-4-grams whose first corpus appearance
# (minimum doc_id) is this document. The complement of Lee et al.'s
# duplicated-span signal viewed along ingest order: a falling novelty
# curve over doc_id means later documents mostly restate earlier ones
# (memorization risk / diminishing-returns signal for continued
# crawling of a source).
#
# Scale shape: one gram explode deduped to (doc, gram), a map-side-
# combined MIN(doc_id) per gram, and an equi-join back on gram — the
# same inverted-index discipline as dedup_substring; no pair joins,
# fan-out bounded by gram occurrence counts. Docs with fewer than
# GRAM_N tokens have no grams and are excluded (documented).
# --------------------------------------------------------------------------
NOVELTY_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {TOK_SQL} AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(t) - {GRAM_N - 1}, 0)),
           i -> array_to_string(list_slice(t, i, i + {GRAM_N - 1}), ' ')))
           AS gram
  FROM toks
),
firsts AS (
  SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
)
SELECT g.doc_id,
       COUNT(*)::BIGINT AS n_grams,
       SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)::BIGINT
         AS n_novel,
       ROUND(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS novelty
FROM grams g
JOIN firsts f USING (gram)
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


@register("ngram_novelty", NOVELTY_SQL)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 (guide §2.4): was distinct (one (doc,gram) exchange) →
    # MIN(doc_id) groupBy (a gram exchange) → equi-join back onto the
    # distinct grams (re-exchanging the gram side) → per-doc aggregate.
    # The min now rides ONE gram-partitioned window over the raw
    # occurrences (min is duplicate-invariant), and the (doc, gram)
    # dedup happens IN PLACE on the same exchange (hash-partitioning
    # on gram co-locates every (doc_id, gram) group — first_doc is
    # constant per gram, so dedup keeps identical values). Three
    # corpus exchanges → two, join gone.
    wg = W.partitionBy("gram")
    flagged = (
        _word_ngrams(spark, sf_dir)
        .withColumn("first_doc", F.min("doc_id").over(wg))
        .dropDuplicates(["doc_id", "gram"])
    )
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        flagged
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            novel.cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# fim_split — fill-in-the-middle training splits (Bavarian et al.
# 2022, "Efficient Training of Language Models to Fill in the
# Middle"): each document is cut into (prefix, middle, suffix) at
# deterministic positions and tagged PSM or SPM 50/50 — the standard
# FIM data transformation, with md5-keyed draws standing in for the
# training RNG so the split is reproducible and engine-checkable.
#
# Cut arithmetic is pure integer (md5-derived BIGINTs mod bounded
# spans, 1-based substr in both engines); the gate compares part
# LENGTHS and md5s of the parts, not the raw strings. Pure narrow
# map — zero shuffles.
# --------------------------------------------------------------------------
def _fim_h(tag: str, engine: str) -> str:
    if engine == "spark":
        return (
            f"CAST(conv(substring(md5(concat('{tag}:', "
            "CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        )
    return (
        f"(('0x' || substr(md5('{tag}:' || CAST(doc_id AS VARCHAR)), "
        "1, 8))::BIGINT)"
    )


FIM_SQL = f"""
WITH cuts AS (
  SELECT doc_id, text, LENGTH(text) AS n,
         1 + ({_fim_h('fim1', 'duck')} %
              GREATEST(LENGTH(text) - 2, 1)) AS m_start,
         {_fim_h('fim2', 'duck')} AS h2,
         {_fim_h('fim3', 'duck')} % 2 AS m
  FROM documents
),
spans AS (
  SELECT doc_id, text, n, m_start,
         1 + (h2 % GREATEST(n - m_start, 1)) AS m_len,
         CASE WHEN m = 0 THEN 'psm' ELSE 'spm' END AS mode
  FROM cuts
),
parts AS (
  SELECT doc_id, mode,
         substr(text, 1, m_start - 1) AS p,
         substr(text, m_start, m_len) AS mi,
         substr(text, m_start + m_len) AS s
  FROM spans
)
SELECT doc_id, mode,
       LENGTH(p)::BIGINT AS n_prefix,
       LENGTH(mi)::BIGINT AS n_middle,
       LENGTH(s)::BIGINT AS n_suffix,
       md5(p) AS prefix_md5, md5(mi) AS middle_md5, md5(s) AS suffix_md5
FROM parts
ORDER BY doc_id
"""


@register("fim_split", FIM_SQL)
def fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    cuts = d.select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        (
            F.lit(1)
            + F.expr(_fim_h("fim1", "spark"))
            % F.greatest(F.length("text") - 2, F.lit(1))
        ).alias("m_start"),
        F.expr(_fim_h("fim2", "spark")).alias("h2"),
        (F.expr(_fim_h("fim3", "spark")) % 2).alias("m"),
    )
    spans = cuts.select(
        "doc_id",
        "text",
        "m_start",
        (
            F.lit(1)
            + F.col("h2")
            % F.greatest(F.col("n") - F.col("m_start"), F.lit(1))
        ).alias("m_len"),
        F.when(F.col("m") == 0, "psm").otherwise("spm").alias("mode"),
    )
    parts = spans.select(
        "doc_id",
        "mode",
        F.expr("substr(text, 1, m_start - 1)").alias("p"),
        F.expr("substr(text, m_start, m_len)").alias("mi"),
        F.expr("substr(text, m_start + m_len)").alias("s"),
    )
    return parts.select(
        "doc_id",
        "mode",
        F.length("p").cast("bigint").alias("n_prefix"),
        F.length("mi").cast("bigint").alias("n_middle"),
        F.length("s").cast("bigint").alias("n_suffix"),
        F.md5("p").alias("prefix_md5"),
        F.md5("mi").alias("middle_md5"),
        F.md5("s").alias("suffix_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# length_bucket_batches — pad-aware batching: group documents into
# fixed-size training batches per language two ways — ARRIVAL order
# (doc_id) vs LENGTH-SORTED (the standard bucketed-batching trick) —
# and report each strategy's padding waste (Σ per batch of
# max_len·count − Σlen, the tokens burned padding to the batch max).
# The quantified justification for length bucketing in a training
# dataloader, computed corpus-wide as two windows on one lang shuffle.
#
# Determinism: token counts are exact ints (whitespace tokenizer);
# waste sums are exact integer aggregates; the savings ratio is one
# double division rounded at the edge.
# --------------------------------------------------------------------------
BATCH_DOCS = 16

LENGTH_BUCKET_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, len({TOK_SQL}) AS n_tok FROM documents
),
arrival AS (
  SELECT lang, (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id)
                - 1) // {BATCH_DOCS} AS b, n_tok
  FROM toks
),
srt AS (
  SELECT lang, (ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY n_tok, doc_id)
                - 1) // {BATCH_DOCS} AS b, n_tok
  FROM toks
),
wa AS (
  SELECT lang, SUM(mx * cnt - s) AS waste
  FROM (
    SELECT lang, b, MAX(n_tok) AS mx, COUNT(*) AS cnt, SUM(n_tok) AS s
    FROM arrival GROUP BY lang, b
  ) GROUP BY lang
),
ws AS (
  SELECT lang, SUM(mx * cnt - s) AS waste
  FROM (
    SELECT lang, b, MAX(n_tok) AS mx, COUNT(*) AS cnt, SUM(n_tok) AS s
    FROM srt GROUP BY lang, b
  ) GROUP BY lang
)
SELECT wa.lang,
       wa.waste::BIGINT AS waste_arrival,
       ws.waste::BIGINT AS waste_sorted,
       ROUND(CASE WHEN wa.waste = 0 THEN 0.0
                  ELSE 1.0 - ws.waste::DOUBLE / wa.waste::DOUBLE END,
             6) AS savings
FROM wa JOIN ws ON wa.lang = ws.lang
ORDER BY wa.lang
"""


def _batch_waste(toks: DataFrame, order_cols: list) -> DataFrame:
    w = W.partitionBy("lang").orderBy(*order_cols)
    b = F.floor((F.row_number().over(w) - 1) / BATCH_DOCS)
    return (
        toks.withColumn("b", b)
        .groupBy("lang", "b")
        .agg(
            F.max("n_tok").alias("mx"),
            F.count("*").alias("cnt"),
            F.sum("n_tok").alias("s"),
        )
        .groupBy("lang")
        .agg(
            F.sum(F.col("mx") * F.col("cnt") - F.col("s")).alias("waste")
        )
    )


@register("length_bucket_batches", LENGTH_BUCKET_SQL)
def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    toks = d.select(
        "doc_id", "lang", F.size(F.expr(TOK_EXPR)).alias("n_tok")
    )
    wa = _batch_waste(toks, [F.col("doc_id")]).withColumnRenamed(
        "waste", "waste_arrival"
    )
    ws = _batch_waste(toks, [F.col("n_tok"), F.col("doc_id")]).withColumnRenamed(
        "waste", "waste_sorted"
    )
    savings = F.when(F.col("waste_arrival") == 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.col("waste_sorted").cast("double")
        / F.col("waste_arrival").cast("double")
    )
    return (
        wa.join(ws, "lang")
        .select(
            "lang",
            F.col("waste_arrival").cast("bigint").alias("waste_arrival"),
            F.col("waste_sorted").cast("bigint").alias("waste_sorted"),
            F.round(savings, 6).alias("savings"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# span_corrupt_t5 — the T5 span-corruption transform (Raffel et al.,
# JMLR'20) as a RELATIONAL pipeline: ~14% of 3-token blocks are
# masked per document; the input keeps unmasked tokens with one
# <extra_id_K> sentinel per masked block (K = block's dense rank
# among the doc's masked blocks), the target is each sentinel
# followed by the span it hides, closed by a final sentinel — the
# fim_split sibling for encoder-decoder denoising data.
#
# No string surgery: tokens explode once with positions, block
# selection is an md5-derived integer test (exact in both engines),
# and both output strings are ORDERED string aggregations — input
# ordered by the block's first token position (the masked token rows
# are dropped, the sentinel row takes the block's first position, so
# keys never tie), target ordered by (sentinel rank, in-block
# position). Scale shape: one explode + two grouped aggregations,
# all shuffles on doc_id; nothing is quadratic in document length.
# --------------------------------------------------------------------------
T5_BLOCK = 3  # tokens per maskable block
T5_MASK_MOD = 7  # mask blocks where md5int % 7 == 0 (~14% of tokens)


def _t5_sql(engine: str) -> str:
    if engine == "spark":
        toks = (
            "SELECT doc_id, tok, pos + 1 AS pos "
            "FROM documents "
            "LATERAL VIEW posexplode(split(text, ' ')) AS pos, tok"
        )
        h = (
            "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '|', "
            "CAST(block AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        )
        agg_input = (
            "array_join(transform(array_sort(collect_list("
            "struct(pos_key, piece))), s -> s.piece), ' ')"
        )
        agg_target = (
            "array_join(transform(array_sort(collect_list("
            "struct(k, seq, piece))), s -> s.piece), ' ')"
        )
        str_of = "CAST({} AS STRING)"
    else:
        toks = (
            "SELECT doc_id, unnest(string_split(text, ' ')) AS tok, "
            "generate_subscripts(string_split(text, ' '), 1) AS pos "
            "FROM documents"
        )
        h = (
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || "
            "CAST(block AS VARCHAR)), 1, 8))::BIGINT"
        )
        agg_input = "string_agg(piece, ' ' ORDER BY pos_key)"
        agg_target = "string_agg(piece, ' ' ORDER BY k, seq)"
        str_of = "CAST({} AS VARCHAR)"
    sent = lambda kexpr: (  # noqa: E731
        f"'<extra_id_' || {str_of.format(kexpr)} || '>'"
        if engine == "duck"
        else f"concat('<extra_id_', {str_of.format(kexpr)}, '>')"
    )
    return f"""
WITH toks AS ({toks}),
blocked AS (
  SELECT doc_id, tok, pos,
         CAST(FLOOR((pos - 1) / {T5_BLOCK}) AS BIGINT) AS block
  FROM toks
),
marks AS (
  SELECT doc_id, block, ({h} % {T5_MASK_MOD} = 0) AS masked
  FROM (SELECT DISTINCT doc_id, block FROM blocked) b
),
ranked AS (
  SELECT doc_id, block,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY block
         ) - 1 AS BIGINT) AS k
  FROM marks WHERE masked
),
tk AS (
  SELECT b.doc_id, b.tok, b.pos, b.block, m.masked
  FROM blocked b JOIN marks m
    ON m.doc_id = b.doc_id AND m.block = b.block
),
input_rows AS (
  SELECT doc_id, pos AS pos_key, tok AS piece FROM tk WHERE NOT masked
  UNION ALL
  SELECT doc_id, block * {T5_BLOCK} + 1 AS pos_key,
         {sent("k")} AS piece
  FROM ranked
),
inputs AS (
  SELECT doc_id, {agg_input} AS input_text FROM input_rows GROUP BY doc_id
),
target_rows AS (
  SELECT r.doc_id, r.k, CAST(0 AS BIGINT) AS seq,
         {sent("r.k")} AS piece
  FROM ranked r
  UNION ALL
  SELECT t.doc_id, r.k, t.pos AS seq, t.tok AS piece
  FROM tk t JOIN ranked r ON r.doc_id = t.doc_id AND r.block = t.block
  WHERE t.masked
),
targets AS (
  SELECT doc_id, {agg_target} AS target_body FROM target_rows GROUP BY doc_id
),
counts AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
           AS n_masked_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM tk GROUP BY doc_id
),
nsp AS (
  SELECT m.doc_id,
         CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
  FROM marks m GROUP BY m.doc_id
)
SELECT d.doc_id,
       COALESCE(i.input_text, '') AS input_text,
       CASE WHEN t.target_body IS NULL THEN {sent("n.n_spans")}
            ELSE t.target_body || ' ' || {sent("n.n_spans")}
            END AS target_text,
       n.n_spans,
       COALESCE(c.n_masked_tokens, CAST(0 AS BIGINT)) AS n_masked_tokens,
       c.n_tokens
FROM documents d
JOIN nsp n ON n.doc_id = d.doc_id
JOIN counts c ON c.doc_id = d.doc_id
LEFT JOIN inputs i ON i.doc_id = d.doc_id
LEFT JOIN targets t ON t.doc_id = d.doc_id
ORDER BY d.doc_id
"""


@register("span_corrupt_t5", _t5_sql("duck"))
def span_corrupt_t5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 re-plan (guide §2.4). The shared-SQL form ran the token
    # explode through SIX inlined CTE references (tk/marks/blocked
    # feed input_rows, target_rows, counts, nsp...) — Spark inlines
    # WITH, so the plan re-scanned and re-exploded documents per
    # branch and glued the branches with doc_id shuffle joins. The
    # oracle SQL is UNCHANGED; this is the same computation in one
    # pass, provably:
    # - `masked` is a pure function of (doc_id, block) (the same md5
    #   test), so it evaluates per TOKEN row — the DISTINCT-blocks
    #   CTE and the blocked⋈marks join existed only to compute it
    #   once per block.
    # - a block's first token always sits at pos = block·T5_BLOCK + 1
    #   (positions are dense 1..n), so "one sentinel row per masked
    #   block" ≡ the masked rows with pos0 % T5_BLOCK == 0, and the
    #   sentinel's pos_key (block·T5_BLOCK + 1) IS that row's pos.
    # - k (ROW_NUMBER over the doc's masked blocks ordered by block,
    #   minus 1) ≡ running count of span-start rows up to the current
    #   row (ordered by pos) minus 1: starts of blocks ≤ b have pos ≤
    #   any pos in b, later starts have greater pos.
    # - both output strings keep the EXACT aggregation expressions of
    #   the old Spark SQL (array_join ∘ transform ∘ array_sort ∘
    #   collect_list over the same struct values), so ordering and
    #   ties are untouched; counts are the same integer sums.
    # One corpus scan, one doc_id exchange (window + groupBy share it).
    d = load(spark, "documents", sf_dir)
    toks = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
    ).select(
        "doc_id",
        "tok",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        F.expr(f"CAST(FLOOR(pos0 / {T5_BLOCK}) AS BIGINT)").alias("block"),
        (F.col("pos0") % T5_BLOCK == 0).alias("is_start"),
    )
    h = (
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '|', "
        "CAST(block AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tk = toks.withColumn(
        "masked", F.expr(f"({h} % {T5_MASK_MOD}) = 0")
    ).withColumn(
        "k",
        (
            F.sum(
                F.when(F.col("masked") & F.col("is_start"), 1).otherwise(0)
            ).over(w)
            - 1
        ).cast("bigint"),
    )
    sent = F.concat(F.lit("<extra_id_"), F.col("k").cast("string"), F.lit(">"))
    t_tok = F.struct(
        F.col("k").alias("k"),
        F.col("pos").alias("seq"),
        F.col("tok").alias("piece"),
    )
    t_sent = F.struct(
        F.col("k").alias("k"),
        F.lit(0).cast("bigint").alias("seq"),
        sent.alias("piece"),
    )
    proj = tk.select(
        "doc_id",
        "masked",
        (F.col("masked") & F.col("is_start")).alias("span_start"),
        F.when(
            ~F.col("masked"),
            F.struct(F.col("pos").alias("pos_key"), F.col("tok").alias("piece")),
        )
        .when(
            F.col("is_start"),
            F.struct(F.col("pos").alias("pos_key"), sent.alias("piece")),
        )
        .alias("in_s"),
        F.when(F.col("masked") & F.col("is_start"), F.array(t_sent, t_tok))
        .when(F.col("masked"), F.array(t_tok))
        .alias("t_arr"),
    )
    out = proj.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(in_s)), "
            "s -> s.piece), ' ')"
        ).alias("input_text"),
        F.expr(
            "array_join(transform(array_sort(flatten(collect_list(t_arr))), "
            "s -> s.piece), ' ')"
        ).alias("target_body"),
        F.sum(F.col("span_start").cast("int")).cast("bigint").alias("n_spans"),
        F.sum(F.col("masked").cast("int")).cast("bigint").alias(
            "n_masked_tokens"
        ),
        F.count("*").cast("bigint").alias("n_tokens"),
    )
    final_sent = F.concat(
        F.lit("<extra_id_"), F.col("n_spans").cast("string"), F.lit(">")
    )
    return out.select(
        "doc_id",
        "input_text",
        F.when(F.col("n_spans") == 0, final_sent)
        .otherwise(F.concat(F.col("target_body"), F.lit(" "), final_sent))
        .alias("target_text"),
        "n_spans",
        "n_masked_tokens",
        "n_tokens",
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# epoch_shuffle — reproducible multi-epoch training order: every doc
# gets a deterministic position per epoch from md5(doc_id|epoch)
# (different permutation each epoch, identical across reruns/engines
# — no RNG state to ship), plus a reader shard (hash mod N so each
# trainer rank consumes its own contiguous slice). Scale shape: the
# rank is a per-(epoch, shard) window over hash order — a
# range-partitioned sort of hash-sized rows, never a global sort and
# never the document bodies; materializing the actual shard files is
# a partitionBy(epoch, shard) write in this order. This is the
# data-ordering primitive under any "seeded shuffle per epoch"
# contract in a training-data pipeline.
# --------------------------------------------------------------------------
SHUFFLE_EPOCHS = 3
SHUFFLE_SHARDS = 4

EPOCH_SHUFFLE_SQL = f"""
WITH h AS (
  SELECT d.doc_id, e.epoch,
         md5(CAST(d.doc_id AS VARCHAR) || '|' || CAST(e.epoch AS VARCHAR))
           AS hv
  FROM documents d,
       (SELECT unnest(generate_series(0, {SHUFFLE_EPOCHS - 1})) AS epoch) e
),
sharded AS (
  SELECT doc_id, epoch, hv,
         ('0x' || substr(hv, 1, 8))::BIGINT % {SHUFFLE_SHARDS} AS shard
  FROM h
)
SELECT CAST(epoch AS BIGINT) AS epoch,
       CAST(shard AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY epoch, shard ORDER BY hv, doc_id
       ) AS BIGINT) AS pos,
       doc_id
FROM sharded
ORDER BY epoch, shard, pos
"""


@register("epoch_shuffle", EPOCH_SHUFFLE_SQL)
def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir).select("doc_id")
    epochs = spark.range(SHUFFLE_EPOCHS).select(
        F.col("id").cast("bigint").alias("epoch")
    )
    h = d.crossJoin(F.broadcast(epochs)).select(
        "doc_id",
        "epoch",
        F.md5(
            F.concat_ws(
                "|",
                F.col("doc_id").cast("string"),
                F.col("epoch").cast("string"),
            )
        ).alias("hv"),
    )
    sharded = h.withColumn(
        "shard",
        (
            F.conv(F.substring("hv", 1, 8), 16, 10).cast("bigint")
            % SHUFFLE_SHARDS
        ).cast("bigint"),
    )
    w = W.partitionBy("epoch", "shard").orderBy("hv", "doc_id")
    return (
        sharded.select(
            "epoch",
            "shard",
            F.row_number().over(w).cast("bigint").alias("pos"),
            "doc_id",
        )
        .orderBy("epoch", "shard", "pos")
    )


# --------------------------------------------------------------------------
# bpe_train_merges — BPE tokenizer-vocabulary induction (Sennrich et
# al., ACL'16): iteratively merge the most frequent adjacent symbol
# pair across the corpus word table. Round-9 addition (r8 verdict task
# 7) — collocations_pmi computes the merge SIGNAL but nothing
# performed the iterative merges.
#
# THE scale insight (why this survives 100 TB): BPE training never
# touches the corpus again after one scan — it operates on the
# (word, freq) table, which is vocabulary-sized (Heaps' law: ~10⁶ rows
# at web scale, top-K capped here), so each merge round is an
# explode + groupBy over a broadcast-sized table. The loop follows the
# graph_pagerank unroll pattern: a bounded number of rounds, each a
# declarative plan with the 1-row argmax broadcast-cross-joined in and
# a localCheckpoint plan cut — no per-round driver collect of data
# rows.
#
# Determinism contract (both engines, any partitioning): pair counts
# count EVERY adjacent occurrence (Sennrich's get_stats); the winning
# pair breaks count ties by (lhs, rhs) lexicographic order; merge
# application is left-to-right non-overlapping. The real invariant
# (ADVICE r9 — repeated-symbol pairs like '(l)(l)' in '(l)(l)(l)' DO
# overlap): both engines' non-regex replace() scans left-to-right and
# never rescans replaced output, so over the parenthesis-wrapped
# encoding "(h)(e)(l)(l)(o)(</w>)" replace('(l)(l)' → '(ll)') consumes
# occurrences greedily from the left — exactly the greedy BPE merge —
# and the wrapping pins token boundaries so '(l)(o)' can only match a
# genuine adjacent symbol pair, never a substring spanning longer
# symbols.
# --------------------------------------------------------------------------
BPE_TOP_WORDS = 1500
BPE_MERGES = 12
_BPE_EOW = "</w>"


def _bpe_oracle_sql() -> str:
    rounds = []
    for k in range(1, BPE_MERGES + 1):
        rounds.append(f"""p{k} AS (
  SELECT (pr).lhs AS lhs, (pr).rhs AS rhs, SUM(freq) AS cnt
  FROM (
    SELECT unnest(list_transform(range(1, len(syms)),
                  i -> struct_pack(lhs := syms[i], rhs := syms[i + 1])))
             AS pr,
           freq
    FROM (
      SELECT string_split(substr(seq, 2, length(seq) - 2), ')(') AS syms,
             freq
      FROM w{k - 1}
    )
    WHERE len(syms) >= 2
  )
  GROUP BY 1, 2
),
t{k} AS MATERIALIZED (
  SELECT CAST({k} AS BIGINT) AS merge_rank, lhs, rhs,
         lhs || rhs AS merged, CAST(cnt AS BIGINT) AS pair_count
  FROM p{k} ORDER BY cnt DESC, lhs, rhs LIMIT 1
),
w{k} AS MATERIALIZED (
  SELECT replace(seq, '(' || t.lhs || ')(' || t.rhs || ')',
                 '(' || t.lhs || t.rhs || ')') AS seq, freq
  FROM w{k - 1}, t{k} t
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM t{k}" for k in range(1, BPE_MERGES + 1)
    )
    return f"""
WITH words_all AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest({TOK_SQL}) AS w FROM documents
  ) WHERE regexp_matches(w, '^[a-z]+$')
  GROUP BY w
),
top_words AS (
  SELECT w, freq FROM words_all ORDER BY freq DESC, w LIMIT {BPE_TOP_WORDS}
),
w0 AS MATERIALIZED (
  SELECT regexp_replace(w, '(.)', '(\\1)', 'g') || '({_BPE_EOW})' AS seq,
         freq
  FROM top_words
),
{','.join(rounds)}
{union}
ORDER BY merge_rank
"""


def bpe_merges_from_words(words: DataFrame, n_merges: int) -> DataFrame:
    """Merge loop over a (w, freq) table — the testable core; the
    registered op feeds it the corpus-scan word counts.

    r12 re-plan: the loop runs on the DRIVER over the collected word
    list. The input is bounded by construction (the op feeds the
    top-BPE_TOP_WORDS words — a vocab-sized constant independent of
    corpus scale, same class as the collected IVF/PQ codebooks), while
    the old in-plan loop paid 2 eager localCheckpoints + a full
    groupBy/argmax job chain per merge round (24+ distributed jobs
    over ≤1500 rows — pure scheduler floor at sf0.1, and no better at
    100 TB where the corpus-sized work is the word COUNT, not the
    merge loop). Semantics are the Sennrich reference pinned by
    tests/test_curation.py: count every adjacent symbol pair
    (overlaps included), pick max count with (lhs, rhs) lexicographic
    tie-break, merge left-to-right non-overlapping — identical to the
    old plan's pair explode + replace() chain."""
    spark = words.sparkSession
    rows = words.select("w", "freq").collect()
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        syms = tuple(list(r["w"]) + [_BPE_EOW])
        vocab[syms] = vocab.get(syms, 0) + r["freq"]
    out: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        stats: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                stats[pair] = stats.get(pair, 0) + f
        if not stats:
            break
        top_cnt = max(stats.values())
        best = min(p for p, c in stats.items() if c == top_cnt)
        out.append((rank, best[0], best[1], best[0] + best[1], top_cnt))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    merged.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            key = tuple(merged)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return spark.createDataFrame(
        out,
        "merge_rank bigint, lhs string, rhs string, "
        "merged string, pair_count bigint",
    ).orderBy("merge_rank")


@register("bpe_train_merges", _bpe_oracle_sql())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    words = (
        d.select(F.explode(F.expr(TOK_EXPR)).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(BPE_TOP_WORDS)
    )
    return bpe_merges_from_words(words, BPE_MERGES)
