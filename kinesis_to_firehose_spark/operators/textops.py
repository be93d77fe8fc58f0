"""Text-analysis operators (SURVEY.md §2.5) over `documents`.

All native `F.*` array/string expressions — no Python UDFs — so the
whole stage stays in codegen and scales linearly with scan width.
Each op has a byte-identical DuckDB oracle (same regexes, same md5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesis_to_firehose_spark.registry import register
from kinesis_to_firehose_spark.sources.tables import load

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
WS_RE = "\\s+"

STOPWORDS = ("the", "and", "of", "to", "in", "a", "is", "it")

# Tiny per-language stopword profiles for the n-gram/stopword
# heuristic language ID.
LANG_PROFILES = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "los", "de", "que"),
    "fr": ("le", "les", "et", "des", "un"),
}


def _tokens():
    return F.split(F.lower(F.trim(F.col("text"))), WS_RE)


def _hits(words: tuple[str, ...]):
    return F.size(F.filter(_tokens(), lambda x: x.isin(*words)))


def _sql_tokens() -> str:
    return r"string_split_regex(lower(trim(text)), '\s+')"


def _sql_hits(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_sql_tokens()}, x -> x IN ({lst})))"


# --------------------------------------------------------------------------
TOKEN_COUNT_SQL = rf"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe_tokens,
       length(text) AS n_chars_calc
FROM documents
"""


@register("text_token_count", TOKEN_COUNT_SQL)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    # regexp_count, not size(regexp_extract_all): counting matches
    # must not materialize an array of every token per row (pure
    # allocation pressure at scan width; ~20% faster at sf0.1).
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), WS_RE)).cast("bigint").alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(BPE_RE)).cast("bigint").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_calc"),
    )


# --------------------------------------------------------------------------
_STOP_SQL = _sql_hits(STOPWORDS)
QUALITY_SQL = rf"""
SELECT doc_id,
       length(text) AS n_chars_calc,
       len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
       ROUND({_STOP_SQL} * 1.0 / len(string_split_regex(lower(trim(text)), '\s+')), 4)
         AS stopword_ratio,
       ROUND(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0 / length(text), 4)
         AS punct_ratio,
       ROUND(
         LEAST(1.0, len(string_split_regex(lower(trim(text)), '\s+')) / 200.0) * 0.5
         + ({_STOP_SQL} * 1.0 / len(string_split_regex(lower(trim(text)), '\s+'))) * 0.3
         + (1 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0 / length(text)) * 0.2
       , 4) AS quality_score
FROM documents
"""


@register("text_quality", QUALITY_SQL)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    n_tokens = F.size(_tokens())
    stop_ratio = _hits(STOPWORDS) / n_tokens
    punct_ratio = F.regexp_count(
        "text", F.lit("[^A-Za-z0-9\\s]")
    ) / F.length("text")
    score = (
        F.least(F.lit(1.0), n_tokens / 200.0) * 0.5
        + stop_ratio * 0.3
        + (1 - punct_ratio) * 0.2
    )
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_calc"),
        n_tokens.cast("bigint").alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


# --------------------------------------------------------------------------
_HIT_COLS_SQL = ",\n       ".join(
    f"{_sql_hits(words)} AS {lang}_hits" for lang, words in LANG_PROFILES.items()
)
LANG_ID_SQL = rf"""
WITH scored AS (
  SELECT doc_id, lang,
       {_HIT_COLS_SQL}
  FROM documents
)
SELECT doc_id, lang, en_hits, de_hits, es_hits, fr_hits,
       CASE
         WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
         WHEN es_hits >= fr_hits THEN 'es'
         ELSE 'fr'
       END AS predicted_lang
FROM scored
"""


@register("text_lang_id", LANG_ID_SQL)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    scored = d.select(
        "doc_id",
        "lang",
        *[
            _hits(words).cast("bigint").alias(f"{lang}_hits")
            for lang, words in LANG_PROFILES.items()
        ],
    )
    en, de, es, fr = (F.col(f"{x}_hits") for x in ("en", "de", "es", "fr"))
    predicted = (
        F.when((en >= de) & (en >= es) & (en >= fr), F.lit("en"))
        .when((de >= es) & (de >= fr), F.lit("de"))
        .when(es >= fr, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return scored.withColumn("predicted_lang", predicted)


# --------------------------------------------------------------------------
FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
       substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16)
         AS fingerprint_prefix
FROM documents
"""


@register("text_fingerprint", FINGERPRINT_SQL)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    norm = F.regexp_replace(F.lower(F.trim("text")), "\\s+", " ")
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 16).alias("fingerprint_prefix"),
    )


# --------------------------------------------------------------------------
# curate_corpus — the end-to-end pre-training curation chain as ONE
# declarative plan: quality gate (score ≥ τ) ∧ language agreement
# (predicted == declared) ∧ exact-dup survivorship (min doc_id per
# normalized-text hash). Each stage is the already-verified operator's
# expression; composing them as joins on doc_id lets Catalyst collapse
# the three scans of `documents` into shared subplans instead of three
# materialized passes — the shape a 100 TB curation run needs.
# --------------------------------------------------------------------------
CURATE_MIN_QUALITY = 0.3  # ≈ corpus median; the synthetic docs top out near 0.49

CURATE_SQL = rf"""
WITH q AS ({QUALITY_SQL}),
lid AS ({LANG_ID_SQL}),
ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
           ORDER BY doc_id
         ) AS rn
  FROM documents
)
SELECT q.doc_id, lid.lang, q.n_tokens, q.quality_score
FROM q
JOIN lid ON q.doc_id = lid.doc_id
JOIN ranked ON q.doc_id = ranked.doc_id
WHERE ranked.rn = 1
  AND q.quality_score >= {CURATE_MIN_QUALITY}
  AND lid.predicted_lang = lid.lang
ORDER BY q.doc_id
"""


def curate_corpus_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from kinesis_to_firehose_spark.operators.dedup import NORM_EXPR

    q = text_quality(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_score"
    )
    lid = text_lang_id(spark, sf_dir).select(
        "doc_id", "lang", "predicted_lang"
    )
    d = load(spark, "documents", sf_dir)
    winners = (
        d.select("doc_id", F.md5(F.expr(NORM_EXPR)).alias("h"))
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("h").orderBy("doc_id")),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )
    return (
        q.join(lid, "doc_id")
        .join(winners, "doc_id")
        .filter(
            (F.col("quality_score") >= CURATE_MIN_QUALITY)
            & (F.col("predicted_lang") == F.col("lang"))
        )
        .select("doc_id", "lang", "n_tokens", "quality_score")
        .orderBy("doc_id")
    )


@register("curate_corpus", CURATE_SQL)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated-survivor table served from the persisted per-corpus
    store (round-11, verdict task 6: curate_to_splits re-derived the
    quality/lang/dup subplans on every run — 31 s of its sf10 wall —
    but the survivor set is a corpus property: one row per kept doc,
    no query parameters). `curate_corpus_plan` (unchanged) is the
    BUILD step; this op and curate_to_splits pay a parquet scan.
    Store == direct is pinned by tests/test_curation.py."""
    from kinesis_to_firehose_spark.sources.curation_store import (
        curated_corpus_store,
    )

    return curated_corpus_store(spark, sf_dir).orderBy("doc_id")


# --------------------------------------------------------------------------
# sample_stratified — deterministic per-language sampling for train /
# eval splits: hash the doc id (md5, engine-portable), keep the doc if
# hash % 100 < rate(lang). No randomness, no state — re-running on a
# grown corpus keeps every previously-selected doc, which is exactly
# what incremental training-data builds need. Narrow map + filter,
# pushdown-friendly.
# --------------------------------------------------------------------------
SAMPLE_RATES = {"en": 80, "de": 50, "es": 50, "fr": 50}  # % per lang
SAMPLE_DEFAULT_RATE = 20

_RATE_CASE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES.items())
    + f" ELSE {SAMPLE_DEFAULT_RATE} END"
)

SAMPLE_SQL = f"""
SELECT doc_id, lang,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
            AS BIGINT) AS bucket
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
      < {_RATE_CASE_SQL}
ORDER BY doc_id
"""

_RATE_CASE_SPARK = _RATE_CASE_SQL  # identical CASE syntax in Spark SQL


@register("sample_stratified", SAMPLE_SQL)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) "
        "AS BIGINT) % 100"
    )
    return (
        d.withColumn("bucket", bucket.cast("bigint"))
        .filter(F.col("bucket") < F.expr(_RATE_CASE_SPARK))
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# vocab_top_terms — tokenizer-training heavy hitters: global top-k
# terms by corpus term frequency (plus document frequency). The explode→groupBy is map-side
# combined (partial counts per partition before the shuffle), and the
# final top-k is a single ORDER BY over the tiny aggregated term table
# — at 100 TB the shuffle carries one row per DISTINCT term per
# partition, never one per token occurrence.
# --------------------------------------------------------------------------
VOCAB_TOP_K = 100

VOCAB_SQL = rf"""
WITH tok AS (
  SELECT doc_id, unnest({_sql_tokens()}) AS term
  FROM documents
),
counts AS (
  SELECT term, COUNT(*) AS term_freq, COUNT(DISTINCT doc_id) AS n_docs
  FROM tok WHERE term != '' GROUP BY term
)
SELECT term, CAST(term_freq AS BIGINT) AS term_freq, CAST(n_docs AS BIGINT) AS n_docs
FROM counts
ORDER BY term_freq DESC, term
LIMIT {VOCAB_TOP_K}
"""


@register("vocab_top_terms", VOCAB_SQL)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    tok = d.select(
        "doc_id", F.explode(_tokens()).alias("term")
    ).filter(F.col("term") != "")
    return (
        tok.groupBy("term")
        .agg(
            F.count("*").alias("term_freq"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("term_freq"), "term")
        .limit(VOCAB_TOP_K)
    )


# --------------------------------------------------------------------------
# lang_top_terms — grouped heavy hitters: top-LANG_TOP_K terms per
# language by term frequency (per-domain/per-language vocabulary
# drift is a standard curation dashboard). Same map-side-combined
# explode→groupBy as vocab_top_terms; the rank window then runs over
# the AGGREGATED (lang, term) table — one row per distinct term per
# lang, never per occurrence — so the window shuffle is
# vocabulary-sized at any corpus scale.
# --------------------------------------------------------------------------
LANG_TOP_K = 5

LANG_TOP_SQL = rf"""
WITH tok AS (
  SELECT lang, unnest({_sql_tokens()}) AS term FROM documents
),
counts AS (
  SELECT lang, term, COUNT(*) AS term_freq
  FROM tok WHERE term != '' GROUP BY lang, term
),
ranked AS (
  SELECT lang, term, term_freq,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY term_freq DESC, term) AS rk
  FROM counts
)
SELECT lang, term, CAST(term_freq AS BIGINT) AS term_freq,
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {LANG_TOP_K}
ORDER BY lang, rk
"""


@register("lang_top_terms", LANG_TOP_SQL)
def lang_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    tok = d.select("lang", F.explode(_tokens()).alias("term")).filter(
        F.col("term") != ""
    )
    counts = tok.groupBy("lang", "term").agg(F.count("*").alias("term_freq"))
    w = W.partitionBy("lang").orderBy(F.desc("term_freq"), "term")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= LANG_TOP_K)
        .select(
            "lang",
            "term",
            F.col("term_freq").cast("bigint").alias("term_freq"),
            F.col("rk").cast("bigint").alias("rk"),
        )
        .orderBy("lang", "rk")
    )


# --------------------------------------------------------------------------
# html_extract_text / markdown_to_text — text-EXTRACTION parity ops, the
# front door of a web-scale training pipeline (trafilatura/jusText
# analogue, regex-tier). The corpus has no raw HTML/markdown, so each
# op first synthesizes a deterministic wrapped form of `text` (the
# same derive-then-process pattern as synthetic_media), then extracts:
# strip boilerplate containers (script/style/nav/footer/aside), strip
# tags, decode entities, collapse whitespace. Pure narrow maps —
# chained regexp_replace in one codegen stage, zero shuffles, and the
# regexes stay in the RE2-safe subset ((?s), non-greedy, classes) so
# DuckDB restates them byte-identically.
# --------------------------------------------------------------------------
_BOILER_RE = (
    "(?s)<(script|style|nav|footer|aside)[^>]*>.*?</(script|style|nav|footer|aside)>"
)
_TAG_RE = "<[^>]*>"

_HTML_SYNTH_SQL = (
    "'<html><head><title>doc ' || doc_id || '</title>"
    "<style>.x{color:red}</style>"
    "<script>var t=1;</script></head>"
    "<body><nav>home | about | ' || source || '</nav>"
    "<h1>' || lang || '</h1><p>' || text || '</p>"
    "<aside>related links</aside>"
    "<footer>(c) ' || source || '</footer></body></html>'"
)


def _html_synth_spark():
    return F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>.x{color:red}</style>"
              "<script>var t=1;</script></head><body><nav>home | about | "),
        F.col("source"),
        F.lit("</nav><h1>"),
        F.col("lang"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><aside>related links</aside><footer>(c) "),
        F.col("source"),
        F.lit("</footer></body></html>"),
    )


HTML_EXTRACT_SQL = rf"""
SELECT doc_id,
       CAST(length(html) AS BIGINT) AS n_chars_html,
       CAST(length(extracted) AS BIGINT) AS n_chars_text,
       md5(extracted) AS extract_md5
FROM (
  SELECT doc_id, html,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(html, '{_BOILER_RE}', ' ', 'g'),
             '{_TAG_RE}', ' ', 'g'),
           '\s+', ' ', 'g')) AS extracted
  FROM (
    SELECT doc_id, {_HTML_SYNTH_SQL} AS html FROM documents
  )
)
ORDER BY doc_id
"""


@register("html_extract_text", HTML_EXTRACT_SQL)
def html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    html = _html_synth_spark()
    extracted = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(html, _BOILER_RE, " "), _TAG_RE, " "
            ),
            WS_RE,
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.length(html).cast("bigint").alias("n_chars_html"),
        F.length(extracted).cast("bigint").alias("n_chars_text"),
        F.md5(extracted).alias("extract_md5"),
    ).orderBy("doc_id")


_MD_SYNTH_SQL = (
    "'# doc ' || doc_id || '\n\n## ' || lang || '\n\n' || "
    "'**' || source || '** ' || text || ' [ref](https://example.com/' "
    "|| doc_id || ') `code`'"
)

# markdown strip order matters: links first (keep label, drop url),
# then emphasis/code markers, then heading markers at line starts
_MD_LINK_RE = "\\[([^\\]]*)\\]\\([^)]*\\)"
_MD_MARK_RE = "[*_`]+"
_MD_HEAD_RE = "(^|\n)#+ *"

MARKDOWN_SQL = rf"""
SELECT doc_id,
       CAST(length(md) AS BIGINT) AS n_chars_md,
       CAST(length(plain) AS BIGINT) AS n_chars_text,
       md5(plain) AS plain_md5
FROM (
  SELECT doc_id, md,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(md, '{_MD_LINK_RE}', '\1', 'g'),
               '{_MD_MARK_RE}', '', 'g'),
             '{_MD_HEAD_RE}', '\1', 'g'),
           '\s+', ' ', 'g')) AS plain
  FROM (SELECT doc_id, {_MD_SYNTH_SQL} AS md FROM documents)
)
ORDER BY doc_id
"""


def _md_synth_spark():
    return F.concat(
        F.lit("# doc "),
        F.col("doc_id").cast("string"),
        F.lit("\n\n## "),
        F.col("lang"),
        F.lit("\n\n**"),
        F.col("source"),
        F.lit("** "),
        F.col("text"),
        F.lit(" [ref](https://example.com/"),
        F.col("doc_id").cast("string"),
        F.lit(") `code`"),
    )


@register("markdown_to_text", MARKDOWN_SQL)
def markdown_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    md = _md_synth_spark()
    plain = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(md, _MD_LINK_RE, "$1"),
                    _MD_MARK_RE,
                    "",
                ),
                _MD_HEAD_RE,
                "$1",
            ),
            WS_RE,
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.length(md).cast("bigint").alias("n_chars_md"),
        F.length(plain).cast("bigint").alias("n_chars_text"),
        F.md5(plain).alias("plain_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# sample_weighted — deterministic weighted sampling without RNG or
# transcendentals: priority sampling (Duffield–Lund–Thorup). Each doc
# gets priority = weight / u, u ∈ (0,1] derived from the doc-id md5
# (the same engine-portable hash-uniform as sample_stratified); the
# top-K priorities per language are the sample. Heavier docs (weight =
# n_chars) are proportionally likelier to make the cut, selection is
# reproducible across runs AND engines (w/u is one IEEE division —
# no pow()/ln() whose libm rounding could differ), and corpus growth
# only ever displaces the lowest-priority members.
#
# Plan shape at 100 TB: priority is a narrow map; per-language top-K
# is the top_n_per_group shape (window over lang). For huge strata
# swap the window for a per-partition partial top-K + tiny final merge
# — same contract, bounded memory.
# --------------------------------------------------------------------------
SAMPLE_W_K = 25
_U32 = 1 << 32

# CAST(... AS DOUBLE), not a 4294967296.0 literal: DuckDB types
# decimal-point literals as DECIMAL and would carry decimal (not IEEE)
# division all the way to the output.
_PRI_DUCK = (
    "n_chars * CAST(4294967296 AS DOUBLE) / "
    "((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) + 1)"
)
_PRI_SPARK = (
    "n_chars * CAST(4294967296 AS DOUBLE) / "
    "(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) "
    "AS BIGINT) + 1)"
)

SAMPLE_W_SQL = f"""
WITH pri AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
         {_PRI_DUCK} AS priority
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, weight, priority,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY priority DESC, doc_id) AS rn
  FROM pri
)
SELECT doc_id, lang, weight, ROUND(priority, 4) AS priority
FROM ranked
WHERE rn <= {SAMPLE_W_K}
ORDER BY lang, priority DESC, doc_id
"""


@register("sample_weighted", SAMPLE_W_SQL)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    pri = d.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("weight"),
        F.expr(_PRI_SPARK).alias("priority"),
    )
    w = W.partitionBy("lang").orderBy(F.desc("priority"), "doc_id")
    return (
        pri.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_W_K)
        .select(
            "doc_id", "lang", "weight", F.round("priority", 4).alias("priority")
        )
        .orderBy("lang", F.desc("priority"), "doc_id")
    )


# --------------------------------------------------------------------------
# hashing_tf_vectors / doc_tf_search — the hashing trick (feature
# hashing, Weinberger et al. '09 / Spark MLlib HashingTF): every
# document gets a dense HTF_DIM-dimensional term-frequency vector with
# bucket = md5(token) mod HTF_DIM — model-free document vectors that
# feed the SAME cosine-search machinery the embedding ops use, for
# corpora that have no embedding column yet. doc_tf_search then runs
# the ann_bruteforce shape over them: a fixed query-doc set broadcast
# against the corpus, exact cosine, top-5.
#
# Determinism: tf counts are exact integers; cosine folds the 64
# buckets in fixed order over exact-integer-valued doubles (products
# of ints < 2^53), so both engines produce identical doubles; 6dp
# round, doc_id tie-break.
#
# Scale shape: vectorization is one token explode into a map-side-
# combined (doc, bucket) count folded to 64 conditional sums — one
# shuffle at doc granularity, no vocabulary table at all (the entire
# point of the hashing trick: memory is O(dim), not O(vocab)).
# Search broadcasts only the fixed query side.
# --------------------------------------------------------------------------
HTF_DIM = 64
HTF_QUERIES = 5  # doc_id < 5 are the query documents
HTF_TOP_K = 5

_HTF_BUCKET_SPARK = (
    "pmod(CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT), "
    f"{HTF_DIM})"
)
_HTF_BUCKET_SQL = f"(('0x' || substr(md5(tok), 1, 8))::BIGINT % {HTF_DIM})"

_HTF_SUM_SQL = ", ".join(
    f"SUM(CASE WHEN b = {i} THEN 1 ELSE 0 END)::BIGINT AS c{i}"
    for i in range(HTF_DIM)
)
_HTF_LIST_SQL = "[" + ", ".join(f"c{i}" for i in range(HTF_DIM)) + "]"

_HTF_CTE = f"""toks AS (
  SELECT doc_id, unnest(string_split(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
         AS tok
  FROM documents
),
bucketed AS (
  SELECT doc_id, {_HTF_BUCKET_SQL} AS b FROM toks
),
vecs AS (
  SELECT doc_id, {_HTF_SUM_SQL} FROM bucketed GROUP BY doc_id
),
tf AS (
  SELECT doc_id, {_HTF_LIST_SQL} AS v FROM vecs
)"""

HTF_VECTORS_SQL = f"""
WITH {_HTF_CTE}
SELECT doc_id, v AS tf,
       ROUND(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         list_transform(v, x -> x::DOUBLE * x::DOUBLE)),
         (a, b) -> a + b)), 6) AS nrm
FROM tf
ORDER BY doc_id
"""


def _htf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, "documents", sf_dir)
    toks = d.select(
        "doc_id", F.explode(_tokens()).alias("tok")
    ).select("doc_id", F.expr(_HTF_BUCKET_SPARK).alias("b"))
    sums = [
        F.sum(F.when(F.col("b") == i, 1).otherwise(0))
        .cast("bigint")
        .alias(f"c{i}")
        for i in range(HTF_DIM)
    ]
    vecs = toks.groupBy("doc_id").agg(*sums)
    return vecs.select(
        "doc_id",
        F.array(*[f"c{i}" for i in range(HTF_DIM)]).alias("tf"),
    )


_HTF_NORM_SPARK = (
    "sqrt(aggregate(tf, CAST(0.0 AS DOUBLE), "
    "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)


@register("hashing_tf_vectors", HTF_VECTORS_SQL)
def hashing_tf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _htf_vectors(spark, sf_dir)
        .select(
            "doc_id",
            "tf",
            F.round(F.expr(_HTF_NORM_SPARK), 6).alias("nrm"),
        )
        .orderBy("doc_id")
    )


_HTF_DOT_SQL = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, len(q.v) + 1), "
    "i -> q.v[i]::DOUBLE * c.v[i]::DOUBLE)), (a, b) -> a + b)"
)
_HTF_NRM_SQL = (
    "sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform({side}.v, x -> x::DOUBLE * x::DOUBLE)), "
    "(a, b) -> a + b))"
)

DOC_TF_SEARCH_SQL = f"""
WITH {_HTF_CTE},
normed AS (
  SELECT doc_id, v, {_HTF_NRM_SQL.format(side='tf')} AS nrm
  FROM tf
),
scored AS (
  SELECT q.doc_id AS query_id, c.doc_id AS candidate_id,
         ROUND({_HTF_DOT_SQL} / (q.nrm * c.nrm), 6) AS cosine
  FROM normed q
  JOIN normed c
    ON q.doc_id < {HTF_QUERIES} AND c.doc_id >= {HTF_QUERIES}
   AND q.nrm > 0 AND c.nrm > 0
)
SELECT query_id, candidate_id, cosine,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY cosine DESC, candidate_id
       ) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= {HTF_TOP_K}
ORDER BY query_id, rk
"""


@register("doc_tf_search", DOC_TF_SEARCH_SQL)
def doc_tf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 re-plan (guide §4.1: built-ins over interpreted lambdas):
    # the HTF_QUERIES query vectors are a bounded constant (doc_id <
    # 5 — the same ≤ tens-of-rows collect class as the IVF/PQ
    # codebooks; the filter pushes to the parquet scan), so the
    # per-pair cosine becomes a codegen'd LITERAL dot product over the
    # candidate scan — no broadcast join node, no per-pair
    # `aggregate(zip_with(...))` lambda interpretation. Exactness: tf
    # counts are integers, so every product/sum is exact in double at
    # ANY fold order (well under 2^53); q_nrm = sqrt of the exact
    # integer square-sum is bit-identical to _HTF_NORM_SPARK; the
    # divide and the 6dp round are the same IEEE ops as before. Zero
    # q-components are skipped — identical sum, fewer codegen terms.
    import math

    n = _htf_vectors(spark, sf_dir).select(
        "doc_id", "tf", F.expr(_HTF_NORM_SPARK).alias("nrm")
    )
    qrows = (
        n.filter((F.col("doc_id") < HTF_QUERIES) & (F.col("nrm") > 0))
        .select("doc_id", "tf")
        .collect()
    )
    c = n.filter(
        (F.col("doc_id") >= HTF_QUERIES) & (F.col("nrm") > 0)
    ).select(F.col("doc_id").alias("candidate_id"), "tf", "nrm")
    if not qrows:
        return c.limit(0).select(
            F.lit(None).cast("long").alias("query_id"),
            F.col("candidate_id"),
            F.lit(None).cast("double").alias("cosine"),
            F.lit(None).cast("bigint").alias("rk"),
        )
    structs = []
    for r in sorted(qrows, key=lambda row: row["doc_id"]):
        q = r["tf"]
        q_nrm = math.sqrt(float(sum(v * v for v in q)))
        dot = None
        for i, v in enumerate(q):
            if v:
                term = F.expr(f"tf[{i}]").cast("double") * float(v)
                dot = term if dot is None else dot + term
        cosine = (dot if dot is not None else F.lit(0.0)) / (
            F.lit(q_nrm) * F.col("nrm")
        )
        structs.append(
            F.struct(
                F.lit(int(r["doc_id"])).cast("long").alias("query_id"),
                cosine.alias("cosine"),
            )
        )
    scored = c.select(
        "candidate_id", F.explode(F.array(*structs)).alias("s")
    ).select(
        F.col("s.query_id").alias("query_id"),
        "candidate_id",
        F.round(F.col("s.cosine"), 6).alias("cosine"),
    )
    wk = W.partitionBy("query_id").orderBy(F.desc("cosine"), "candidate_id")
    return (
        scored.withColumn("rk", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rk") <= HTF_TOP_K)
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# lang_id_confusion — model evaluation as a first-class query: score
# the lang-ID heuristic against the gold `lang` column and emit
# per-class precision / recall / F1 from the confusion counts — the
# classifier-eval harness every labeling/filtering model in a training
# pipeline needs, run at corpus scale as one aggregation.
#
# Determinism: the confusion matrix is exact integer counts; P/R are
# single divisions of exact ints cast to double; F1 is one fixed
# expression tree over those doubles (0 when P+R = 0); 6dp round.
#
# Scale shape: one groupBy to the (gold, pred) matrix (≤ langs²
# rows, map-side combined) — every metric after that runs on the tiny
# matrix. The corpus is scanned once.
# --------------------------------------------------------------------------
LANG_CONF_SQL = rf"""
WITH scored AS (
  SELECT doc_id, lang,
       {_HIT_COLS_SQL}
  FROM documents
),
pred AS (
  SELECT lang AS gold,
         CASE
           WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
           WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
           WHEN es_hits >= fr_hits THEN 'es'
           ELSE 'fr'
         END AS p
  FROM scored
),
conf AS (
  SELECT gold, p, COUNT(*)::BIGINT AS n FROM pred GROUP BY gold, p
),
golds AS (
  SELECT gold AS cls, SUM(n)::BIGINT AS n_gold FROM conf GROUP BY gold
),
preds AS (
  SELECT p AS cls, SUM(n)::BIGINT AS n_pred FROM conf GROUP BY p
),
tps AS (
  SELECT gold AS cls, n AS tp FROM conf WHERE gold = p
),
m AS (
  SELECT g.cls, g.n_gold,
         COALESCE(pr.n_pred, 0)::BIGINT AS n_pred,
         COALESCE(t.tp, 0)::BIGINT AS tp
  FROM golds g
  LEFT JOIN preds pr ON pr.cls = g.cls
  LEFT JOIN tps t ON t.cls = g.cls
),
pr AS (
  SELECT cls, n_gold, n_pred, tp,
         CASE WHEN n_pred = 0 THEN 0.0
              ELSE tp::DOUBLE / n_pred::DOUBLE END AS p,
         CASE WHEN n_gold = 0 THEN 0.0
              ELSE tp::DOUBLE / n_gold::DOUBLE END AS r
  FROM m
)
SELECT cls AS lang, n_gold, n_pred, tp,
       ROUND(p, 6) AS precision,
       ROUND(r, 6) AS recall,
       ROUND(CASE WHEN p + r = 0.0 THEN 0.0
                  ELSE 2.0 * p * r / (p + r) END, 6) AS f1
FROM pr
ORDER BY lang
"""


@register("lang_id_confusion", LANG_CONF_SQL)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = text_lang_id(spark, sf_dir).select(
        F.col("lang").alias("gold"), F.col("predicted_lang").alias("p")
    )
    conf = pred.groupBy("gold", "p").agg(F.count("*").alias("n"))
    golds = conf.groupBy(F.col("gold").alias("cls")).agg(
        F.sum("n").alias("n_gold")
    )
    preds = conf.groupBy(F.col("p").alias("cls")).agg(
        F.sum("n").alias("n_pred")
    )
    tps = conf.filter(F.col("gold") == F.col("p")).select(
        F.col("gold").alias("cls"), F.col("n").alias("tp")
    )
    m = (
        golds.join(preds, "cls", "left")
        .join(tps, "cls", "left")
        .select(
            "cls",
            "n_gold",
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    p = F.when(F.col("n_pred") == 0, F.lit(0.0)).otherwise(
        F.col("tp").cast("double") / F.col("n_pred").cast("double")
    )
    r = F.when(F.col("n_gold") == 0, F.lit(0.0)).otherwise(
        F.col("tp").cast("double") / F.col("n_gold").cast("double")
    )
    pr = m.select("cls", "n_gold", "n_pred", "tp", p.alias("p"), r.alias("r"))
    f1 = F.when(F.col("p") + F.col("r") == 0.0, F.lit(0.0)).otherwise(
        F.lit(2.0) * F.col("p") * F.col("r") / (F.col("p") + F.col("r"))
    )
    return pr.select(
        F.col("cls").alias("lang"),
        "n_gold",
        "n_pred",
        "tp",
        F.round("p", 6).alias("precision"),
        F.round("r", 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# unpivot_quality — the UNPIVOT/melt twin of pivot_events: the wide
# per-doc quality metrics fold to long (doc_id, metric, value) rows
# via stack() — the shape metric stores and plotting layers ingest.
# Pure narrow map (each input row emits 5 rows, no shuffle); the
# oracle states the same melt as a UNION ALL.
# --------------------------------------------------------------------------
_UNPIVOT_METRICS = (
    "n_chars_calc",
    "n_tokens",
    "stopword_ratio",
    "punct_ratio",
    "quality_score",
)

UNPIVOT_SQL = (
    "WITH q AS (" + QUALITY_SQL.replace("ORDER BY doc_id", "") + ")\n"
    + "\nUNION ALL\n".join(
        f"SELECT doc_id, '{m}' AS metric, CAST({m} AS DOUBLE) AS value FROM q"
        for m in _UNPIVOT_METRICS
    )
    + "\nORDER BY doc_id, metric"
)


@register("unpivot_quality", UNPIVOT_SQL)
def unpivot_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = text_quality(spark, sf_dir)
    stack_expr = "stack({n}, {args}) AS (metric, value)".format(
        n=len(_UNPIVOT_METRICS),
        args=", ".join(
            f"'{m}', CAST({m} AS DOUBLE)" for m in _UNPIVOT_METRICS
        ),
    )
    return wide.selectExpr("doc_id", stack_expr).orderBy(
        "doc_id", "metric"
    )
