"""Text-analysis operators over `documents` (SURVEY.md §2.8): the text
domain, every `text_*` query outside `corpus.py`.

Language-ID, quality scoring, token accounting, document fingerprinting,
BM25 and its ranking-quality cascade, lexical diversity, vocabulary
overlap and drift matrices, LM-logloss quality proxies, subword fertility
and an engine-exact BPE merge fit.  Tokens, shingles and the md5-60 hash
come from the kernels in `functions/text.py`.  Every operator is a JVM
column-expression pipeline (split / filter / aggregate folds) with no
per-row Python; the driver folds only model-sized relations (top-V
vocabularies, language lists) through bounded collects.

Each operator's math is replicated expression-for-expression in its DuckDB
oracle; per-row arithmetic (ratios, folds) is deterministic on both engines,
and cross-row sums follow the DECIMAL accumulation policy of
operators/relational.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from iceberg_table_generator_spark.functions import collect
from iceberg_table_generator_spark.functions.cache import persist_tracked
from iceberg_table_generator_spark.functions.order import with_global_order
from iceberg_table_generator_spark.functions.text import shingles, tokens, tokens_sql
from iceberg_table_generator_spark.operators.relational import D38, MICRO, sql_dsum
from iceberg_table_generator_spark.operators.similarity import (
    SQL_RANKING_QUALITY,
    ranking_quality,
)
from iceberg_table_generator_spark.operators.wave10 import ROI_HEAD_K
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table, spread


# Tiny per-language marker lexicons (public stopword lists, abridged).
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
}
STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def _sql_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# --------------------------------------------------------------------------
# Language identification (marker-word scoring)
# --------------------------------------------------------------------------
_LANGID_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang AS labeled_lang, {tokens_sql()} AS ws
  FROM documents),
scores AS (
  SELECT doc_id, labeled_lang,
         len(list_filter(ws, w -> w IN ({_sql_list(LANG_MARKERS['en'])}))) AS s_en,
         len(list_filter(ws, w -> w IN ({_sql_list(LANG_MARKERS['de'])}))) AS s_de,
         len(list_filter(ws, w -> w IN ({_sql_list(LANG_MARKERS['fr'])}))) AS s_fr,
         len(list_filter(ws, w -> w IN ({_sql_list(LANG_MARKERS['es'])}))) AS s_es
  FROM tok)
SELECT doc_id, labeled_lang,
       CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
            WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
            WHEN s_es > 0 THEN 'es'
            ELSE 'und' END AS predicted_lang,
       CAST(s_en AS INT) AS s_en, CAST(s_de AS INT) AS s_de,
       CAST(s_fr AS INT) AS s_fr, CAST(s_es AS INT) AS s_es
FROM scores
"""


@query("text_language_id", oracle=_LANGID_ORACLE)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID with a deterministic argmax tie-break
    (en > de > fr > es).  The synthetic corpus shares one vocabulary across
    labels, so accuracy is not the point — the operator shape (token filter
    → scores → argmax) is, and it matches its oracle exactly."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        tokens().alias("ws"),
    )
    score = {
        lang: F.size(F.filter("ws", lambda w: w.isin(markers))).alias(f"s_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }
    scored = tok.select("doc_id", "labeled_lang", *score.values())
    s = {lang: F.col(f"s_{lang}") for lang in LANG_MARKERS}
    predicted = (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]) & (s["en"] > 0),
            "en",
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]) & (s["de"] > 0), "de")
        .when((s["fr"] >= s["es"]) & (s["fr"] > 0), "fr")
        .when(s["es"] > 0, "es")
        .otherwise("und")
    )
    return scored.select(
        "doc_id",
        "labeled_lang",
        predicted.alias("predicted_lang"),
        *[F.col(f"s_{lang}").cast("int").alias(f"s_{lang}") for lang in LANG_MARKERS],
    )


# --------------------------------------------------------------------------
# Quality scoring
# --------------------------------------------------------------------------
_QUALITY_ORACLE = f"""
WITH feat AS (
  SELECT doc_id, lang, n_chars,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS text_len,
         length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct,
         len(list_filter({tokens_sql()},
                         w -> w IN ({_sql_list(STOPWORDS)}))) AS n_stop
  FROM documents)
SELECT doc_id, lang,
       CAST(n_words AS INT)                                  AS n_words,
       round(text_len * 1.0 / n_words, 6)                    AS avg_word_len,
       round(n_punct * 1.0 / text_len, 6)                    AS punct_ratio,
       round(n_stop * 1.0 / n_words, 6)                      AS stopword_ratio,
       round(least(n_words / 50.0, 1.0) * 0.5
             + least(n_stop * 1.0 / n_words, 0.2) * 2.5, 6)  AS quality_score
FROM feat
"""


@query("text_quality_score", oracle=_QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length, punctuation ratio, stopword
    ratio) + a composite score — narrow per-row transforms only; at 100 TB
    this is a zero-shuffle streaming pass."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    text_len = F.length("text")
    n_punct = text_len - F.length(F.regexp_replace("text", "[^a-z0-9 ]", ""))
    n_stop = F.size(F.filter(tokens(), lambda w: w.isin(STOPWORDS)))
    feat = d.select(
        "doc_id", "lang",
        n_words.alias("n_words"), text_len.alias("text_len"),
        n_punct.alias("n_punct"), n_stop.alias("n_stop"),
    )
    return feat.select(
        "doc_id", "lang",
        F.col("n_words").cast("int").alias("n_words"),
        F.round(F.col("text_len") * 1.0 / F.col("n_words"), 6).alias("avg_word_len"),
        F.round(F.col("n_punct") * 1.0 / F.col("text_len"), 6).alias("punct_ratio"),
        F.round(F.col("n_stop") * 1.0 / F.col("n_words"), 6).alias("stopword_ratio"),
        F.round(
            F.least(F.col("n_words") / 50.0, F.lit(1.0)) * 0.5
            + F.least(F.col("n_stop") * 1.0 / F.col("n_words"), F.lit(0.2)) * 2.5,
            6,
        ).alias("quality_score"),
    )


# --------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex), aggregated per (lang, source)
# --------------------------------------------------------------------------
_TOKEN_ORACLE = f"""
WITH t AS (
  SELECT lang, source,
         len(string_split(text, ' '))                          AS ws_tokens,
         len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS re_tokens,
         n_chars
  FROM documents)
SELECT lang, source,
       count(*)                    AS n_docs,
       {sql_dsum('ws_tokens', 0)}  AS total_ws_tokens,
       {sql_dsum('re_tokens', 0)}  AS total_re_tokens,
       {sql_dsum('n_chars', 0)}    AS total_chars,
       round(CAST(sum(CAST(re_tokens AS DECIMAL(25,6))) AS DOUBLE) / count(*), 6)
           AS avg_tokens_per_doc
FROM t GROUP BY lang, source
"""


@query("text_token_count", oracle=_TOKEN_ORACLE)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace and BPE-ish regex token counts rolled up per (lang,
    source) — the training-data token-budget accounting query.  Counting is
    per-row expression work; one small aggregate shuffle at the end."""
    d = load_table(spark, sf_dir, "documents")
    ws_tokens = F.size(F.split("text", " "))
    re_tokens = F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+|[^a-z0-9 ]"), 0))
    t = d.select(
        "lang", "source",
        ws_tokens.alias("ws_tokens"), re_tokens.alias("re_tokens"), F.col("n_chars"),
    )
    dec = "decimal(25,6)"
    return t.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum(F.col("ws_tokens").cast(dec)).cast("double"), 0).alias("total_ws_tokens"),
        F.round(F.sum(F.col("re_tokens").cast(dec)).cast("double"), 0).alias("total_re_tokens"),
        F.round(F.sum(F.col("n_chars").cast(dec)).cast("double"), 0).alias("total_chars"),
        F.round(
            F.sum(F.col("re_tokens").cast(dec)).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_tokens_per_doc"),
    )


# --------------------------------------------------------------------------
# Corpus word frequencies (extreme-skew aggregation shape)
# --------------------------------------------------------------------------
_WORD_FREQ_ORACLE = f"""
WITH tok AS (
  SELECT lang, unnest({tokens_sql()}) AS word FROM documents),
counts AS (
  SELECT lang, word, count(*) AS n FROM tok GROUP BY lang, word),
ranked AS (
  SELECT lang, word, n,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS INT) AS rank
  FROM counts)
SELECT lang, word, n, rank FROM ranked WHERE rank <= 10
"""


# Bucket fan-out for the two-phase per-group top-k: stage-1 rank windows
# partition on (lang, bucket) so no task ever sorts more than ~vocab/B
# rows; stage 2 ranks only the B×10 survivors per language.
WORD_FREQ_BUCKETS = 64


@query("text_word_freq", oracle=_WORD_FREQ_ORACLE)
def text_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 words per language — extreme-skew on BOTH axes: each word
    key is a heavy hitter in the token stream, and each language is a
    heavy hitter in the ranking.

    Token-count skew is absorbed by Spark's partial (map-side)
    aggregation: each map task collapses to ≤|vocab| rows before the
    shuffle, so the shuffle carries O(partitions × vocab), not O(tokens).

    Ranking skew needs more care: a single `row_number() over (partition
    by lang)` puts one language's ENTIRE vocabulary — billions of words
    on a web corpus — on one task.  The exact two-phase form used here
    buckets words by hash (stage 1: rank within (lang, bucket), keep
    top-10 per bucket — partitions are vocab/B) and then ranks only the
    B×10 survivors per language (stage 2 — partitions are 640 rows).
    Exact because every global top-10 word ranks ≤10 inside its own
    bucket under the same (n DESC, word ASC) order, so it always
    survives stage 1."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(tokens()).alias("word"))
    counts = tok.groupBy("lang", "word").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    bucket = F.pmod(F.xxhash64("word"), F.lit(WORD_FREQ_BUCKETS))
    w1 = Window.partitionBy("lang", "bucket").orderBy(F.desc("n"), F.asc("word"))
    survivors = (
        counts.withColumn("bucket", bucket)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= 10)
    )
    w2 = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("word"))
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 10)
        .select("lang", "word", "n", "rank")
    )


# --------------------------------------------------------------------------
# Document fingerprinting (rolling polynomial hash)
# --------------------------------------------------------------------------
_FP_ORACLE = """
WITH codes AS (
  SELECT doc_id, lang,
         list_transform(string_split(text, ''), c -> ascii(c)) AS cs
  FROM documents)
SELECT doc_id, lang,
       list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
FROM codes
"""


@query("text_fingerprint", oracle=_FP_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rolling polynomial hash (base 31, mod 1e9+7) over the
    document characters — a content fingerprint computable in one fold,
    identical expression on both engines.  Per-row fold, zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    codes = F.transform(F.split("text", ""), F.ascii)
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c.cast("long")) % 1000000007,
    )
    return d.select("doc_id", "lang", fp.alias("fingerprint"))


# --------------------------------------------------------------------------
# TF-IDF-proxy top terms (integer-exact distinguishing-term ranking)
# --------------------------------------------------------------------------
_TFIDF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql()}) AS w FROM documents),
tf AS (
  SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
df AS (
  SELECT w, count(*) AS df FROM tf GROUP BY w),
ranked AS (
  SELECT tf.doc_id, tf.w, tf.tf, df.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.w ASC) AS rnk
  FROM tf JOIN df USING (w))
SELECT doc_id, w AS term, tf, df, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
"""


# Df-cap for the hot/tail split (mirrors pipeline.HOT_TOKEN_CAP): the
# top-1024 terms by document frequency — the stop words — ride a bounded
# broadcast of a few KiB; a constant, not a function of vocabulary size.
HOT_TERM_CAP = 1024


@query("text_tfidf_topk", oracle=_TFIDF_ORACLE)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinguishing terms per document, ranked lexicographically by
    (term frequency DESC, document frequency ASC, term ASC).

    The ranking is the classic tf-idf signal expressed entirely in
    integers: a float tf*ln(N/df) score would rank identically for fixed
    tf (idf is monotone decreasing in df) but its last-ulp behaviour
    differs between Java's and C's `log`, so the integer ordering is what
    keeps the DuckDB oracle bit-exact.

    Scale shape (VERDICT r4 #4).  The r4 form attached df with
    `count(*) over (partition by w)` over the tf relation — milder than a
    raw-stream window (one row per (doc, term)) but a stop-word's
    partition is still ≈ every document in the corpus on ONE task at
    100 TB, with no map-side partial aggregation and no AQE salting.
    Same hot/tail split as pipeline_token_rarity: df comes from
    groupBy(w) (map-side combine); the top-HOT_TERM_CAP terms by df — the
    stop words — attach via a bounded broadcast so their rows never
    shuffle by term; the anti-joined tail shuffle-joins the df relation
    (merge hint: a web corpus has billions of distinct tokens, so the
    vocabulary is never broadcast-sized).  The ONLY remaining window is
    the per-doc rank — partitioned by doc_id, which does not skew."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("w"))
    # persist(DISK_ONLY): three consumers (df derivation, hot attach, tail
    # anti-join) whose differing shapes defeat ReuseExchange — without it
    # the tokenize+count pipeline re-runs per branch.  Corpus-sized, so
    # the posting-stream fault-tolerance rationale applies.
    tf = (
        tok.groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
        .transform(persist_tracked)
    )
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    hot = dfreq.orderBy(F.desc("df"), F.asc("w")).limit(HOT_TERM_CAP)
    # One broadcast subtree for attach + anti-join → one reused exchange.
    hot_rows = tf.join(F.broadcast(hot), "w").select("doc_id", "w", "tf", "df")
    tail_rows = (
        tf.join(F.broadcast(hot), "w", "left_anti")
        .join(dfreq.hint("merge"), "w")
        .select("doc_id", "w", "tf", "df")
    )
    with_df = hot_rows.unionByName(tail_rows)
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("w")
    )
    return (
        with_df.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", F.col("w").alias("term"), "tf", "df", "rnk")
    )


# --------------------------------------------------------------------------
# BM25 ranked retrieval (fixed query set, engine-deterministic scoring)
# --------------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
# Fixed search queries over the fixture vocabulary (present at every SF).
BM25_QUERIES: list[tuple[int, list[str]]] = [
    (0, ["hash", "join"]),
    (1, ["stream", "batch"]),
    (2, ["filter", "scan", "merge"]),
    (3, ["customer", "table"]),
    (4, ["slow", "big", "data"]),
]
_BM25_TERMS = sorted({w for _, ws in BM25_QUERIES for w in ws})

_BM25_Q_VALUES = ", ".join(
    f"({qid}, '{w}')" for qid, ws in BM25_QUERIES for w in ws
)
_BM25_TERM_LIST = ", ".join(f"'{w}'" for w in _BM25_TERMS)

# Per-term score, written with the IDENTICAL operator sequence on both
# engines (left-assoc `a * b / c`, literal constants spelled the same):
#   idf        = ln(1 + (N - df + 0.5)/(df + 0.5))        [BM25+, always > 0]
#   tf_sat     = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
#   term_score = round(idf · tf_sat, 6)  →  DECIMAL(25,6)
# ln() is the one op the engines disagree on (JVM Math.log vs libm differ
# in the last ulp on ~5% of inputs — probed); rounding each TERM to 6
# decimals absorbs the ulp, and test_bm25_rounding_margin pins the raw
# scores' distance from every rounding boundary at orders of magnitude
# above the ulp shift, so the rounded terms are bit-identical and the
# DECIMAL sum is exact and order-free on both engines.
_BM25_ORACLE = f"""
WITH q(query_id, w) AS (VALUES {_BM25_Q_VALUES}),
tok AS (
  SELECT doc_id, unnest({tokens_sql()}) AS w FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl),
tf AS (
  SELECT doc_id, w, count(*) AS tf FROM tok
  WHERE w IN ({_BM25_TERM_LIST}) GROUP BY doc_id, w),
dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT t.doc_id, t.w,
         CAST(round(
             ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
             * (t.tf * {BM25_K1 + 1}) /
               (t.tf + {BM25_K1} * ({1 - BM25_B} + {BM25_B} * d.dl / s.avgdl)),
             6) AS DECIMAL(25,6)) AS term_score
  FROM tf t
  JOIN dfreq f USING (w)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s),
agg AS (
  SELECT q.query_id, sc.doc_id,
         CAST(sum(sc.term_score) AS DECIMAL(25,6)) AS score
  FROM q JOIN scored sc ON q.w = sc.w
  GROUP BY q.query_id, sc.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM agg)
SELECT CAST(query_id AS INT) AS query_id, doc_id, score, rank
FROM ranked WHERE rank <= {BM25_TOP_K}
"""


def _bm25_term_score_raw(tf: str, df: str, dl: str, n_docs: str, avgdl: str) -> str:
    """The UNROUNDED per-term BM25 score as Spark SQL text, in the
    oracle's operator order with DOUBLE literals — the query rounds it,
    the boundary-margin guard test measures it (`raw_score`)."""
    return (
        f"ln(1.0D + ({n_docs} - {df} + 0.5D) / ({df} + 0.5D))"
        f" * ({tf} * {BM25_K1 + 1}D)"
        f" / ({tf} + {BM25_K1}D * ({1 - BM25_B}D + {BM25_B}D * {dl} / {avgdl}))"
    )


def _bm25_query_totals(terms: str, value: str, dtype: str) -> str:
    """SQL text: the (query_id, total) structs of the BM25 queries that
    share a term with the `terms` structs of one document, each the
    `dtype` sum of their `value` field over the query's terms.  A
    document row holds all its terms, so this is the (query, doc) sum
    in-row, without a shuffle."""
    totals = []
    for qid, ws in BM25_QUERIES:
        in_query = ", ".join(f"'{w}'" for w in ws)
        hits = f"filter({terms}, t -> t.w IN ({in_query}))"
        total = (
            f"aggregate({hits}, CAST(0 AS {dtype}),"
            f" (acc, t) -> CAST(acc + t.{value} AS {dtype}))"
        )
        totals.append(
            f"IF(size({hits}) > 0, named_struct('query_id', {qid}, 'total', {total}), NULL)"
        )
    return f"filter(array({', '.join(totals)}), q -> q IS NOT NULL)"


def bm25_doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl, tfs) per document: its token count and the (w, tf)
    structs of the query terms it holds, sorted by term.  Every BM25
    statistic comes from this one tokenization.  NULL text is dropped
    first, as the oracle's unnest drops it (Spark's size(NULL) is -1);
    doc_id is unique in `documents`, so a row is a whole document."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", tokens().alias("ws"))
        .selectExpr(
            "doc_id",
            "CAST(size(ws) AS BIGINT) AS dl",
            f"filter(ws, x -> x IN ({_BM25_TERM_LIST})) AS m",
        )
        .selectExpr(
            "doc_id",
            "dl",
            """transform(array_sort(array_distinct(m)), w ->
                 named_struct('w', w, 'tf', CAST(size(filter(m, x -> x = w)) AS BIGINT)))
               AS tfs""",
        )
    )


def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, terms) per document that holds a query term: the (w, tf,
    raw_score, term_score) struct of each such term, with its raw and
    rounded DECIMAL BM25 score — the scoring core of `text_bm25_topk`."""
    docs = bm25_doc_terms(spark, sf_dir)
    dfs = ", ".join(f"'{w}', count_if(exists(tfs, t -> t.w = '{w}'))" for w in _BM25_TERMS)
    # One scalar row: n_docs, avgdl and every query term's df.
    stats = docs.selectExpr(
        "CAST(count(1) AS BIGINT) AS n_docs",
        "CAST(sum(dl) AS DOUBLE) / count(1) AS avgdl",
        f"map({dfs}) AS dfs",
    )
    raw = _bm25_term_score_raw("t.tf", "element_at(dfs, t.w)", "dl", "n_docs", "avgdl")
    return (
        docs.filter(F.size("tfs") > 0)
        .crossJoin(F.broadcast(stats))  # 1-row scalar aggregate
        .selectExpr(
            "doc_id",
            f"""transform(
                  transform(tfs, t -> named_struct('w', t.w, 'tf', t.tf, 'raw_score', {raw})),
                  t -> named_struct('w', t.w, 'tf', t.tf, 'raw_score', t.raw_score,
                                    'term_score', CAST(round(t.raw_score, 6) AS DECIMAL(25,6))))
                AS terms""",
        )
    )


@query("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: top-{BM25_TOP_K} documents per fixed search
    query (OR semantics over the query's terms), the relevance scorer
    behind every lexical search / retrieval-augmented pipeline.

    Plan: a document row keeps, in-row, its length and the term
    frequencies of the query vocabulary, from one tokenization
    (`bm25_doc_terms`).  Two narrow passes read that relation: a scalar
    aggregate (n_docs, avgdl and every term's df in one row, broadcast)
    and the document rows it scores.  A document row holds all its
    terms, so each query's score sums in-row over the query's terms
    (`_bm25_query_totals`): no doc_id join and no (query, doc) shuffle
    is left, and the one keyed shuffle is the rank window's, whose
    partial top-k runs before it.

    Engine determinism: see the block comment above `_BM25_ORACLE` —
    per-term rounding to 6 decimals absorbs ln()'s last-ulp engine
    disagreement (margin pinned by test_bm25_rounding_margin), and the
    per-document sum is exact DECIMAL accumulation, so ranking ties and
    hash checks are identical on both engines."""
    scores = bm25_doc_scores(spark, sf_dir).selectExpr(
        "doc_id", f"inline({_bm25_query_totals('terms', 'term_score', 'DECIMAL(25,6)')})"
    )
    win = Window.partitionBy("query_id").orderBy(F.desc("total"), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "doc_id", F.col("total").alias("score"), "rank")
    )


# --------------------------------------------------------------------------
# Bigram lift: collocation mining (PMI family, engine-exact arithmetic)
# --------------------------------------------------------------------------
LIFT_MIN_SUPPORT = 5  # bigram must occur at least this often
LIFT_TOP_K = 50

_BIGRAM_LIFT_ORACLE = f"""
WITH w AS (
  SELECT {tokens_sql()} AS ws FROM documents),
uni AS (
  SELECT unnest(ws) AS tok FROM w),
ucnt AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY tok),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM uni),
bi AS (
  SELECT ws[i] AS w1, ws[i+1] AS w2
  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)),
bcnt AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
  FROM bi GROUP BY w1, w2 HAVING count(*) >= {LIFT_MIN_SUPPORT})
SELECT b.w1, b.w2, b.n_xy,
       round((CAST(b.n_xy AS DOUBLE) * t.n_total)
             / (CAST(u1.n AS DOUBLE) * u2.n), 6) AS lift
FROM bcnt b
JOIN ucnt u1 ON u1.tok = b.w1
JOIN ucnt u2 ON u2.tok = b.w2
CROSS JOIN total t
ORDER BY lift DESC, b.w1, b.w2
LIMIT {LIFT_TOP_K}
"""


@query("text_bigram_lift", oracle=_BIGRAM_LIFT_ORACLE)
def text_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top bigrams by lift — n(x,y)·N / (n(x)·n(y)),
    the exponentiated-PMI association measure (lift > 1 ⇒ the pair
    co-occurs more than independence predicts).  The corpus-statistics
    pass behind tokenizer-merge candidates and multi-word-expression
    detection.

    Engine-exactness: counts are integers; the only float op is one
    multiply-divide chain over exactly representable integers in a fixed
    parenthesization, identical on both engines, rounded once — the
    ln()-free form of PMI chosen for the same reason the BM25 query
    rounds per-term (cross-engine libm divergence), but here NO margin
    test is needed at all since no transcendental appears.

    Scale: bigram extraction is in-row (zip of the token array with its
    tail) and exploded — narrow; both count aggregations collapse
    map-side to vocab-sized relations; the two unigram attaches are
    vocab×bigram-vocab equi-joins (no broadcast hints — AQE decides);
    the single-row total attaches via a scalar-aggregate broadcast
    (provably one row); final top-k is TakeOrderedAndProject."""
    low = tokens()
    docs = load_table(spark, sf_dir, "documents").select(low.alias("ws"))
    uni = docs.select(F.explode("ws").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = uni.agg(F.count(F.lit(1)).alias("n_total"))
    bi = docs.select(
        F.explode(
            F.zip_with(
                F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.slice("ws", 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bcnt = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= LIFT_MIN_SUPPORT)
    )
    u1 = ucnt.select(F.col("tok").alias("w1"), F.col("n").alias("n1"))
    u2 = ucnt.select(F.col("tok").alias("w2"), F.col("n").alias("n2"))
    return (
        bcnt.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n_xy",
            F.round(
                (F.col("n_xy").cast("double") * F.col("n_total"))
                / (F.col("n1").cast("double") * F.col("n2")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
        .limit(LIFT_TOP_K)
    )


# --------------------------------------------------------------------------
# Language-ID confusion matrix (classifier eval by composition)
# --------------------------------------------------------------------------
_LANG_CONFUSION_ORACLE = f"""
WITH pred AS ({_LANGID_ORACLE})
SELECT labeled_lang, predicted_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY labeled_lang), 6) AS row_share
FROM pred GROUP BY labeled_lang, predicted_lang
"""


@query("text_lang_confusion", oracle=_LANG_CONFUSION_ORACLE)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID classifier against the stored
    labels — classifier evaluation as a first-class query, built by
    COMPOSITION of the registered `text_language_id` (and of its oracle
    text, so the eval cannot drift from the classifier), the same
    pattern as `similarity_ann_recall_eval`.  Row-normalized shares make
    it a per-class recall table.  One aggregation over the classifier
    output; the share window partitions by true label — classes-sized."""
    from pyspark.sql.window import Window

    pred = text_language_id(spark, sf_dir)
    cnt = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("labeled_lang")
    return cnt.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6
        ).alias("row_share"),
    )


# --------------------------------------------------------------------------
# Tokenizer fertility (chars per token, per language)
# --------------------------------------------------------------------------
_FERTILITY_ORACLE = """
SELECT lang,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       round(CAST(sum(length(text)) AS DOUBLE)
             / sum(len(string_split(text, ' '))), 6) AS chars_per_token
FROM documents
WHERE len(string_split(text, ' ')) > 0
GROUP BY lang
"""


@query("text_tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: characters per (whitespace)
    token — the per-language cost factor a multilingual training budget
    multiplies by (languages with high fertility consume more context
    per word; the real pipeline swaps the whitespace splitter for its
    BPE and the query is unchanged).  Integer sums, one division,
    languages-sized output — a pure single-aggregation pass."""
    toks = F.split("text", " ")
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(toks) > 0)
        .groupBy("lang")
        .agg(
            F.sum(F.length("text")).alias("total_chars"),
            F.sum(F.size(toks)).alias("total_tokens"),
        )
        .select(
            "lang",
            "total_chars",
            "total_tokens",
            F.round(
                F.col("total_chars").cast("double") / F.col("total_tokens"), 6
            ).alias("chars_per_token"),
        )
    )


# --------------------------------------------------------------------------
# Closed-vocabulary OOV rate (fastText-style quality feature)
# --------------------------------------------------------------------------
OOV_VOCAB_SIZE = 500

_OOV_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql()}) AS w FROM documents),
dt AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k FROM tok GROUP BY 1, 2),
vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY sum(k) DESC, w) AS r
    FROM dt GROUP BY w)
  WHERE r <= {OOV_VOCAB_SIZE})
SELECT d.doc_id,
       CAST(sum(d.k) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.w IS NULL THEN d.k ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.w IS NULL THEN d.k ELSE 0 END) * 1.0 / sum(d.k), 6)
         AS oov_rate
FROM dt d LEFT JOIN vocab v ON v.w = d.w
GROUP BY d.doc_id
"""


@query("text_oov_rate", oracle=_OOV_ORACLE)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's top-500
    closed vocabulary — the classic cheap LM-free quality feature (high
    OOV ⇒ OCR noise / non-language / code; the fastText-era companion to
    `pipeline_token_rarity`'s mean-frequency signal, which averages over
    ALL tokens and so can't separate "a few garbage tokens" from
    "uniformly rare prose").  Vocabulary rank ties break (count desc,
    token asc) — deterministic on both engines.

    Scale: occurrences aggregate once to (doc, token, k); the vocabulary
    is a global top-k over the unigram table (TakeOrderedAndProject — no
    full sort) and is FIXED-SIZE (500 rows), so membership is a bounded
    broadcast join against the doc-token relation — the Zipf-hot tokens
    never key a shuffle (the `pipeline_token_rarity` skew lesson), and a
    billions-of-types web vocabulary costs nothing because only the top
    slice ever leaves the aggregation."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.explode(tokens()).alias("w")
        )
    )
    dt = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("k"))
    vocab = (
        dt.groupBy("w")
        .agg(F.sum("k").alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(OOV_VOCAB_SIZE)
        .select("w", F.lit(1).alias("in_v"))
    )
    j = dt.join(F.broadcast(vocab), "w", "left")
    oov_k = F.when(F.col("in_v").isNull(), F.col("k")).otherwise(F.lit(0))
    return j.groupBy("doc_id").agg(
        F.sum("k").alias("n_tokens"),
        F.sum(oov_k).alias("n_oov"),
        F.round(F.sum(oov_k) * 1.0 / F.sum("k"), 6).alias("oov_rate"),
    )


# --------------------------------------------------------------------------
# First-seen n-gram novelty (corpus diversity saturation)
# --------------------------------------------------------------------------
_NOVELTY_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, len(ws) - 2),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
  FROM w),
n_per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
          FROM sh GROUP BY doc_id),
firsts AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
novel AS (SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
          FROM firsts GROUP BY first_doc)
SELECT p.doc_id, p.n_shingles,
       COALESCE(v.n_novel, 0) AS n_novel,
       round(COALESCE(v.n_novel, 0) * 1.0 / p.n_shingles, 6) AS novelty_rate
FROM n_per p LEFT JOIN novel v ON v.doc_id = p.doc_id
"""


@query("text_novelty_rate", oracle=_NOVELTY_ORACLE)
def text_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document share of 3-gram shingles never seen in any
    earlier-id document — the corpus-diversity saturation signal (a
    falling novelty curve as ids grow means new data is mostly re-hash of
    what's already ingested: the dedup-ROI / scrape-saturation estimate,
    Heaps-law measured directly instead of fitted).

    Skew design: novelty NEVER joins on the shingle.  The only
    shingle-keyed operation is `min(doc_id) GROUP BY shingle` — partial
    aggregation combines the Zipf-hot shingles map-side, so no task ever
    holds a hot shingle's posting list.  Per-doc novel counts then come
    from aggregating the FIRSTS relation (one row per distinct shingle)
    by its winner doc, and the final join is doc-keyed — uniform by
    construction.  Compare `dedup_ngram_jaccard`, which must enumerate
    pairs and therefore needs the df-cap; a first-seen statistic needs
    neither."""
    # r14: the per-doc branch and the first-seen branch both read the
    # shingled relation; without a persist each branch re-ran the full
    # tokenize + per-position concat + array_distinct build from the scan
    # (the wave17 multi-branch double-compute hazard).  Pinning the
    # (doc_id, shingles) relation runs the expensive row-local build once.
    d = persist_tracked(
        load_table(spark, sf_dir, "documents")
        .withColumn("tokens", tokens())
        .withColumn("shingles", shingles("tokens", 3))
        .select("doc_id", "shingles")
    )
    # Docs under 3 tokens have no shingles: the oracle's counts derive
    # from the exploded shingle stream so such docs vanish there — drop
    # them here too (a novelty rate over zero shingles is undefined).
    per = d.select("doc_id", F.size("shingles").alias("n_shingles")).filter(
        F.col("n_shingles") >= 1
    )
    sh = d.select(
        "doc_id", F.explode("shingles").alias("s")
    )
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return (
        per.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)) * 1.0 / F.col("n_shingles"), 6
            ).alias("novelty_rate"),
        )
    )


# --------------------------------------------------------------------------
# Phrase search via positional inverted index
# --------------------------------------------------------------------------
PHRASE_TOP_K = 5  # search the 5 globally most frequent bigram phrases

_PHRASE_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
bg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS phrase
  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)),
top AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM bg GROUP BY phrase
  ORDER BY count(*) DESC, phrase
  LIMIT {PHRASE_TOP_K})
SELECT phrase, n_docs, n_occurrences FROM top
"""


@query("text_phrase_search", oracle=_PHRASE_ORACLE)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase query over a POSITIONAL inverted index: doc and occurrence
    counts for the {K} most frequent two-word phrases, where the counts
    are produced by the search-engine plan — posting lists keyed by term
    carrying (doc_id, position), phrase matches found by joining the
    first term's postings with the second term's at position+1.  The
    oracle computes the same counts from a direct adjacent-bigram scan,
    so a hash match proves the positional-index join is equivalent to
    rescanning the text — the standard correctness argument for serving
    phrase queries from an index instead of the corpus.

    Scale: the index build is one posexplode (narrow) and the postings
    shuffle on the TERM — at 100 TB this is the classic partitioned
    inverted index.  The phrase list is a bounded top-K (broadcast as a
    {K}-row relation on both sides of the join), so the join touches only
    postings of the {K}·2 query terms — filter-pushdown on term before
    any shuffle.  The position join (doc_id, pos+1) is an equi-join
    within each term bucket."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("ws")
    )
    post = d.select(
        "doc_id", F.posexplode("ws").alias("pos", "term")
    ).transform(persist_tracked)
    # top-K phrases from the bigram rollup (deterministic tie-break)
    w2 = Window.partitionBy("doc_id").orderBy("pos")
    bg = post.select(
        "doc_id",
        F.concat_ws(" ", "term", F.lead("term").over(w2)).alias("phrase"),
        F.lead("term").over(w2).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    top = (
        bg.groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "phrase")
        .limit(PHRASE_TOP_K)
        .select(
            "phrase",
            F.split("phrase", " ").getItem(0).alias("w1"),
            F.split("phrase", " ").getItem(1).alias("w2"),
        )
    )
    # positional-index join: postings(term=w1) ⋈ postings(term=w2, pos+1)
    p1 = post.join(
        F.broadcast(top.select("phrase", F.col("w1").alias("term"))), "term"
    ).select("phrase", "doc_id", "pos")
    p2 = post.join(
        F.broadcast(top.select("phrase", F.col("w2").alias("term"))), "term"
    ).select("phrase", "doc_id", (F.col("pos") - 1).alias("pos"))
    hits = p1.join(p2, ["phrase", "doc_id", "pos"])
    return hits.groupBy("phrase").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )


# --------------------------------------------------------------------------
# Windowed co-occurrence strength (skip-gram PMI proxy)
# --------------------------------------------------------------------------
COOC_WINDOW = 3  # pair tokens up to 3 positions apart
COOC_MIN_SUPPORT = 5  # PMI's rare-pair bias guard
COOC_TOP_K = 30

_COOC_STRENGTH_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
tok AS (
  SELECT unnest(ws) AS t FROM w),
uni AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),
pr AS (
  SELECT least(ws[i], ws[i+k]) AS w1, greatest(ws[i], ws[i+k]) AS w2
  FROM w,
       unnest(generate_series(1, len(ws) - 1)) AS s(i),
       unnest(generate_series(1, {COOC_WINDOW})) AS o(k)
  WHERE i + k <= len(ws)),
pc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair
  FROM pr GROUP BY w1, w2
  HAVING count(*) >= {COOC_MIN_SUPPORT})
SELECT p.w1, p.w2, p.c_pair, u1.c AS c_w1, u2.c AS c_w2,
       (1000000 * p.c_pair * n.n_tokens) // (u1.c * u2.c)
         AS strength_micro
FROM pc p
JOIN uni u1 ON u1.t = p.w1
JOIN uni u2 ON u2.t = p.w2
CROSS JOIN n
ORDER BY strength_micro DESC, p.w1, p.w2
LIMIT {COOC_TOP_K}
"""


@query("text_cooccurrence_strength", oracle=_COOC_STRENGTH_ORACLE)
def text_cooccurrence_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongest token associations within a ±{W}-position window — the
    word2vec-style skip-gram context matrix, ranked by the integer PMI
    proxy  c(a,b)·N / (c(a)·c(b))  in micro-units.  Complements
    `text_bigram_lift`, which sees only ADJACENT pairs: collocations
    with an intervening word ("neural ___ network") are invisible there
    and first-class here.  Minimum pair support {S} guards PMI's
    rare-pair bias.

    Exactness: ranking a rational a/b across rows cannot rely on float
    division, so the score is ONE truncating div into micro-units —
    identical on both engines — and ties break lexicographically.

    Scale: pair generation is IN-ROW over the token array (flatten/
    transform — O(W·len) per doc inside codegen, never a positional
    self-join, which would be O(len²) per doc through a shuffle); the
    pair rollup shuffles on the (w1,w2) key — uniform by content — and
    the unigram attach joins the AGGREGATED vocabulary, with the final
    top-K a TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("ws")
    )
    uni = (
        d.select(F.explode("ws").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(persist_tracked)
    )
    n = uni.agg(F.sum("c").alias("n_tokens"))
    pair_expr = f"""
      flatten(transform(sequence(1, size(ws) - 1), i ->
        filter(transform(sequence(1, {COOC_WINDOW}), k ->
          CASE WHEN i + k <= size(ws)
               THEN struct(least(ws[i-1], ws[i+k-1]) AS w1,
                           greatest(ws[i-1], ws[i+k-1]) AS w2)
          END), p -> p IS NOT NULL)))
    """
    pc = (
        d.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .filter(F.col("c_pair") >= COOC_MIN_SUPPORT)
    )
    u1 = uni.select(F.col("t").alias("w1"), F.col("c").alias("c_w1"))
    u2 = uni.select(F.col("t").alias("w2"), F.col("c").alias("c_w2"))
    return (
        pc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c_pair",
            "c_w1",
            "c_w2",
            F.expr(
                "(1000000 * c_pair * n_tokens) div (c_w1 * c_w2)"
            ).alias("strength_micro"),
        )
        .orderBy(F.desc("strength_micro"), "w1", "w2")
        .limit(COOC_TOP_K)
    )


# --------------------------------------------------------------------------
# Vocabulary growth curve (Heaps'-law check, first-seen-shard closed form)
# --------------------------------------------------------------------------
VOCAB_SHARDS = 10

_VOCAB_GROWTH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id % {VOCAB_SHARDS} AS shard,
         unnest({tokens_sql()}) AS t
  FROM documents),
per_shard AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_tokens FROM tok
  GROUP BY shard),
first_seen AS (
  SELECT t, CAST(min(shard) AS BIGINT) AS first_shard,
         CAST(count(*) AS BIGINT) AS total_cnt
  FROM tok GROUP BY t),
new_vocab AS (
  SELECT first_shard AS shard,
         CAST(count(*) AS BIGINT) AS vocab_new,
         CAST(count(CASE WHEN total_cnt = 1 THEN 1 END) AS BIGINT)
           AS hapax_new
  FROM first_seen GROUP BY first_shard)
SELECT p.shard,
       CAST(sum(p2.n_tokens) AS BIGINT) AS tokens_cum,
       CAST(COALESCE(sum(v.vocab_new), 0) AS BIGINT) AS vocab_cum,
       CAST(COALESCE(sum(v.hapax_new), 0) AS BIGINT) AS hapax_cum
FROM per_shard p
JOIN per_shard p2 ON p2.shard <= p.shard
LEFT JOIN new_vocab v ON v.shard = p2.shard
GROUP BY p.shard
"""


@query("text_vocab_growth", oracle=_VOCAB_GROWTH_ORACLE)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve over {S} deterministic corpus shards — the
    Heaps'-law diagnostic (vocab ~ tokens^beta): cumulative distinct
    vocabulary and cumulative hapax legomena after each shard, against
    cumulative token volume.  A flattening curve says new data stops
    contributing new language; a linear one says the corpus is still
    under-sampled — the "is more crawl worth it" read.

    Cumulative DISTINCT is the classically hard distributed statistic (a
    running set union across an ordered scan); the FIRST-SEEN closed form
    makes it one pass: vocab_cum(s) = #(tokens whose min shard <= s),
    so the whole curve falls out of a per-token min/count aggregate and a
    {S}-row triangular rollup — no ordered scan, no set state, exact.

    Scale: one token explode + one groupBy on the token (uniform,
    hashed content), then everything is {S}-row arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.expr(f"doc_id % {VOCAB_SHARDS}").alias("shard"),
        F.explode(tokens()).alias("t"),
    ).transform(persist_tracked)
    per_shard = tok.groupBy("shard").agg(F.count(F.lit(1)).alias("n_tokens"))
    first_seen = tok.groupBy("t").agg(
        F.min("shard").alias("first_shard"),
        F.count(F.lit(1)).alias("total_cnt"),
    )
    new_vocab = first_seen.groupBy(
        F.col("first_shard").alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("vocab_new"),
        F.count(F.when(F.col("total_cnt") == 1, 1)).alias("hapax_new"),
    )
    p2 = (
        per_shard.join(new_vocab, "shard", "left")
        .select(
            F.col("shard").alias("s2"),
            "n_tokens",
            F.coalesce("vocab_new", F.lit(0)).alias("vocab_new"),
            F.coalesce("hapax_new", F.lit(0)).alias("hapax_new"),
        )
    )
    return (
        per_shard.select("shard")
        .join(p2, F.col("s2") <= F.col("shard"))
        .groupBy("shard")
        .agg(
            F.sum("n_tokens").alias("tokens_cum"),
            F.sum("vocab_new").alias("vocab_cum"),
            F.sum("hapax_new").alias("hapax_cum"),
        )
    )


# --------------------------------------------------------------------------
# Typo-candidate pairs: FastSS deletion-neighborhood blocking + exact verify
# --------------------------------------------------------------------------
TYPO_MAX_EDITS = 2

_TYPO_ORACLE = f"""
WITH vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest({tokens_sql()}) AS w FROM documents)
  WHERE w <> '' GROUP BY w)
SELECT a.w AS word_a, b.w AS word_b,
       CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist,
       a.freq AS freq_a, b.freq AS freq_b
FROM vocab a JOIN vocab b
  ON a.w < b.w AND levenshtein(a.w, b.w) <= {TYPO_MAX_EDITS}
"""


@query("text_typo_pairs", oracle=_TYPO_ORACLE)
def text_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo/near-spelling candidate pairs over the corpus vocabulary:
    every word pair within Levenshtein distance 2, with corpus
    frequencies — the spelling-normalization / OCR-noise audit a text
    curation pipeline runs before token statistics (SURVEY.md §2.8 text
    family; the character-level cousin of the token-level dedup tiers).

    Algorithm (the scale story): FastSS / SymSpell deletion-neighborhood
    blocking — ed(a,b) ≤ k implies a and b share a string reachable by
    ≤ k character DELETIONS from each (align the pair: matched positions
    form the common subsequence), so the candidate join is an EQUI-join
    on the ≤ L + C(L,2) deletion variants per word, never an all-pairs
    cross join; `levenshtein ≤ 2` then verifies candidates exactly
    (deletion sharing over-approximates: it admits up to ed 2k).  The
    oracle brute-forces the |vocab|² join — the engine must find exactly
    the same pairs from the blocked plan.  At 100 TB the variant
    generation is a narrow per-row transform (no shuffle) and the join
    shuffles |vocab|·O(L²) short signatures; very short words collapse
    into alphabet-bounded signature buckets (the '' and 1-char
    signatures), the natural df-cap candidates if a real corpus makes
    them hot.

    Exactness: distances and frequencies are pure integers; Spark and
    DuckDB agree on unit-cost Levenshtein."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .transform(persist_tracked)
    )
    # Deletion neighborhood: the word, all 1-deletions, all 2-deletions.
    sigs = vocab.select(
        "w",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array("w"),
                    F.expr(
                        "transform(sequence(0, length(w) - 1), i ->"
                        " concat(substring(w, 1, i), substring(w, i + 2)))"
                    ),
                    F.expr(
                        "CASE WHEN length(w) >= 2 THEN flatten("
                        " transform(sequence(0, length(w) - 2), i ->"
                        "  transform(sequence(i + 1, length(w) - 1), j ->"
                        "   concat(substring(w, 1, i),"
                        "          substring(w, i + 2, j - i - 1),"
                        "          substring(w, j + 2)))))"
                        " ELSE array() END"
                    ),
                )
            )
        ).alias("sig"),
    )
    sa = sigs.select(F.col("w").alias("word_a"), "sig")
    sb = sigs.select(F.col("w").alias("word_b"), "sig")
    cand = (
        sa.join(sb, "sig")
        .filter(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b")
        .distinct()
    )
    verified = cand.filter(
        F.levenshtein("word_a", "word_b") <= TYPO_MAX_EDITS
    )
    fa = vocab.select(F.col("w").alias("word_a"), F.col("freq").alias("freq_a"))
    fb = vocab.select(F.col("w").alias("word_b"), F.col("freq").alias("freq_b"))
    return (
        verified.join(fa, "word_a")
        .join(fb, "word_b")
        .select(
            "word_a",
            "word_b",
            F.levenshtein("word_a", "word_b").cast("long").alias("dist"),
            "freq_a",
            "freq_b",
        )
    )


# --------------------------------------------------------------------------
# Proximity search: two terms within a token window, per-doc min distance
# --------------------------------------------------------------------------
PROX_TERM_A = "hash"
PROX_TERM_B = "join"
PROX_WINDOW = 3  # report docs where the terms appear within 3 positions

_PROXIMITY_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
pos AS (
  SELECT doc_id,
         list_filter(list_transform(generate_series(1, len(ws)),
                     i -> CASE WHEN ws[i] = '{PROX_TERM_A}' THEN i END),
                     x -> x IS NOT NULL) AS pa,
         list_filter(list_transform(generate_series(1, len(ws)),
                     i -> CASE WHEN ws[i] = '{PROX_TERM_B}' THEN i END),
                     x -> x IS NOT NULL) AS pb
  FROM w),
both_terms AS (
  SELECT doc_id,
         CAST(len(pa) AS BIGINT) AS n_a,
         CAST(len(pb) AS BIGINT) AS n_b,
         CAST(list_min(flatten(list_transform(pa,
              a -> list_transform(pb, b -> abs(a - b))))) AS BIGINT)
           AS min_distance
  FROM pos WHERE len(pa) > 0 AND len(pb) > 0)
SELECT doc_id, n_a, n_b, min_distance
FROM both_terms WHERE min_distance <= {PROX_WINDOW}
"""


@query("text_proximity_search", oracle=_PROXIMITY_ORACLE)
def text_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity query: documents where '{PROX_TERM_A}' and
    '{PROX_TERM_B}' occur within {PROX_WINDOW} token positions, with both
    term frequencies and the minimum pairwise distance — the NEAR/k
    operator of search engines (phrase search is the distance-1 special
    case; `text_phrase_search` covers that via posting lists).

    Plan — the POSTING-LIST formulation: tokens are position-exploded and
    immediately filtered to the two query terms (only matching positions
    ever leave the scan — a tiny fraction of the corpus), then ONE
    doc-partitioned LAG window computes adjacent gaps in the merged
    position order.  The min pairwise distance min|a−b| is ALWAYS
    achieved by a pair adjacent in merged order (any non-adjacent pair
    has an intervening position giving a tighter gap with one of its
    ends), so the O(occ_a·occ_b) cross product never materializes; the
    oracle keeps the brute-force pairwise min — the hash match proves the
    adjacency identity.  (First cut used in-row HOF arrays: 9.8 s at
    sf0.1, and the let-hoisted variant still re-evaluated the merged
    array across Project/Filter boundaries via CollapseProject — the
    BENCH_NOTES_r6 §2 failure mode; the relational form is both the
    faster and the cluster-honest shape.)  Pure integers."""
    d = load_table(spark, sf_dir, "documents")
    ws = tokens()
    tok = (
        d.select("doc_id", F.posexplode(ws).alias("p", "w"))
        .filter(F.col("w").isin(PROX_TERM_A, PROX_TERM_B))
    )
    wd = Window.partitionBy("doc_id").orderBy("p")
    prev_w = F.lag("w").over(wd)
    prev_p = F.lag("p").over(wd)
    gapped = tok.select(
        "doc_id",
        "w",
        F.when(prev_w.isNotNull() & (prev_w != F.col("w")), F.col("p") - prev_p)
        .alias("gap"),
    )
    per_doc = gapped.groupBy("doc_id").agg(
        F.sum(F.when(F.col("w") == PROX_TERM_A, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("w") == PROX_TERM_B, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.min("gap").cast("long").alias("min_distance"),
    )
    return per_doc.filter(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("min_distance") <= PROX_WINDOW)
    )


# --------------------------------------------------------------------------
# Term position profile: where in documents does a term occur?
# --------------------------------------------------------------------------
PROFILE_TERM = "scan"

_TERM_POSITION_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
hits AS (
  SELECT doc_id,
         (10 * (i - 1)) // len(ws) AS pos_decile
  FROM w, unnest(generate_series(1, len(ws))) AS t(i)
  WHERE ws[i] = '{PROFILE_TERM}')
SELECT pos_decile,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM hits GROUP BY pos_decile
"""


@query("text_term_position_profile", oracle=_TERM_POSITION_ORACLE)
def text_term_position_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional profile of the term '{PROFILE_TERM}': occurrence counts
    by WITHIN-DOCUMENT position decile (0 = opening tenth, 9 = closing
    tenth) — boilerplate detection's positional signal (headers/footers
    concentrate at the edges; organic usage spreads) and the relevance-
    weighting input BM25F-style scoring uses.

    Plan: posexplode + term filter — only matching positions leave the
    scan (the `text_proximity_search` posting shape); the decile is pure
    integer arithmetic on (position, doc length) and the rollup folds
    onto a 10-cell domain.  Pure integers."""
    d = load_table(spark, sf_dir, "documents")
    ws = tokens()
    hits = (
        d.select("doc_id", F.size(ws).alias("n_toks"), F.posexplode(ws).alias("p", "w"))
        .filter(F.col("w") == PROFILE_TERM)
        .select(
            "doc_id",
            F.expr("(10 * p) div n_toks").alias("pos_decile"),
        )
    )
    return hits.groupBy("pos_decile").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# --------------------------------------------------------------------------
# Hapax legomena profile per source (lexical richness)
# --------------------------------------------------------------------------
_HAPAX_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({tokens_sql()}) AS w
  FROM documents),
wc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY source, w)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS hapax_ratio
FROM wc GROUP BY source
"""


@query("text_hapax_ratio", oracle=_HAPAX_ORACLE)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hapax legomena profile: vocabulary size, token count,
    and the share of types occurring exactly once — the lexical-richness
    signal (a source whose hapax ratio collapses is template/boilerplate
    text; one where it explodes is OCR noise or ID spam).  Complements
    `text_vocab_growth` (Heaps curve over time) with the per-source
    cross-section.

    Scale: one (source, token)-keyed count — partial aggregation folds
    Zipf-hot tokens map-side — then a source-keyed fold over the
    vocabulary relation.  Pure integers, one final division."""
    tok = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(tokens()).alias("w")
    )
    wc = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return wc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").alias("n_tokens"),
        hapax.alias("n_hapax"),
        F.round(hapax * 1.0 / F.count(F.lit(1)), 6).alias("hapax_ratio"),
    )


# --------------------------------------------------------------------------
# Cross-source vocabulary overlap (pairwise Jaccard, join-free on shingles)
# --------------------------------------------------------------------------
_VOCAB_OVERLAP_ORACLE = f"""
WITH ss AS (
  SELECT DISTINCT source,
         array_to_string(list_slice({tokens_sql()},
                                    i.i, i.i + 2), ' ') AS sh
  FROM documents,
       unnest(generate_series(1, len(string_split(text, ' ')) - 2)) AS i(i)),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM ss GROUP BY source),
sets AS (
  SELECT sh, list_sort(list(source)) AS arr FROM ss GROUP BY sh),
inter AS (
  SELECT t1.a AS src_a, t2.b AS src_b, CAST(count(*) AS BIGINT) AS n_common
  FROM sets, unnest(arr) AS t1(a), unnest(arr) AS t2(b)
  WHERE t1.a < t2.b
  GROUP BY 1, 2),
grid AS (
  SELECT pa.source AS src_a, pa.n AS n_a, pb.source AS src_b, pb.n AS n_b
  FROM per pa JOIN per pb ON pa.source < pb.source)
SELECT g.src_a, g.src_b, g.n_a, g.n_b,
       COALESCE(i.n_common, 0) AS n_common,
       round(COALESCE(i.n_common, 0) * 1.0
             / (g.n_a + g.n_b - COALESCE(i.n_common, 0)), 6) AS jaccard
FROM grid g LEFT JOIN inter i
  ON g.src_a = i.src_a AND g.src_b = i.src_b
"""


@query("text_source_vocab_overlap", oracle=_VOCAB_OVERLAP_ORACLE)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-gram-vocabulary Jaccard between every pair of corpus
    sources — the source-redundancy matrix a mixture designer reads
    before weighting (two sources with ~1.0 overlap are the same scrape
    twice; `pipeline_drift_monitor` compares metadata mixes, this
    compares CONTENT).

    Skew design: nothing ever joins on a shingle.  Per-shingle source
    SETS are one groupBy (collect_set over the 20-source domain, so each
    group's state is <= |sources|), pairs explode from each set in-row
    (<= C(20,2) per shingle), and intersections aggregate onto the
    190-row pair grid.  Unions come from per-source totals via
    |A|+|B|-|A∩B| — no second pass.

    One plan, no persist: the pair aggregate also holds the DIAGONAL
    cells (x, x), and a shingle holds source x once, so count(x, x) is
    x's distinct-shingle total.  The aggregate has at most |sources|²
    cells, so it folds into one row, and the pair grid, with both
    totals and the intersection of each pair, explodes from that row.
    The aggregate has one reader and no join follows it, so the
    corpus-wide collect_set runs once."""

    # spread(): the sf0.1 documents scan is ONE split, so without it the
    # whole tokenize→shingle→explode pipeline runs on one core (no-op
    # once the scan has ≥ parallelism splits).
    d = spread(load_table(spark, sf_dir, "documents")).withColumn("tokens", tokens())
    d = d.withColumn("shingles", shingles("tokens", 3))
    sets = (
        d.select("source", F.explode("shingles").alias("sh"))
        .groupBy("sh")
        .agg(F.sort_array(F.collect_set("source")).alias("arr"))
    )
    pairs = sets.selectExpr(
        """inline(flatten(transform(arr, (x, i) ->
             transform(slice(arr, i + 1, size(arr)),
                       y -> struct(x AS src_a, y AS src_b)))))"""
    )
    cells = pairs.groupBy("src_a", "src_b").agg(F.count(F.lit(1)).alias("n_common"))
    # The <= |sources|² cells in one row; the grid explodes in-row from
    # the diagonal sorted by source, each pair's n_common summed from its
    # cell (0 when the pair shares no shingle).
    grid = (
        cells.selectExpr("collect_list(struct(src_a, src_b, n_common)) AS cells")
        .selectExpr("cells", "array_sort(filter(cells, c -> c.src_a = c.src_b)) AS diag")
        .selectExpr(
            """inline(flatten(transform(diag, (x, i) ->
                 transform(slice(diag, i + 2, size(diag)), y ->
                   struct(x.src_a AS src_a, y.src_a AS src_b,
                          x.n_common AS n_a, y.n_common AS n_b,
                          aggregate(filter(cells, c -> c.src_a = x.src_a
                                                   AND c.src_b = y.src_a),
                                    0L, (acc, c) -> acc + c.n_common)
                            AS n_common)))))"""
        )
    )
    return grid.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "n_common",
        F.round(
            F.col("n_common") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
        ).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# Type-token ratio by document-length bucket
# --------------------------------------------------------------------------
TTR_BUCKET_TOKENS = 10

_TTR_ORACLE = f"""
WITH d AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct({tokens_sql()})) AS BIGINT)
           AS n_types
  FROM documents)
SELECT n_tokens // {TTR_BUCKET_TOKENS} AS length_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_types) AS BIGINT) AS total_types,
       round(CAST(sum(n_types) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE), 6)
         AS ttr
FROM d GROUP BY 1 ORDER BY length_bucket
"""


@query("text_ttr_by_length", oracle=_TTR_ORACLE)
def text_ttr_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per document-length bucket — the lexical-diversity
    curve controlled for length (raw TTR falls mechanically with doc
    length, so comparing sources or filters on uncontrolled TTR is a
    classic corpus-QA mistake; this is the length-stratified read that
    makes `text_vocab_growth` actionable per document).

    One narrow per-row pass (token and distinct-token counts are in-row
    array ops, no explode), then a map-combinable aggregate onto the
    ~10-bucket length domain; integer sums, one rounded division."""
    d = load_table(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tokens()))
        .cast("long")
        .alias("n_types"),
    )
    return (
        d.groupBy(
            F.expr(f"n_tokens div {TTR_BUCKET_TOKENS}").alias("length_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_types").alias("total_types"),
            F.round(
                F.sum("n_types").cast("double")
                / F.sum("n_tokens").cast("double"),
                6,
            ).alias("ttr"),
        )
        .orderBy("length_bucket")
    )


# --------------------------------------------------------------------------
# Pairwise source unigram total-variation distance (content drift matrix)
# --------------------------------------------------------------------------
_UNIGRAM_TV_ORACLE = f"""
WITH cells AS (
  SELECT source, w.w AS word, CAST(count(*) AS BIGINT) AS c
  FROM documents, unnest({tokens_sql()}) AS w(w)
  GROUP BY 1, 2),
per AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY source),
words AS (SELECT DISTINCT word FROM cells),
grid AS (
  SELECT pa.source AS src_a, pa.n AS n_a, pb.source AS src_b, pb.n AS n_b
  FROM per pa JOIN per pb ON pa.source < pb.source),
terms AS (
  SELECT g.src_a, g.src_b, g.n_a, g.n_b,
         abs(CAST(COALESCE(ca.c, 0) AS HUGEINT) * g.n_b
             - CAST(COALESCE(cb.c, 0) AS HUGEINT) * g.n_a) AS term
  FROM grid g CROSS JOIN words w
  LEFT JOIN cells ca ON ca.source = g.src_a AND ca.word = w.word
  LEFT JOIN cells cb ON cb.source = g.src_b AND cb.word = w.word)
SELECT src_a, src_b, n_a AS tokens_a, n_b AS tokens_b,
       round(CAST(sum(term) AS DOUBLE)
             / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
         AS tv_distance
FROM terms GROUP BY src_a, src_b, n_a, n_b
"""


@query("text_source_unigram_tv", oracle=_UNIGRAM_TV_ORACLE)
def text_source_unigram_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise total-variation distance between source unigram
    distributions — the CONTENT-drift matrix (`pipeline_drift_monitor`
    compares each source's metadata mix to the corpus;
    `text_source_vocab_overlap` compares vocabularies as sets; this
    compares the actual word-frequency distributions pair by pair, the
    strongest same-scrape-twice signal).  TV chosen over KL/JS
    deliberately: it is rational, so the matrix is exactly
    cross-engine reproducible.

    Exactness: |p−q| terms are cleared to integers by cross-multiplying
    the token totals (|c_a·n_b − c_b·n_a|, 128-bit), summed exactly,
    divided once.  Scale: word cells aggregate map-side; the per-word
    count MAP (≤ |sources| entries) meets the 190-row source-pair grid
    in one vocabulary×pairs pass — no per-pair corpus scan, and the
    only join key is the bounded source domain."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.select(
            "source",
            F.explode(tokens()).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cells = persist_tracked(cells)
    per = cells.groupBy("source").agg(F.sum("c").alias("n"))
    wmap = cells.groupBy("word").agg(
        F.map_from_entries(
            F.collect_list(F.struct("source", "c"))
        ).alias("m")
    )
    pa = per.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    pb = per.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    grid = pa.join(pb, pa.src_a < pb.src_b)
    terms = wmap.crossJoin(grid).select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        F.abs(
            F.coalesce(F.element_at("m", F.col("src_a")), F.lit(0)).cast(D38)
            * F.col("n_b")
            - F.coalesce(F.element_at("m", F.col("src_b")), F.lit(0)).cast(D38)
            * F.col("n_a")
        ).alias("term"),
    )
    return terms.groupBy("src_a", "src_b", "n_a", "n_b").agg(
        F.round(
            F.sum("term").cast("double")
            / (2.0 * F.col("n_a").cast("double") * F.col("n_b").cast("double")),
            6,
        ).alias("tv_distance")
    ).select(
        "src_a",
        "src_b",
        F.col("n_a").alias("tokens_a"),
        F.col("n_b").alias("tokens_b"),
        "tv_distance",
    )


# --------------------------------------------------------------------------
# Duplication rate by document length bucket
# --------------------------------------------------------------------------
DUP_LEN_BUCKET = 500  # n_chars per bucket

_DUP_BY_LENGTH_ORACLE = f"""
WITH d AS (
  SELECT doc_id, n_chars // {DUP_LEN_BUCKET} AS len_bucket,
         md5(array_to_string(
             list_slice(string_split(text, ' '), 1, {ROI_HEAD_K}), ' '))
           AS dig
  FROM documents),
cnt AS (SELECT dig, count(*) AS c FROM d GROUP BY dig),
m AS (
  SELECT d.len_bucket, CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END AS is_dup
  FROM d JOIN cnt USING (dig))
SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
       round(CAST(sum(is_dup) AS DOUBLE) / count(*), 6) AS dup_share
FROM m GROUP BY len_bucket ORDER BY len_bucket
"""


@query("text_duplication_vs_length", oracle=_DUP_BY_LENGTH_ORACLE)
def text_duplication_vs_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication rate as a function of document length ({DUP_LEN_BUCKET}-
    char buckets, head-fingerprint granularity): short documents duplicate
    far more often (templates, boilerplate snippets), and this curve is
    what justifies length-conditioned dedup thresholds — a flat curve
    means one global threshold is fine, a steep one means short docs need
    their own pass.

    Scale: one digest groupBy + the digest-keyed bounded-multiplicity
    join back (`pipeline_quality_dedup_matrix`'s shape), folded onto the
    bounded length-bucket domain."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"n_chars div {DUP_LEN_BUCKET}").alias("len_bucket"),
        F.md5(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, ROI_HEAD_K))
        ).alias("dig"),
    )
    d = persist_tracked(d)
    cnt = d.groupBy("dig").agg(F.count(F.lit(1)).alias("c"))
    m = d.join(cnt, "dig").select(
        "len_bucket",
        F.when(F.col("c") >= 2, 1).otherwise(0).alias("is_dup"),
    )
    return (
        m.groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").alias("n_dup_docs"),
            F.round(
                F.sum("is_dup").cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_share"),
        )
        .orderBy("len_bucket")
    )


# --------------------------------------------------------------------------
# Language signature overlap: top-K char-trigram Jaccard between languages
# --------------------------------------------------------------------------
LANG_SIG_K = 50

_LANG_SIG_ORACLE = f"""
WITH tri AS (
  SELECT lang, substring(lower(text), i.i, 3) AS g
  FROM documents, unnest(generate_series(1, length(text) - 2)) AS i(i)
  WHERE length(text) >= 3),
cnt AS (SELECT lang, g, CAST(count(*) AS BIGINT) AS c FROM tri GROUP BY 1, 2),
rk AS (
  SELECT lang, g,
         row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS r
  FROM cnt),
sig AS (
  SELECT lang, list(g) AS gs FROM rk WHERE r <= {LANG_SIG_K} GROUP BY lang)
SELECT a.lang AS lang_a, b.lang AS lang_b,
       CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS shared,
       round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
             / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))),
             6) AS jaccard
FROM sig a JOIN sig b ON a.lang < b.lang
ORDER BY lang_a, lang_b
"""


@query("text_lang_signature_jaccard", oracle=_LANG_SIG_ORACLE)
def text_lang_signature_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-signature confusability: each language's top-{LANG_SIG_K}
    character trigrams (the classic language-ID feature set) compared
    pairwise by Jaccard — high overlap between two languages means the
    n-gram language-ID (`text_language_id`) will confuse them, and this
    matrix says WHERE to spend discriminating features.

    Scale: the only corpus-sized operation is one (lang, trigram) groupBy
    (map-side combine; in-row trigram explode).  The ranking window is
    lang-PARTITIONED over a BOUNDED relation (distinct char trigrams ≤
    charset³, a fixed-alphabet domain, not corpus-sized); signatures are
    {LANG_SIG_K}-element arrays over the 5-language grid — everything
    after the groupBy is driver-trivial."""
    # `lower(text)` is hoisted OUT of the position lambda (r14): inside
    # `transform` it re-lowercased the whole document once per position —
    # O(len²) characters per doc (higher-order lambdas evaluate their
    # non-lambda subtrees per element; Catalyst does no loop-invariant
    # hoisting).  Materializing it once as a column makes the trigram
    # pass O(len), identical output.
    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 3
    ).select(
        "lang", F.lower("text").alias("lt")
    ).select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(lt) - 2),"
                " i -> substring(lt, i, 3))"
            )
        ).alias("g"),
    )
    cnt = d.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), "g")
    sig = (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= LANG_SIG_K)
        .groupBy("lang")
        .agg(F.collect_set("g").alias("gs"))
    )
    a = sig.select(F.col("lang").alias("lang_a"), F.col("gs").alias("ga"))
    b = sig.select(F.col("lang").alias("lang_b"), F.col("gs").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    return (
        a.join(b, F.col("lang_a") < F.col("lang_b"))
        .select(
            "lang_a",
            "lang_b",
            inter.cast("long").alias("shared"),
            F.round(
                inter.cast("double")
                / (F.size("ga") + F.size("gb") - inter),
                6,
            ).alias("jaccard"),
        )
        .orderBy("lang_a", "lang_b")
    )


# --------------------------------------------------------------------------
# Per-source corpus quality profile (integer count shares)
# --------------------------------------------------------------------------
def _source_quality_oracle() -> str:
    return f"""
WITH d AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_filter({tokens_sql()},
                              w -> w IN ({_sql_list(STOPWORDS)})))
              AS BIGINT) AS n_stop,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(CAST(sum(n_stop) AS DOUBLE) / sum(n_tok), 6) AS stopword_share,
       round(CAST(sum(n_chars) AS DOUBLE) / sum(n_tok), 6) AS chars_per_token
FROM d GROUP BY source ORDER BY source
"""


@query("text_source_quality_profile", oracle=_source_quality_oracle())
def text_source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus quality profile: token mass, stopword share, and
    chars-per-token — the source-level roll-up of `text_quality_score`'s
    per-doc features, read the way a mixture designer reads it (a source
    whose stopword share collapses is code/tables, one whose
    chars-per-token spikes is non-natural text; both get different
    filters, and the DENOMINATORS here size each source's token budget).

    Exactness + scale: all three ratios are exact integer-count sums
    (in-row token/stopword folds, metadata chars) divided once per
    source; one source-keyed map-combinable aggregate, no joins, no
    windows."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.size(
            F.filter(
                tokens(), lambda w: w.isin(STOPWORDS)
            )
        )
        .cast("long")
        .alias("n_stop"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(
                F.sum("n_stop").cast("double") / F.sum("n_tok"), 6
            ).alias("stopword_share"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_tok"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Unigram-LM cross-entropy quality proxy (CCNet-tier perplexity filter)
# --------------------------------------------------------------------------
_LOGLOSS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql()}) AS w FROM documents),
vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_tok,
         CAST(count(*) AS BIGINT) AS v FROM vocab),
lnp AS (
  SELECT w,
         CAST(round((ln(cnt + 1.0) - ln(CAST(n_tok + v AS DOUBLE)))
                    * 1000000.0, 0) AS BIGINT) AS lnp_micro
  FROM vocab CROSS JOIN tot),
dc AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM tok
  GROUP BY doc_id, w),
pd AS (
  SELECT doc_id,
         CAST((0 - sum(c * lnp_micro)) // sum(c) AS BIGINT) AS ll_pt_micro,
         CAST(sum(c) AS BIGINT) AS n_tokens
  FROM dc JOIN lnp USING (w) GROUP BY doc_id)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(p.ll_pt_micro) // count(*) AS BIGINT) AS avg_logloss_micro,
       CAST(min(p.ll_pt_micro) AS BIGINT) AS min_logloss_micro,
       CAST(max(p.ll_pt_micro) AS BIGINT) AS max_logloss_micro
FROM pd p JOIN documents d USING (doc_id)
GROUP BY d.source
"""


def unigram_lnp_terms(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """((w, raw_lnp, lnp_micro), (doc_id, w, c)): the smoothed unigram
    log-probabilities (raw and micro-rounded) plus the persisted per-doc
    term counts — shared by `text_unigram_logloss` and the
    rounding-margin guard test."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens()).alias("w")
    )
    dc = tok.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    dc = persist_tracked(dc)
    vocab = dc.groupBy("w").agg(F.sum("c").cast("long").alias("cnt"))
    tot = vocab.agg(
        F.sum("cnt").cast("long").alias("n_tok"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    raw_lnp = F.log(F.col("cnt") + 1.0) - F.log(
        (F.col("n_tok") + F.col("v")).cast("double")
    )
    lnp = vocab.crossJoin(F.broadcast(tot)).select(
        "w",
        raw_lnp.alias("raw_lnp"),
        F.round(raw_lnp * 1000000.0, 0).cast("long").alias("lnp_micro"),
    )
    return lnp, dc


@query("text_unigram_logloss", oracle=_LOGLOSS_ORACLE)
def text_unigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-LM cross-entropy profile — the CCNet-style
    perplexity quality filter, expressed without a neural LM: fit an
    add-one-smoothed unigram model on the corpus itself, score every
    document by its per-token negative log-likelihood, and report each
    source feed's mean/min/max.  High-logloss feeds are the gibberish /
    OOV-heavy candidates a perplexity gate would trim first.

    Engine determinism: ln p(w) is rounded to 6 decimals and micro-scaled
    per VOCABULARY WORD before accumulation (BM25 pattern), so per-doc
    sums are exact integers; per-doc and per-source means use integer
    division (all-positive operands, truncation ≡ floor).

    Scale: vocabulary fit is one word-keyed partial agg; the score join
    attaches the per-word λ to (doc_id, word) COUNTS — 1:1 multiplicity,
    the tf·idf join shape, AQE-skew-splittable — never to raw token
    instances; everything after is doc- then source-keyed."""
    d = load_table(spark, sf_dir, "documents")
    lnp, dc = unigram_lnp_terms(spark, sf_dir)
    pd = (
        dc.join(lnp.drop("raw_lnp"), "w")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "CAST((0 - sum(c * lnp_micro)) div sum(c) AS BIGINT)"
            ).alias("ll_pt_micro"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
    )
    return (
        pd.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.expr(
                "CAST(sum(CAST(ll_pt_micro AS DECIMAL(38,0))) div count(1) "
                "AS BIGINT)"
            ).alias("avg_logloss_micro"),
            F.min("ll_pt_micro").cast("long").alias("min_logloss_micro"),
            F.max("ll_pt_micro").cast("long").alias("max_logloss_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Readability profile (Flesch reading-ease, integer micro arithmetic)
# --------------------------------------------------------------------------
_READABILITY_ORACLE = """
WITH f AS (
  SELECT source,
         greatest(len(string_split(text, ' ')), 1) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS s,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS y
  FROM documents),
pd AS (
  SELECT source, w, s, y,
         206835000 - (1015000 * w) // s - (84600000 * y) // w AS fm
  FROM f)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(fm) // count(*) AS BIGINT) AS avg_flesch_micro,
       CAST(min(fm) AS BIGINT) AS min_flesch_micro,
       CAST(max(fm) AS BIGINT) AS max_flesch_micro,
       CAST((1000 * sum(w)) // sum(s) AS BIGINT) AS words_per_sentence_milli,
       CAST((1000 * sum(y)) // sum(w) AS BIGINT) AS syllables_per_word_milli
FROM pd GROUP BY source
"""


@query("text_readability_profile", oracle=_READABILITY_ORACLE)
def text_readability_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch reading-ease profile: score = 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/word), with syllables
    approximated as vowel groups (`[aeiouy]+`) and every component
    floored into exact micro-integers — readability is the classic
    cheap quality signal next to stopword/punctuation ratios, and a
    feed whose average score collapses is machine-generated or OCR
    garbage.  All counters are per-row regexp counts (zero-shuffle
    narrow pass); the single shuffle is the 20-row source rollup.

    Engine determinism: the score is a pure integer formula
    (206835000 − 1015000·w div s − 84600000·y div w); Spark `div` and
    DuckDB `//` both truncate toward zero (probed), so no floats exist
    anywhere."""
    d = load_table(spark, sf_dir, "documents")
    f = d.select(
        "source",
        F.greatest(F.size(F.split("text", " ")), F.lit(1))
        .cast("long")
        .alias("w"),
        F.greatest(
            F.size(F.regexp_extract_all("text", F.lit("[.!?]"), 0)), F.lit(1)
        )
        .cast("long")
        .alias("s"),
        F.greatest(
            F.size(
                F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)
            ),
            F.lit(1),
        )
        .cast("long")
        .alias("y"),
    )
    pd = f.withColumn(
        "fm",
        F.expr("206835000 - (1015000 * w) div s - (84600000 * y) div w"),
    )
    return (
        pd.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            # per-source sums accumulate in DECIMAL(38,0) for 100 TB
            # headroom (matches DuckDB's HUGEINT sum); div truncates
            # identically on both engines.
            F.expr(
                "CAST(sum(CAST(fm AS DECIMAL(38,0))) div count(1) "
                "AS BIGINT)"
            ).alias("avg_flesch_micro"),
            F.min("fm").cast("long").alias("min_flesch_micro"),
            F.max("fm").cast("long").alias("max_flesch_micro"),
            F.expr(
                "CAST((1000 * sum(CAST(w AS DECIMAL(38,0)))) div sum(s) "
                "AS BIGINT)"
            ).alias("words_per_sentence_milli"),
            F.expr(
                "CAST((1000 * sum(CAST(y AS DECIMAL(38,0)))) div sum(w) "
                "AS BIGINT)"
            ).alias("syllables_per_word_milli"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Pairwise source Hellinger distance (content-drift matrix, sqrt-exact)
# --------------------------------------------------------------------------
_HELLINGER_ORACLE = f"""
WITH cells AS (
  SELECT source, w.w AS word, CAST(count(*) AS BIGINT) AS c
  FROM documents, unnest({tokens_sql()}) AS w(w)
  GROUP BY 1, 2),
per AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY source),
words AS (SELECT DISTINCT word FROM cells),
grid AS (
  SELECT pa.source AS src_a, pa.n AS n_a, pb.source AS src_b, pb.n AS n_b
  FROM per pa JOIN per pb ON pa.source < pb.source),
terms AS (
  SELECT g.src_a, g.src_b, g.n_a, g.n_b,
         CAST(round(sqrt((CAST(COALESCE(ca.c, 0) AS DOUBLE)
                          * COALESCE(cb.c, 0))
                         / (CAST(g.n_a AS DOUBLE) * g.n_b))
                    * 1000000000.0, 0) AS BIGINT) AS bc_term
  FROM grid g CROSS JOIN words w
  LEFT JOIN cells ca ON ca.source = g.src_a AND ca.word = w.word
  LEFT JOIN cells cb ON cb.source = g.src_b AND cb.word = w.word)
SELECT src_a, src_b, n_a AS tokens_a, n_b AS tokens_b,
       CAST(sum(bc_term) AS BIGINT) AS bc_nano,
       round(sqrt(greatest(1.0 - CAST(sum(bc_term) AS DOUBLE) / 1000000000.0,
                           0.0)), 6) AS hellinger
FROM terms GROUP BY src_a, src_b, n_a, n_b
"""


@query("text_source_hellinger", oracle=_HELLINGER_ORACLE)
def text_source_hellinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Hellinger distance between source unigram distributions —
    the geometric companion to `text_source_unigram_tv`: TV weights every
    frequency gap linearly (dominated by head words), Hellinger's
    √(p·q) Bhattacharyya kernel is sensitive to SUPPORT disagreement
    (tail words one source lacks), so the two matrices disagree exactly
    when sources share head vocabulary but diverge in the tail — the
    signature of same-template-different-content scrapes.

    Engine determinism: unlike ln(), IEEE sqrt and division are
    correctly-rounded on both engines, so each per-word √(c_a·c_b /
    (n_a·n_b)) term is bit-identical; terms are NANO-rounded to BIGINT
    and summed exactly (order-free), and the final 1−BC√ is one shared
    double chain rounded once.  Nano (1e9), not micro, units: each
    rounded term carries ≤ 0.5 units of signed error, so the
    accumulated bound is |vocab|/2 units — at a production vocabulary
    of 10^7 words that is ≤ 5e6 nano = 0.005 of the BC mass (vs 5.0 —
    the whole scale — in micro units; r11 ADVICE).  Headroom is safe:
    BC ≤ 1 ⟹ the sum is ≤ 1e9 + |vocab|/2 ≪ 2^63.

    Scale: identical posture to the TV matrix — word cells aggregate
    map-side, the per-word count MAP meets the 190-row source-pair grid
    in one vocabulary×pairs pass, and the only join key is the bounded
    source domain."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.select(
            "source",
            F.explode(tokens()).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cells = persist_tracked(cells)
    per = cells.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    wmap = cells.groupBy("word").agg(
        F.map_from_entries(F.collect_list(F.struct("source", "c"))).alias("m")
    )
    pa = per.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    pb = per.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    grid = pa.join(pb, pa.src_a < pb.src_b)
    ca = F.coalesce(F.element_at("m", F.col("src_a")), F.lit(0))
    cb = F.coalesce(F.element_at("m", F.col("src_b")), F.lit(0))
    terms = wmap.crossJoin(grid).select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        F.round(
            F.sqrt(
                (ca.cast("double") * cb)
                / (F.col("n_a").cast("double") * F.col("n_b"))
            )
            * 1000000000.0,
            0,
        )
        .cast("long")
        .alias("bc_term"),
    )
    return (
        terms.groupBy("src_a", "src_b", "n_a", "n_b")
        .agg(F.sum("bc_term").cast("long").alias("bc_nano"))
        .select(
            "src_a",
            "src_b",
            F.col("n_a").alias("tokens_a"),
            F.col("n_b").alias("tokens_b"),
            "bc_nano",
            F.round(
                F.sqrt(
                    F.greatest(
                        F.lit(1.0)
                        - F.col("bc_nano").cast("double") / 1000000000.0,
                        F.lit(0.0),
                    )
                ),
                6,
            ).alias("hellinger"),
        )
    )


# --------------------------------------------------------------------------
# Distinctive terms per source (Dunning log-likelihood keyness)
# --------------------------------------------------------------------------
KEYNESS_TOP_K = 5

_KEYNESS_G2 = """2.0 * (
    CAST(a AS DOUBLE)
      * ln(CAST(a AS DOUBLE) / (CAST(g AS DOUBLE) * ts / t))
    + CASE WHEN g - a > 0
           THEN CAST(g - a AS DOUBLE)
                * ln(CAST(g - a AS DOUBLE)
                     / (CAST(g AS DOUBLE) * (t - ts) / t))
           ELSE 0.0 END
    + CASE WHEN ts - a > 0
           THEN CAST(ts - a AS DOUBLE)
                * ln(CAST(ts - a AS DOUBLE)
                     / (CAST(t - g AS DOUBLE) * ts / t))
           ELSE 0.0 END
    + CASE WHEN t - ts - (g - a) > 0
           THEN CAST(t - ts - (g - a) AS DOUBLE)
                * ln(CAST(t - ts - (g - a) AS DOUBLE)
                     / (CAST(t - g AS DOUBLE) * (t - ts) / t))
           ELSE 0.0 END)"""

_KEYNESS_ORACLE = f"""
WITH cells AS (
  SELECT source, w.w AS word, CAST(count(*) AS BIGINT) AS a
  FROM documents, unnest({tokens_sql()}) AS w(w)
  GROUP BY 1, 2),
per AS (SELECT source, CAST(sum(a) AS BIGINT) AS ts FROM cells GROUP BY source),
ws AS (SELECT word, CAST(sum(a) AS BIGINT) AS g FROM cells GROUP BY word),
tot AS (SELECT CAST(sum(a) AS BIGINT) AS t FROM cells),
base AS (
  SELECT c.source AS source, c.word AS word, c.a AS a, w.g AS g,
         p.ts AS ts, tt.t AS t
  FROM cells c
  JOIN ws w USING (word)
  JOIN per p ON p.source = c.source
  CROSS JOIN tot tt
  WHERE CAST(c.a AS DECIMAL(38,0)) * tt.t
        > CAST(w.g AS DECIMAL(38,0)) * p.ts),
sc AS (
  SELECT source, word, a, g,
         CAST(round(({_KEYNESS_G2}) * 1000000.0, 0) AS BIGINT) AS g2_micro
  FROM base),
rk AS (
  SELECT source, word, a, g, g2_micro,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY g2_micro DESC, word) AS INT) AS rank
  FROM sc)
SELECT source, word, CAST(a AS BIGINT) AS src_count,
       CAST(g AS BIGINT) AS corpus_count, g2_micro, rank
FROM rk WHERE rank <= {KEYNESS_TOP_K}
"""


def keyness_scored_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, word, a, g, raw_g2, g2_micro) for every over-represented
    (source, word) cell — shared by `text_distinctive_terms` and the
    rounding-margin guard test."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.select(
            "source",
            F.explode(tokens()).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("a"))
    )
    cells = persist_tracked(cells)
    per = cells.groupBy("source").agg(F.sum("a").cast("long").alias("ts"))
    ws = cells.groupBy("word").agg(F.sum("a").cast("long").alias("g"))
    tot = cells.agg(F.sum("a").cast("long").alias("t"))
    joined = (
        cells.join(ws, "word")
        # NOTE: no broadcast hint on `per` — its boundedness (one row per
        # source feed) is a model fact, not a plan-structural one, so the
        # broadcast-invariant suite would flag it; the source-keyed
        # shuffle join of a |sources|-row relation is free at any scale.
        .join(per, "source")
        .crossJoin(F.broadcast(tot))
        .filter(
            F.col("a").cast("decimal(38,0)") * F.col("t")
            > F.col("g").cast("decimal(38,0)") * F.col("ts")
        )
    )
    raw_g2 = F.expr(_KEYNESS_G2)
    return joined.select(
        "source",
        "word",
        "a",
        "g",
        raw_g2.alias("raw_g2"),
        F.round(raw_g2 * 1000000.0, 0).cast("long").alias("g2_micro"),
    )


@query("text_distinctive_terms", oracle=_KEYNESS_ORACLE)
def text_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{KEYNESS_TOP_K} DISTINCTIVE terms per source by Dunning (1993)
    log-likelihood keyness: G² of the 2×2 (term, source) contingency
    table, restricted to over-represented terms (a/ts > g/t by exact
    integer cross-multiplication) — the corpus-linguistics "what makes
    this feed different" extractor, sharper than raw tf-idf because it
    accounts for both corpus sides of the contrast.

    Engine determinism: the G² double chain is shared verbatim between
    engines (the SQL text IS the Spark expression via `F.expr`) and
    micro-rounded per (source, word) cell before ranking, so ranks
    compare identically-rounded integers (ln-ulp absorbed; margin pinned
    by the guard test).

    Scale: word cells aggregate map-side; g attaches by a word-keyed 1:1
    join (the tf·idf shape); ts and t attach as broadcasts of the
    20-row / 1-row relations; the rank window partitions by source over
    the vocabulary-bounded over-represented subset."""
    scored = keyness_scored_terms(spark, sf_dir).drop("raw_g2")
    w = Window.partitionBy("source").orderBy(F.desc("g2_micro"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KEYNESS_TOP_K)
        .select(
            "source",
            "word",
            F.col("a").alias("src_count"),
            F.col("g").alias("corpus_count"),
            "g2_micro",
            "rank",
        )
    )


# --------------------------------------------------------------------------
# Character-entropy profile (encoding-garbage detector)
# --------------------------------------------------------------------------
_CHAR_ENTROPY_ORACLE = """
WITH cells AS (
  SELECT source, c.c AS ch, CAST(count(*) AS BIGINT) AS c
  FROM documents, unnest(string_split(text, '')) AS c(c)
  GROUP BY 1, 2),
per AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY source),
terms AS (
  SELECT cells.source, cells.c,
         CAST(round((ln(CAST(cells.c AS DOUBLE)) - ln(CAST(per.n AS DOUBLE)))
                    * 1000000.0, 0) AS BIGINT) AS lnp_micro
  FROM cells JOIN per USING (source))
SELECT t.source, p.n AS n_chars,
       CAST(count(*) AS BIGINT) AS n_distinct_chars,
       CAST((0 - sum(CAST(t.c AS HUGEINT) * t.lnp_micro)) // p.n
            AS BIGINT) AS entropy_micro
FROM terms t JOIN per p ON p.source = t.source
GROUP BY t.source, p.n
"""


def char_lnp_terms(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """((source, ch, c, raw_lnp, lnp_micro), per-source totals): the
    character-distribution log-probabilities — shared by
    `text_char_entropy_profile` and the rounding-margin guard test."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.select("source", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("source", "ch")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cells = persist_tracked(cells)
    per = cells.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    raw_lnp = F.log(F.col("c").cast("double")) - F.log(
        F.col("n").cast("double")
    )
    terms = cells.join(per, "source").select(
        "source",
        "ch",
        "c",
        raw_lnp.alias("raw_lnp"),
        F.round(raw_lnp * 1000000.0, 0).cast("long").alias("lnp_micro"),
    )
    return terms, per


@query("text_char_entropy_profile", oracle=_CHAR_ENTROPY_ORACLE)
def text_char_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-distribution Shannon entropy (nats, micro):
    the Gopher/C4-family encoding-garbage detector — mojibake, base64
    blobs, and binary-in-text all push character entropy far from a
    natural language's band, and a per-feed profile catches a bad
    scraper in one glance.  Also reports the distinct-character count
    (alphabet width, the cheap script/charset-mix signal).

    Engine determinism: ln p(ch) is micro-rounded per (source, char)
    CELL (bounded domain: |sources| × alphabet), then H =
    −Σ c·lnp_micro / n is exact integer arithmetic.

    Scale: the char explode is the `text_fingerprint` pass (narrow,
    map-side combinable into |alphabet|-bounded cells per source);
    everything downstream lives on the bounded cell domain."""
    terms, per = char_lnp_terms(spark, sf_dir)
    # c·lnp accumulates in DECIMAL(38,0): at 100 TB a source's count of a
    # common character (~1e15) times a micro log-prob (~1e7) exceeds int64.
    agg = terms.groupBy("source").agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("lnp_micro"))
        .cast("decimal(38,0)")
        .alias("c_lnp"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
    )
    return (
        agg.join(per, "source")
        .select(
            "source",
            F.col("n").alias("n_chars"),
            "n_distinct_chars",
            F.expr("CAST((0 - c_lnp) div n AS BIGINT)").alias(
                "entropy_micro"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Bigram-LM cross-entropy (sequence-level quality proxy)
# --------------------------------------------------------------------------
_BIGRAM_LOGLOSS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
bi AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i+1])) AS bg
  FROM tok WHERE len(ws) >= 2),
dc AS (
  SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c FROM bi
  GROUP BY doc_id, bg),
bgc AS (
  SELECT bg, string_split(bg, ' ')[1] AS w1,
         CAST(sum(c) AS BIGINT) AS c12
  FROM dc GROUP BY bg),
hist AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS h FROM bgc GROUP BY w1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS v
        FROM (SELECT DISTINCT string_split(bg, ' ')[2] FROM bgc)),
lnp AS (
  SELECT b.bg,
         CAST(round((ln(b.c12 + 1.0) - ln(CAST(hi.h + t.v AS DOUBLE)))
                    * 1000000.0, 0) AS BIGINT) AS lnp_micro
  FROM bgc b JOIN hist hi USING (w1) CROSS JOIN tot t),
pd AS (
  SELECT doc_id,
         CAST((0 - sum(c * lnp_micro)) // sum(c) AS BIGINT) AS ll_pt_micro,
         CAST(sum(c) AS BIGINT) AS n_bigrams
  FROM dc JOIN lnp USING (bg) GROUP BY doc_id)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_bigrams) AS BIGINT) AS n_bigrams,
       CAST(sum(p.ll_pt_micro) // count(*) AS BIGINT) AS avg_logloss_micro,
       CAST(min(p.ll_pt_micro) AS BIGINT) AS min_logloss_micro,
       CAST(max(p.ll_pt_micro) AS BIGINT) AS max_logloss_micro
FROM pd p JOIN documents d USING (doc_id)
GROUP BY d.source
"""


@query("text_bigram_logloss", oracle=_BIGRAM_LOGLOSS_ORACLE)
def text_bigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram-LM cross-entropy — the SEQUENCE-level quality
    proxy next to `text_unigram_logloss`'s bag-of-words one (the KenLM
    filtering tier): p(w₂|w₁) = (c(w₁w₂)+1)/(h(w₁)+V) with add-one
    smoothing over the second-word vocabulary, scored per document and
    profiled per source.  A feed whose bigram logloss exceeds its
    unigram logloss by an unusual margin is shuffled/templated text —
    plausible words in implausible orders.

    Engine determinism: per-BIGRAM micro-rounded ln p (BM25 pattern),
    exact integer accumulation; truncating integer division on
    all-positive operands.

    Scale: bigrams build IN-ROW (the `pipeline_repetition_stats`
    transform — no self-join); bigram counts and histories are
    map-combinable aggregates; the score join attaches per-bigram λ to
    (doc, bigram) COUNTS, 1:1 multiplicity, AQE-skew-splittable."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens().alias("ws"))
    bi = tok.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), "
                "i -> concat_ws(' ', ws[i-1], ws[i]))"
            )
        ).alias("bg"),
    )
    dc = bi.groupBy("doc_id", "bg").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    dc = persist_tracked(dc)
    bgc = dc.groupBy("bg").agg(F.sum("c").cast("long").alias("c12")).select(
        "bg", F.split("bg", " ").getItem(0).alias("w1"), "c12"
    )
    bgc = persist_tracked(bgc)
    hist = bgc.groupBy("w1").agg(F.sum("c12").cast("long").alias("h"))
    tot = (
        bgc.select(F.split("bg", " ").getItem(1).alias("w2"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    lnp = (
        bgc.join(hist, "w1")
        .crossJoin(F.broadcast(tot))
        .select(
            "bg",
            F.round(
                (
                    F.log(F.col("c12") + 1.0)
                    - F.log((F.col("h") + F.col("v")).cast("double"))
                )
                * 1000000.0,
                0,
            )
            .cast("long")
            .alias("lnp_micro"),
        )
    )
    pd = (
        dc.join(lnp, "bg")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "CAST((0 - sum(c * lnp_micro)) div sum(c) AS BIGINT)"
            ).alias("ll_pt_micro"),
            F.sum("c").cast("long").alias("n_bigrams"),
        )
    )
    return (
        pd.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
            F.expr(
                "CAST(sum(CAST(ll_pt_micro AS DECIMAL(38,0))) div count(1) "
                "AS BIGINT)"
            ).alias("avg_logloss_micro"),
            F.min("ll_pt_micro").cast("long").alias("min_logloss_micro"),
            F.max("ll_pt_micro").cast("long").alias("max_logloss_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# nDCG@k / MRR: the tf-only lexical prefilter vs the exact BM25 ranking
# --------------------------------------------------------------------------


def _bm25_ndcg_oracle() -> str:
    return f"""
WITH bm25_q AS ({_BM25_ORACLE}),
gold AS (SELECT query_id, doc_id AS item, rank AS r FROM bm25_q),
q(query_id, w) AS (VALUES {_BM25_Q_VALUES}),
tok AS (
  SELECT doc_id, unnest({tokens_sql()}) AS w FROM documents),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok
  WHERE w IN ({_BM25_TERM_LIST}) GROUP BY doc_id, w),
cagg AS (
  SELECT q.query_id, tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS tfsum
  FROM q JOIN tf USING (w) GROUP BY q.query_id, tf.doc_id),
cr AS (
  SELECT query_id, doc_id, tfsum,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY tfsum DESC, doc_id) AS INT) AS s
  FROM cagg),
ann AS (
  SELECT 'tf' AS method, CAST(query_id AS INT) AS query_id, doc_id AS item, s
  FROM cr WHERE s <= {BM25_TOP_K}),
{SQL_RANKING_QUALITY.format(k=BM25_TOP_K)}
"""


@query("text_bm25_ndcg_eval", oracle=_bm25_ndcg_oracle())
def text_bm25_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking quality of the TF-ONLY lexical prefilter against the exact
    BM25 ranking, per query: nDCG@k with graded gain from the BM25 rank
    plus MRR — the cascade diagnostic behind every two-stage lexical
    retrieval (a cheap Σtf coordination score fans out candidates at
    scale; BM25 reranks; this query measures what the cheap stage loses
    BEFORE anyone deploys the cascade).

    The gold side is the registered `text_bm25_topk` run unchanged (and
    its oracle text composed verbatim); the candidate side is the tf
    ranking over the SAME query terms — the term frequencies of
    `bm25_doc_terms` summed per query in-row (`_bm25_query_totals`, no
    shuffle), then a (queries × matched docs)-bounded window.
    Integer-exact end-to-end: the tf ranking is pure integer ordering,
    and the DCG chain is the module's micro-rounded device."""
    gold = text_bm25_topk(spark, sf_dir).select(
        "query_id", F.col("doc_id").alias("item"), F.col("rank").alias("r")
    )
    tfsums = bm25_doc_terms(spark, sf_dir).selectExpr(
        "doc_id", f"inline({_bm25_query_totals('tfs', 'tf', 'BIGINT')})"
    )
    win = Window.partitionBy("query_id").orderBy(F.desc("total"), F.asc("doc_id"))
    cand = (
        tfsums.withColumn("s", F.row_number().over(win))
        .filter(F.col("s") <= BM25_TOP_K)
        .select(
            F.lit("tf").alias("method"),
            "query_id",
            F.col("doc_id").alias("item"),
            "s",
        )
    )
    return ranking_quality(cand, gold, BM25_TOP_K, keys=["method"])


# --------------------------------------------------------------------------
# MATTR lexical diversity (windowed type-token ratio, exact closed form)
# --------------------------------------------------------------------------
#: Window width.  Covington & McFall's canonical 50 exceeds many fixture
#: documents (10-99 words); 25 keeps most in scope.  Documents shorter
#: than the window are excluded (standard MATTR practice).
MATTR_W = 25

_MATTR_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, source, {tokens_sql()} AS ws FROM documents),
tok AS (
  SELECT doc_id, source, ws[t.i] AS w, t.i - 1 AS pos, len(ws) AS L
  FROM ws, unnest(generate_series(1, len(ws))) AS t(i)),
g AS (
  SELECT doc_id, source, pos, L,
         coalesce(pos - lag(pos) OVER (PARTITION BY doc_id, w ORDER BY pos),
                  pos + 1) AS gap
  FROM tok),
contrib AS (
  SELECT doc_id, source, L,
         greatest(0, least(pos, L - {MATTR_W})
                     - greatest(pos - {MATTR_W} + 1, pos - gap + 1, 0) + 1)
           AS c
  FROM g WHERE L >= {MATTR_W}),
per_doc AS (
  SELECT doc_id, source,
         CAST((sum(c) * {MICRO}) // ((max(L) - {MATTR_W} + 1) * {MATTR_W})
              AS BIGINT) AS mattr_micro
  FROM contrib GROUP BY doc_id, source)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs_eval,
       CAST(sum(mattr_micro) // count(*) AS BIGINT) AS avg_mattr_micro,
       CAST(min(mattr_micro) AS BIGINT) AS min_mattr_micro,
       CAST(max(mattr_micro) AS BIGINT) AS max_mattr_micro
FROM per_doc GROUP BY source
"""


@query("text_mattr_diversity", oracle=_MATTR_ORACLE)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR lexical diversity per source: the mean type-token ratio over
    every complete {MATTR_W}-token sliding window of each document
    (Covington & McFall 2010) — the length-INVARIANT diversity measure
    (raw TTR falls with length by Heaps' law, the confound
    `text_ttr_by_length` measures directly; MATTR is the fix, and the
    repetitive-template detector template-aware dedup runs first).

    Exact closed form, no per-window pass: a token occurrence at `pos`
    with gap g to its previous same-word occurrence is the window-FIRST
    occurrence for exactly the windows starting in (pos−min(g,W), pos]
    clipped to the valid range, so Σ window-distinct-counts =
    Σ_occurrences max(0, min(pos, L−W) − max(pos−W+1, pos−g+1, 0) + 1) —
    ONE lag window partitioned by (doc, word) and integer arithmetic;
    MATTR = that sum / ((L−W+1)·W), micro-scaled integer division on
    both engines.

    Scale: the only shuffle is the (doc_id, word)-keyed lag (doc-bounded
    partitions — the substring-dedup skew rule) plus the doc- and
    source-bounded aggregates."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens().alias("ws")
    )
    tok = d.select(
        "doc_id",
        "source",
        F.size("ws").alias("L"),
        F.posexplode("ws").alias("pos", "w"),
    ).filter(F.col("L") >= MATTR_W)
    wlag = Window.partitionBy("doc_id", "w").orderBy("pos")
    g = tok.withColumn(
        "gap",
        F.coalesce(
            F.col("pos") - F.lag("pos").over(wlag), F.col("pos") + 1
        ),
    )
    contrib = g.select(
        "doc_id",
        "source",
        "L",
        F.greatest(
            F.lit(0),
            F.least(F.col("pos"), F.col("L") - MATTR_W)
            - F.greatest(
                F.col("pos") - MATTR_W + 1,
                F.col("pos") - F.col("gap") + 1,
                F.lit(0),
            )
            + 1,
        ).alias("c"),
    )
    per_doc = contrib.groupBy("doc_id", "source").agg(
        F.expr(
            f"CAST((sum(c) * {MICRO}) div "
            f"((max(L) - {MATTR_W} + 1) * {MATTR_W}) AS BIGINT)"
        ).alias("mattr_micro")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_eval"),
        F.expr("CAST(sum(mattr_micro) div count(*) AS BIGINT)").alias(
            "avg_mattr_micro"
        ),
        F.min("mattr_micro").cast("long").alias("min_mattr_micro"),
        F.max("mattr_micro").cast("long").alias("max_mattr_micro"),
    )


# --------------------------------------------------------------------------
# Subword fertility under a top-V vocabulary (BPE coverage proxy)
# --------------------------------------------------------------------------
# `text_tokenizer_fertility` measures chars per whitespace word; a
# multilingual pipeline picks a tokenizer from the SUBWORD fertility
# matrix (tokens per word, bytes per token, OOV rate per language under a
# candidate vocabulary), since a vocabulary fit to the head language
# inflates the tail languages' token counts.  Engine-exact proxy: the
# top-V corpus words (ties by word) cost 1 token, an OOV word costs
# ceil(len/4); all ratios are micro-scaled integer divisions.  One token
# pass, a top-V (≤ 1024 rows) broadcast join, a languages-bounded output.

#: Vocabulary size of the headline fertility matrix.
FERTILITY_V = 256
#: OOV fallback: an out-of-vocabulary word costs ceil(len / SUBWORD_LEN)
#: tokens — the "decomposes into ~4-char pieces" BPE proxy.
SUBWORD_LEN = 4
#: Vocabulary sizes swept by `text_tokenizer_vocab_sweep` (the curve a
#: pipeline reads to pick V; must be ascending, max bounds the broadcast).
VOCAB_SWEEP = (64, 256, 1024)


def _tok_sql() -> str:
    """Shared DuckDB CTE prefix: exploded lowercase tokens with byte and
    char lengths (strlen = UTF-8 bytes in DuckDB; Spark's octet_length is
    its twin), empty tokens dropped (double-space artifacts)."""
    return f"""
tok AS (
  SELECT doc_id, lang, w, strlen(w) AS bytes, length(w) AS chars
  FROM (SELECT doc_id, lang,
               unnest({tokens_sql()}) AS w
        FROM documents)
  WHERE w <> ''),
cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
rnk AS (
  SELECT w, row_number() OVER (ORDER BY c DESC, w) AS r FROM cnt)"""


_SUBWORD_FERTILITY_ORACLE = f"""
WITH {_tok_sql()},
vocab AS (SELECT w FROM rnk WHERE r <= {FERTILITY_V}),
scored AS (
  SELECT t.lang, t.bytes, t.chars,
         CASE WHEN v.w IS NOT NULL THEN 1
              ELSE (t.chars + {SUBWORD_LEN - 1}) // {SUBWORD_LEN} END AS toks,
         CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
  FROM tok t LEFT JOIN vocab v ON v.w = t.w),
nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY lang)
SELECT s.lang,
       nd.n_docs,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(s.toks) AS BIGINT) AS n_tokens,
       CAST(sum(s.oov) AS BIGINT) AS n_oov_words,
       CAST(sum(s.bytes) AS BIGINT) AS n_bytes,
       CAST((sum(s.toks) * {MICRO}) // count(*) AS BIGINT)
         AS fertility_micro,
       CAST((sum(s.bytes) * {MICRO}) // sum(s.toks) AS BIGINT)
         AS bytes_per_token_micro,
       CAST((sum(s.chars) * {MICRO}) // sum(s.toks) AS BIGINT)
         AS chars_per_token_micro,
       CAST((sum(s.oov) * {MICRO}) // count(*) AS BIGINT) AS oov_ppm
FROM scored s JOIN nd ON nd.lang = s.lang
GROUP BY s.lang, nd.n_docs
"""


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded lowercase tokens with byte/char lengths (Spark twin of
    `_tok_sql`'s `tok` CTE)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id",
            "lang",
            F.explode(tokens()).alias("w"),
        )
        .filter(F.col("w") != "")
        .select(
            "doc_id",
            "lang",
            "w",
            F.octet_length("w").cast("long").alias("bytes"),
            F.length("w").cast("long").alias("chars"),
        )
    )


def _vocab_ranks(tok: DataFrame, max_v: int) -> DataFrame:
    """(w, r) for the top `max_v` corpus words by (count desc, word asc)
    — the deterministic frequency-built vocabulary, engine-exact (the
    oracle's row_number uses the identical total order).  limit-k bounded
    ⇒ broadcastable at any corpus size."""
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.orderBy(F.desc("c"), F.asc("w"))
    # row_number over an unpartitioned window would single-task the whole
    # vocabulary; orderBy+limit keeps the top-k distributed (TakeOrdered).
    return (
        cnt.orderBy(F.desc("c"), F.asc("w"))
        .limit(max_v)
        .withColumn("r", F.row_number().over(w))
        .select("w", "r")
    )


@query("text_subword_fertility", oracle=_SUBWORD_FERTILITY_ORACLE)
def text_subword_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-fertility matrix under the top-FERTILITY_V
    (256) frequency vocabulary: tokens-per-word (fertility), bytes/chars per
    token, and OOV rate — the table a multilingual pipeline reads before
    fixing a tokenizer (a head-language vocabulary inflates tail-language
    token counts; this quantifies by how much, per language).

    Engine-exact: the vocabulary is a deterministic top-V (count desc,
    word asc), the OOV fallback is integer ceil-division, and every ratio
    is a micro-scaled integer division.  Scale: one token pass, one
    limit-k-bounded broadcast (the vocabulary), languages-bounded output.
    """
    tok = _tokens(spark, sf_dir)
    vocab = _vocab_ranks(tok, FERTILITY_V).select(
        "w", F.lit(1).alias("in_vocab")
    )
    scored = tok.join(F.broadcast(vocab), "w", "left").select(
        "lang",
        "bytes",
        "chars",
        F.when(F.col("in_vocab").isNotNull(), F.lit(1))
        .otherwise(
            F.expr(f"(chars + {SUBWORD_LEN - 1}) div {SUBWORD_LEN}")
        )
        .cast("long")
        .alias("toks"),
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
    )
    nd = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    per = scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("toks").cast("long").alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov_words"),
        F.sum("bytes").cast("long").alias("n_bytes"),
        F.sum("chars").cast("long").alias("_chars"),
    )
    # no broadcast hint: both sides are lang-keyed aggregates (a handful
    # of rows post-shuffle); the invariant suite only certifies broadcasts
    # it can prove bounded, and a tiny SMJ costs nothing here
    return (
        per.join(nd, "lang")
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_tokens",
            "n_oov_words",
            "n_bytes",
            F.expr(f"(n_tokens * {MICRO}) div n_words")
            .cast("long")
            .alias("fertility_micro"),
            F.expr(f"(n_bytes * {MICRO}) div n_tokens")
            .cast("long")
            .alias("bytes_per_token_micro"),
            F.expr(f"(_chars * {MICRO}) div n_tokens")
            .cast("long")
            .alias("chars_per_token_micro"),
            F.expr(f"(n_oov_words * {MICRO}) div n_words")
            .cast("long")
            .alias("oov_ppm"),
        )
    )


def _vocab_sweep_oracle() -> str:
    grid = ", ".join(f"({v})" for v in VOCAB_SWEEP)
    return f"""
WITH {_tok_sql()},
vs(vocab_size) AS (VALUES {grid}),
scored AS (
  SELECT vs.vocab_size, t.lang, t.bytes,
         CASE WHEN r.r IS NOT NULL AND r.r <= vs.vocab_size THEN 1
              ELSE (t.chars + {SUBWORD_LEN - 1}) // {SUBWORD_LEN} END AS toks,
         CASE WHEN r.r IS NOT NULL AND r.r <= vs.vocab_size THEN 0
              ELSE 1 END AS oov
  FROM tok t
  LEFT JOIN (SELECT * FROM rnk WHERE r <= {max(VOCAB_SWEEP)}) r
    ON r.w = t.w
  CROSS JOIN vs)
SELECT vocab_size, lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(toks) AS BIGINT) AS n_tokens,
       CAST((sum(toks) * {MICRO}) // count(*) AS BIGINT)
         AS fertility_micro,
       CAST((sum(bytes) * {MICRO}) // sum(toks) AS BIGINT)
         AS bytes_per_token_micro,
       CAST((sum(oov) * {MICRO}) // count(*) AS BIGINT) AS oov_ppm
FROM scored GROUP BY vocab_size, lang
"""


@query("text_tokenizer_vocab_sweep", oracle=_vocab_sweep_oracle())
def text_tokenizer_vocab_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility-vs-vocabulary-size curve, per language, over the swept
    sizes VOCAB_SWEEP (64/256/1024): how much fertility (and OOV) improves as the
    vocabulary grows — the trade-off curve read against memory/embedding
    budget when choosing V.  The τ-sweep idiom applied to tokenizer
    choice: rank the vocabulary ONCE (top max(V), engine-exact total
    order), then every swept size is a rank cut, so the sweep costs one
    token pass + a |grid|-bounded cross join — not |grid| passes.

    Scale: the rank relation is limit-k bounded (≤ max(V) rows,
    broadcast); output is |grid| × languages."""
    tok = _tokens(spark, sf_dir)
    ranks = _vocab_ranks(tok, max(VOCAB_SWEEP))
    # range+explode literal (not createDataFrame): plans as Range → the
    # broadcast invariant's driver-literal category (the
    # lineitem_global_quantiles idiom)
    vs = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in VOCAB_SWEEP])).alias(
            "vocab_size"
        )
    )
    scored = (
        tok.join(F.broadcast(ranks), "w", "left")
        .crossJoin(F.broadcast(vs))
        .select(
            "vocab_size",
            "lang",
            "bytes",
            F.when(
                F.col("r").isNotNull() & (F.col("r") <= F.col("vocab_size")),
                F.lit(1),
            )
            .otherwise(
                F.expr(f"(chars + {SUBWORD_LEN - 1}) div {SUBWORD_LEN}")
            )
            .cast("long")
            .alias("toks"),
            F.when(
                F.col("r").isNotNull() & (F.col("r") <= F.col("vocab_size")),
                F.lit(0),
            )
            .otherwise(F.lit(1))
            .alias("oov"),
        )
    )
    return scored.groupBy("vocab_size", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("toks").cast("long").alias("n_tokens"),
        F.expr(f"(sum(toks) * {MICRO}) div count(*)")
        .cast("long")
        .alias("fertility_micro"),
        F.expr(f"(sum(bytes) * {MICRO}) div sum(toks)")
        .cast("long")
        .alias("bytes_per_token_micro"),
        F.expr(f"(sum(oov) * {MICRO}) div count(*)")
        .cast("long")
        .alias("oov_ppm"),
    )


# --------------------------------------------------------------------------
# CCNet-style perplexity buckets (head / middle / tail per language)
# --------------------------------------------------------------------------
_BUCKET_NAMES = ("head", "middle", "tail")


def ccnet_doc_ctes() -> str:
    """CTE chain ending in `bkt` = (doc_id, lang, ll_pt_micro, n_tokens,
    bucket) — the per-doc bucketed relation, shared by the registered
    ccnet oracle and the filter-agreement oracle.  CTE names avoid the
    gopher chain's d/m/r so the two compose in one WITH."""
    # Reuse the registered per-doc scoring CTEs verbatim (everything in
    # text_unigram_logloss's oracle up to the per-doc relation `pd`).
    pd_ctes = _LOGLOSS_ORACLE.split("\nSELECT d.source")[0].strip()
    assert pd_ctes.startswith("WITH "), "logloss oracle shape changed"
    return f"""{pd_ctes.removeprefix("WITH ")},
sd AS (
  SELECT p.doc_id, p.ll_pt_micro, p.n_tokens, dd.lang
  FROM pd p JOIN documents dd USING (doc_id)),
rnkl AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang
                            ORDER BY ll_pt_micro, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS nl
  FROM sd),
bkt AS (
  SELECT doc_id, lang, ll_pt_micro, n_tokens,
         CASE ((rk - 1) * 3) // nl
           WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
  FROM rnkl)"""


def _ccnet_oracle() -> str:
    return f"""
WITH {ccnet_doc_ctes()}
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(min(ll_pt_micro) AS BIGINT) AS min_logloss_micro,
       CAST(max(ll_pt_micro) AS BIGINT) AS max_logloss_micro,
       CAST(sum(ll_pt_micro) // count(*) AS BIGINT) AS avg_logloss_micro
FROM bkt GROUP BY lang, bucket
"""


def ccnet_doc_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, ll_pt_micro, n_tokens, bucket): every document with
    its per-language exact-tercile perplexity bucket — the per-doc
    relation under `text_ccnet_perplexity_buckets`, exposed for
    composition (`pipeline_quality_filter_agreement`)."""
    lnp, dc = unigram_lnp_terms(spark, sf_dir)
    pd_df = (
        dc.join(lnp.drop("raw_lnp"), "w")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "CAST((0 - sum(c * lnp_micro)) div sum(c) AS BIGINT)"
            ).alias("ll_pt_micro"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = pd_df.join(d, "doc_id")
    ordered = with_global_order(
        scored,
        [("lang", True), ("ll_pt_micro", True), ("doc_id", True)],
        pos="pos",
    )
    # languages-bounded collect (|langs| rows — model-sized, the UniMax
    # policy), folded into (lang, offset, n) literals
    counts = sorted(
        (r["lang"], r["n"])
        for r in collect.collect_bounded(
            scored.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n")),
            collect.MAX_LANGUAGES,
            "ccnet_doc_buckets",
        )
    )
    offs, acc = [], 0
    for lang, n in counts:
        offs.append((lang, acc, n))
        acc += n
    off = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lang).alias("lang"),
                        F.lit(o).alias("off"),
                        F.lit(n).alias("nl"),
                    )
                    for lang, o, n in offs
                ]
            )
        ).alias("e")
    ).select("e.lang", "e.off", "e.nl")
    return ordered.join(F.broadcast(off), "lang").select(
        "doc_id",
        "lang",
        "ll_pt_micro",
        "n_tokens",
        F.expr(f"""
          CASE ((pos - off - 1) * 3) div nl
            WHEN 0 THEN '{_BUCKET_NAMES[0]}'
            WHEN 1 THEN '{_BUCKET_NAMES[1]}'
            ELSE '{_BUCKET_NAMES[2]}' END
        """).alias("bucket"),
    )


@query("text_ccnet_perplexity_buckets", oracle=_ccnet_oracle())
def text_ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet's head/middle/tail quality bucketing, per language: score
    every document with the corpus-fit add-one unigram LM (the SAME
    per-doc relation as `text_unigram_logloss` — composed, not re-
    derived), rank within its language by per-token logloss, and cut
    into exact terciles — head = lowest perplexity.  CCNet keeps head
    (and usually middle) per language; this emits the doc and token mass
    each retention choice keeps, per (language, bucket).

    Exact terciles WITHOUT a per-language corpus window (the scale-killer
    `test_window_invariant.py` guards against): the two-phase distributed
    order assigns global positions over (lang, logloss, doc_id); per-
    language ranks are global positions minus the preceding-language
    offsets, which come from a languages-bounded collect (the UniMax
    model-bounded-collect policy) re-emitted as a driver-literal
    broadcast (the `lineitem_global_quantiles` idiom, classifiable by
    the broadcast invariant).  Bucket = ((rank-1)·3) div n_lang — pure
    integer arithmetic, identical in the oracle's row_number form."""
    bucketed = ccnet_doc_buckets(spark, sf_dir)
    return bucketed.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("ll_pt_micro").cast("long").alias("min_logloss_micro"),
        F.max("ll_pt_micro").cast("long").alias("max_logloss_micro"),
        F.expr("CAST(sum(ll_pt_micro) div count(1) AS BIGINT)").alias(
            "avg_logloss_micro"
        ),
    )


# --------------------------------------------------------------------------
# Cross-lingual vocabulary-transfer matrix
# --------------------------------------------------------------------------
#: Per-language vocabulary size for the transfer matrix (each fit
#: language contributes its own top-V word list).
TRANSFER_V = 256


def _vocab_transfer_oracle() -> str:
    return f"""
WITH tok AS (
  SELECT lang, w, length(w) AS chars
  FROM (SELECT lang, unnest({tokens_sql()}) AS w
        FROM documents)
  WHERE w <> ''),
cnt AS (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY lang, w),
rnk AS (
  SELECT lang, w,
         row_number() OVER (PARTITION BY lang ORDER BY c DESC, w) AS r
  FROM cnt),
vocab AS (SELECT lang AS fit_lang, w FROM rnk WHERE r <= {TRANSFER_V}),
langs AS (SELECT DISTINCT lang AS fit_lang FROM documents),
scored AS (
  SELECT l.fit_lang, t.lang AS eval_lang,
         CASE WHEN v.w IS NOT NULL THEN 1
              ELSE (t.chars + {SUBWORD_LEN - 1}) // {SUBWORD_LEN} END AS toks,
         CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
  FROM tok t
  CROSS JOIN langs l
  LEFT JOIN vocab v ON v.fit_lang = l.fit_lang AND v.w = t.w)
SELECT fit_lang, eval_lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(toks) AS BIGINT) AS n_tokens,
       CAST((sum(toks) * {MICRO}) // count(*) AS BIGINT)
         AS fertility_micro,
       CAST((sum(oov) * {MICRO}) // count(*) AS BIGINT) AS oov_ppm
FROM scored GROUP BY fit_lang, eval_lang
"""


@query("text_crosslingual_vocab_transfer", oracle=_vocab_transfer_oracle())
def text_crosslingual_vocab_transfer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer-transfer matrix: for every (fit language, eval language)
    pair, the fertility and OOV rate of eval-language text under a
    top-TRANSFER_V (256) vocabulary fit ONLY on the fit language — the
    |langs|² audit behind "can these languages share a tokenizer?"
    (diagonal = each language under its own vocabulary; a row with flat
    off-diagonal fertility shares surface vocabulary with everything, a
    column that spikes under every foreign fit needs its own budget —
    `text_subword_fertility`'s question, asked across language pairs).

    Engine-exact: per-language vocabularies are deterministic top-V
    (count desc, word asc, row_number PARTITIONED by language — a
    vocabulary-sized window, never corpus-sized); OOV fallback and all
    ratios are the fertility family's integer forms.  Scale: one token
    pass, a |langs|-bounded grid explode (|langs|× the token stream),
    one vocab-keyed join; no corpus window, no unbounded broadcast —
    the vocab join is w-keyed (vocab-bounded shuffle, the text-family
    posture)."""
    tok = _tokens(spark, sf_dir).select("lang", "w", "chars")
    cnt = tok.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("w"))
    vocab = (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= TRANSFER_V)
        .select(F.col("lang").alias("fit_lang"), "w", F.lit(1).alias("iv"))
    )
    # |langs|-bounded collect (model-sized, the UniMax policy) → literal grid
    langs = sorted(
        r["lang"]
        for r in collect.collect_bounded(
            load_table(spark, sf_dir, "documents").select("lang").distinct(),
            collect.MAX_LANGUAGES,
            "text_crosslingual_vocab_transfer",
        )
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in langs])).alias("fit_lang")
    )
    scored = (
        tok.crossJoin(F.broadcast(grid))
        .join(vocab, ["fit_lang", "w"], "left")
        .select(
            "fit_lang",
            F.col("lang").alias("eval_lang"),
            F.when(F.col("iv").isNotNull(), F.lit(1))
            .otherwise(
                F.expr(f"(chars + {SUBWORD_LEN - 1}) div {SUBWORD_LEN}")
            )
            .cast("long")
            .alias("toks"),
            F.when(F.col("iv").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    return scored.groupBy("fit_lang", "eval_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("toks").cast("long").alias("n_tokens"),
        F.expr(f"(sum(toks) * {MICRO}) div count(*)")
        .cast("long")
        .alias("fertility_micro"),
        F.expr(f"(sum(oov) * {MICRO}) div count(*)")
        .cast("long")
        .alias("oov_ppm"),
    )


# --------------------------------------------------------------------------
# Engine-exact BPE merge fit (unrolled oracle CTEs)
# --------------------------------------------------------------------------
# `text_subword_fertility` screens tokenizers by vocabulary coverage; this
# section fits real BPE merges engine-exactly: K top-pair merge steps over
# the top-`BPE_FIT_V` corpus words (occurrence-weighted character
# sequences, Sennrich et al. 2016), then re-scores per-language fertility
# under the learned merges.  A segmentation is a string of individually
# delimiter-wrapped symbols ("new" is "␟n␟␟e␟␟w␟", ␟ = chr(31)), so
# applying merge (a, b) is ONE `replace(seg, '␟a␟␟b␟', '␟ab␟')`: `replace`
# scans left to right and never re-examines its output (greedy BPE on both
# engines), per-symbol delimiters keep adjacent matches apart ("abab" →
# [ab, ab]), and the symbol count is (len(seg) - len(strip ␟)) / 2.  Ties
# break by weight desc, then (lhs, rhs) ascending, so the Spark fit (a
# driver fold over ≤ BPE_FIT_V collected rows) and the oracle fit (the
# same K steps unrolled as chained DuckDB CTEs) choose identical merges.

#: Fit-vocabulary size: the BPE merges are learned from the top
#: `BPE_FIT_V` corpus words (count desc, word asc), occurrence-weighted.
BPE_FIT_V = 128
#: Number of merge steps learned (and unrolled in the oracle CTE chain).
BPE_MERGES = 12
#: Symbol delimiter of the segmentation strings (ASCII unit separator —
#: absent from the whitespace-tokenized corpus; the fit asserts it).
_SEP = "\x1f"
_SQL_SEP = "chr(31)"


# --------------------------------------------------------------------------
# Spark-side fit: driver fold over the bounded top-V rows
# --------------------------------------------------------------------------
#: One merge table per corpus directory — model state only (≤ K string
#: triples), the `_IVF_INDEX_CACHE` contract: survives bench session
#: recycling because it never holds DataFrames.
_BPE_CACHE: dict[str, list[tuple[str, str, int]]] = {}


def _apply_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right non-overlapping application of (a, b) → ab —
    the Python twin of the delimited-`replace` contract above."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_fit(spark: SparkSession, sf_dir: str) -> list[tuple[str, str, int]]:
    """[(lhs, rhs, pair_weight)] for the BPE_MERGES learned merges.

    The fit relation is the top-BPE_FIT_V (word, count) rows — a
    limit-k-bounded deterministic collect (count desc, word asc), the
    k-means model-sized-fold policy.  Each step counts adjacent symbol
    pairs weighted by word occurrence count (overlapping occurrences
    both count, the standard BPE statistic), picks the (weight desc,
    pair asc) argmax, and rewrites every fit word greedily."""
    if sf_dir in _BPE_CACHE:
        return _BPE_CACHE[sf_dir]
    rows = (
        _tokens(spark, sf_dir)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(BPE_FIT_V)
        .collect()
    )
    bad = [r.w for r in rows if _SEP in r.w]
    if bad:
        raise ValueError(f"fit words contain the segment delimiter: {bad[:3]}")
    words = [(list(r.w), int(r.c)) for r in rows]
    merges: list[tuple[str, str, int]] = []
    for _ in range(BPE_MERGES):
        pc: dict[tuple[str, str], int] = {}
        for syms, c in words:
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                pc[pair] = pc.get(pair, 0) + c
        if not pc:
            raise ValueError(
                f"fit corpus exhausted after {len(merges)} merges "
                f"(BPE_MERGES={BPE_MERGES} too large for this corpus)"
            )
        (a, b), weight = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, weight))
        words = [(_apply_merge(syms, a, b), c) for syms, c in words]
    _BPE_CACHE[sf_dir] = merges
    return merges


def _seg_col(col: Column, merges: list[tuple[str, str, int]]) -> Column:
    """Delimited segmentation of a word column under the learned merges:
    wrap every character (`[\\s\\S]` so newlines inside whitespace-split
    tokens are wrapped too), then K literal replaces."""
    seg = F.regexp_replace(col, r"([\s\S])", _SEP + "$1" + _SEP)
    for a, b, _ in merges:
        seg = F.replace(
            seg,
            F.lit(f"{_SEP}{a}{_SEP}{_SEP}{b}{_SEP}"),
            F.lit(f"{_SEP}{a}{b}{_SEP}"),
        )
    return seg


def _n_syms(seg: Column) -> Column:
    """Symbol count of a delimited segmentation (exact integer)."""
    n_sep = F.length(seg) - F.length(F.replace(seg, F.lit(_SEP), F.lit("")))
    return (n_sep / 2).cast("long")


# --------------------------------------------------------------------------
# Oracle-side fit: the same K steps unrolled as chained CTEs
# --------------------------------------------------------------------------
def _sql_fit_ctes() -> str:
    """fitw/s0/l0 + per-step (pairs{n}, p{n}, s{n}, l{n}) CTE chain.
    Appended after `_tok_sql()`'s tok/cnt/rnk prefix."""
    blocks = [
        f""",
fitw AS MATERIALIZED (
  SELECT cnt.w, cnt.c FROM cnt JOIN rnk ON rnk.w = cnt.w
  WHERE rnk.r <= {BPE_FIT_V}),
s0 AS MATERIALIZED (
  SELECT w, c,
         regexp_replace(w, '([\\s\\S])',
                        {_SQL_SEP} || '\\1' || {_SQL_SEP}, 'g') AS seg
  FROM fitw),
l0 AS MATERIALIZED (
  SELECT c, list_filter(string_split(seg, {_SQL_SEP}), x -> x <> '') AS syms
  FROM s0)"""
    ]
    for n in range(1, BPE_MERGES + 1):
        p = n - 1
        pat = (
            f"{_SQL_SEP} || (SELECT a FROM p{n}) || {_SQL_SEP} || "
            f"{_SQL_SEP} || (SELECT b FROM p{n}) || {_SQL_SEP}"
        )
        rep = (
            f"{_SQL_SEP} || (SELECT a FROM p{n}) || "
            f"(SELECT b FROM p{n}) || {_SQL_SEP}"
        )
        blocks.append(f""",
pairs{n} AS MATERIALIZED (
  SELECT syms[g.i] AS a, syms[g.i + 1] AS b, CAST(sum(c) AS BIGINT) AS pc
  FROM l{p}, unnest(generate_series(1, len(syms) - 1)) AS g(i)
  GROUP BY 1, 2),
p{n} AS MATERIALIZED (SELECT a, b, pc FROM pairs{n} ORDER BY pc DESC, a, b LIMIT 1),
s{n} AS MATERIALIZED (SELECT w, c, replace(seg, {pat}, {rep}) AS seg FROM s{p}),
l{n} AS MATERIALIZED (
  SELECT c, list_filter(string_split(seg, {_SQL_SEP}), x -> x <> '') AS syms
  FROM s{n})""")
    return "".join(blocks)


def _sql_score_pat(n: int) -> tuple[str, str]:
    """(pattern, replacement) SQL for applying step n's merge."""
    pat = (
        f"{_SQL_SEP} || (SELECT a FROM p{n}) || {_SQL_SEP} || "
        f"{_SQL_SEP} || (SELECT b FROM p{n}) || {_SQL_SEP}"
    )
    rep = (
        f"{_SQL_SEP} || (SELECT a FROM p{n}) || "
        f"(SELECT b FROM p{n}) || {_SQL_SEP}"
    )
    return pat, rep


# --------------------------------------------------------------------------
# The learned merge table
# --------------------------------------------------------------------------
def _merge_table_oracle() -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT {n} AS merge_rank, a AS lhs, b AS rhs, a || b AS merged, "
        f"pc AS pair_weight FROM p{n}"
        for n in range(1, BPE_MERGES + 1)
    )
    return f"""
WITH {_tok_sql()}{_sql_fit_ctes()}
SELECT CAST(merge_rank AS INT) AS merge_rank, lhs, rhs, merged,
       CAST(pair_weight AS BIGINT) AS pair_weight
FROM ({arms})
"""


@query("text_bpe_merge_table", oracle=_merge_table_oracle())
def text_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table: rank, the merged symbol pair, and
    the pair's occurrence-weighted count at selection time — the model
    artifact a tokenizer trainer ships, and the engine-exactness proof
    of the fit: the oracle re-derives all K merges from scratch through
    the unrolled CTE chain, so any divergence in counting, tie-breaking,
    or greedy application surfaces as a row mismatch here."""
    merges = bpe_fit(spark, sf_dir)
    return spark.createDataFrame(
        [
            (n + 1, a, b, a + b, w)
            for n, (a, b, w) in enumerate(merges)
        ],
        "merge_rank int, lhs string, rhs string, merged string, "
        "pair_weight long",
    )


# --------------------------------------------------------------------------
# Per-language fertility under the learned merges vs the coverage proxy
# --------------------------------------------------------------------------
def _bpe_fertility_oracle() -> str:
    score = [
        f""",
vocab AS (SELECT w FROM rnk WHERE r <= {FERTILITY_V}),
sc0 AS MATERIALIZED (
  SELECT t.lang, t.chars,
         CASE WHEN v.w IS NOT NULL THEN 1
              ELSE (t.chars + {SUBWORD_LEN - 1}) // {SUBWORD_LEN}
         END AS proxy_toks,
         regexp_replace(t.w, '([\\s\\S])',
                        {_SQL_SEP} || '\\1' || {_SQL_SEP}, 'g') AS seg
  FROM tok t LEFT JOIN vocab v ON v.w = t.w)"""
    ]
    for n in range(1, BPE_MERGES + 1):
        pat, rep = _sql_score_pat(n)
        score.append(f""",
sc{n} AS MATERIALIZED (
  SELECT lang, chars, proxy_toks, replace(seg, {pat}, {rep}) AS seg
  FROM sc{n - 1})""")
    return f"""
WITH {_tok_sql()}{_sql_fit_ctes()}{"".join(score)}
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum((length(seg) - length(replace(seg, {_SQL_SEP}, ''))) // 2)
            AS BIGINT) AS bpe_tokens,
       CAST(sum(chars) AS BIGINT) AS char_tokens,
       CAST(sum(proxy_toks) AS BIGINT) AS proxy_tokens,
       CAST((sum((length(seg) - length(replace(seg, {_SQL_SEP}, ''))) // 2)
             * {MICRO}) // count(*) AS BIGINT) AS bpe_fertility_micro,
       CAST((sum(proxy_toks) * {MICRO}) // count(*) AS BIGINT)
         AS proxy_fertility_micro,
       CAST((sum((length(seg) - length(replace(seg, {_SQL_SEP}, ''))) // 2)
             * {MICRO}) // sum(chars) AS BIGINT) AS bpe_vs_char_ppm,
       CAST((sum((length(seg) - length(replace(seg, {_SQL_SEP}, ''))) // 2)
             * {MICRO}) // sum(proxy_toks) AS BIGINT) AS bpe_vs_proxy_ppm
FROM sc{BPE_MERGES}
GROUP BY lang
"""


@query("text_bpe_fertility", oracle=_bpe_fertility_oracle())
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility under the LEARNED BPE merges vs the
    whole-word coverage proxy: tokens-per-word for every language when
    each corpus word is segmented by the K fitted merges, side-by-side
    with wave19's top-V/ceil(len/4) screen — the merge-table-based
    matrix that decides tokenizer choice (a fit dominated by the head
    language leaves tail-language words under-merged, and this shows by
    how much, per language; `bpe_vs_proxy_ppm` < 1e6 means the learned
    merges beat the coverage screen's token estimate).

    Engine-exact: the Spark side scores with the driver-fitted merge
    literals, the oracle re-fits from scratch in SQL and scores with
    scalar-subquery patterns — identical results prove fit AND scoring
    agree.  Scale: scoring is a narrow string pipeline (wrap + K
    replaces, whole-stage codegen) over the token relation; the only
    joins/shuffles are the FERTILITY_V-bounded vocab broadcast and the
    languages-bounded final aggregate."""
    merges = bpe_fit(spark, sf_dir)
    tok = _tokens(spark, sf_dir)
    vocab = _vocab_ranks(tok, FERTILITY_V).select("w")
    proxy = F.when(F.col("v_w").isNotNull(), F.lit(1)).otherwise(
        F.expr(f"(chars + {SUBWORD_LEN - 1}) div {SUBWORD_LEN}")
    )
    scored = (
        tok.join(
            F.broadcast(vocab.withColumnRenamed("w", "v_w")),
            F.col("w") == F.col("v_w"),
            "left",
        )
        .select(
            "lang",
            "chars",
            proxy.cast("long").alias("proxy_toks"),
            _n_syms(_seg_col(F.col("w"), merges)).alias("bpe_toks"),
        )
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("bpe_toks").cast("long").alias("bpe_tokens"),
        F.sum("chars").cast("long").alias("char_tokens"),
        F.sum("proxy_toks").cast("long").alias("proxy_tokens"),
        F.expr(f"(sum(bpe_toks) * {MICRO}) div count(1)")
        .cast("long")
        .alias("bpe_fertility_micro"),
        F.expr(f"(sum(proxy_toks) * {MICRO}) div count(1)")
        .cast("long")
        .alias("proxy_fertility_micro"),
        F.expr(f"(sum(bpe_toks) * {MICRO}) div sum(chars)")
        .cast("long")
        .alias("bpe_vs_char_ppm"),
        F.expr(f"(sum(bpe_toks) * {MICRO}) div sum(proxy_toks)")
        .cast("long")
        .alias("bpe_vs_proxy_ppm"),
    )


# --------------------------------------------------------------------------
# Merge-table utilization (which learned merges actually fire corpus-wide)
# --------------------------------------------------------------------------
def _merge_utilization_oracle() -> str:
    score = [
        f""",
sc0 AS MATERIALIZED (
  SELECT regexp_replace(w, '([\\s\\S])',
                        {_SQL_SEP} || '\\1' || {_SQL_SEP}, 'g') AS seg
  FROM tok)"""
    ]
    for n in range(1, BPE_MERGES + 1):
        pat, rep = _sql_score_pat(n)
        score.append(f""",
sc{n} AS MATERIALIZED (SELECT replace(seg, {pat}, {rep}) AS seg FROM sc{n - 1})""")
    arms = "\nUNION ALL\n".join(
        f"SELECT {n} AS merge_rank, "
        f"(SELECT a || b FROM p{n}) AS merged, "
        f"CAST(sum((length(seg) - length(replace(seg, "
        f"{_SQL_SEP} || (SELECT a || b FROM p{n}) || {_SQL_SEP}, ''))) "
        f"// length({_SQL_SEP} || (SELECT a || b FROM p{n}) || {_SQL_SEP})) "
        f"AS BIGINT) AS n_uses FROM sc{BPE_MERGES}"
        for n in range(1, BPE_MERGES + 1)
    )
    return f"""
WITH {_tok_sql()}{_sql_fit_ctes()}{"".join(score)},
tot AS (
  SELECT CAST(sum((length(seg) - length(replace(seg, {_SQL_SEP}, ''))) // 2)
              AS BIGINT) AS total_syms
  FROM sc{BPE_MERGES}),
arms AS ({arms})
SELECT CAST(a.merge_rank AS INT) AS merge_rank, a.merged, a.n_uses,
       t.total_syms,
       CAST((a.n_uses * {MICRO}) // t.total_syms AS BIGINT) AS use_share_ppm
FROM arms a CROSS JOIN tot t
"""


@query("text_bpe_merge_utilization", oracle=_merge_utilization_oracle())
def text_bpe_merge_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-table ROI: for each learned merge, how many symbols of the
    FINAL corpus segmentation are that merge's product — the utilization
    audit a tokenizer trainer reads before spending vocabulary slots (a
    merge that rarely survives in final segmentations, e.g. one consumed
    by a later larger merge, is a wasted slot; `use_share_ppm` is its
    share of all emitted tokens).

    Counting needs NO join and NO extra shuffle: a merged symbol m
    occurs in a segmentation exactly where the substring ␟m␟ does
    (delimiter-wrapped units make spanning matches impossible — two
    adjacent units always put ␟␟ between their contents), so per-merge
    occurrences are (len(seg) - len(seg without ␟m␟)) / len(␟m␟) — 13
    conditional sums in ONE narrow aggregate over the token relation,
    reshaped to 12 rows by an explode of a driver-literal struct array.
    The oracle re-fits the merges from scratch and counts through the
    same substring arithmetic with scalar-subquery patterns."""
    merges = bpe_fit(spark, sf_dir)
    tok = _tokens(spark, sf_dir)
    seg = _seg_col(F.col("w"), merges)
    units = [f"{_SEP}{a}{b}{_SEP}" for a, b, _ in merges]
    # Sum the raw char-length deltas, divide ONCE after the sum: every
    # row's delta is an exact multiple of len(unit), so the summed delta
    # is too and the integer division is exact.  Units are embedded as
    # SQL literals ('' -escaped — corpus words may carry apostrophes).
    agg = tok.select(seg.alias("seg")).agg(
        F.sum(_n_syms(F.col("seg"))).cast("long").alias("total_syms"),
        *[
            F.expr(
                f"sum(length(seg) - length(replace(seg, "
                f"'{u.replace(chr(39), chr(39) * 2)}', ''))) div {len(u)}"
            )
            .cast("long")
            .alias(f"u{n}")
            for n, u in enumerate(units, start=1)
        ],
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(n + 1).cast("int").alias("merge_rank"),
                    F.lit(a + b).alias("merged"),
                    F.col(f"u{n + 1}").alias("n_uses"),
                )
                for n, (a, b, _) in enumerate(merges)
            ]
        )
    ).alias("m")
    return agg.select(rows, "total_syms").select(
        F.col("m.merge_rank").alias("merge_rank"),
        F.col("m.merged").alias("merged"),
        F.col("m.n_uses").alias("n_uses"),
        "total_syms",
        F.expr(f"(m.n_uses * {MICRO}) div total_syms")
        .cast("long")
        .alias("use_share_ppm"),
    )
