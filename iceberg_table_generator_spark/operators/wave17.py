"""Round-12 fifth wave: the index-selection frontier and source-ablation
vocabulary audit.

* **Compression frontier** — ONE summary relation over the whole
  quantized/compressed search ladder: every registered
  recall-measurable method (LSH, IVF, PQ, IVF+PQ, SQ8, BQ, Matryoshka
  truncations) with its bytes-per-vector compression factor and its
  mean recall@k against the same exact-cosine ground truth — the
  "choose your index" table a vector-store deployment reads before
  committing memory budget.  Pure eval-by-composition: every ranking
  comes from a registered query run unchanged (and its oracle text
  composed verbatim), so the frontier cannot drift from the operators
  it summarizes.
* **Source-ablation shingle matrix** — the leave-one-source-out audit
  a corpus steward runs before dropping a feed: per source, how many
  tokens/documents leave with it and how much of the corpus's 3-gram
  SHINGLE space exists only in that source (its irreplaceable phrasing
  diversity), as a corpus shingle-loss ppm — the cheap one-pass proxy
  for "what do we lose if we cut this source" (full retraining
  ablations cost GPU-months; n-gram attribution is the standard first
  screen).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_table_generator_spark.functions.text import ngrams, shingles, tokens, tokens_sql
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table

_MICRO = 1_000_000

# --------------------------------------------------------------------------
# Compression frontier (method × compression × mean recall)
# --------------------------------------------------------------------------
#: Bytes per vector at raw float64 (the exact-scan baseline all
#: compression factors divide): 64 dims × 8 B.
_RAW_BYTES = 64 * 8
#: method → bytes per stored vector.  LSH/IVF store full vectors (their
#: saving is CANDIDATE pruning, not storage); PQ = 8 × 4-bit codes;
#: SQ8 = 64 × int8; BQ = 64 sign bits; MRL-d′ = d′ float64 dims.
_METHOD_BYTES = {
    "lsh": 512,
    "ivf": 512,
    "pq": 4,
    "ivfpq": 4,
    "sq8": 64,
    "bq": 8,
    "mrl8": 64,
    "mrl16": 128,
    "mrl32": 256,
}


def _frontier_oracle() -> str:
    from iceberg_table_generator_spark.operators.similarity import (
        _ANN_LSH_ORACLE,
        _COSINE_ORACLE,
        _ivf_oracle,
        _pq_oracle,
        N_QUERIES,
        TOP_K,
    )
    from iceberg_table_generator_spark.operators.wave12 import (
        _sq8_recall_oracle,
    )
    from iceberg_table_generator_spark.operators.wave14 import (
        _bq_recall_oracle,
        _mrl_recall_oracle,
    )
    from iceberg_table_generator_spark.operators.wave16 import (
        _ivfpq_recall_oracle,
    )

    nq, k = N_QUERIES, TOP_K
    denom = nq * k
    bytes_vals = ", ".join(
        f"('{m}', {b})" for m, b in sorted(_METHOD_BYTES.items())
    )
    return f"""
WITH exact_q AS ({_COSINE_ORACLE}),
lsh_q AS ({_ANN_LSH_ORACLE}),
ivf_q AS ({_ivf_oracle()}),
pq_q AS ({_pq_oracle()}),
sq8_r AS ({_sq8_recall_oracle()}),
bq_r AS ({_bq_recall_oracle()}),
mrl_r AS ({_mrl_recall_oracle()}),
ivfpq_r AS ({_ivfpq_recall_oracle()}),
gold AS (SELECT query_id, neighbor_id FROM exact_q),
topk_hits AS (
  SELECT 'lsh' AS method, CAST(count(*) AS BIGINT) AS hits
  FROM lsh_q a JOIN gold g
    ON g.query_id = a.query_id AND g.neighbor_id = a.neighbor_id
  UNION ALL
  SELECT 'ivf', CAST(count(*) AS BIGINT)
  FROM ivf_q a JOIN gold g
    ON g.query_id = a.query_id AND g.neighbor_id = a.neighbor_id
  UNION ALL
  SELECT 'pq', CAST(count(*) AS BIGINT)
  FROM pq_q a JOIN gold g
    ON g.query_id = a.query_id AND g.neighbor_id = a.neighbor_id),
recall_hits AS (
  SELECT 'sq8' AS method, CAST(sum(n_hits) AS BIGINT) AS hits FROM sq8_r
  UNION ALL
  SELECT 'bq', CAST(sum(n_hits) AS BIGINT) FROM bq_r
  UNION ALL
  SELECT 'ivfpq', CAST(sum(n_hits) AS BIGINT) FROM ivfpq_r
  UNION ALL
  SELECT 'mrl' || CAST(dim AS VARCHAR), CAST(sum(n_hits) AS BIGINT)
  FROM mrl_r GROUP BY dim),
allm AS (SELECT * FROM topk_hits UNION ALL SELECT * FROM recall_hits),
bv(method, bytes_per_vec) AS (VALUES {bytes_vals})
SELECT a.method,
       CAST(b.bytes_per_vec AS BIGINT) AS bytes_per_vec,
       CAST(({_RAW_BYTES} * {_MICRO}) // b.bytes_per_vec AS BIGINT)
         AS compression_micro,
       a.hits AS total_hits,
       CAST((a.hits * {_MICRO}) // {denom} AS BIGINT) AS mean_recall_ppm
FROM allm a JOIN bv b USING (method)
"""


@query("similarity_compression_frontier", oracle=_frontier_oracle())
def similarity_compression_frontier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The index-selection frontier: one row per compressed/approximate
    search method — hyperplane LSH, IVF, PQ, IVF+PQ, SQ8, BQ, and the
    Matryoshka truncations — with its bytes-per-vector, its compression
    factor over raw float64, and its MEAN recall@k against the shared
    exact-cosine ground truth.  This is the table a deployment reads to
    pick an index for a memory budget ("64× smaller costs how much
    recall?"), and the regression guard that keeps the whole ladder's
    quality visible in ONE bench-tracked relation.

    Pure composition: every ranking is the registered query run
    unchanged; compression factors are configuration literals (the
    methods' code sizes); recall is exact integer arithmetic.  The
    oracle composes the registered oracle texts, so the frontier can
    never drift from the operators it summarizes.

    Scale: the inputs are (n_queries × k)-bounded outputs of their
    queries; the frontier itself adds tiny joins and a 9-row output —
    its cost is the sum of its parts, each individually plan-audited."""
    from iceberg_table_generator_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        similarity_ann_lsh,
        similarity_cosine_topk,
        similarity_ivf_topk,
        similarity_pq_topk,
    )
    from iceberg_table_generator_spark.operators.wave12 import (
        similarity_sq8_recall,
    )
    from iceberg_table_generator_spark.operators.wave14 import (
        similarity_bq_recall,
        similarity_matryoshka_recall,
    )
    from iceberg_table_generator_spark.operators.wave16 import (
        similarity_ivfpq_recall,
    )

    gold = similarity_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )

    def topk_hits(method: str, df: DataFrame) -> DataFrame:
        return (
            df.select("query_id", "neighbor_id")
            .join(gold, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).cast("long").alias("hits"))
            .select(F.lit(method).alias("method"), "hits")
        )

    def recall_hits(method: str, df: DataFrame) -> DataFrame:
        return df.agg(F.sum("n_hits").cast("long").alias("hits")).select(
            F.lit(method).alias("method"), "hits"
        )

    mrl = similarity_matryoshka_recall(spark, sf_dir)
    parts = [
        topk_hits("lsh", similarity_ann_lsh(spark, sf_dir)),
        topk_hits("ivf", similarity_ivf_topk(spark, sf_dir)),
        topk_hits("pq", similarity_pq_topk(spark, sf_dir)),
        recall_hits("sq8", similarity_sq8_recall(spark, sf_dir)),
        recall_hits("bq", similarity_bq_recall(spark, sf_dir)),
        recall_hits("ivfpq", similarity_ivfpq_recall(spark, sf_dir)),
        mrl.groupBy("dim")
        .agg(F.sum("n_hits").cast("long").alias("hits"))
        .select(
            F.concat(F.lit("mrl"), F.col("dim").cast("string")).alias(
                "method"
            ),
            "hits",
        ),
    ]
    # Arm-overlap note (r13 verdict #4, investigated r14 and REJECTED):
    # materializing the seven arms from a driver thread pool (persist
    # each part, concurrent count() jobs, union the cached rows) measured
    # 5.67 → 6.99 s median-of-5 same-host at sf0.1 — a regression, not a
    # win.  The single union plan below already overlaps the arms: the
    # DAG scheduler submits every READY stage of one job concurrently,
    # and the arms' stages are independent until the final union, so the
    # thread pool only added per-arm persist writes and per-job scheduling
    # overhead on top of parallelism Spark was already providing.
    allm = parts[0]
    for p in parts[1:]:
        allm = allm.unionByName(p)
    bv = spark.createDataFrame(
        sorted(_METHOD_BYTES.items()), "method string, bytes_per_vec long"
    )
    denom = N_QUERIES * TOP_K
    return allm.join(F.broadcast(bv), "method").select(
        "method",
        "bytes_per_vec",
        F.expr(f"({_RAW_BYTES} * {_MICRO}) div bytes_per_vec")
        .cast("long")
        .alias("compression_micro"),
        F.col("hits").alias("total_hits"),
        F.expr(f"(hits * {_MICRO}) div {denom}")
        .cast("long")
        .alias("mean_recall_ppm"),
    )


# --------------------------------------------------------------------------
# Source-ablation vocabulary matrix (leave-one-source-out audit)
# --------------------------------------------------------------------------
_ABLATION_ORACLE = f"""
WITH w AS (
  SELECT doc_id, source, {tokens_sql()} AS ws
  FROM documents),
docs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(ws)) AS BIGINT) AS n_tokens
  FROM w GROUP BY source),
tri AS (
  SELECT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
  FROM w, unnest(generate_series(1, len(ws) - 2)) t(i)),
ssrc AS (
  SELECT s, count(DISTINCT source) AS n_sources,
         min(source) AS only_source
  FROM tri GROUP BY s),
vocab AS (SELECT CAST(count(*) AS BIGINT) AS v FROM ssrc),
uniq AS (
  SELECT only_source AS source, CAST(count(*) AS BIGINT) AS shingles_unique
  FROM ssrc WHERE n_sources = 1 GROUP BY only_source)
SELECT d.source, d.n_docs, d.n_tokens,
       CAST(coalesce(u.shingles_unique, 0) AS BIGINT) AS shingles_unique,
       CAST((coalesce(u.shingles_unique, 0) * {_MICRO}) // v.v AS BIGINT)
         AS shingle_loss_ppm
FROM docs d
LEFT JOIN uniq u USING (source)
CROSS JOIN vocab v
"""


@query("pipeline_source_ablation_matrix", oracle=_ABLATION_ORACLE)
def pipeline_source_ablation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-source-out ablation screen: per source, the documents
    and tokens that leave the corpus with it and — the irreplaceable
    part — how many vocabulary words exist ONLY in that source, as a
    corpus vocabulary-loss ppm.  The cheap one-pass answer to "what do
    we lose if we cut this feed" that precedes any GPU-scale retraining
    ablation; a source with high token mass but near-zero unique
    vocabulary is redundant, one with the opposite profile is
    irreplaceable diversity (the data-mixing literature's
    quality-vs-coverage axis).

    The uniqueness unit is the 3-word SHINGLE (the dedup family's unit,
    `functions.text.shingles`): the fixture's unigram vocabulary is fully shared
    across sources (loss structurally zero), while shingle phrasing is
    genuinely source-specific — and at web scale shingle-attribution is
    the same screen (phrases, not words, are what a source uniquely
    contributes).  Exactness: pure integer counting (a shingle is
    unique ⟺ its distinct source count is 1; `min(source)` names the
    owner, well-defined only under the n_sources = 1 filter).

    Scale: ONE tokenize+shingle pass (in-row, the dedup pipeline's
    shape) feeds both the per-source mass aggregate and the
    shingle→source-count relation (map-side combinable, shingle-space
    bounded); output is sources-bounded."""
    from iceberg_table_generator_spark.sources.tables import spread

    d = spread(load_table(spark, sf_dir, "documents")).withColumn("tokens", tokens())
    d = d.withColumn("shingles", shingles("tokens", 3))
    d = d.select("source", "tokens", "shingles")
    docs = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("tokens")).cast("long").alias("n_tokens"),
    )
    # NON-distinct shingles per doc (every occurrence attributes), to
    # mirror the oracle's unnest; `shingles` is distinct per doc, so
    # rebuild occurrences from tokens.
    tri = d.select(
        "source",
        F.explode(ngrams("tokens", 3)).alias("s"),
    )
    ssrc = tri.groupBy("s").agg(
        F.countDistinct("source").alias("n_sources"),
        F.min("source").alias("only_source"),
    )
    vocab = ssrc.agg(F.count(F.lit(1)).cast("long").alias("v"))
    uniq = (
        ssrc.filter(F.col("n_sources") == 1)
        .groupBy(F.col("only_source").alias("source"))
        .agg(F.count(F.lit(1)).cast("long").alias("shingles_unique"))
    )
    return (
        docs.join(uniq, "source", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.coalesce("shingles_unique", F.lit(0))
            .cast("long")
            .alias("shingles_unique"),
            F.expr(f"(coalesce(shingles_unique, 0) * {_MICRO}) div v")
            .cast("long")
            .alias("shingle_loss_ppm"),
        )
    )
