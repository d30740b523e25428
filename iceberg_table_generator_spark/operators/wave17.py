"""Round-12 fifth wave: the source-ablation shingle matrix — the
leave-one-source-out audit a corpus steward runs before dropping a feed:
per source, how many tokens/documents leave with it and how much of the
corpus's 3-gram SHINGLE space exists only in that source (its
irreplaceable phrasing diversity), as a corpus shingle-loss ppm — the
cheap one-pass proxy for "what do we lose if we cut this source" (full
retraining ablations cost GPU-months; n-gram attribution is the standard
first screen).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_table_generator_spark.functions.text import ngrams, shingles, tokens, tokens_sql
from iceberg_table_generator_spark.operators.relational import MICRO
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table


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
       CAST((coalesce(u.shingles_unique, 0) * {MICRO}) // v.v AS BIGINT)
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
            F.expr(f"(coalesce(shingles_unique, 0) * {MICRO}) div v")
            .cast("long")
            .alias("shingle_loss_ppm"),
        )
    )
