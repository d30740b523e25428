"""Round-12 fourth wave: the dedup tier-overlap audit and the multimodal
alignment filter.

* **Dedup tier-overlap matrix** — the Venn a curation run reads across
  its dedup ladder: which duplicate pairs the exact tier (identical
  text), the lexical tier (MinHash-LSH, Jaccard ≥ τ), and the semantic
  tier (SemDeDup cosine ≥ τ) each catch, and crucially how many pairs
  ONLY the embedding tier sees (paraphrase duplicates — the SemDeDup
  paper's motivating count).
* **Text↔embedding alignment filter** — the CLIP-score filtering proxy
  (LAION's core curation op): project each document's tokens into the
  embedding space with a deterministic feature hash (±1 signs into 64
  dims) and score cosine alignment against the document's stored
  embedding.  With a real encoder the text side becomes CLIP text
  embeddings; everything downstream — the per-pair cosine, the
  per-source retention — is exactly this plan (the sanctioned-stub
  pattern of the multimodal decode path).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_table_generator_spark.functions.text import (
    md5_60,
    md5_60_sql,
    tokens,
    tokens_sql,
)
from iceberg_table_generator_spark.operators.relational import MICRO
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Dedup tier-overlap matrix (exact × lexical × semantic Venn)
# --------------------------------------------------------------------------


def _tier_overlap_oracle() -> str:
    from iceberg_table_generator_spark.operators.dedup import (
        _MINHASH_ORACLE,
    )
    from iceberg_table_generator_spark.operators.wave11 import (
        sql_semdedup_ctes,
        SEMDEDUP_TAU,
    )
    from iceberg_table_generator_spark.operators.similarity import VEC_DIM

    return f"""
WITH lex_q AS ({_MINHASH_ORACLE}),
sem_base AS ({sql_semdedup_ctes()}
  SELECT least(u.vec_id, v.vec_id) AS a, greatest(u.vec_id, v.vec_id) AS b
  FROM m u JOIN m v ON u.cid = v.cid
   AND (u.ccos < v.ccos OR (u.ccos = v.ccos AND u.vec_id < v.vec_id))
  WHERE list_sum(list_transform(generate_series(1, {VEC_DIM}),
                                i -> u.vec[i] * v.vec[i]))
        / (u.nrm * v.nrm) >= {SEMDEDUP_TAU}),
exact_p AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM (SELECT doc_id, md5(text) AS h FROM documents) x
  JOIN (SELECT doc_id, md5(text) AS h FROM documents) y
    ON x.h = y.h AND x.doc_id < y.doc_id),
lex_p AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM lex_q),
sem_p AS (SELECT DISTINCT a, b FROM sem_base),
u AS (
  SELECT a, b FROM exact_p UNION
  SELECT a, b FROM lex_p UNION
  SELECT a, b FROM sem_p),
flags AS (
  SELECT u.a, u.b,
         CASE WHEN e.a IS NULL THEN 0 ELSE 1 END AS in_exact,
         CASE WHEN l.a IS NULL THEN 0 ELSE 1 END AS in_lexical,
         CASE WHEN s.a IS NULL THEN 0 ELSE 1 END AS in_semantic
  FROM u
  LEFT JOIN exact_p e ON e.a = u.a AND e.b = u.b
  LEFT JOIN lex_p l ON l.a = u.a AND l.b = u.b
  LEFT JOIN sem_p s ON s.a = u.a AND s.b = u.b)
SELECT CAST(in_exact AS INT) AS in_exact,
       CAST(in_lexical AS INT) AS in_lexical,
       CAST(in_semantic AS INT) AS in_semantic,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM flags GROUP BY in_exact, in_lexical, in_semantic
"""


@query("dedup_tier_overlap_matrix", oracle=_tier_overlap_oracle())
def dedup_tier_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-ladder Venn: every duplicate PAIR any tier detects, flagged
    by which tiers detect it — exact (identical text), lexical
    (MinHash-LSH candidates verified at Jaccard ≥ 0.5, the registered
    `dedup_minhash_lsh` output), semantic (SemDeDup cluster-local cosine
    ≥ τ over the id-aligned embeddings) — aggregated to the ≤ 7 populated
    cells of the 2³ membership grid.  The cell (0,0,1) is the headline:
    pairs ONLY the embedding tier sees (paraphrases — the SemDeDup
    paper's motivating count), and the (1,·,·) rows are the sanity check
    that byte-identical duplicates are caught by the cheaper tiers too.

    Compositional: the lexical set is the registered query run unchanged
    (oracle text composed verbatim); the semantic set is the registered
    member relation's τ-cut pair join; exact is one md5 self-join on the
    hash key.  Every tier's pair relation is bounded by its own pruning
    (hash groups / LSH buckets / clusters) — the union and the flag
    joins are pair-set-sized, never corpus².  Output ≤ 8 rows."""
    from iceberg_table_generator_spark.operators.dedup import (
        dedup_minhash_lsh,
    )
    from iceberg_table_generator_spark.operators.wave11 import (
        _semdedup_prior_pairs,
        semdedup_relation,
        SEMDEDUP_TAU,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    x = d.select(F.col("doc_id").alias("a"), "h")
    y = d.select(F.col("doc_id").alias("b"), "h")
    exact_p = (
        x.join(y, "h").filter(F.col("a") < F.col("b")).select("a", "b")
    )
    lex_p = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .distinct()
    )
    m = semdedup_relation(spark, sf_dir)
    sem_p = (
        _semdedup_prior_pairs(m)
        .filter(F.col("sim") >= SEMDEDUP_TAU)
        .select(
            F.least("u_id", "v_id").alias("a"),
            F.greatest("u_id", "v_id").alias("b"),
        )
        .distinct()
    )
    # r14: the union-then-3-left-joins shape evaluated every tier's pair
    # relation TWICE (once inside the distinct union, once as a join
    # probe) — for the lexical tier that is the full MinHash-LSH pipeline
    # re-run.  Tagging each tier's (distinct) pairs with a one-hot flag
    # triple and folding with max() per pair computes the identical
    # membership grid with each tier evaluated ONCE and zero joins: the
    # union's groupBy(a, b) IS the old distinct's shuffle, so the plan
    # drops three pair-set joins and one evaluation of every tier.
    def _tag(p: DataFrame, e: int, lx: int, s: int) -> DataFrame:
        return p.select(
            "a",
            "b",
            F.lit(e).alias("e"),
            F.lit(lx).alias("l"),
            F.lit(s).alias("s"),
        )

    flags = (
        _tag(exact_p, 1, 0, 0)
        .unionByName(_tag(lex_p, 0, 1, 0))
        .unionByName(_tag(sem_p, 0, 0, 1))
        .groupBy("a", "b")
        .agg(
            F.max("e").cast("int").alias("in_exact"),
            F.max("l").cast("int").alias("in_lexical"),
            F.max("s").cast("int").alias("in_semantic"),
        )
    )
    return flags.groupBy("in_exact", "in_lexical", "in_semantic").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


# --------------------------------------------------------------------------
# Text ↔ embedding alignment (CLIP-score filtering proxy)
# --------------------------------------------------------------------------
#: Alignment threshold for the retention count (the LAION pipeline keeps
#: pairs with CLIP score above a fixed cut; cosine 0 is the natural cut
#: for the sign-hash proxy — uncorrelated projections center there).
ALIGN_KEEP_T = 0.0


def _alignment_oracle() -> str:
    from iceberg_table_generator_spark.operators.similarity import VEC_DIM

    dim = VEC_DIM
    return f"""
WITH tok AS (
  SELECT doc_id, source, unnest({tokens_sql()}) AS w
  FROM documents),
hashed AS (
  SELECT doc_id, source,
         CAST(1 + ({md5_60_sql('w')} % {dim}) AS INT) AS i,
         CAST((({md5_60_sql('w')} >> 6) % 2) * 2 - 1 AS BIGINT) AS sgn
  FROM tok),
tv AS (
  SELECT doc_id, source, i, CAST(sum(sgn) AS BIGINT) AS x
  FROM hashed GROUP BY doc_id, source, i),
tvl AS (
  SELECT doc_id, source, map_from_entries(list(ROW(i, x))) AS mv
  FROM tv GROUP BY doc_id, source),
e AS (
  SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings),
al AS (
  SELECT t.doc_id, t.source,
         list_sum(list_transform(generate_series(1, {dim}),
           i -> CAST(COALESCE(element_at(t.mv, i)[1], 0) AS DOUBLE)
                * e.vec[i])) AS dp,
         sqrt(list_sum(list_transform(generate_series(1, {dim}),
           i -> CAST(COALESCE(element_at(t.mv, i)[1], 0) AS DOUBLE)
              * COALESCE(element_at(t.mv, i)[1], 0)))) AS tn,
         sqrt(list_sum(list_transform(generate_series(1, {dim}),
           i -> e.vec[i] * e.vec[i]))) AS en
  FROM tvl t JOIN e ON e.doc_id = t.doc_id),
sc AS (
  SELECT doc_id, source,
         CASE WHEN tn = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(round(dp / (tn * en) * {MICRO}, 0) AS BIGINT) END
           AS align_micro
  FROM al)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(align_micro) AS BIGINT) AS align_micro_sum,
       CAST(sum(CASE WHEN align_micro > {int(ALIGN_KEEP_T * MICRO)}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST((sum(CASE WHEN align_micro > {int(ALIGN_KEEP_T * MICRO)}
                      THEN 1 ELSE 0 END) * {MICRO}) // count(*) AS BIGINT)
         AS keep_ppm
FROM sc GROUP BY source
"""


@query("multimodal_text_embedding_alignment", oracle=_alignment_oracle())
def multimodal_text_embedding_alignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Text↔embedding alignment filter — the CLIP-score curation proxy
    (LAION filters image-text pairs by CLIP cosine; this is that op over
    the id-aligned documents/embeddings pair): each document's tokens
    feature-hash into the embedding space (md5 dim, ±1 sign, summed with
    multiplicity — a deterministic bag-of-words projection), alignment =
    cosine(text projection, stored embedding), reported as per-source
    mass and retention above the cut.  With a real encoder the text side
    becomes CLIP text embeddings; the per-pair cosine, threshold cut,
    and retention report — the parts that cost anything at 100 TB — are
    exactly this plan (the sanctioned-stub pattern of the decode path).

    Exactness: the projection is INTEGER (signed token counts per dim);
    the cosine is one shared double op tree; per-doc scores micro-round
    before the source aggregate, so sums are order-free integers.

    Scale: one token pass → (doc, dim)-keyed integer aggregate (≤ dim
    rows per doc), one id-co-partitioned join against the embeddings
    scan, sources-bounded output."""
    from iceberg_table_generator_spark.operators.similarity import VEC_DIM

    dim = VEC_DIM
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(tokens()).alias("w")
    )
    h = md5_60(F.col("w"))
    hashed = tok.select(
        "doc_id",
        "source",
        (F.lit(1) + (h % dim)).cast("int").alias("i"),
        ((F.shiftrightunsigned(h, 6) % 2) * 2 - 1).cast("long").alias("sgn"),
    )
    tv = hashed.groupBy("doc_id", "source", "i").agg(
        F.sum("sgn").cast("long").alias("x")
    )
    tvl = tv.groupBy("doc_id", "source").agg(
        F.map_from_entries(F.collect_list(F.struct("i", "x"))).alias("mv")
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    idx = F.sequence(F.lit(1), F.lit(dim))
    tcomp = F.transform(
        idx,
        lambda i: F.coalesce(F.element_at("mv", i.cast("int")), F.lit(0)).cast(
            "double"
        ),
    )
    al = tvl.join(e, "doc_id").select(
        "doc_id",
        "source",
        F.aggregate(
            F.zip_with(tcomp, "vec", lambda t, v: t * v),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("dp"),
        F.sqrt(
            F.aggregate(
                F.transform(tcomp, lambda t: t * t),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("tn"),
        F.sqrt(
            F.aggregate(
                F.transform("vec", lambda v: v * v),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("en"),
    )
    sc = al.select(
        "source",
        F.when(F.col("tn") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.round(F.col("dp") / (F.col("tn") * F.col("en")) * MICRO, 0).cast(
                "long"
            )
        )
        .alias("align_micro"),
    )
    cut = int(ALIGN_KEEP_T * MICRO)
    kept = F.when(F.col("align_micro") > cut, 1).otherwise(0)
    return (
        sc.withColumn("k", kept)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("align_micro").cast("long").alias("align_micro_sum"),
            F.sum("k").cast("long").alias("n_kept"),
            F.expr(f"(sum(k) * {MICRO}) div count(*)")
            .cast("long")
            .alias("keep_ppm"),
        )
    )
