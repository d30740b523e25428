"""Round-13 wave: the quality-filter agreement matrix (Gopher rules ×
CCNet perplexity terciles), the cross-source near-dup contamination
matrix and the MinHash candidate-growth probe (r12 verdict #5).

The subword-fertility family and the CCNet buckets this wave composes
live in the text domain (`operators/text.py`).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_table_generator_spark.operators.text import ccnet_doc_buckets, ccnet_doc_ctes
from iceberg_table_generator_spark.operators.relational import MICRO
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# MinHash-LSH candidate-growth probe (r12 verdict #3)
# --------------------------------------------------------------------------
#: Words per synthetic document and the planted-duplicate period: every
#: doc with doc_id ≡ PERIOD-1 (mod PERIOD) is an exact copy of its
#: predecessor — a FIXED duplicate rate at every N.
_PROBE_WORDS = 12
_PROBE_PERIOD = 10


def _synth_docs(spark: SparkSession, n: int):
    """(doc_id, text): deterministic synthetic corpus with a fixed
    duplicate rate (the `semdedup_k_scaling_probe` fixture pattern — no
    RNG).  Non-duplicate docs draw words from a ~10⁶ token space via an
    integer hash, so accidental shingle collisions between distinct docs
    are negligible and every LSH candidate pair is a planted duplicate."""
    base = F.when(
        F.col("id") % _PROBE_PERIOD == _PROBE_PERIOD - 1, F.col("id") - 1
    ).otherwise(F.col("id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(_PROBE_WORDS - 1)),
        lambda j: F.concat(
            F.lit("w"),
            (
                (base * F.lit(2654435761) + j * F.lit(40503) + F.lit(7))
                % F.lit(1000003)
            ).cast("string"),
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )


def minhash_candidate_scaling_probe(
    spark: SparkSession, n: int
) -> tuple[int, int]:
    """(planted duplicate pairs, realized LSH candidate pairs) for the
    production 16×4 banding plan over the synthetic corpus — the lexical
    tier's twin of `semdedup_k_scaling_probe` (r12 verdict #3).

    The claim it makes empirical: at a FIXED duplicate rate, LSH
    candidates grow LINEARLY in N (each planted pair collides in its
    bands; unrelated docs share no shingles so they share no band keys)
    — not quadratically, which is the whole point of banding over the
    all-pairs join.  Asserted at two N values in
    tests/test_minhash_scaling.py; published in SCALING.md."""
    from iceberg_table_generator_spark.operators.dedup import (
        minhash_band_keys,
    )

    docs = _synth_docs(spark, n)
    bands = minhash_band_keys(docs)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .count()
    )
    planted = n // _PROBE_PERIOD
    return planted, cand


# --------------------------------------------------------------------------
# Cross-source near-dup contamination matrix (mirror detection)
# --------------------------------------------------------------------------
def _cross_source_oracle() -> str:
    from iceberg_table_generator_spark.operators.dedup import _MINHASH_ORACLE

    return f"""
WITH lex AS ({_MINHASH_ORACLE}),
p AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         CAST(round(l.jaccard * {MICRO}, 0) AS BIGINT) AS j_micro
  FROM lex l
  JOIN documents da ON da.doc_id = l.doc_a
  JOIN documents db ON db.doc_id = l.doc_b)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(j_micro) // count(*) AS BIGINT) AS avg_jaccard_micro,
       CAST(max(j_micro) AS BIGINT) AS max_jaccard_micro,
       CAST(CASE WHEN source_a = source_b THEN 1 ELSE 0 END AS INT)
         AS within_source
FROM p GROUP BY source_a, source_b
"""


@query("dedup_cross_source_matrix", oracle=_cross_source_oracle())
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which feeds mirror which: the verified MinHash near-dup pairs
    (the registered `dedup_minhash_lsh` output, composed unchanged)
    attributed to their source feeds and aggregated per unordered source
    pair — off-diagonal cells are CROSS-source near-duplicates
    (re-crawls, templated mirrors, syndicated boilerplate), the audit a
    corpus steward reads before ingesting a "new" feed that is largely a
    mirror of an existing one.  The lexical twin of
    `dedup_semdedup_cross_lang_shadow`'s attribution idiom.

    Exactness: the verified Jaccard is the registered query's own
    round-6 double, micro-scaled per pair before integer aggregation.
    Scale: pair-set-sized input (LSH-bounded), two id-keyed joins to the
    source column, |sources|²-bounded output."""
    from iceberg_table_generator_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    lex = dedup_minhash_lsh(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    p = (
        lex.join(
            d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            F.round(F.col("jaccard") * MICRO, 0).cast("long").alias("j_micro"),
        )
    )
    return p.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("CAST(sum(j_micro) div count(1) AS BIGINT)").alias(
            "avg_jaccard_micro"
        ),
        F.max("j_micro").cast("long").alias("max_jaccard_micro"),
        F.when(F.col("source_a") == F.col("source_b"), 1)
        .otherwise(0)
        .cast("int")
        .alias("within_source"),
    )


# --------------------------------------------------------------------------
# Quality-filter agreement matrix (Gopher rules × perplexity buckets)
# --------------------------------------------------------------------------
def _filter_agreement_oracle() -> str:
    from iceberg_table_generator_spark.operators.wave14 import (
        _sql_rule_flags,
    )

    return f"""
WITH {ccnet_doc_ctes()},
{_sql_rule_flags("doc_id")},
gk AS (
  SELECT doc_id, wc_ok * mwl_ok * stop_ok * rep_ok AS gopher_keep FROM r)
SELECT b.bucket, CAST(g.gopher_keep AS INT) AS gopher_keep,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(b.n_tokens) AS BIGINT) AS n_tokens
FROM bkt b JOIN gk g USING (doc_id)
GROUP BY b.bucket, g.gopher_keep
"""


@query("pipeline_quality_filter_agreement", oracle=_filter_agreement_oracle())
def pipeline_quality_filter_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Do the two quality filters agree?  Every document classified by
    BOTH quality tiers the repo implements — the Gopher rule gate
    (all-four-rules keep, the cheap stateless first stage) and the CCNet
    perplexity tercile (the LM-based second stage) — aggregated to the
    bucket × keep grid.  The cells to read: (head, 0) = docs the LM
    likes but the rules reject (rules too strict / rule blind spots),
    (tail, 1) = docs the rules pass but the LM flags (gibberish with
    plausible surface statistics).  Filter-ensemble correlation is what
    decides whether a second filter stage adds information or re-rejects
    the same mass — the audit run before paying for the LM pass at
    100 TB.

    Pure composition: the per-doc bucket relation is
    `ccnet_doc_buckets` (shared with the registered tercile query), the
    rule flags are the SHARED `gopher_rule_flags` projection (batch
    audit + streaming gate), and both oracle CTE chains are the
    registered oracles' own text.  Output ≤ 6 rows."""
    from iceberg_table_generator_spark.operators.wave14 import (
        gopher_rule_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    flags = gopher_rule_flags(docs, keep=["doc_id"])
    gk = flags.select(
        "doc_id",
        (
            F.col("wc_ok") * F.col("mwl_ok") * F.col("stop_ok") * F.col("rep_ok")
        )
        .cast("int")
        .alias("gopher_keep"),
    )
    b = ccnet_doc_buckets(spark, sf_dir)
    return (
        b.join(gk, "doc_id")
        .groupBy("bucket", "gopher_keep")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
