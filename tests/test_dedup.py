"""Dedup behavior: LSH recall vs the exact operator, SimHash invariants."""

from __future__ import annotations

import pyspark.sql.functions as F

from iceberg_table_generator_spark.functions.text import shingles, tokens
from iceberg_table_generator_spark.operators import dedup
from iceberg_table_generator_spark.sources.tables import load_table


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.select("doc_a", "doc_b").collect()}


def test_minhash_recall_vs_exact(spark, sf_medium):
    exact = _pairs(dedup.dedup_ngram_jaccard(spark, sf_medium))
    approx = _pairs(dedup.dedup_minhash_lsh(spark, sf_medium))
    assert exact, "fixture should contain planted near-dups"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall:.2f} below 0.8"
    # verification step guarantees no false positives above threshold
    assert approx <= exact | approx  # candidates all jaccard-verified >= 0.5


def test_minhash_no_false_positives(spark, sf_medium):
    """Verification joins back to exact Jaccard, so every reported pair
    must also be in the exact operator's output."""
    exact = _pairs(dedup.dedup_ngram_jaccard(spark, sf_medium))
    approx = _pairs(dedup.dedup_minhash_lsh(spark, sf_medium))
    assert approx <= exact


def test_simhash_identical_docs_distance_zero(spark, sf_small):
    d = load_table(spark, sf_small, "documents").limit(50)
    dup = d.withColumn("doc_id", F.col("doc_id") + 100000)
    fp = dedup.simhash(d.union(dup).withColumn("tokens", tokens()))
    joined = (
        fp.alias("a")
        .join(fp.alias("b"), F.col("a.doc_id") + 100000 == F.col("b.doc_id"))
        .select(
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("ham")
        )
    )
    assert joined.agg(F.max("ham")).first()[0] == 0


def test_exact_dedup_drops_planted_duplicates(spark, sf_small):
    d = load_table(spark, sf_small, "documents")
    n = d.count()
    doubled = d.union(d.withColumn("doc_id", F.col("doc_id") + 100000))
    keyed = doubled.withColumn("content_key", F.md5(F.lower("text")))
    kept = keyed.groupBy("content_key").agg(F.min("doc_id").alias("keep"))
    assert kept.count() == n  # every duplicate collapsed
    # keep-first: all surviving ids are the original (lower) ones
    assert kept.filter("keep >= 100000").count() == 0


def test_shingles_short_documents(spark):
    """Documents with fewer than n tokens must yield an empty shingle set,
    not a SparkRuntimeException from slice(tokens, 0, n) (ADVICE r1)."""
    df = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "exactly three tokens"), (4, "")],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: r.shingles
        for r in df.withColumn("tokens", tokens())
        .withColumn("shingles", shingles("tokens", 3))
        .collect()
    }
    assert got[1] == []
    assert got[2] == []
    assert got[3] == ["exactly three tokens"]
    assert got[4] == []


def test_connected_components_convergence_on_chain(spark):
    """A long chain (diameter >> 1) must converge to one cluster, and the
    loop must not exit silently before the fixed point (ADVICE r1)."""
    import iceberg_table_generator_spark.operators.dedup as dd

    # build a chain graph 0-1-2-...-30 directly through the propagation code
    # path by monkey-patching the pair source
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a bigint, doc_b bigint"
    )
    orig = dd.dedup_ngram_jaccard
    dd.dedup_ngram_jaccard = lambda s, d: pairs
    try:
        out = dd.dedup_connected_components(spark, "unused")
        rows = out.collect()
    finally:
        dd.dedup_ngram_jaccard = orig
    assert {r.cluster_id for r in rows} == {0}
    assert len(rows) == 31
    assert all(r.cluster_size == 31 for r in rows)


def test_jaccard_stop_shingle_cap_bounds_candidates(spark):
    """A boilerplate shingle shared by every doc must be droppable via the
    df-cap so one hot inverted-index bucket cannot go quadratic
    (VERDICT r1 #3)."""
    import iceberg_table_generator_spark.operators.dedup as dd

    boiler = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique{i}") for i in range(20)],
        "doc_id bigint, text string",
    )
    orig = dd.load_table
    dd.load_table = lambda s, d, name: docs
    try:
        uncapped = dd.dedup_ngram_jaccard(spark, "unused")
        capped = dd.dedup_ngram_jaccard(spark, "unused", df_cap=5)
        n_uncapped, n_capped = uncapped.count(), capped.count()
    finally:
        dd.load_table = orig
    assert n_uncapped == 190  # C(20,2): all pairs share the boilerplate
    assert n_capped == 0  # hot shingles dropped -> no candidate explosion
