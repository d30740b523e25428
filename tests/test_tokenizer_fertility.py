"""Property tests for the subword tokenizer-fertility family (operators/text.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from iceberg_table_generator_spark.operators.text import (
    FERTILITY_V,
    VOCAB_SWEEP,
    text_subword_fertility,
    text_tokenizer_vocab_sweep,
)

MICRO = 1_000_000


def test_fertility_bounds(spark, sf_small):
    """Every word costs ≥ 1 token (fertility ≥ 1.0) and a token never
    spans words (fertility ≤ chars-per-word bound); OOV rate is a ppm."""
    rows = text_subword_fertility(spark, sf_small).collect()
    assert rows, "no languages?"
    for r in rows:
        assert r.fertility_micro >= MICRO, r
        assert 0 <= r.oov_ppm <= MICRO, r
        # in-vocab words cost 1 token, OOV ceil(len/4) ≥ 1 ⇒ tokens ≤
        # words would only fail if a word cost 0 tokens
        assert r.n_tokens >= r.n_words, r
        # bytes per token ≥ 1 byte (tokens are non-empty ASCII+ chunks)
        assert r.bytes_per_token_micro >= MICRO, r


def test_vocab_sweep_monotone(spark, sf_small):
    """Growing the vocabulary can only help: per language, fertility and
    OOV rate are non-increasing in V (a word in the top-64 is also in the
    top-256 — rank cuts are nested)."""
    rows = text_tokenizer_vocab_sweep(spark, sf_small).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    assert len(rows) == len(by_lang) * len(VOCAB_SWEEP)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.vocab_size)
        for a, b in zip(rs, rs[1:]):
            assert b.fertility_micro <= a.fertility_micro, (lang, a, b)
            assert b.oov_ppm <= a.oov_ppm, (lang, a, b)


def test_sweep_agrees_with_headline_matrix(spark, sf_small):
    """The sweep's V=FERTILITY_V row must equal the headline matrix —
    the two queries share the vocabulary definition, so a drift means
    one of them changed semantics."""
    assert FERTILITY_V in VOCAB_SWEEP
    head = {
        r.lang: (r.fertility_micro, r.oov_ppm)
        for r in text_subword_fertility(spark, sf_small).collect()
    }
    swept = {
        r.lang: (r.fertility_micro, r.oov_ppm)
        for r in text_tokenizer_vocab_sweep(spark, sf_small)
        .filter(F.col("vocab_size") == FERTILITY_V)
        .collect()
    }
    assert head == swept


def test_ccnet_buckets_are_exact_terciles(spark, sf_small):
    """Per language: bucket doc counts differ by ≤ 1 (exact terciles) and
    mean logloss is ordered head ≤ middle ≤ tail (the rank cut IS the
    quality order)."""
    from iceberg_table_generator_spark.operators.text import (
        text_ccnet_perplexity_buckets,
    )

    rows = text_ccnet_perplexity_buckets(spark, sf_small).collect()
    by_lang: dict[str, dict[str, object]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    for lang, b in by_lang.items():
        assert set(b) == {"head", "middle", "tail"}, (lang, set(b))
        sizes = [b[k].n_docs for k in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        assert (
            b["head"].avg_logloss_micro
            <= b["middle"].avg_logloss_micro
            <= b["tail"].avg_logloss_micro
        ), (lang, b)
        assert b["head"].max_logloss_micro <= b["middle"].min_logloss_micro
        assert b["middle"].max_logloss_micro <= b["tail"].min_logloss_micro


def test_cross_source_matrix_accounts_for_all_pairs(spark, sf_small):
    """Every verified near-dup pair lands in exactly one matrix cell:
    Σ n_pairs over cells = |dedup_minhash_lsh| pairs, and the
    within_source flag matches the cell's diagonal position."""
    from iceberg_table_generator_spark.operators.dedup import (
        dedup_minhash_lsh,
    )
    from iceberg_table_generator_spark.operators.wave19 import (
        dedup_cross_source_matrix,
    )

    total = dedup_minhash_lsh(spark, sf_small).count()
    rows = dedup_cross_source_matrix(spark, sf_small).collect()
    assert sum(r.n_pairs for r in rows) == total
    for r in rows:
        assert r.source_a <= r.source_b
        assert r.within_source == (1 if r.source_a == r.source_b else 0)
        assert 0 < r.avg_jaccard_micro <= r.max_jaccard_micro <= 1_000_000


def test_filter_agreement_marginals(spark, sf_small):
    """The agreement grid's marginals must equal each filter's own
    totals: Σ over keep = the bucket relation's per-bucket doc counts;
    Σ over buckets = the Gopher gate's keep/reject split."""
    from iceberg_table_generator_spark.operators.wave14 import (
        gopher_rule_flags,
    )
    from iceberg_table_generator_spark.operators.text import ccnet_doc_buckets
    from iceberg_table_generator_spark.operators.wave19 import (
        pipeline_quality_filter_agreement,
    )
    from iceberg_table_generator_spark.sources.tables import load_table

    rows = pipeline_quality_filter_agreement(spark, sf_small).collect()
    bucket_marg: dict[str, int] = {}
    keep_marg: dict[int, int] = {}
    for r in rows:
        bucket_marg[r.bucket] = bucket_marg.get(r.bucket, 0) + r.n_docs
        keep_marg[r.gopher_keep] = keep_marg.get(r.gopher_keep, 0) + r.n_docs
    b = ccnet_doc_buckets(spark, sf_small)
    expect_buckets = {
        r.bucket: r.c
        for r in b.groupBy("bucket").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert bucket_marg == expect_buckets
    docs = load_table(spark, sf_small, "documents")
    flags = gopher_rule_flags(docs, keep=["doc_id"]).collect()
    n_keep = sum(
        1 for r in flags if r.wc_ok * r.mwl_ok * r.stop_ok * r.rep_ok == 1
    )
    assert keep_marg.get(1, 0) == n_keep
    assert sum(keep_marg.values()) == len(flags)


def test_vocab_transfer_diagonal_dominates(spark, sf_small):
    """A language is never tokenized better by a FOREIGN vocabulary than
    by its own: for each eval language, the diagonal cell has the
    minimum OOV rate (ties allowed — shared surface vocabulary)."""
    from iceberg_table_generator_spark.operators.text import (
        text_crosslingual_vocab_transfer,
    )

    rows = text_crosslingual_vocab_transfer(spark, sf_small).collect()
    langs = {r.eval_lang for r in rows}
    assert len(rows) == len(langs) ** 2
    by_eval: dict[str, list] = {}
    for r in rows:
        by_eval.setdefault(r.eval_lang, []).append(r)
    for lang, rs in by_eval.items():
        diag = next(r for r in rs if r.fit_lang == lang)
        assert diag.oov_ppm == min(r.oov_ppm for r in rs), (lang, rs)
        assert diag.fertility_micro == min(r.fertility_micro for r in rs)
