"""Engine-exact BPE merge fit (operators/text.py, r13 verdict #3).

The oracle pairing proves Spark-fit ≡ DuckDB-refit; these tests pin the
Python fit primitives' semantics (the greedy-application contract the
delimited-replace trick must match) and the query-level invariants."""

from __future__ import annotations

import pyspark.sql.functions as F

from iceberg_table_generator_spark.operators import text
from iceberg_table_generator_spark.operators.text import (
    BPE_MERGES,
    _apply_merge,
    bpe_fit,
    text_bpe_fertility,
    text_bpe_merge_table,
)


def test_apply_merge_greedy_left_to_right():
    # overlapping occurrences resolve greedily, never re-examining output
    assert _apply_merge(list("aaa"), "a", "a") == ["aa", "a"]
    assert _apply_merge(list("aaaa"), "a", "a") == ["aa", "aa"]
    # adjacent matches that share no characters both fire
    assert _apply_merge(list("abab"), "a", "b") == ["ab", "ab"]
    # merged symbols are units for later steps
    assert _apply_merge(["ab", "ab", "c"], "ab", "ab") == ["abab", "c"]
    assert _apply_merge(list("xyz"), "a", "b") == ["x", "y", "z"]


def test_fit_is_deterministic_and_cached(spark, sf_small):
    text._BPE_CACHE.clear()
    first = bpe_fit(spark, sf_small)
    assert len(first) == BPE_MERGES
    assert sf_small in text._BPE_CACHE
    again = bpe_fit(spark, sf_small)  # cache hit: same object
    assert again is first
    text._BPE_CACHE.clear()
    refit = bpe_fit(spark, sf_small)  # full refit: same values
    assert refit == first
    # weights are positive ints; pairs are non-empty symbol strings
    assert all(w > 0 and a and b for a, b, w in first)


def test_merge_table_shape(spark, sf_small):
    rows = text_bpe_merge_table(spark, sf_small).collect()
    assert [r.merge_rank for r in rows] == list(range(1, BPE_MERGES + 1))
    assert all(r.merged == r.lhs + r.rhs for r in rows)


def test_merge_utilization_consistent_with_fertility(spark, sf_small):
    """Cross-query consistency: the utilization audit's total emitted
    symbols must equal the fertility matrix's corpus-wide bpe_tokens
    (both are the same final segmentation, counted two ways), and no
    merge can account for more symbols than the total."""
    from iceberg_table_generator_spark.operators.text import (
        text_bpe_merge_utilization,
    )

    util = text_bpe_merge_utilization(spark, sf_small).collect()
    fert = text_bpe_fertility(spark, sf_small).collect()
    assert len(util) == BPE_MERGES
    totals = {r.total_syms for r in util}
    assert totals == {sum(r.bpe_tokens for r in fert)}
    for r in util:
        assert 0 <= r.n_uses <= r.total_syms
        assert 0 <= r.use_share_ppm <= 1_000_000


def test_fertility_bounds(spark, sf_small):
    rows = text_bpe_fertility(spark, sf_small).collect()
    langs = {r.lang for r in rows}
    assert len(rows) == len(langs) >= 2
    for r in rows:
        # merges only ever REDUCE the character segmentation, and a word
        # is never fewer than one token
        assert r.n_words <= r.bpe_tokens <= r.char_tokens
        assert r.bpe_vs_char_ppm <= 1_000_000
        assert r.bpe_fertility_micro >= 1_000_000
