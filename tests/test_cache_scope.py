"""Contract tests for functions.cache.tracked_scope (r7 advice): ad-hoc
callers get deterministic release of operator-persisted intermediates
without depending on a harness calling release_tracked()."""

from __future__ import annotations

from iceberg_table_generator_spark.functions import cache
from iceberg_table_generator_spark.functions.cache import (
    memo_relation,
    persist_tracked,
    release_tracked,
    tracked_scope,
)
from iceberg_table_generator_spark.sources.tables import load_table


def test_tracked_scope_releases_only_inner_frames(spark, sf_small):
    outer = persist_tracked(load_table(spark, sf_small, "region"))
    outer.count()
    with tracked_scope():
        inner = persist_tracked(load_table(spark, sf_small, "nation"))
        inner.count()
        assert inner.storageLevel.useDisk
    # Inner frame released and de-registered; outer untouched.
    assert not inner.storageLevel.useDisk
    assert outer.storageLevel.useDisk
    assert outer in cache._TRACKED
    assert inner not in cache._TRACKED


def test_tracked_scope_releases_on_exception(spark, sf_small):
    try:
        with tracked_scope():
            inner = persist_tracked(load_table(spark, sf_small, "nation"))
            inner.count()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert not inner.storageLevel.useDisk
    assert inner not in cache._TRACKED


# -- memo_relation (r13 verdict #1: first-reader-lazy materialization) ----


def _memo_builder(spark, sf_small, calls):
    def build():
        calls.append(1)
        return load_table(spark, sf_small, "region")

    return build


def test_memo_first_hit_is_lazy(spark, sf_small):
    """A sole consumer must pay NEITHER the persist write NOR an
    up-front count: the first hit returns the built frame unpersisted —
    exactly the cost of composing the relation inline (the r13
    matryoshka regression)."""
    calls: list[int] = []
    key = (spark.sparkContext.applicationId, sf_small, "memo-lazy-test")
    df = memo_relation(key, _memo_builder(spark, sf_small, calls))
    assert calls == [1]
    assert not df.storageLevel.useDisk  # no persist for a sole reader
    assert not df.storageLevel.useMemory
    assert key in cache._MEMO
    assert key not in cache._MEMO_PINNED  # no eager count happened
    assert df.count() > 0  # sole consumer's own action just computes


def test_memo_second_hit_pins(spark, sf_small):
    """The second hit proves the relation is shared — the SAME frame is
    persisted and pinned with one eager count (CacheManager subtree
    substitution serves plans already composed from it); later hits
    reuse the pin without recounting."""
    calls: list[int] = []
    key = (spark.sparkContext.applicationId, sf_small, "memo-pin-test")
    build = _memo_builder(spark, sf_small, calls)
    first = memo_relation(key, build)
    assert not first.storageLevel.useDisk
    second = memo_relation(key, build)
    assert second is first  # one shared frame, builder ran once
    assert calls == [1]
    assert first.storageLevel.useDisk  # persisted at the second hit
    assert key in cache._MEMO_PINNED
    assert first in cache._TRACKED  # harness release covers the pin
    third = memo_relation(key, build)
    assert third is first
    assert calls == [1]
    assert cache._MEMO_PINNED == {key}  # pin recorded exactly once


def test_memo_eager_flag_pins_first_hit(spark, sf_small):
    """eager=True is the escape hatch for a caller that fans the frame
    into multiple branches of its OWN first job (`ranking_quality`'s
    two gold reads)."""
    calls: list[int] = []
    key = (spark.sparkContext.applicationId, sf_small, "memo-eager-test")
    df = memo_relation(key, _memo_builder(spark, sf_small, calls), eager=True)
    assert calls == [1]
    assert df.storageLevel.useDisk
    assert key in cache._MEMO_PINNED


def test_memo_cleared_by_release_and_scope(spark, sf_small):
    calls: list[int] = []
    key = (spark.sparkContext.applicationId, sf_small, "memo-clear-test")
    build = _memo_builder(spark, sf_small, calls)
    memo_relation(key, build)
    memo_relation(key, build)  # pins
    release_tracked()
    assert key not in cache._MEMO
    assert key not in cache._MEMO_PINNED
    with tracked_scope():
        memo_relation(key, build)
        memo_relation(key, build)
        assert key in cache._MEMO_PINNED
    assert key not in cache._MEMO
    assert key not in cache._MEMO_PINNED
    assert calls == [1, 1]  # one rebuild after release, none inside hits
