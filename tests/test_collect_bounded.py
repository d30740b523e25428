"""Bounded driver collects: the bound is checked before any fold work.

Each language-keyed driver fold collects through
`functions/collect.collect_bounded` with `MAX_LANGUAGES`.  With the cap
patched to 1 on the multi-language fixture corpus, each must raise with
its query's name, and its collect must have pulled cap + 1 rows, never
the whole relation.
"""

from __future__ import annotations

import pytest

from iceberg_table_generator_spark.functions import collect
from iceberg_table_generator_spark.operators import text, wave14
from iceberg_table_generator_spark.sources.tables import load_table


def test_collect_bounded_returns_rows_within_the_bound(spark):
    rows = collect.collect_bounded(spark.range(3), 3, "q")
    assert sorted(r.id for r in rows) == [0, 1, 2]
    with pytest.raises(ValueError, match="q: the collected relation reached 3 rows"):
        collect.collect_bounded(spark.range(3), 2, "q")


@pytest.mark.parametrize(
    "build, query",
    [
        (wave14.pipeline_unimax_mixing, "pipeline_unimax_mixing"),
        (text.ccnet_doc_buckets, "ccnet_doc_buckets"),
        (text.text_crosslingual_vocab_transfer, "text_crosslingual_vocab_transfer"),
    ],
    ids=["unimax", "ccnet", "vocab_transfer"],
)
def test_language_fold_stops_at_the_cap(spark, sf_small, monkeypatch, build, query):
    docs = load_table(spark, sf_small, "documents")
    assert docs.select("lang").distinct().count() > 2, "needs several languages"
    monkeypatch.setattr(collect, "MAX_LANGUAGES", 1)
    frame_cls = type(spark.range(1))
    pulled = []
    plain_collect = frame_cls.collect

    def counted_collect(self):
        rows = plain_collect(self)
        pulled.append(len(rows))
        return rows

    monkeypatch.setattr(frame_cls, "collect", counted_collect)
    with pytest.raises(ValueError, match=f"{query}: the collected relation reached 2 rows"):
        build(spark, sf_small)
    assert pulled[-1] == 2
