"""Building the `llm_pipeline` queries runs no Spark job.

A job launched while a query is being built (an eager ``count()`` pin, a
``persist`` materialized early, an inferred schema) is paid on every call
and shows in no plan.  These queries build lazily, and their whole plan
runs when the caller acts on it, so the build must launch nothing.
"""

from __future__ import annotations

import os
import time
import uuid

import pytest

from iceberg_table_generator_spark import all_queries
from iceberg_table_generator_spark.plans import explain
from iceberg_table_generator_spark.sources.tables import load_table, table_path

from conftest import SF_MEDIUM, SF_SMALL

SF_LARGE = os.path.join(os.path.dirname(SF_SMALL), "sf0.1")

LAZY_QUERIES = (
    "text_bm25_topk",
    "text_bm25_ndcg_eval",
    "text_source_vocab_overlap",
    "multimodal_fingerprint_dedup",
    "similarity_cosine_topk",
)


def _in_job_group(spark, group: str, build) -> None:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_llm_pipeline_queries_build_without_spark_jobs(spark, sf_small):
    queries = all_queries()
    tag = uuid.uuid4().hex[:8]
    _in_job_group(
        spark, f"build-{tag}", lambda: [queries[n](spark, sf_small) for n in LAZY_QUERIES]
    )
    # control: footer inference is a job the tracker sees; listener events
    # arrive in order, so once it shows, so would the builds'
    _in_job_group(
        spark,
        f"infer-{tag}",
        lambda: spark.read.parquet(table_path(sf_small, "documents")).schema,
    )
    tracker = spark.sparkContext.statusTracker()
    for _ in range(50):
        if tracker.getJobIdsForGroup(f"infer-{tag}"):
            break
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup(f"infer-{tag}")
    assert list(tracker.getJobIdsForGroup(f"build-{tag}")) == []


def test_fingerprint_runs_the_python_node_once(spark, sf_small):
    # the band buckets read the fingerprint relation once, so its
    # mapInArrow is one node of the plan, not one per join side, and no
    # cached relation stands in for a second read
    nodes = explain.plan_nodes(all_queries()["multimodal_fingerprint_dedup"](spark, sf_small))
    assert nodes.count("MapInArrow") == 1
    assert "InMemoryTableScan" not in nodes


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MEDIUM, SF_LARGE])
def test_bm25_documents_are_keyed_by_doc_id(spark, sf_dir):
    # BM25 reads a document's length and term counts off its one row,
    # which equals the oracle's doc_id grouping only while doc_id is a key
    docs = load_table(spark, sf_dir, "documents")
    n, distinct, nulls = docs.selectExpr(
        "count(*)", "count(DISTINCT doc_id)", "count_if(doc_id IS NULL)"
    ).first()
    assert n == distinct and nulls == 0
