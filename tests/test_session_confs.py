"""The engine's session confs (session.py), and among them the
session-wide `InferFiltersFromGenerate` exclusion.

The rule synthesizes `size(e) > 0 AND isnotnull(e)` under every
`explode(e)` and, for the engine's computed-array explodes, duplicates the
whole array construction (tokenize → shingle) into a filter below the
generator.  Results are the same either way, so only these tests notice
if the exclusion is dropped: the conf on `get_spark()` sessions, and the
absence of the inferred filter under a shingle explode.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

import pyspark.sql.functions as F

from iceberg_table_generator_spark.functions.text import shingles, tokens
from iceberg_table_generator_spark.plans import explain
from iceberg_table_generator_spark.session import (
    RUNTIME_SQL_CONFS,
    WINDOW_EXEC_LOGGER,
    ensure_session_confs,
)
from iceberg_table_generator_spark.sources.tables import load_table

EXCLUDED = "spark.sql.optimizer.excludedRules"
RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
INFERRED_SIZE_FILTER = re.compile(r"\bFilter .*\bsize\(.*\) > 0\)")


def _shingle_explode_plan(docs) -> str:
    df = (
        docs.withColumn("tokens", tokens())
        .withColumn("shingles", shingles("tokens", 3))
        .select("doc_id", F.explode("shingles").alias("sh"))
    )
    return explain.plan_text(df, mode="simple")


def test_get_spark_excludes_infer_filters_from_generate(spark):
    # set when get_spark() builds the session, and in the confs that
    # ensure_session_confs applies to a session built elsewhere
    assert RULE in spark.sparkContext.getConf().get(EXCLUDED).split(",")
    assert RULE in RUNTIME_SQL_CONFS[EXCLUDED].split(",")
    assert RULE in spark.conf.get(EXCLUDED).split(",")


def test_get_spark_sets_every_runtime_conf(spark):
    # get_spark() builds the session from RUNTIME_SQL_CONFS, and
    # ensure_session_confs applies every entry to a live session
    built = spark.sparkContext.getConf()
    ensure_session_confs(spark)
    for key, value in RUNTIME_SQL_CONFS.items():
        assert built.get(key) == value, key
        assert spark.conf.get(key) == value, key


def test_no_inferred_size_filter_under_shingle_explode(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    plan = _shingle_explode_plan(docs)
    assert not INFERRED_SIZE_FILTER.search(plan), plan
    # The check sees the filter whenever the rule runs.  `docs` is built
    # first: load_table re-applies the session confs.
    spark.conf.unset(EXCLUDED)
    try:
        assert INFERRED_SIZE_FILTER.search(_shingle_explode_plan(docs))
    finally:
        spark.conf.set(EXCLUDED, RULE)


def test_get_spark_quiets_only_the_window_exec_logger(spark):
    log_manager = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager
    assert str(log_manager.getLogger(WINDOW_EXEC_LOGGER).getLevel()) == "ERROR"
    # a per-logger level: its siblings still follow the root logger
    sibling = log_manager.getLogger("org.apache.spark.sql.execution.window.WindowEvaluatorFactory")
    assert str(sibling.getLevel()) == str(log_manager.getRootLogger().getLevel())


_SHUFFLE_CHILD = """
from iceberg_table_generator_spark.session import get_spark

key = "spark.sql.shuffle.partitions"
for kw in [{}, {"shuffle_partitions": 5}, {"extra_conf": {key: "7"}}]:
    s = get_spark("shuffle-partitions", master="local[2]", **kw)
    print(s.conf.get(key))
    s.stop()
"""


def test_get_spark_sizes_shuffle_partitions_from_the_master():
    # The default shows only in a session of its own, and the suite shares
    # one, so get_spark runs in a child interpreter.  Without
    # SPARK_GRAFT_CPUS, local[2] once planned 32 shuffle partitions.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _SHUFFLE_CHILD],
        cwd=Path(__file__).resolve().parent.parent,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout.split()
    assert out == ["2", "5", "7"]
