"""Oracle-paired queries over the 1000-column `wide_metrics` table.

The reference's widest stress case is `createWideMetrics`
(`Main.java:76-82, 463-473`): 1 int id + 999 doubles, 30 rows in 30
files.  The builders (`datagen/records.py::wide_metrics`,
`sources/scenarios.py::wide_metrics_table`) are shape-tested elsewhere;
this module closes the loop the r4 verdict flagged: an END-TO-END
oracle-checked query through the wide schema, proving two things at
once:

  1. Values survive the write→read round trip bit-exactly (the oracle is
     DuckDB reading the SAME parquet files).
  2. Column pruning works at width: a query touching 5 of 1,000 columns
     must scan 5 (plan-pinned in tests/test_plans.py) — at 100 TB a scan
     that reads all 999 doubles for a 5-column projection is a 200×
     I/O regression, the exact failure wide schemas exist to provoke.

The fixture lives at a fixed path (the oracle SQL is a static string)
and is built once per machine under the `_build_once` lock; the values
are xxhash64-seeded and deterministic, but correctness never relies on
that — both engines read the same files.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_table_generator_spark.datagen import records as R
from iceberg_table_generator_spark.functions.horizontal import hcount_if, hsum
from iceberg_table_generator_spark.operators.metadata_tables import _build_once
from iceberg_table_generator_spark.registry import query

# Bump the version suffix if the fixture recipe changes.
WIDE_FIXTURE_PATH = "/tmp/itg_wide_metrics_fixture_v2"
_DATA_DIR = f"{WIDE_FIXTURE_PATH}/data"
N_WIDE_ROWS = 30

# The 4 metric columns the query touches (of 999) — spread across the
# schema so pruning is exercised at the front, middle, and end.
_PICKED = ["metric_0", "metric_123", "metric_499", "metric_998"]


def _wide_fixture(spark: SparkSession) -> str:
    """Build-once wide_metrics parquet: 30 rows × 1,000 columns in 30
    files (one row per file, as the reference writes it)."""

    def build() -> None:
        os.makedirs(WIDE_FIXTURE_PATH, exist_ok=True)
        R.wide_metrics(spark, n=N_WIDE_ROWS, num_partitions=N_WIDE_ROWS).write.mode(
            "overwrite"
        ).parquet(_DATA_DIR)

    _build_once(WIDE_FIXTURE_PATH, build)
    return _DATA_DIR


_WIDE_ORACLE = f"""
SELECT id,
       {", ".join(_PICKED)},
       metric_0 + metric_123 + metric_499 + metric_998 AS row_sum,
       (metric_0 + metric_123 + metric_499 + metric_998) / 4.0 AS row_avg,
       CAST(len(list_filter([{", ".join(_PICKED)}], x -> x > 50.0)) AS INT)
         AS n_above_50
FROM read_parquet('{_DATA_DIR}/*.parquet')
"""


@query("wide_metrics_row_stats", oracle=_WIDE_ORACLE)
def wide_metrics_row_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row horizontal stats over 4 of the 999 metric columns.

    The horizontal fold uses `functions/horizontal.py::hsum` — the flat
    array-aggregate form that keeps expression depth O(1) at any width
    (a naive Python `sum(cols)` nests 999 Adds deep and overflows
    Catalyst's analyzer stack).  The fold visits columns in listed order,
    so the double additions are IEEE-identical to the oracle's explicit
    `a + b + c + d`.  Narrow, zero-shuffle; the scan must read exactly
    id + the 4 referenced metrics (plan-pinned)."""
    path = _wide_fixture(spark)
    df = spark.read.parquet(path)
    return df.select(
        F.col("id"),
        *[F.col(c) for c in _PICKED],
        hsum(_PICKED).alias("row_sum"),
        (hsum(_PICKED) / F.lit(4.0)).alias("row_avg"),
        hcount_if(_PICKED, lambda x: x > F.lit(50.0)).alias("n_above_50"),
    )


# A contiguous 100-column block — wide enough that a naive nested-Add
# expression tree would be deep and fragile, the width the flat-fold
# helpers exist for.
_BLOCK = [f"metric_{i}" for i in range(100)]

_WIDE_BLOCK_ORACLE = f"""
SELECT id,
       {" + ".join(_BLOCK)} AS block_sum,
       ({" + ".join(_BLOCK)}) / {float(len(_BLOCK))} AS block_avg,
       CAST(len(list_filter([{", ".join(_BLOCK)}], x -> x > 90.0)) AS INT)
         AS n_above_90
FROM read_parquet('{_DATA_DIR}/*.parquet')
"""


@query("wide_metrics_block_fold", oracle=_WIDE_BLOCK_ORACLE)
def wide_metrics_block_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizontal fold across a 100-column block of the wide table — the
    width where naive `sum(cols)` Python folds start to hurt (999 nested
    Adds overflow Catalyst's analyzer stack; `functions/horizontal.py`).
    `hsum` packs the block into ONE array node and folds at runtime in
    listed order, so the 100 double additions are IEEE-identical to the
    oracle's explicit left-associated `+` chain — proving the flat-fold
    helpers are bit-exact at width, not just at the 4-column smoke size.
    Narrow and zero-shuffle; scan reads 101 of 1,000 columns
    (plan-pinned)."""
    path = _wide_fixture(spark)
    df = spark.read.parquet(path)
    return df.select(
        F.col("id"),
        hsum(_BLOCK).alias("block_sum"),
        (hsum(_BLOCK) / F.lit(float(len(_BLOCK)))).alias("block_avg"),
        hcount_if(_BLOCK, lambda x: x > F.lit(90.0)).alias("n_above_90"),
    )


__all__ = [
    "WIDE_FIXTURE_PATH",
    "N_WIDE_ROWS",
    "wide_metrics_row_stats",
    "wide_metrics_block_fold",
]


# --------------------------------------------------------------------------
# Pairwise correlation over picked wide columns (single-pass moments)
# --------------------------------------------------------------------------
_CORR_PAIRS = [
    (_PICKED[i], _PICKED[j])
    for i in range(len(_PICKED))
    for j in range(i + 1, len(_PICKED))
]


def _corr_oracle() -> str:
    sums = ["CAST(count(*) AS DOUBLE) AS n"]
    for m in _PICKED:
        sums.append(f"CAST(sum(CAST({m} AS DECIMAL(38,12))) AS DOUBLE) AS s_{m}")
        sums.append(
            f"CAST(sum(CAST({m} * {m} AS DECIMAL(38,12))) AS DOUBLE) AS ss_{m}"
        )
    for a, b in _CORR_PAIRS:
        sums.append(
            f"CAST(sum(CAST({a} * {b} AS DECIMAL(38,12))) AS DOUBLE)"
            f" AS sp_{a}_{b}"
        )
    selects = []
    for a, b in _CORR_PAIRS:
        expr = (
            f"round((n * sp_{a}_{b} - s_{a} * s_{b})"
            f" / (sqrt(n * ss_{a} - s_{a} * s_{a})"
            f"    * sqrt(n * ss_{b} - s_{b} * s_{b})), 6)"
        )
        selects.append(f"SELECT '{a}~{b}' AS pair, {expr} AS corr FROM m")
    return (
        f"WITH m AS (SELECT {', '.join(sums)}"
        f" FROM read_parquet('{_DATA_DIR}/*.parquet'))\n"
        + "\nUNION ALL\n".join(selects)
    )


@query("wide_metrics_correlation", oracle=_corr_oracle())
def wide_metrics_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations between picked wide columns in ONE
    aggregation pass — the feature-redundancy screen run over metric
    stores and model-feature tables (drop one of every highly-correlated
    pair).  All six correlations derive from a single row of moments
    (n, Σx, Σx², Σxy), so the 1,000-column table is scanned once,
    reading exactly the 4 picked columns (same pruning contract the
    other wide queries plan-pin).

    Engine-exactness: per-row products are IEEE-identical on both
    engines; every cross-row sum accumulates in DECIMAL(38,12) (the
    repo's order-free policy), and the closed-form correlation is a
    fixed-parenthesization double chain (sqrt is correctly rounded per
    IEEE-754 on both JVMs and DuckDB), rounded once."""
    data = spark.read.parquet(_wide_fixture(spark))
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for m in _PICKED:
        aggs.append(
            F.sum(F.col(m).cast("decimal(38,12)")).cast("double").alias(f"s_{m}")
        )
        aggs.append(
            F.sum((F.col(m) * F.col(m)).cast("decimal(38,12)"))
            .cast("double")
            .alias(f"ss_{m}")
        )
    for a, b in _CORR_PAIRS:
        aggs.append(
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,12)"))
            .cast("double")
            .alias(f"sp_{a}_{b}")
        )
    m = data.agg(*aggs)
    pairs = []
    for a, b in _CORR_PAIRS:
        corr = F.round(
            (F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}"))
            / (
                F.sqrt(F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
                * F.sqrt(F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
            ),
            6,
        )
        pairs.append(F.struct(F.lit(f"{a}~{b}").alias("pair"), corr.alias("corr")))
    return m.select(F.explode(F.array(*pairs)).alias("pc")).select(
        "pc.pair", "pc.corr"
    )


# --------------------------------------------------------------------------
# Feature hashing (the hashing trick): 999 metrics → 16 features
# --------------------------------------------------------------------------
# Bucket and sign assignments are a deterministic function of the COLUMN
# NAMES (hashlib md5, computed once at import) and are baked as literals
# into BOTH the Spark expressions and the oracle SQL — the hash is model
# configuration, not data, so cross-engine parity is structural.
import hashlib as _hashlib

FEATURE_HASH_DIM = 16
_ALL_METRICS = [f"metric_{i}" for i in range(999)]


def _fh_bucket(name: str) -> int:
    return int(_hashlib.md5(f"b:{name}".encode()).hexdigest()[:8], 16) % FEATURE_HASH_DIM


def _fh_sign(name: str) -> float:
    return 1.0 if int(_hashlib.md5(f"s:{name}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1.0


_FH_TERMS: list[list[tuple[str, float]]] = [[] for _ in range(FEATURE_HASH_DIM)]
for _c in _ALL_METRICS:
    _FH_TERMS[_fh_bucket(_c)].append((_c, _fh_sign(_c)))

_FH_ORACLE = f"""
SELECT id,
       {", ".join(
           " + ".join(f"{c} * {s}" for c, s in _FH_TERMS[j]) + f" AS f{j}"
           for j in range(FEATURE_HASH_DIM)
       )}
FROM read_parquet('{_DATA_DIR}/*.parquet')
"""


@query("wide_metrics_feature_hash", oracle=_FH_ORACLE)
def wide_metrics_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature projection (Weinberger et al.): the 999
    metric columns fold into a {FEATURE_HASH_DIM}-dimensional signed-sum
    feature vector, bucket and sign drawn from md5 of the column name —
    the model-free dimensionality reduction a feature pipeline applies
    when the raw width (sparse one-hot vocabularies, wide telemetry)
    exceeds what a trainer wants to ingest.

    Row-local and zero-shuffle: each feature is one flat array-fold
    (`hsum` discipline — O(1) expression depth at any width), additions
    in ascending column order so the IEEE double chain is bit-identical
    to the oracle's left-associated `+` chain.  At 100 TB this runs
    entirely inside the scan's whole-stage codegen; the output is 60×
    narrower than the input, which is the point."""
    path = _wide_fixture(spark)
    df = spark.read.parquet(path)
    feats = [
        F.aggregate(
            F.array(*[F.col(c) * F.lit(s) for c, s in _FH_TERMS[j]]),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"f{j}")
        for j in range(FEATURE_HASH_DIM)
    ]
    return df.select("id", *feats)


# --------------------------------------------------------------------------
# PCA top component via unrolled power iteration (engine-exact)
# --------------------------------------------------------------------------
PCA_ITERS = 12
_PCA_D = len(_PICKED)


def _pca_moment_aliases() -> list[tuple[str, str]]:
    """(alias, source-expression) pairs for the single moments pass —
    n, per-column sums, and the upper-triangle product sums."""
    out = [("n", "CAST(count(*) AS DOUBLE)")]
    for i, m in enumerate(_PICKED, 1):
        out.append((f"s{i}", f"CAST(sum(CAST({m} AS DECIMAL(38,12))) AS DOUBLE)"))
    for i in range(1, _PCA_D + 1):
        for j in range(i, _PCA_D + 1):
            a, b = _PICKED[i - 1], _PICKED[j - 1]
            out.append(
                (
                    f"p{i}{j}",
                    f"CAST(sum(CAST({a} * {b} AS DECIMAL(38,12))) AS DOUBLE)",
                )
            )
    return out


def _pca_cov(i: int, j: int) -> str:
    """Unnormalized covariance entry n·Σxy − Σx·Σy (the eigenvector is
    scale-invariant, so the 1/n² normalization is never materialized)."""
    lo, hi = min(i, j), max(i, j)
    return f"(n * p{lo}{hi} - s{i} * s{j})"


def _pca_matvec(i: int) -> str:
    return " + ".join(f"{_pca_cov(i, j)} * v{j}" for j in range(1, _PCA_D + 1))


def _pca_norm() -> str:
    return "sqrt(" + " + ".join(f"w{i} * w{i}" for i in range(1, _PCA_D + 1)) + ")"


def _pca_oracle() -> str:
    moments = ", ".join(f"{expr} AS {al}" for al, expr in _pca_moment_aliases())
    seed = ", ".join(f"CAST(0.5 AS DOUBLE) AS v{i}" for i in range(1, _PCA_D + 1))
    steps = []
    prev = "seed"
    carry = ", ".join(al for al, _ in _pca_moment_aliases())
    for k in range(PCA_ITERS):
        mv = ", ".join(
            f"({_pca_matvec(i)}) AS w{i}" for i in range(1, _PCA_D + 1)
        )
        steps.append(f"mv{k} AS (SELECT {carry}, {mv} FROM {prev})")
        nm = ", ".join(
            f"w{i} / {_pca_norm()} AS v{i}" for i in range(1, _PCA_D + 1)
        )
        steps.append(f"it{k} AS (SELECT {carry}, {nm} FROM mv{k})")
        prev = f"it{k}"
    rayleigh = " + ".join(
        f"v{i} * ({_pca_matvec(i)})" for i in range(1, _PCA_D + 1)
    )
    trace = " + ".join(f"{_pca_cov(i, i)}" for i in range(1, _PCA_D + 1))
    loads = ", ".join(
        f"round(v{i}, 6) AS loading_{m}" for i, m in enumerate(_PICKED, 1)
    )
    return (
        f"WITH m AS (SELECT {moments}"
        f" FROM read_parquet('{_DATA_DIR}/*.parquet')),\n"
        f"seed AS (SELECT *, {seed} FROM m),\n"
        + ",\n".join(steps)
        + f"\nSELECT {loads},"
        f" round(({rayleigh}) / ({trace}), 6) AS explained_ratio"
        f" FROM {prev}"
    )


@query("wide_metrics_pca_power", oracle=_pca_oracle())
def wide_metrics_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the picked wide columns by UNROLLED
    POWER ITERATION ({PCA_ITERS} matvec+normalize steps over the 4×4
    covariance), plus the Rayleigh-quotient explained-variance ratio —
    the dimensionality screen (is this metric block effectively
    one-dimensional?) that extends `wide_metrics_correlation`'s pairwise
    view to the full spectral read.

    Engine-exactness, the module's strongest case: ONE moments pass
    accumulates n/Σx/Σxy in DECIMAL(38,12); the covariance is kept
    UNNORMALIZED (n·Σxy − Σx·Σy — the eigenvector is scale-invariant, so
    no 1/n² ever divides), and every iteration is generated from the
    SAME expression text (`_pca_matvec`/`_pca_norm`) executed by Spark's
    and DuckDB's IEEE doubles — multiply, add, divide, sqrt are all
    correctly rounded, so 12 iterations stay bit-identical and round
    once at the end.

    Scale: the data pass is the single map-combinable moments aggregate
    over exactly the picked columns (column pruning at width — the
    module contract); the iteration runs on ONE row of moments, O(d²·K)
    scalar expressions, data-size-independent — the same
    model-parameter-sized tail as the IVF k-means fit."""
    data = spark.read.parquet(_wide_fixture(spark))
    mom = data.agg(
        *[F.expr(expr).alias(al) for al, expr in _pca_moment_aliases()]
    )
    cur = mom.select(
        "*", *[F.expr("CAST(0.5 AS DOUBLE)").alias(f"v{i}") for i in range(1, _PCA_D + 1)]
    )
    carry = [al for al, _ in _pca_moment_aliases()]
    for _ in range(PCA_ITERS):
        cur = cur.select(
            *carry,
            *[
                F.expr(f"({_pca_matvec(i)})").alias(f"w{i}")
                for i in range(1, _PCA_D + 1)
            ],
        )
        cur = cur.select(
            *carry,
            *[
                F.expr(f"w{i} / {_pca_norm()}").alias(f"v{i}")
                for i in range(1, _PCA_D + 1)
            ],
        )
    rayleigh = " + ".join(
        f"v{i} * ({_pca_matvec(i)})" for i in range(1, _PCA_D + 1)
    )
    trace = " + ".join(f"{_pca_cov(i, i)}" for i in range(1, _PCA_D + 1))
    return cur.select(
        *[
            F.expr(f"round(v{i}, 6)").alias(f"loading_{m}")
            for i, m in enumerate(_PICKED, 1)
        ],
        F.expr(f"round(({rayleigh}) / ({trace}), 6)").alias("explained_ratio"),
    )
