"""Repo-wide bounded-broadcast invariant (r5 verdict task 5).

The `dedup_keep_canonical` r5 finding — a hinted broadcast of a
corpus-correlated relation that only inverts at scale — is exactly the
class of bug no local correctness test can catch.  This suite turns it
into a CI failure: every registered query's physical plan is built with
`spark.sql.autoBroadcastJoinThreshold = -1` (so the ONLY surviving
BroadcastExchanges are the ones our code explicitly hints — the same set
that would still broadcast on a 1000-executor cluster where nothing is
auto-broadcast-sized), and every broadcast subtree must be provably
bounded by construction.

Bounded categories (a subtree passes if it matches ANY):

- ``limit``        — GlobalLimit / CollectLimit / TakeOrderedAndProject:
                     k rows by construction.
- ``scalar_agg``   — an aggregate with ``keys=[]``: exactly one row.
- ``literal``      — LocalTableScan / Range(: driver-constructed with a
                     driver-known size (inlined models, window grids).
- ``fixed_dim``    — every FileScan in the subtree is an SF-invariant
                     catalog table (region = 5 rows, nation = 25 — fixed
                     by the TPC-H spec at every scale factor).
- ``scaling_dim``  — every FileScan is a TPC-H dimension (part /
                     supplier / customer / partsupp).  These grow
                     linearly with SF but stay 30–6000× smaller than the
                     fact tables, and every such broadcast in the repo
                     first applies a selective filter; this is the
                     conventional TPC-H dim-broadcast tier, kept
                     deliberately and documented here.
- ``heavy_hitter`` — a count-aggregate followed by ``Filter (cnt > N)``:
                     at most total_rows / N keys can survive (the
                     df-cap stop-shingle / hot-term sets).  The bound is
                     corpus/cap, not a constant — the cap is chosen so
                     the surviving set is KB-sized under Zipf.
- ``bench_fraction`` — ``pmod(doc_id, M) = 0``: the contamination
                     check's simulated benchmark suite.  In production
                     the bench side is a real, fixed benchmark corpus
                     (MMLU/GSM8K-sized); the pmod sample is the test
                     harness's stand-in for it.
- ``id_range``     — a ``<k`` predicate on an id/key column: the
                     similarity query sets (vec_id < n_queries).
- ``partition_offsets`` — an aggregate keyed on the reserved ``_bkt``
                     bucket column: at most one row per range bucket
                     (``spark.sql.shuffle.partitions`` buckets), so the
                     relation is bounded by CONFIGURATION, not data size
                     (the two-phase global-order offset table,
                     ``functions/order.py``; r10 deterministic literal-
                     boundary buckets replaced SPARK_PARTITION_ID()).

Driver-built relations that surface as ``Scan ExistingRDD`` are NOT
granted a blanket pass — a corpus-sized ``localCheckpoint`` prints
exactly the same node — so each known-bounded one is acknowledged by a
column-signature pattern instead, e.g.:

- ``(ca, cb)``     — the embedding-dedup cluster-pair admissibility
                     relation: at most k² rows for k k-means clusters.

One file-backed relation is acknowledged the same way:

- delete files     — every FileScan in the subtree reads a versioned
                     table's ``deletes/`` directory (the merge-on-read
                     delete application in ``sources/lifecycle.py``).
                     Its bound is the MoR invariant: delete files are
                     small relative to the data they apply to, and
                     compaction resets them to none.
"""

from __future__ import annotations

import re

import pytest

from iceberg_table_generator_spark import all_queries
from iceberg_table_generator_spark.plans import explain

QUERIES = all_queries()

LIMIT = re.compile(r"TakeOrderedAndProject|GlobalLimit|CollectLimit")
SCALAR_AGG = re.compile(r"(?:Hash|Sort|Object\w*)Aggregate\(keys=\[\]")
LITERAL = re.compile(r"LocalTableScan|\bRange \(")
HEAVY_HITTER = re.compile(r"Filter \(\w+#\d+L? > \d+\)")
BENCH_FRACTION = re.compile(r"pmod\(doc_id#\d+L?, \d+\) = 0")
ID_RANGE = re.compile(r"Filter .*\b\w*(?:_id|id|key)#\d+L? < \d+")
BUCKET_AGG = re.compile(r"Aggregate\(keys=\[_bkt#\d+")
# Degenerate single-bucket projection: range_boundaries() returned [] (a
# <=1-row or empty-sample relation), so _bucket_expr emits `0 AS _bkt` with
# no CASE tree — still configuration-bounded (exactly one bucket).
LIT_BKT = re.compile(r"\b0 AS _bkt#\d+")
SCAN = re.compile(r"FileScan parquet \[[^\]]*\].*?\[file:([^\],]+)")

FIXED_DIMS = {"region", "nation"}
SCALING_DIMS = {"part", "supplier", "customer", "partsupp"}

DELETE_FILE = re.compile(r"/deletes/snap-\d+-")


def _reads_only_delete_files(subtree: str) -> bool:
    paths = [m.group(1) for m in SCAN.finditer(subtree)]
    return bool(paths) and all(DELETE_FILE.search(p) for p in paths)


# Known-bounded relations: the delete-file reads of merge-on-read, and
# driver-built ExistingRDD relations acknowledged by column signature.
ACKNOWLEDGED = [
    (_reads_only_delete_files,
     "merge-on-read delete files: small relative to data (MoR invariant)"),
    (re.compile(r"Scan ExistingRDD\[ca#\d+, ?cb#\d+\]").search,
     "cluster-pair admissibility: ≤ k² rows for k k-means clusters"),
    (re.compile(r"Scan ExistingRDD\[cid#\d+, ?cent#\d+\]").search,
     "k-means centroid attach: exactly k rows of model state "
     "(the SemDeDup ccos join, wave11.semdedup_relation)"),
    (re.compile(r"Scan ExistingRDD\[tau_micro#\d+L?\]").search,
     "threshold grid: |SEMDEDUP_TAU_GRID| driver-literal rows "
     "(wave11.dedup_semdedup_tau_sweep, wave18 per-language sweep)"),
    (re.compile(r"Scan ExistingRDD\[ctx_len#\d+\]").search,
     "context-length grid: |TRUNC_GRID| driver-literal rows "
     "(wave12.pipeline_truncation_loss)"),
    (re.compile(r"Scan ExistingRDD\[dim#\d+\]").search,
     "truncation-dimension grid: |MRL_DIMS| driver-literal rows "
     "(similarity.similarity_matryoshka_recall)"),
    (re.compile(r"Scan ExistingRDD\[n_bands#\d+, ?rows_per_band#\d+, ?thresh_micro#\d+").search,
     "banding-plan grid: |BAND_SWEEP| driver-literal rows "
     "(wave14.dedup_minhash_band_sweep)"),
    (re.compile(r"Scan ExistingRDD\[method#\d+, ?bytes_per_vec#\d+").search,
     "method-bytes grid: |_METHOD_BYTES| driver-literal rows "
     "(similarity.similarity_compression_frontier)"),
    (re.compile(r"Scan ExistingRDD\[min_rules#\d+\]").search,
     "strictness grid: 5 driver-literal rows "
     "(wave18.pipeline_quality_ablation_curve)"),
]


def _scan_tables(subtree: str) -> list[str]:
    return [
        m.group(1).rsplit("/", 1)[-1].removesuffix(".parquet")
        for m in SCAN.finditer(subtree)
    ]


def _bounded_reasons(subtree: str) -> list[str]:
    reasons: list[str] = []
    if LIMIT.search(subtree):
        reasons.append("limit")
    if SCALAR_AGG.search(subtree):
        reasons.append("scalar_agg")
    if LITERAL.search(subtree):
        reasons.append("literal")
    if HEAVY_HITTER.search(subtree) and "count(1)" in subtree:
        reasons.append("heavy_hitter")
    if BENCH_FRACTION.search(subtree):
        reasons.append("bench_fraction")
    if ID_RANGE.search(subtree):
        reasons.append("id_range")
    if BUCKET_AGG.search(subtree) and (
        "CASE WHEN" in subtree or LIT_BKT.search(subtree)
    ):
        # `_bkt` is functions/order.py's reserved bucket column — a
        # literal-boundary CASE expression with <= n_buckets+1 distinct
        # values, so an aggregate keyed on it is configuration-bounded.
        # The CASE WHEN co-signature (r10 ADVICE) pins the subtree to the
        # literal-boundary projection: an unbounded data column merely
        # ALIASED `_bkt` would not carry it.  `test_bkt_is_reserved`
        # additionally forbids any operator from minting `_bkt` outside
        # functions/order.py.
        reasons.append("partition_offsets")
    tables = _scan_tables(subtree)
    if tables and all(t in FIXED_DIMS for t in tables):
        reasons.append("fixed_dim")
    elif tables and all(t in FIXED_DIMS | SCALING_DIMS for t in tables):
        reasons.append("scaling_dim")
    for matches, why in ACKNOWLEDGED:
        if matches(subtree):
            reasons.append(f"acknowledged: {why}")
    return reasons


@pytest.fixture(scope="module")
def no_auto_broadcast(spark):
    """Force the 100 TB broadcast regime: only hinted broadcasts survive."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield spark
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bkt_is_reserved():
    """`_bkt` is the reserved literal-boundary bucket column: the
    partition_offsets bounded category trusts any aggregate keyed on it,
    so an operator minting its own `_bkt` from an unbounded data column
    would silently bypass the guard (r10 ADVICE).  Enforce at the source
    level: no package file outside functions/order.py may reference the
    name."""
    import pathlib

    import iceberg_table_generator_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if p.name != "order.py" and "_bkt" in p.read_text(encoding="utf-8")
    ]
    assert offenders == [], (
        f"`_bkt` referenced outside functions/order.py: {offenders} — "
        "either rename the column or move the logic into order.py"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_every_broadcast_is_bounded(name, no_auto_broadcast, sf_small):
    spark = no_auto_broadcast
    df = QUERIES[name](spark, sf_small)
    for i, sub in enumerate(explain.broadcast_subtrees(df)):
        reasons = _bounded_reasons(sub)
        assert reasons, (
            f"{name}: BroadcastExchange #{i} has no bounded-cardinality "
            f"justification — this is the dedup_keep_canonical class of "
            f"scale bug. Subtree:\n{sub}"
        )
