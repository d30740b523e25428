"""Engine-independence of the md5-prefix hash.

Three oracle pairings (MinHash-LSH, SimHash, and — via deterministic
literals — LSH ANN) rest on one contract: Spark's
`conv(substring(md5(s),1,15),16,10)` equals DuckDB's
`CAST('0x' || substring(md5(s),1,15) AS BIGINT)` for every string both
engines can see.  This test pins that contract on an adversarial corpus
(empty string, unicode, long inputs, quotes, whitespace runs) plus a
seeded random sample, comparing all values in one Spark job and one
DuckDB query.
"""

from __future__ import annotations

import random
import string

import pytest
import duckdb
import pyspark.sql.functions as F

from iceberg_table_generator_spark.functions.text import md5_60

ADVERSARIAL = [
    "",
    " ",
    "  double  spaces  ",
    "newline\nin the middle",
    "tab\tand'quote\"and\\backslash",
    "ünïcödé ẞtrings — em–dash",
    "日本語のテキスト",
    "a" * 10_000,
    "the the the the the",
    "0x1p-3",
]


def _random_corpus(n: int = 500, seed: int = 1234) -> list[str]:
    rng = random.Random(seed)
    alphabet = string.ascii_letters + string.digits + "  .,'\"-—é日"
    return [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80)))
        for _ in range(n)
    ]


def test_md5_60_spark_duckdb_parity(spark):
    corpus = ADVERSARIAL + _random_corpus()
    sdf = spark.createDataFrame([(i, s) for i, s in enumerate(corpus)], "i int, s string")
    spark_vals = {
        r["i"]: r["h"] for r in sdf.select("i", md5_60(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(corpus)))
    duck_vals = dict(
        con.execute(
            "SELECT i, CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) FROM t"
        ).fetchall()
    )
    assert spark_vals == duck_vals
    # 60-bit range sanity: non-negative and below 2^60
    assert all(0 <= v < (1 << 60) for v in spark_vals.values())


def test_decimal_quantize_spark_duckdb_parity(spark):
    """The r6 integer k-means rests on one more cross-engine contract:
    CAST(double AS DECIMAL(12,6)) — the scale-6 quantization every IVF/PQ
    coordinate passes through — rounds identically in Spark and DuckDB.
    Exact decimal ties are unrepresentable in binary doubles, so the two
    engines' rounding modes can never disagree; this pins it on boundary
    values (x.xxxxxx5 neighborhoods, negatives, subnormal-ish, large) and
    a seeded random sample."""
    import struct

    rng = random.Random(4242)
    vals = [
        0.1234564999999,
        0.1234565000001,
        2.6749999999,
        -2.6750000001,
        0.0000005,
        -0.0000005,
        1e-12,
        -1e-12,
        123456.654321,
        -0.5773653984069824,
        0.5193882584571838,
    ] + [rng.uniform(-600000, 600000) for _ in range(500)] + [
        rng.uniform(-1, 1) for _ in range(500)
    ]
    # bit-exact transport into both engines via float64 round-trip
    vals = [struct.unpack("<d", struct.pack("<d", v))[0] for v in vals]
    sdf = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, x double")
    spark_ints = {
        r["i"]: r["q"]
        for r in sdf.select(
            "i",
            (F.col("x").cast("decimal(12,6)") * F.lit(1_000_000))
            .cast("long")
            .alias("q"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vals)))
    duck_ints = dict(
        con.execute(
            "SELECT i, CAST(CAST(x AS DECIMAL(12,6)) * 1000000 AS BIGINT) FROM t"
        ).fetchall()
    )
    assert spark_ints == duck_ints


def test_integer_mean_formula_matches_oracle_sql():
    """`_round_half_away` (the Python/Spark-side centroid mean) must equal
    the oracle's pure-integer SQL CASE formula for every sign and tie
    combination — including exact .5 ties, which integer division CAN hit
    (unlike the decimal-cast ties above)."""
    from iceberg_table_generator_spark.operators.similarity import _round_half_away

    con = duckdb.connect()
    cases = [
        (s, n)
        for s in [0, 1, -1, 2, 3, -3, 5, -5, 7, -7, 999_999, -999_999,
                  10**10, -(10**10), 10**10 + 1, 15, -15]
        for n in [1, 2, 3, 4, 7, 10]
    ]
    for s, n in cases:
        sql = (
            f"SELECT CAST(CASE WHEN {s} >= 0 "
            f"THEN (2*{s} + {n}) // (2*{n}) "
            f"ELSE -((-2*{s} + {n}) // (2*{n})) END AS BIGINT)"
        )
        assert _round_half_away(s, n) == con.execute(sql).fetchone()[0], (s, n)
        # and both equal true half-away-from-zero rounding of s/n
        from decimal import Decimal, ROUND_HALF_UP

        want = int(
            (Decimal(s) / Decimal(n)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
        )
        assert _round_half_away(s, n) == want, (s, n)


@pytest.mark.parametrize("sf_fixture", ["sf_small", "sf_medium"])
def test_lsh_sign_margin_above_reorder_noise(spark, sf_fixture, request):
    """The ANN-LSH oracle pairing rests on DuckDB's `list_sum` folding the
    hyperplane dot products in `dot`'s sequential order; unlike the
    cosine outputs (rounded to 6 decimals), the `>= 0` sign test has no
    rounding mask, so a future DuckDB switching to pairwise/reordered
    summation could in principle flip a NEAR-ZERO dot's bucket bit.

    Guard: the minimum |vec · plane| across every (vector, table, plane)
    must clear the worst-case summation-REORDERING error by orders of
    magnitude.  For n=64 terms with |term| ≤ max|x_i| (±1 plane weights),
    any summation order differs from sequential by at most
    ~n·eps·Σ|terms| ≈ 64 · 1.1e-16 · 64·0.6 ≈ 2.6e-13.  Observed minima
    are ≥ 1.8e-6 at every SF (≥ 10^7× margin); assert > 1e-9 so a silent
    data or plane-scheme change that narrows the margin fails loudly."""
    from iceberg_table_generator_spark.operators.similarity import (
        _LSH_DIM, dot, _plane_matrix,
    )
    from iceberg_table_generator_spark.sources.tables import load_table

    sf_dir = request.getfixturevalue(sf_fixture)
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("vec")
    )
    min_abs_dot = (
        emb.select(
            F.array_min(
                F.flatten(
                    F.transform(
                        _plane_matrix(_LSH_DIM),
                        lambda tw: F.transform(
                            tw, lambda p: F.abs(dot("vec", p))
                        ),
                    )
                )
            ).alias("m")
        )
        .agg(F.min("m"))
        .first()[0]
    )
    assert min_abs_dot > 1e-9, min_abs_dot


@pytest.mark.parametrize("sf_fixture", ["sf_small", "sf_medium"])
def test_bm25_rounding_margin(spark, sf_fixture, request):
    """The BM25 oracle pairing rests on per-term round(·, 6) absorbing
    ln()'s last-ulp engine disagreement (JVM Math.log vs libm differ on
    ~5% of inputs — probed).  That only works while no raw term score
    sits close to a rounding boundary: the engines' raw scores differ by
    a few ulp (~3e-9 in score·10⁶ space at the fixture magnitudes), so
    pin the minimum distance from every raw score·10⁶ to its nearest
    half-integer at > 1e-7 — observed ≥ 3.4e-6 at every SF, ~1000× the
    ulp shift — and a data change that erodes the margin fails loudly
    instead of as a driver hash-mismatch."""
    from iceberg_table_generator_spark.operators.text import bm25_scored_terms

    sf_dir = request.getfixturevalue(sf_fixture)
    scaled = F.col("raw_score") * 1e6
    min_dist = (
        bm25_scored_terms(spark, sf_dir)
        .select(F.abs(scaled - F.floor(scaled) - 0.5).alias("d"))
        .agg(F.min("d"))
        .first()[0]
    )
    assert min_dist > 1e-7, min_dist
