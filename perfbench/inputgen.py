"""Seeded generator for the engine's ten input tables.

The benchmark never reads data from outside its checkout, so it writes its
own inputs: the same table names, column names, parquet types and value
distributions as the star-schema testdata the registry queries are written
against (TPC-H-shaped dimensions and facts, an ``events`` stream, a
``documents`` corpus with 5% near-duplicates and unit-norm ``embeddings``).
Row counts follow the testdata's scale-factor rules.  The same ``(seed, sf)``
always gives byte-identical files: every column is drawn from one
``numpy.random.Generator`` in a fixed order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
N_SOURCES = 20

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _days(rng: np.random.Generator, n: int, start: tuple, end: tuple) -> pa.Array:
    lo, hi = _epoch_us(*start), _epoch_us(*end)
    days = rng.integers(0, (hi - lo) // _US_PER_DAY + 1, n)
    return pa.array(lo + days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def row_counts(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (the testdata's rules)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731

    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    out["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    k = np.arange(n["customer"])
    out["customer"] = pa.table(
        {
            "c_custkey": i64(k),
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": i32(rng.integers(0, 25, len(k))),
            "c_acctbal": _money(rng, len(k), -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, len(k)),
        }
    )
    k = np.arange(n["supplier"])
    out["supplier"] = pa.table(
        {
            "s_suppkey": i64(k),
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": i32(rng.integers(0, 25, len(k))),
            "s_acctbal": _money(rng, len(k), -999.99, 9999.99),
        }
    )
    k = np.arange(n["part"])
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), len(k))]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), len(k))]
    out["part"] = pa.table(
        {
            "p_partkey": i64(k),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(k))]),
            "p_type": _pick(rng, PART_TYPES, len(k)),
            "p_size": i32(rng.integers(1, 51, len(k))),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1),
        }
    )
    k = np.arange(n["orders"])
    out["orders"] = pa.table(
        {
            "o_orderkey": i64(k),
            "o_custkey": i64(rng.integers(0, n["customer"], len(k))),
            "o_orderstatus": _pick(rng, ORDER_STATUS, len(k)),
            "o_totalprice": _money(rng, len(k), 1000.0, 500_000.0),
            "o_orderdate": _days(rng, len(k), (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, len(k)),
        }
    )
    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, n["orders"], m)),
            "l_partkey": i64(rng.integers(0, n["part"], m)),
            "l_suppkey": i64(rng.integers(0, n["supplier"], m)),
            "l_linenumber": i32(rng.integers(1, 8, m)),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, m, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": _days(rng, m, (1995, 1, 2), (2001, 11, 4)),
        }
    )
    m = n["events"]
    lo = _epoch_us(2024, 1, 1)
    ts = np.sort(lo + rng.integers(0, 30 * _US_PER_DAY, m))
    out["events"] = pa.table(
        {
            "event_id": i64(np.arange(m)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": i64(rng.integers(0, max(15, round(15_000 * sf)), m)),
            "event_type": _pick(rng, EVENT_TYPES, m),
            "value": np.round(rng.exponential(50.0, m), 2),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, m)]),
        }
    )
    m = n["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), L)]) for L in rng.integers(10, 101, m)]
    # 5% near-duplicates: another document's text plus one marker token.
    for d in rng.choice(m, m // 20, replace=False):
        texts[d] = texts[(d + 1 + int(rng.integers(0, m - 1))) % m] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": i64(np.arange(m)),
            "text": texts,
            "lang": _pick(rng, LANGS, m, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(m)],
            "n_chars": i64([len(t) for t in texts]),
        }
    )
    m = n["embeddings"]
    vec = rng.standard_normal((m, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": i64(np.arange(m)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, m)),
        }
    )
    return out


def write(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group,
    snappy, like the testdata)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table) or 1)
