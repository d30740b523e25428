"""The benchmark's workloads and their correctness checks.

Each workload hands the runner *passes*: ``llm_pipeline`` runs every op of
its list once per pass in a seeded order;
``table_lifecycle`` runs one seeded table lifecycle per pass on a fresh
table.  The warm pass collects every result and compares it with a DuckDB
oracle over the same inputs; timed ops run their jobs without collecting
and are checked by row count against the same oracle.

The engine is imported lazily, so that the runner can time the import and
the tests can use the pure parts (op order, lifecycle plan, oracle) without
a Spark session.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import duckdb
import pandas as pd

#: Scale factor of the generated star-schema inputs (testdata row rules).
SF = 0.01

#: Heavy LLM-data-pipeline queries whose time is mostly jobs: BM25
#: scoring (shuffle-heavy), the Arrow boundary (``mapInArrow``
#: fingerprints, persisted), exact top-k cosine ranking (the work an
#: incremental top-k would reuse) and ROADMAP item 4's
#: ``text_source_vocab_overlap`` (eager driver jobs, a vocabulary shuffle,
#: persists).  The other item-4 queries are left out for their cost
#: (NOTES.md).
LLM_OPS = (
    "text_bm25_topk",
    "multimodal_fingerprint_dedup",
    "similarity_cosine_topk",
    "text_source_vocab_overlap",
)


def pass_order(names: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The op order of one pass: a shuffle fixed by (seed, pass)."""
    order = list(names)
    random.Random(f"{seed}/{pass_no}").shuffle(order)
    return order


def untraced(name: str) -> contextlib.nullcontext:
    """The phase context of an untraced op: no span, no job group."""
    return contextlib.nullcontext()


def _materialize(df, phase) -> dict:
    """Plan ``df``, then run its jobs through the same QueryExecution
    (the noop sink's jobs without the sink's second optimizer pass), so
    that the plan and exec phases time apart.  Returns the row count."""
    with phase("plan"):
        qe = df._jdf.queryExecution()
        qe.executedPlan()
    with phase("exec"):
        rows = qe.toRdd().count()
    return {"qe": qe, "rows": rows}


# -- registry queries -----------------------------------------------------------
class QueryOp:
    kind = "query"

    def __init__(self, spark, name: str, fn, data_dir: str):
        self.spark, self.label, self.fn, self.data_dir = spark, name, fn, data_dir

    def run(self, phase) -> dict:
        from iceberg_table_generator_spark.functions.cache import release_tracked

        with phase("build"):
            df = self.fn(self.spark, self.data_dir)
        out = _materialize(df, phase)
        with phase("cache"):
            out["persists"] = release_tracked()
        return out


class QueryWorkload:
    #: An op can run twice in a row, so the traced run pairs each traced
    #: op with an untraced run of the same op.
    repeatable = True

    def __init__(self, spark, names: tuple[str, ...], seed: int, data_dir: str):
        from iceberg_table_generator_spark import all_oracles, all_queries

        self.spark, self.names, self.seed, self.data_dir = spark, names, seed, data_dir
        self.queries = all_queries()
        self.oracles = all_oracles()
        self.expected_rows: dict[str, int] = {}

    def pass_ops(self, pass_no: int) -> list[QueryOp]:
        return [
            QueryOp(self.spark, n, self.queries[n], self.data_dir)
            for n in pass_order(self.names, self.seed, pass_no)
        ]

    def warm(self) -> dict[str, bool]:
        """The warm pass: every op once through ``compare_query`` (its
        collected result against its DuckDB oracle)."""
        from iceberg_table_generator_spark.functions.cache import release_tracked
        from iceberg_table_generator_spark.plans.compare import compare_query

        ok = {}
        for op in self.pass_ops(-1):
            t0 = time.perf_counter()
            try:
                res = compare_query(
                    op.label, self.spark, self.data_dir, op.fn, self.oracles[op.label]
                )
                ok[op.label] = res.ok
                self.expected_rows[op.label] = res.oracle_rows
                if not res.ok:
                    print(f"{op.label}: {res.detail}", file=sys.stderr)
            except Exception:  # noqa: BLE001 — a failing op is counted, not fatal
                traceback.print_exc()
                ok[op.label] = False
            finally:
                release_tracked()
            print(f"  warm {op.label}: {time.perf_counter() - t0:.3f} s", file=sys.stderr)
        return ok

    def verify(self, op: QueryOp, out: dict) -> bool:
        return out["rows"] == self.expected_rows.get(op.label)

    def stored_bytes_per_row(self) -> float:
        """Bytes on disk per row of the generated input tables."""
        import pyarrow.parquet as pq

        files = [os.path.join(self.data_dir, f) for f in os.listdir(self.data_dir)]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return sum(os.path.getsize(f) for f in files) / rows


# -- table lifecycle ------------------------------------------------------------
BATCH_ROWS = 2000
MERGE_ROWS = 400
PRODUCTS = ("Widget", "Gizmo", "Gadget")  # datagen.records.PRODUCT_NAMES
EQUALITY_COLUMNS = ["product_name"]
MERGE_KEYS = ["order_id"]
READ_KINDS = ("read", "read_pruned", "read_compacted")


@dataclass(frozen=True)
class Step:
    kind: str
    where: str | None = None
    #: (generator seed, first order_id, rows, order_id stride) of the
    #: ``datagen.records.orders`` batch an append or merge writes.
    batch: tuple[int, int, int, int] | None = None


def lifecycle_plan(seed: int) -> list[Step]:
    """One table lifecycle: appends, positional and equality deletes,
    merges and full / ``where``-pruned reads between commits, then a
    compaction, a read, snapshot expiry and a read.  The seed picks the
    batches and every predicate."""
    r = random.Random(f"lifecycle/{seed}")
    steps: list[Step] = []
    next_id = 0

    def append() -> None:
        nonlocal next_id
        steps.append(Step("append", batch=(r.randrange(1 << 30), next_id, BATCH_ROWS, 1)))
        next_id += BATCH_ROWS

    def merge() -> None:
        # stride-2 keys from next_id - MERGE_ROWS: half update, half insert
        nonlocal next_id
        base = next_id - MERGE_ROWS
        steps.append(Step("merge", batch=(r.randrange(1 << 30), base, MERGE_ROWS, 2)))
        next_id = base + 2 * MERGE_ROWS

    def read(kind: str = "read") -> None:
        steps.append(Step(kind))

    def read_pruned() -> None:
        # within the newest data file (two per append): the older files'
        # order_id bounds exclude every row
        cut = r.randrange(next_id - BATCH_ROWS // 2, next_id)
        steps.append(Step("read_pruned", where=f"order_id >= {cut}"))

    def delete_equality() -> None:
        prefix = f"{r.choice(PRODUCTS)} {r.randrange(1, 10)}"
        steps.append(Step("delete_equality", where=f"product_name LIKE '{prefix}%'"))

    append()
    append()
    steps.append(Step("delete_positional", where=f"source_id = {r.randrange(5)}"))
    read()
    read_pruned()
    delete_equality()
    merge()
    read()
    steps.append(Step("compact"))
    read("read_compacted")
    steps.append(Step("expire"))
    return steps


def canonical(df: pd.DataFrame) -> tuple:
    """(sorted column names, sorted canonical rows): the engine's own
    oracle comparison form (``plans.compare``)."""
    from iceberg_table_generator_spark.plans.compare import canonical_rows

    return canonical_rows(df)


class LifecycleOracle:
    """Expected visible rows: the same batches and predicates applied to
    a DuckDB table with plain INSERT / DELETE."""

    def __init__(self):
        self.con = duckdb.connect()
        self._created = False

    def _insert(self, batch: pd.DataFrame) -> None:
        self.con.register("batch", batch)
        if self._created:
            self.con.execute("INSERT INTO expected BY NAME SELECT * FROM batch")
        else:
            self.con.execute("CREATE TABLE expected AS SELECT * FROM batch")
            self._created = True
        self.con.unregister("batch")

    def append(self, batch: pd.DataFrame) -> None:
        self._insert(batch)

    def delete(self, where: str) -> None:
        self.con.execute(f"DELETE FROM expected WHERE {where}")

    def merge(self, source: pd.DataFrame, keys: list[str]) -> None:
        """Upsert: every source row replaces the rows with its key."""
        self.con.register("source", source)
        on = " AND ".join(f"s.{k} IS NOT DISTINCT FROM expected.{k}" for k in keys)
        self.con.execute(f"DELETE FROM expected WHERE EXISTS (SELECT 1 FROM source s WHERE {on})")
        self.con.unregister("source")
        self._insert(source)

    def rows(self, where: str | None = None) -> pd.DataFrame:
        sql = "SELECT * FROM expected" + (f" WHERE {where}" if where else "")
        return self.con.execute(sql).fetchdf()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class LifecycleOp:
    def __init__(self, spark, table, index: int, step: Step):
        self.spark, self.table, self.step = spark, table, step
        self.kind = step.kind
        self.label = f"{index:02d}:{step.kind}"

    def batch(self):
        from iceberg_table_generator_spark.datagen.records import orders
        import pyspark.sql.functions as F

        seed, first, rows, stride = self.step.batch
        return orders(self.spark, rows, seed=seed, num_partitions=2).withColumn(
            "order_id", (F.col("order_id") * stride + first).cast("int")
        )

    def run(self, phase) -> dict:
        t, s = self.table, self.step
        if s.kind in READ_KINDS:
            with phase("build"):
                df = t.read(with_row_id=False, where=s.where)
            return _materialize(df, phase)
        with phase("write"):
            if s.kind == "append":
                t.append(self.batch())
            elif s.kind == "merge":
                t.merge(self.batch(), MERGE_KEYS)
            elif s.kind == "delete_positional":
                t.delete_where(s.where, mode="positional")
            elif s.kind == "delete_equality":
                t.delete_where(s.where, mode="equality", equality_columns=EQUALITY_COLUMNS)
            elif s.kind == "compact":
                t.compact(target_files=2)
            elif s.kind == "expire":
                t.expire_snapshots(keep_last=1)
            else:
                raise ValueError(f"unknown lifecycle step {s.kind!r}")
        return {}

    def table_stats(self) -> dict[str, int]:
        """File counts of the head snapshot and metadata bytes on disk."""
        head = self.table.snapshots()[-1]
        meta = [f for f in os.listdir(self.table.path) if f.endswith(".json")]
        return {
            "data_files": len(head.data_files),
            "delete_files": len(head.delete_files),
            "metadata_bytes": sum(os.path.getsize(os.path.join(self.table.path, f)) for f in meta),
            "data_bytes": sum(os.path.getsize(e[0]) for e in head.data_files),
        }


class LifecycleWorkload:
    repeatable = False

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.plan = lifecycle_plan(seed)
        self.tables_dir = os.path.join(work_dir, "tables")
        self.visible_rows = 0
        self.expected: dict[str, tuple] = {}
        self._last_table: str | None = None

    def _fresh_table(self, pass_no: int):
        from iceberg_table_generator_spark.sources.lifecycle import ParquetSnapshotTable

        if self._last_table:
            shutil.rmtree(self._last_table, ignore_errors=True)
        path = os.path.join(self.tables_dir, f"pass{pass_no + 1}")
        self._last_table = path
        return ParquetSnapshotTable(self.spark, path).create(
            ["order_id", "order_year", "order_date", "source_id", "product_name", "amount"]
        )

    def pass_ops(self, pass_no: int) -> list[LifecycleOp]:
        table = self._fresh_table(pass_no)
        return [LifecycleOp(self.spark, table, i, s) for i, s in enumerate(self.plan)]

    def warm(self) -> dict[str, bool]:
        """One untimed lifecycle whose batches and predicates are replayed
        on :class:`LifecycleOracle`; records the expected rows of every
        read, which later passes are checked against."""
        oracle = LifecycleOracle()
        ok: dict[str, bool] = {}
        for op in self.pass_ops(-1):
            s = op.step
            t0 = time.perf_counter()
            try:
                if not all(ok.values()):
                    raise RuntimeError("an earlier step failed")
                if s.kind in READ_KINDS:
                    self.expected[op.label] = canonical(oracle.rows(s.where))
                    got = op.table.read(with_row_id=False, where=s.where).toPandas()
                    ok[op.label] = canonical(got) == self.expected[op.label]
                else:
                    batch = op.batch().toPandas() if s.kind in ("append", "merge") else None
                    op.run(untraced)
                    ok[op.label] = True
                    if s.kind == "append":
                        oracle.append(batch)
                    elif s.kind == "merge":
                        oracle.merge(batch, MERGE_KEYS)
                    elif s.kind.startswith("delete"):
                        oracle.delete(s.where)
            except Exception:  # noqa: BLE001 — a failing op is counted, not fatal
                traceback.print_exc()
                ok[op.label] = False
            print(f"  warm {op.label}: {time.perf_counter() - t0:.3f} s", file=sys.stderr)
        self.visible_rows = len(oracle.rows())
        return ok

    def verify(self, op: LifecycleOp, out: dict) -> bool:
        if op.kind in READ_KINDS:
            return out["rows"] == len(self.expected[op.label][1])
        return True

    def stored_bytes_per_row(self) -> float:
        """Bytes on disk in the last table's directory per visible row."""
        return _dir_bytes(self._last_table) / max(1, self.visible_rows)


def make(name: str, spark, seed: int, data_dir: str, work_dir: str):
    if name == "llm_pipeline":
        return QueryWorkload(spark, LLM_OPS, seed, data_dir)
    if name == "table_lifecycle":
        return LifecycleWorkload(spark, seed, work_dir)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("llm_pipeline", "table_lifecycle")
