"""Record generators R1-R6: the reference's table builders, Spark-native.

Reference surface: `Main.java:475-603` — row-at-a-time `GenericRecord`
constructors fed to the Iceberg writer.  Here each is ONE `spark.sql`
projection over `range(start, end, 1, partitions)`, its columns spliced
from the SQL expression text of datagen/values.py: the JVM parses the
batch once, and building it costs a handful of py4j round trips however
many columns it has.  Catalyst codegens the expressions and the build
parallelizes over the cluster (10^12-row tables are just more range
partitions; nothing is driver-side).

Determinism: fixed (seed, n, partitions) ⇒ bit-identical output (see
datagen/values.py).  The deterministic-in-id columns (color, created_date —
`Main.java:536-537`) are exactly reproducible and DuckDB-checkable; the
uniform columns reproduce the reference's distribution contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from iceberg_table_generator_spark.datagen import values as V
from iceberg_table_generator_spark.registry import query

PRODUCT_NAMES = ["Widget", "Gizmo", "Gadget"]  # Main.java:50
CATEGORIES = ["widget", "gizmo", "gadget"]  # Main.java:303
COLORS = [  # 10 colors, indexed by product_id % 10 (Main.java:71-74, 536)
    "red", "orange", "yellow", "green", "blue",
    "indigo", "violet", "black", "white", "gray",
]
NAME_TEMPLATES = [  # shape of Main.java:62-66 (format with capitalized category)
    "Standard %s", "Premium %s", "Deluxe %s", "Basic %s", "Super %s",
]
NAME_SUFFIXES = ["", " Pro", " Max"]  # shape of Main.java:68-69

_INT_ID = "CAST(`id` AS INT)"


def _select(columns: dict[str, str], source: str) -> str:
    """`SELECT <text> AS <name>, ... FROM <source>` over an ordered
    name → SQL-text mapping."""
    items = ", ".join(f"{text} AS {V.quote_identifier(name)}" for name, text in columns.items())
    return f"SELECT {items} FROM {source}"


def _range(n: int, num_partitions: int, start: int = 0) -> str:
    """The `spark.range(start, start + n, 1, num_partitions)` relation."""
    return f"range({start}, {start + n}, 1, {num_partitions})"


def _orders_columns(seed: int, year_range: tuple[int, int] = (2019, 2022)) -> dict[str, str]:
    year = V.uniform_int(*year_range, seed=seed, salt=1)
    product_name = (
        f"concat_ws(' ', {V.pick(PRODUCT_NAMES, seed=seed, salt=3)}, "
        f"CAST({V.uniform_int(0, 100, seed=seed, salt=4)} AS STRING))"
    )
    return {
        "order_id": _INT_ID,
        "order_year": year,
        "order_date": V.timestamp_in_year(year, seed=seed, salt=20),
        "source_id": V.uniform_int(0, 5, seed=seed, salt=2),
        "product_name": product_name,
        "amount": V.uniform_double(0.0, 100.0, seed=seed, salt=5),
    }


def orders(
    spark: SparkSession,
    n: int,
    seed: int = V.DEFAULT_SEED,
    year_range: tuple[int, int] = (2019, 2022),
    num_partitions: int = 32,
) -> DataFrame:
    """R1/R3 `generateOrdersRecord` (`Main.java:475-509`): order_id=id,
    order_year uniform, order_date within year, source_id∈[0,5),
    product_name=pick+' '+int, amount∈[0,100)."""
    return spark.sql(_select(_orders_columns(seed, year_range), _range(n, num_partitions)))


def orders_partitioned(
    spark: SparkSession,
    partition_values: list[int],
    rows_per_partition: int,
    seed: int = V.DEFAULT_SEED,
    partition_col: str = "order_year",
) -> DataFrame:
    """R1/R2 partitioned variants (`Main.java:475-497`): the partition column
    is fixed per slice (identity-partition semantics); other columns follow
    the same generators.  Mirrors S3's per-partition append loop as a
    UNION ALL of pure projections — still fully distributed, and still one
    statement."""
    slices = []
    for pv in partition_values:
        inner = _orders_columns(seed + pv)
        cols = {name: V.quote_identifier(name) for name in inner}
        cols[partition_col] = f"CAST({V.sql_literal(pv)} AS INT)"
        if partition_col != "order_year":
            cols["order_year"] = V.uniform_int(2019, 2022, seed=seed + pv, salt=9, id_col="order_id")
        # each slice is an orders() batch at its default 32 partitions
        slices.append(_select(cols, f"({_select(inner, _range(rows_per_partition, 32))})"))
    return spark.sql(" UNION ALL ".join(slices))


def products(
    spark: SparkSession,
    n: int,
    seed: int = V.DEFAULT_SEED,
    category: str | None = None,
    columns: list[str] | None = None,
    num_partitions: int = 32,
    id_start: int = 0,
) -> DataFrame:
    """R4/R5 `generateProductsRecord` (`Main.java:522-541`).

    Deterministic-in-id columns exactly as the reference:
      color = COLORS[product_id % 10]                  (Main.java:536)
      created_date = date(2022 - id/12, 12 - id%12, 1) (Main.java:537)
    `columns` narrows the projection — the schema-adaptive behavior of
    `createProductsRecordGenerator` (`Main.java:543-588`), which survives
    add/drop column by generating only the live schema's fields."""
    pid = _INT_ID
    cat = V.sql_literal(category) if category else V.pick(CATEGORIES, seed=seed, salt=1)
    # name: a template formatted with the capitalized category + an optional
    # suffix (Main.java:525-531).
    capitalized = f"concat(upper(substring({cat}, 1, 1)), lower(substring({cat}, 2, 100)))"
    name = (
        f"concat(regexp_replace({V.pick(NAME_TEMPLATES, seed=seed, salt=4)}, '%s', ''), "
        f"{capitalized}, {V.pick(NAME_SUFFIXES, seed=seed, salt=5)})"
    )
    all_cols = {
        "product_id": pid,
        "name": name,
        "category": cat,
        "color": (
            f"element_at(array({', '.join(V.sql_literal(c) for c in COLORS)}), "
            f"CAST((pmod({pid}, 10) + 1) AS INT))"
        ),
        "created_date": (
            f"make_date((2022 - CAST(FLOOR(({pid} / 12)) AS INT)), "
            f"(12 - CAST(pmod({pid}, 12) AS INT)), 1)"
        ),
        "weight": V.uniform_double(0.1, 50.0, seed=seed, salt=2),
        "quantity": V.uniform_int(0, 10000, seed=seed, salt=3),
    }
    wanted = columns or list(all_cols)
    cols = {c: all_cols[c] for c in wanted if c in all_cols}
    return spark.sql(_select(cols, _range(n, num_partitions, start=id_start)))


def wide_metrics(
    spark: SparkSession,
    n: int = 30,
    n_metrics: int = 999,
    seed: int = V.DEFAULT_SEED,
    num_partitions: int = 30,
) -> DataFrame:
    """R6 `generateWideMetricsRecord` (`Main.java:596-603`, schema :76-82):
    id + `n_metrics` uniform doubles — the 1000-column stress table.  One
    projection of 999 codegen'd hash expressions; no Python per-row work."""
    cols = {"id": _INT_ID}
    for i in range(n_metrics):
        cols[f"metric_{i}"] = V.uniform_double(0.0, 100.0, seed=seed, salt=100 + i)
    return spark.sql(_select(cols, _range(n, num_partitions)))


# --------------------------------------------------------------------------
# Oracle-checked datagen queries (deterministic subset)
# --------------------------------------------------------------------------
@query(
    "datagen_sequence",
    oracle="""
    SELECT CAST(r.range AS BIGINT)                 AS id,
           CAST(r.range % 10 AS INT)               AS bucket,
           chr(97 + CAST(r.range % 26 AS INT))     AS tag,
           CAST(make_timestamp(2020, 1 + CAST(r.range % 12 AS INT),
                1 + CAST(r.range % 28 AS INT), CAST(r.range % 23 AS INT),
                CAST(r.range % 60 AS INT), 0.0) AS VARCHAR) AS ts_det
    FROM range(0, 10000) r
    """,
)
def datagen_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 monotonic ids + deterministic G5-shaped timestamp construction
    (month-aware fields, hour domain [0,23) as in the reference) — the
    DuckDB-checkable core of the value-generator library."""
    return V.ids(spark, 10000).select(
        F.col("id"),
        F.pmod("id", F.lit(10)).cast("int").alias("bucket"),
        F.chr(F.pmod("id", F.lit(26)) + 97).alias("tag"),
        F.make_timestamp_ntz(
            F.lit(2020),
            (F.pmod("id", F.lit(12)) + 1).cast("int"),
            (F.pmod("id", F.lit(28)) + 1).cast("int"),
            F.pmod("id", F.lit(23)).cast("int"),
            F.pmod("id", F.lit(60)).cast("int"),
            F.lit(0),
        )
        .cast("string")
        .alias("ts_det"),
    )


@query(
    "datagen_products_deterministic",
    oracle="""
    SELECT CAST(r.range AS INT) AS product_id,
           (['red','orange','yellow','green','blue','indigo','violet','black',
             'white','gray'])[CAST(r.range % 10 AS INT) + 1] AS color,
           CAST(make_date(2022 - CAST(r.range // 12 AS INT),
                          12 - CAST(r.range % 12 AS INT), 1) AS VARCHAR) AS created_date
    FROM range(0, 600) r
    """,
)
def datagen_products_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4's deterministic-in-id columns (`Main.java:536-537`), generated by
    the engine's products() builder and checked value-exact against SQL."""
    df = products(spark, 600, columns=["product_id", "color", "created_date"])
    return df.select(
        "product_id", "color", F.col("created_date").cast("string").alias("created_date")
    )
