"""Relational query pack: the full operator surface of SURVEY.md §2.3/§2.7.

The reference's only relational machinery is partition-pruned scans plus
per-row predicates driving its delete writers
(`IcebergTableGenerator.java:195-200, 246-279`); everything else in this pack
(joins, grouped/windowed/rollup aggregation, set ops, top-k, event-time
windows) is the driver-mandated replacement surface (SURVEY.md §2.7) built
Spark-first: declarative DataFrame plans, Catalyst pushdown, broadcast hints
for dimension tables, AQE for skew.

Scale notes per query are inline.  General posture:
- filters/projections appear before joins → parquet scan sees PushedFilters
  and a pruned ReadSchema;
- region/nation are broadcast (constant-size dims at any SF);
- larger joins shuffle on their keys and rely on AQE skew splitting;
- aggregates are expressed as single groupBy → map-side partial aggregation.

Float determinism policy (applies to every oracle-paired query): double
addition is not associative, so a sum's last ulp depends on accumulation
order — across engines (or across Spark partitionings) the rounded result
can straddle a rounding boundary and flake.  All double sums/averages are
therefore accumulated in DECIMAL(25,6) — exact and order-insensitive — then
cast back to DOUBLE and rounded, identically on both engines:

    Spark:  F.round(F.sum(c.cast("decimal(25,6)")).cast("double"), 2)
    DuckDB: round(CAST(sum(CAST(c AS DECIMAL(25,6))) AS DOUBLE), 2)

min/max/count and single-row arithmetic are already order-insensitive and
stay in plain double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from iceberg_table_generator_spark.functions.sessions import SESSION_GAP_SECONDS
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table

DEC = "decimal(25,6)"
#: Integer-only DECIMAL for exact products and sums of scaled integers
#: (squares, cross terms) that would overflow a BIGINT.
D38 = "decimal(38,0)"
#: Scaled-integer micro-fraction denominator: shares, ratios and recalls
#: are reported as integer millionths (ppm) on both engines.
MICRO = 1_000_000


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-insensitive double sum (exact decimal accumulation)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)).cast("double"), scale)


def davg(col: Column | str, scale: int = 6) -> Column:
    """Order-insensitive double average: exact decimal sum / count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)).cast("double") / F.count(F.lit(1)), scale)


def sql_dsum(expr: str, scale: int = 2) -> str:
    return f"round(CAST(sum(CAST({expr} AS DECIMAL(25,6))) AS DOUBLE), {scale})"


def sql_davg(expr: str, scale: int = 6) -> str:
    return f"round(CAST(sum(CAST({expr} AS DECIMAL(25,6))) AS DOUBLE) / count(*), {scale})"


# --------------------------------------------------------------------------
# Aggregation: TPC-H Q1 shape (filter → groupBy → sum/avg/count)
# --------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')}                                        AS sum_qty,
           {sql_dsum('l_extendedprice')}                                   AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')}                AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}  AS sum_charge,
           {sql_davg('l_quantity')}                                        AS avg_qty,
           {sql_davg('l_extendedprice')}                                   AS avg_price,
           {sql_davg('l_discount')}                                        AS avg_disc,
           count(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1. One shuffle on (returnflag, linestatus) — 6 groups, so the
    partial (map-side) aggregate does ~all the work; final agg is tiny.
    Filter is pushed to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Filters/predicates: the reference's delete-selector shapes (P2, Main.java)
# --------------------------------------------------------------------------
@query(
    "filter_predicates",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderkey % 10 = 3
      AND o_totalprice >= 50000 AND o_totalprice < 200000
      AND o_orderstatus = 'O'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference delete-predicate shapes (`Main.java:160-204`): modulo, range,
    string equality, IN-list — all pushdown-eligible Column expressions, no
    shuffle at all (narrow scan→filter→project)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (F.pmod(F.col("o_orderkey"), F.lit(10)) == 3)
        & (F.col("o_totalprice") >= 50000)
        & (F.col("o_totalprice") < 200000)
        & (F.col("o_orderstatus") == "O")
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


# --------------------------------------------------------------------------
# Scalar functions: the reference's generation expressions (§2.4/§2.5)
# --------------------------------------------------------------------------
@query(
    "scalar_functions",
    oracle="""
    SELECT p_partkey,
           printf('%s %s', upper(substr(p_type, 1, 1)) || lower(substr(p_type, 2)),
                  p_brand)                                            AS display_name,
           (['red','orange','yellow','green','blue','indigo','violet','black',
             'white','gray'])[CAST(p_partkey % 10 AS INT) + 1]        AS color,
           CAST(make_date(2022 - CAST(p_partkey // 12 AS INT) % 50,
                          12 - CAST(p_partkey % 12 AS INT), 1) AS VARCHAR) AS created_date,
           concat_ws('-', p_brand, CAST(p_size AS VARCHAR))           AS brand_size,
           round(p_retailprice * 1.1, 2)                              AS taxed_price
    FROM part
    WHERE p_size <= 20
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scalar surface (`Main.java:525-537`): format/capitalize/
    concat templates, COLORS[id % 10], deterministic make_date — re-expressed
    as JVM-side column expressions (whole-stage codegen, no UDFs)."""
    p = load_table(spark, sf_dir, "part")
    colors = F.array(*[F.lit(c) for c in (
        "red", "orange", "yellow", "green", "blue",
        "indigo", "violet", "black", "white", "gray",
    )])
    capitalized = F.concat(
        F.upper(F.substring("p_type", 1, 1)),
        F.lower(F.expr("substr(p_type, 2)")),
    )
    return p.filter(F.col("p_size") <= 20).select(
        "p_partkey",
        F.format_string("%s %s", capitalized, F.col("p_brand")).alias("display_name"),
        F.element_at(colors, (F.pmod("p_partkey", F.lit(10)) + 1).cast("int")).alias("color"),
        F.make_date(
            F.lit(2022) - F.pmod(F.floor(F.col("p_partkey") / 12), F.lit(50)).cast("int"),
            F.lit(12) - F.pmod("p_partkey", F.lit(12)).cast("int"),
            F.lit(1),
        )
        # DATE serialized as its ISO string on both sides: pandas/arrow
        # bridges normalize DATE inconsistently (date object vs midnight
        # datetime64), which would break the value hash despite equal values.
        .cast("string")
        .alias("created_date"),
        F.concat_ws("-", "p_brand", F.col("p_size").cast("string")).alias("brand_size"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("taxed_price"),
    )


# --------------------------------------------------------------------------
# Grouped aggregation with HAVING + distinct aggregates
# --------------------------------------------------------------------------
@query(
    "agg_groupby_having",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           count(*)                              AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           {sql_dsum('o_totalprice')}            AS total_revenue,
           {sql_davg('o_totalprice')}            AS avg_revenue,
           round(min(o_totalprice), 2)           AS min_revenue,
           round(max(o_totalprice), 2)           AS max_revenue
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    HAVING count(*) > 50
    """,
)
def agg_groupby_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate with partial/final split + a distinct aggregate (which
    Spark plans as a two-phase expand/agg) + post-agg HAVING filter."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dsum("o_totalprice").alias("total_revenue"),
            davg("o_totalprice").alias("avg_revenue"),
            F.round(F.min("o_totalprice"), 2).alias("min_revenue"),
            F.round(F.max("o_totalprice"), 2).alias("max_revenue"),
        )
        .filter(F.col("n_orders") > 50)
    )


# --------------------------------------------------------------------------
# Broadcast join: constant-size dims (region 5 rows, nation 25 at every SF)
# --------------------------------------------------------------------------
@query(
    "join_broadcast_dims",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           count(*)                        AS n_customers,
           {sql_dsum('c.c_acctbal')}       AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region with explicit broadcast() on the dims:
    zero shuffle for the joins (map-side hash joins), one shuffle for the
    final 25-group aggregate.  At 100 TB the customer scan is the only big
    input and it streams through unshuffled."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# Multiway join: TPC-H Q5 shape (the star-schema stress join)
# --------------------------------------------------------------------------
@query(
    "join_multiway_revenue",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders   o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation   n ON c.c_nationkey = n.n_nationkey
    JOIN region   r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def join_multiway_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5. The fact-fact join (orders ⋈ lineitem) shuffles on orderkey;
    supplier joins by (suppkey) then the nation filter collapses via broadcast
    dims.  The date filter on orders is pushed to its scan, shrinking the
    build side before the big join — exactly the plan wanted at 100 TB (AQE
    re-plans the post-filter orders side to broadcast when it fits)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE")))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Semi / anti joins
# --------------------------------------------------------------------------
@query(
    "join_semi",
    oracle="""
    SELECT p.p_partkey, p.p_name, p.p_retailprice
    FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 48)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — emits each part at most once, probe side never
    materializes lineitem columns (smaller shuffle than inner+distinct)."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name", "p_retailprice"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 150000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no high-value (>150k) orders.

    The high-value predicate keeps the anti set non-empty at every SF
    (every customer has *some* order in this data, so an unfiltered
    anti-join would be a vacuous always-0-rows test)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------
@query(
    "window_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: one shuffle on custkey, per-partition sort.
    Deterministic tiebreak on orderkey.  At scale this is the standard
    rank-filter top-k; skewed customers are split by AQE."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        ).filter(F.col("rn") <= 3)
    )


@query(
    "window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
               AS running_total,
           round(o_totalprice - coalesce(lag(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0), 2)
               AS delta_vs_prev
    FROM orders
    """,
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag delta per customer ordered by order date.  The
    running sum accumulates in decimal: window-frame summation order/grouping
    is an engine implementation detail (segment trees vs streaming), so
    double accumulation could drift in the last ulp."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast(DEC)).over(wsum).cast("double"), 2).alias(
            "running_total"
        ),
        F.round(
            F.col("o_totalprice") - F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 2
        ).alias("delta_vs_prev"),
    )


# --------------------------------------------------------------------------
# Global top-k (sort + limit)
# --------------------------------------------------------------------------
@query(
    "topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy+limit → Spark plans TakeOrderedAndProject: per-partition heap
    top-k then driver merge — no global sort, no full shuffle.  Deterministic
    tiebreak on orderkey."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# ROLLUP / CUBE
# --------------------------------------------------------------------------
@query(
    "rollup_acctbal",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           count(*)                  AS n_customers,
           {sql_dsum('c.c_acctbal')} AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals region → nation → grand total via rollup (Spark
    plans a single Expand + hash aggregate)."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_acctbal"),
        )
    )


@query(
    "cube_orders",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*)                   AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------
@query(
    "set_operations",
    oracle="""
    WITH seg AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
         big AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 250000)
    SELECT 'union' AS op, count(*) AS n FROM (SELECT k FROM seg UNION SELECT k FROM big)
    UNION ALL
    SELECT 'intersect' AS op, count(*) AS n FROM (SELECT k FROM seg INTERSECT SELECT k FROM big)
    UNION ALL
    SELECT 'except' AS op, count(*) AS n FROM (SELECT k FROM seg EXCEPT SELECT k FROM big)
    """,
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer-key sets, each counted.
    Spark plans these as aggregates / left-semi / left-anti respectively."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    seg = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("k"))
    big = o.filter(F.col("o_totalprice") > 250000).select(F.col("o_custkey").alias("k")).distinct()
    rows = [
        ("union", seg.union(big).distinct()),
        ("intersect", seg.intersect(big)),
        ("except", seg.exceptAll(big).distinct()),
    ]
    out = None
    for op, df in rows:
        one = df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")
        out = one if out is None else out.unionAll(one)
    return out


# --------------------------------------------------------------------------
# Distinct aggregates per group
# --------------------------------------------------------------------------
@query(
    "distinct_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple distinct aggregates → Spark Expand-based multi-distinct plan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


# --------------------------------------------------------------------------
# Conditional aggregation (CASE WHEN pivot shape)
# --------------------------------------------------------------------------
@query(
    "conditional_agg",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END")} AS open_total,
           {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")} AS filled_total,
           {sql_dsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END")} AS pending_total,
           count(CASE WHEN o_totalprice > 150000 THEN 1 END) AS n_large
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def status_total(s: str):
        return dsum(F.when(F.col("o_orderstatus") == s, F.col("o_totalprice")).otherwise(0.0))

    return o.groupBy("o_orderpriority").agg(
        status_total("O").alias("open_total"),
        status_total("F").alias("filled_total"),
        status_total("P").alias("pending_total"),
        F.count(F.when(F.col("o_totalprice") > 150000, 1)).alias("n_large"),
    )


# --------------------------------------------------------------------------
# Correlated subquery (decorrelated by Catalyst into a join)
# --------------------------------------------------------------------------
# The per-customer average is computed as exact-decimal-sum / count in BOTH
# engines so the comparison threshold is bit-identical (a plain double avg
# could differ in the last ulp and flip rows sitting exactly on it).
_CORRELATED_SQL = """
SELECT o.o_orderstatus, count(*) AS n_above_avg
FROM orders o
WHERE o.o_totalprice > (SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
                               / count(*)
                        FROM orders o2
                        WHERE o2.o_custkey = o.o_custkey)
GROUP BY o.o_orderstatus
"""


@query("correlated_subquery", oracle=_CORRELATED_SQL)
def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery via spark.sql — Catalyst decorrelates it
    into an aggregate + join, so execution is one shuffle on custkey."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_CORRELATED_SQL)


# --------------------------------------------------------------------------
# Event-time tumbling window (batch twin of the streaming pipeline)
# --------------------------------------------------------------------------
@query(
    "events_hourly_window",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)               AS n_events,
           {sql_dsum('value')}    AS total_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window via F.window — identical semantics
    to the streaming pipeline in streaming/events.py (which adds a watermark);
    here it runs as a batch group-by for the oracle."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value", "n_users")
    )


# --------------------------------------------------------------------------
# Sessionization (gaps-and-islands)
# --------------------------------------------------------------------------
@query(
    "events_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN date_diff('second',
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > {SESSION_GAP_SECONDS}
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sessions AS (
      SELECT user_id, event_id, ts, value,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM flagged)
    SELECT user_id, session_seq,
           count(*)             AS n_events,
           min(ts)              AS session_start,
           max(ts)              AS session_end,
           {sql_dsum('value')}  AS session_value
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize events per user with a 30-min inactivity gap: lag → flag →
    running count → group.  One shuffle on user_id; both window passes and
    the final aggregate reuse that partitioning (Catalyst collapses them)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # NTZ → LTZ (session tz = UTC) → epoch seconds; floor-of-each matches
    # DuckDB's date_diff('second', ...) boundary-crossing count.
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    gap_s = epoch(F.col("ts")) - epoch(prev_ts)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(prev_ts.isNull() | (gap_s > SESSION_GAP_SECONDS), 1).otherwise(0).alias("is_new"),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = flagged.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.sum("is_new").over(wrun).alias("session_seq"),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value").alias("session_value"),
    )


# --------------------------------------------------------------------------
# Semi-structured extraction (JSON props)
# --------------------------------------------------------------------------
@query(
    "json_extraction",
    oracle="""
    SELECT event_type,
           round(CAST(sum(CAST(props->>'$.k' AS INT)) AS DOUBLE) / count(*), 6) AS avg_k,
           CAST(max(CAST(props->>'$.k' AS INT)) AS INT) AS max_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object over the JSON-ish props column, then aggregate.
    avg is expressed as exact integer sum / count on both engines."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.round(F.sum(k).cast("double") / F.count(F.lit(1)), 6).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count("*").alias("n"),
    )
