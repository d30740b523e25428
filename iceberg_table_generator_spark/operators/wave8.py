"""Round-8 operator wave: regression trends, skyline, link prediction,
shard balancing, ABC classes, and a recursive-CTE forecaster.

The reference is a table generator with no analytics surface
(`IcebergTableGenerator.java` writes rows; it never reads them back) —
these operators extend SURVEY.md §2.7/§2.8 with the query shapes a
training-data/BI consumer of those tables runs: per-group OLS trend
fits, Pareto-optimal (skyline) selection, neighborhood-overlap link
prediction, deterministic shard-balance
audits for distributed training, and Holt's linear-trend smoothing
executed as the SAME recursive SQL on Spark 4's recursive CTEs and
DuckDB.

Exactness policy (the repo convention): every cross-row accumulation is
integer or DECIMAL (order-free); doubles appear only in a final
fixed-order chain per row, rounded once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.window import Window

from iceberg_table_generator_spark.functions.json import props_k
from iceberg_table_generator_spark.functions.text import md5_60, md5_60_sql
from iceberg_table_generator_spark.operators.relational import D38
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# OLS trend per order priority: monthly revenue regressed on month index
# --------------------------------------------------------------------------
_OLS_ORACLE = """
WITH monthly AS (
  SELECT o_orderpriority,
         (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS t,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100 AS BIGINT)
           AS y
  FROM orders GROUP BY 1, 2),
mom AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS st,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
         CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM monthly GROUP BY 1),
fit AS (
  SELECT o_orderpriority, n,
         CAST(n * sty - CAST(st AS HUGEINT) * sy AS DOUBLE) AS num,
         CAST(n * stt - CAST(st AS HUGEINT) * st AS DOUBLE) AS dent,
         CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS deny,
         CAST(CAST(sy AS HUGEINT) * stt
              - CAST(st AS HUGEINT) * sty AS DOUBLE) AS inum
  FROM mom)
SELECT o_orderpriority, n AS n_months,
       round(num / dent, 6) AS slope_cents,
       round(inum / dent, 6) AS intercept_cents,
       CASE WHEN deny <> 0 THEN round(num * num / (dent * deny), 6)
            END AS r2
FROM fit
"""


@query("orders_ols_trend", oracle=_OLS_ORACLE)
def orders_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority ordinary-least-squares fit of monthly revenue on the
    month index: slope (cents/month), intercept, and R² — the trend-line
    every BI tool draws, computed exactly.  Complements
    `stats_theil_sen_trend` (robust slope) with the classical estimator
    and adds the goodness-of-fit the median-of-slopes can't give.

    Exactness: the month index is an integer, revenue is exact cents, so
    all five regression moments are exact integers; the normal-equation
    numerators/denominators are 128-bit cross-multiplications
    (Spark DECIMAL(38,0) / DuckDB HUGEINT — both exact), and each output
    is ONE double division, rounded once.  Zero-variance revenue ⇒ R²
    NULL on both engines.

    Scale: one calendar-bounded aggregate (months × 5 priorities), then
    a 5-row moment fold — nothing after the first groupBy exceeds the
    time domain."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_orderpriority",
        ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("t"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(25,6)")) * 100)
        .cast("long")
        .alias("y")
    )
    t, y = F.col("t"), F.col("y")
    mom = monthly.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(t.cast(D38) * t.cast(D38)).cast(D38).alias("stt"),
        F.sum(t.cast(D38) * y.cast(D38)).cast(D38).alias("sty"),
        F.sum(y.cast(D38) * y.cast(D38)).cast(D38).alias("syy"),
    )
    n = F.col("n").cast(D38)
    st, sy = F.col("st").cast(D38), F.col("sy").cast(D38)
    num = (n * F.col("sty") - st * sy).cast("double")
    dent = (n * F.col("stt") - st * st).cast("double")
    deny = (n * F.col("syy") - sy * sy).cast("double")
    inum = (sy * F.col("stt") - st * F.col("sty")).cast("double")
    return mom.select(
        "o_orderpriority",
        F.col("n").alias("n_months"),
        F.round(num / dent, 6).alias("slope_cents"),
        F.round(inum / dent, 6).alias("intercept_cents"),
        F.when(deny != 0, F.round(num * num / (dent * deny), 6)).alias("r2"),
    )


# --------------------------------------------------------------------------
# Skyline (Pareto-optimal) parts per brand: cheapest-for-the-size frontier
# --------------------------------------------------------------------------
_SKYLINE_ORACLE = """
WITH p AS (
  SELECT p_brand, p_partkey,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS price_cents,
         p_size
  FROM part)
SELECT p_brand, p_partkey, price_cents, CAST(p_size AS BIGINT) AS p_size
FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM p q
  WHERE q.p_brand = p.p_brand
    AND q.price_cents <= p.price_cents AND q.p_size >= p.p_size
    AND (q.price_cents < p.price_cents OR q.p_size > p.p_size))
"""


@query("part_skyline_pareto", oracle=_SKYLINE_ORACLE)
def part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand skyline: parts not dominated on (price low, size high) —
    the Pareto-frontier selection query (BÖRZSÖNYI et al.'s SKYLINE OF
    operator) recast as two partitioned windows instead of the quadratic
    self-join the oracle runs.

    A part is dominated iff a same-brand part is strictly cheaper with
    size ≥ its own (a RANGE window over strictly-lower prices carrying
    max size), or same-priced with strictly larger size (a per-(brand,
    price) max).  Both windows are partitioned by brand — the 2D skyline
    needs ONE sort per brand, not the O(n²) dominance join; at scale the
    per-brand relation is dimension-tier (the fact tables never enter).

    Exactness: prices become exact cents via DECIMAL; everything else is
    integer comparison."""
    p = load_table(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    w_cheaper = (
        Window.partitionBy("p_brand")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("p_brand", "price_cents")
    d = p.select(
        "*",
        F.max("p_size").over(w_cheaper).alias("_m_cheaper"),
        F.max("p_size").over(w_same).alias("_m_same"),
    )
    return d.filter(
        (F.coalesce(F.col("_m_cheaper"), F.lit(-1)) < F.col("p_size"))
        & (F.col("_m_same") <= F.col("p_size"))
    ).select("p_brand", "p_partkey", "price_cents", "p_size")


# --------------------------------------------------------------------------
# Link prediction: neighborhood overlap on the page-transition graph
# --------------------------------------------------------------------------
LINK_TOP_K = 20

_LINK_ORACLE = f"""
WITH ev AS (
  SELECT user_id, ts, event_id, CAST(props->>'$.k' AS INT) AS k FROM events),
seq AS (
  SELECT k AS src, lead(k) OVER
    (PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM ev),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM seq WHERE dst IS NOT NULL AND src <> dst),
bi AS (SELECT u AS src, v AS dst FROM und
       UNION ALL SELECT v AS src, u AS dst FROM und),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
        FROM bi GROUP BY src),
cn AS (
  SELECT x.dst AS a, y.dst AS b, CAST(count(*) AS BIGINT) AS n_common
  FROM bi x JOIN bi y ON x.src = y.src AND x.dst < y.dst
  GROUP BY 1, 2)
SELECT a, b, n_common,
       da.degree AS deg_a, db.degree AS deg_b,
       CASE WHEN e.u IS NULL THEN 0 ELSE 1 END AS is_edge,
       (1000000 * n_common) // (da.degree + db.degree - n_common)
         AS jaccard_e6
FROM cn
JOIN deg da ON da.node = a
JOIN deg db ON db.node = b
LEFT JOIN und e ON e.u = a AND e.v = b
ORDER BY n_common DESC, a, b
LIMIT {LINK_TOP_K}
"""


@query("events_link_prediction", oracle=_LINK_ORACLE)
def events_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood overlap: the top-{K} page pairs by
    common-neighbor count, with degrees, Jaccard overlap of neighbor
    sets (micro-units), and whether the pair is already an edge — the
    classic common-neighbors / Jaccard predictors (Liben-Nowell &
    Kleinberg) that rank which missing edges are most likely.

    Scale: common neighbors come from ONE self-equi-join of the
    |V|²-bounded directed edge relation on the wedge center (the
    `events_two_hop_reach` join shape) — never through the corpus; the
    pair relation is ≤ |V|²/2 rows, degrees are a |V|-row aggregate, and
    the final ranking is a global top-k (TakeOrderedAndProject).  Pure
    integer counts; Jaccard is a single integer division in micro-units
    (the pair (a,b) is unique, so the cross-engine tie-break is total)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        props_k().alias("k"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(F.col("k").alias("src"), F.lead("k").over(w).alias("dst"))
    und_df = (
        seq.filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    # r14 model-sized driver fold (the events_katz_centrality policy): the
    # window pass + distinct down to the |V|²-bounded edge relation stays
    # distributed; wedge counting, degrees and the top-k ranking fold over
    # the collected ≤ C(100,2) edges.  Pure integer arithmetic (`//` = SQL
    # `div` on the non-negative domain); tie order (-n_common, a, b) is
    # the r13 orderBy.  The r13 shape was a wedge self-join + 3 attach
    # joins + TakeOrderedAndProject over ≤100-row relations.
    from iceberg_table_generator_spark.operators.graph import guard_model_nodes

    edges = [(r.u, r.v) for r in und_df.collect()]
    und_set = set(edges)
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    guard_model_nodes(len(adj), "events_link_prediction")
    deg = {n: len(s) for n, s in adj.items()}
    cn: dict[tuple[int, int], int] = {}
    for mid, nbrs in adj.items():
        ns = sorted(nbrs)
        for i, a in enumerate(ns):
            for b in ns[i + 1 :]:
                cn[(a, b)] = cn.get((a, b), 0) + 1
    ranked = sorted(cn.items(), key=lambda kv: (-kv[1], kv[0]))[:LINK_TOP_K]
    rows = [
        (
            a,
            b,
            n_common,
            deg[a],
            deg[b],
            1 if (a, b) in und_set else 0,
            (1_000_000 * n_common) // (deg[a] + deg[b] - n_common),
        )
        for (a, b), n_common in ranked
    ]
    return spark.createDataFrame(
        rows,
        schema="a int, b int, n_common bigint, deg_a bigint, deg_b bigint,"
        " is_edge bigint, jaccard_e6 bigint",
    )


# --------------------------------------------------------------------------
# Training-shard balance audit (deterministic hash sharding)
# --------------------------------------------------------------------------
N_SHARDS = 32

_SHARD_ORACLE = f"""
WITH d AS (
  SELECT {md5_60_sql("CAST(doc_id AS VARCHAR)")} % {N_SHARDS} AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
per AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM d GROUP BY shard),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per)
SELECT shard, n_docs, n_tokens,
       round(n_docs * {N_SHARDS}.0 / total_docs, 6) AS doc_load,
       round(n_tokens * {N_SHARDS}.0 / total_tokens, 6) AS token_load
FROM per CROSS JOIN tot
"""


@query("pipeline_shard_balance", oracle=_SHARD_ORACLE)
def pipeline_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit for deterministic hash sharding into
    {N_SHARDS} training shards: per-shard doc and token counts plus load
    factors (1.0 = perfectly balanced) — the pre-flight check before a
    distributed training run, where one hot shard stalls every data
    loader step (token load matters more than doc load for packed
    batches, hence both).

    The shard key is the engine-independent 60-bit md5 hash of the doc
    id — the same function any loader can recompute, so the audit
    predicts the REAL assignment.  Scale: one narrow projection, one
    {N_SHARDS}-key aggregate, one broadcast scalar total."""
    d = load_table(spark, sf_dir, "documents").select(
        (md5_60(F.col("doc_id").cast("string")) % N_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    per = d.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("total_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") * float(N_SHARDS) / F.col("total_docs"), 6)
        .alias("doc_load"),
        F.round(
            F.col("n_tokens") * float(N_SHARDS) / F.col("total_tokens"), 6
        ).alias("token_load"),
    )


# --------------------------------------------------------------------------
# Holt linear-trend smoothing as ONE recursive SQL, run on both engines
# --------------------------------------------------------------------------
HOLT_TRAIL_MONTHS = 24  # fit the trailing two years (recursion depth cap)


def _holt_sql(table: str) -> str:
    """Holt's double exponential smoothing (α = β = 1/2) over the
    trailing {HOLT_TRAIL_MONTHS} months of revenue, as a recursive CTE.
    The SAME text runs on Spark 4 (UnionLoop execution) and DuckDB
    (iterative recursion) — `table` is the only substitution.  All
    recursion arithmetic is +, −, and multiplication by 0.5 (an exact
    IEEE scaling) in a fixed parse order, so the two engines' doubles
    are bit-identical at every step; the trend expression repeats the
    level expression textually because a recursive leg cannot name its
    own output.  The trailing-window cap is both the product choice
    (forecast from recent history, not 1992) and the recursion-depth
    bound: Spark pays ~0.5 s of job-scheduling overhead PER UnionLoop
    step, so depth is the entire cost of this query."""
    return f"""
WITH RECURSIVE monthly AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mi,
         max(year(o_orderdate) * 100 + month(o_orderdate)) AS ym,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100 AS BIGINT)
           AS cents
  FROM {table} GROUP BY year(o_orderdate) * 12 + month(o_orderdate)),
m AS (
  SELECT CAST(row_number() OVER (ORDER BY mi) AS BIGINT) AS i, ym, cents,
         CAST(cents AS DOUBLE) AS y
  FROM monthly
  WHERE mi > (SELECT max(mi) FROM monthly) - {HOLT_TRAIL_MONTHS}),
h (i, lvl, trd) AS (
  SELECT a.i, a.y, b.y - a.y
  FROM m a JOIN m b ON a.i = 1 AND b.i = 2
  UNION ALL
  SELECT m.i,
         0.5 * m.y + 0.5 * (h.lvl + h.trd),
         0.5 * ((0.5 * m.y + 0.5 * (h.lvl + h.trd)) - h.lvl) + 0.5 * h.trd
  FROM h JOIN m ON m.i = h.i + 1)
SELECT m.ym, m.cents,
       round(h.lvl, 6) AS level_cents,
       round(h.trd, 6) AS trend_cents,
       round(h.lvl + h.trd, 6) AS forecast_next_cents
FROM h JOIN m ON m.i = h.i
"""


@query("orders_holt_forecast", oracle=_holt_sql("orders"))
def orders_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing of monthly
    revenue: per-month level, trend, and one-step-ahead forecast — the
    trend-aware upgrade of `orders_ewma_forecast` (which has no trend
    term and lags ramps by construction).

    This is the repo's recursive-CTE showcase: the Spark side executes
    the IDENTICAL `WITH RECURSIVE` text the oracle runs (Spark 4
    recursive CTEs), rather than a driver-side loop — the recursion is
    over the trailing-{HOLT_TRAIL_MONTHS}-month slice of the
    calendar-bounded monthly relation (one row per month at ANY scale
    factor), so the loop depth is a model constant, not a data
    quantity.  α = β = 1/2 makes every iteration an exact IEEE
    halving — bit-identical across engines."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "holt_orders_src"
    )
    return spark.sql(_holt_sql("holt_orders_src"))


# --------------------------------------------------------------------------
# ABC inventory classification of customers by revenue contribution
# --------------------------------------------------------------------------
_ABC_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100 AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT o_custkey, rev_cents,
         CAST(sum(rev_cents) OVER
              (ORDER BY rev_cents DESC, o_custkey) AS BIGINT) AS cum_cents,
         CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents
  FROM cust),
classed AS (
  SELECT CASE WHEN 10 * cum_cents <= 7 * total_cents THEN 'A'
              WHEN 10 * cum_cents <= 9 * total_cents THEN 'B'
              ELSE 'C' END AS abc_class,
         rev_cents, total_cents
  FROM ranked)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(rev_cents) AS BIGINT) AS rev_cents,
       round(sum(rev_cents) * 100.0 / max(total_cents), 6) AS share_pct
FROM classed GROUP BY abc_class
"""


@query("orders_abc_classification", oracle=_ABC_ORACLE)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC classification of customers: class A holds the customers whose
    cumulative revenue (ranked descending) stays within 70% of total, B
    to 90%, C the tail — the inventory-management cut of the same Lorenz
    machinery behind `pareto_revenue_concentration`, reported as class
    sizes and revenue shares.

    Scale: the descending cumulative sum uses the two-phase distributed
    global order (`functions/order.py`) — a range shuffle plus bounded
    offset broadcast, never a single-partition window over the customer
    dimension; class boundaries are pure integer comparisons (10·cum vs
    7·total), so no share ratio is ever materialized per row."""
    from iceberg_table_generator_spark.functions.order import with_global_order

    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(25,6)")) * 100)
            .cast("long")
            .alias("rev_cents")
        )
    )
    tot = cust.agg(F.sum("rev_cents").cast("long").alias("total_cents"))
    ranked = with_global_order(
        cust,
        [("rev_cents", False), ("o_custkey", True)],
        cums=[(F.col("rev_cents"), "cum_cents")],
        pos=None,
    ).crossJoin(F.broadcast(tot))
    classed = ranked.select(
        "rev_cents",
        "total_cents",
        F.when(10 * F.col("cum_cents") <= 7 * F.col("total_cents"), "A")
        .when(10 * F.col("cum_cents") <= 9 * F.col("total_cents"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev_cents").alias("rev_cents"),
        F.round(
            F.sum("rev_cents") * 100.0 / F.max("total_cents"), 6
        ).alias("share_pct"),
    )


# --------------------------------------------------------------------------
# Cramér's V effect size for the lang × source association
# --------------------------------------------------------------------------
_CRAMERS_ORACLE = """
WITH obs AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source),
rows_ AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_row FROM obs GROUP BY lang),
cols_ AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_col FROM obs GROUP BY source),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM obs),
grid AS (
  SELECT r.lang, c.source, r.n_row, c.n_col, t.n_tot, COALESCE(o.n, 0) AS n
  FROM rows_ r CROSS JOIN cols_ c CROSS JOIN tot t
  LEFT JOIN obs o ON o.lang = r.lang AND o.source = c.source),
stat AS (
  SELECT CAST(sum(CAST(
           (CAST(n AS DOUBLE) - (CAST(n_row AS DOUBLE) * n_col) / n_tot)
           * (CAST(n AS DOUBLE) - (CAST(n_row AS DOUBLE) * n_col) / n_tot)
           / ((CAST(n_row AS DOUBLE) * n_col) / n_tot)
         AS DECIMAL(38,12))) AS DOUBLE) AS chi2,
         CAST(max(n_tot) AS BIGINT) AS n_tot,
         CAST(least(count(DISTINCT lang), count(DISTINCT source)) - 1
              AS BIGINT) AS k
  FROM grid)
SELECT round(chi2, 4) AS chi2_stat, n_tot, k,
       round(sqrt(chi2 / (n_tot * k)), 6) AS cramers_v
FROM stat
"""


@query("stats_cramers_v", oracle=_CRAMERS_ORACLE)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for the lang × source contingency table — the
    normalized [0, 1] effect size `stats_chisq_lang_source`'s raw χ²
    can't give (χ² grows with n; V answers "HOW associated", comparable
    across corpora of different sizes).

    Same exactness scheme as the χ² query: integer marginals, per-cell
    fixed-order IEEE terms, DECIMAL(38,12) order-free accumulation, then
    ONE final sqrt chain rounded once.  Scale: two vocabulary-sized
    marginal aggregates and a |langs|×|sources| grid; one row out."""
    obs = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows_ = obs.groupBy("lang").agg(F.sum("n").alias("n_row"))
    cols_ = obs.groupBy("source").agg(F.sum("n").alias("n_col"))
    tot = obs.agg(F.sum("n").alias("n_tot"))
    grid = (
        rows_.crossJoin(cols_)
        .crossJoin(F.broadcast(tot))
        .join(obs, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "n_row",
            "n_col",
            "n_tot",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )
    e = (F.col("n_row").cast("double") * F.col("n_col")) / F.col("n_tot")
    term = (
        (F.col("n").cast("double") - e) * (F.col("n").cast("double") - e) / e
    ).cast("decimal(38,12)")
    stat = grid.agg(
        F.sum(term).cast("double").alias("chi2"),
        F.max("n_tot").cast("long").alias("n_tot"),
        (
            F.least(F.countDistinct("lang"), F.countDistinct("source")) - 1
        ).cast("long").alias("k"),
    )
    return stat.select(
        F.round("chi2", 4).alias("chi2_stat"),
        "n_tot",
        "k",
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n_tot") * F.col("k"))), 6
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# Brown-Forsythe (median-based Levene) equality-of-variance test
# --------------------------------------------------------------------------
_BF_FINAL = (
    "round((CAST(n_total - k_groups AS DOUBLE) * ssb)"
    " / (CAST(k_groups - 1 AS DOUBLE) * ssw), 6)"
)

_LEVENE_ORACLE = f"""
WITH hist AS (
  SELECT lang, n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY lang, n_chars),
cum AS (
  SELECT lang, v, c,
         CAST(sum(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cumc,
         CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
  FROM hist),
med AS (
  SELECT lang, CAST(min(v) AS BIGINT) AS med
  FROM cum WHERE 2 * cumc >= n GROUP BY lang),
z AS (
  SELECT d.lang, abs(d.n_chars - m.med) AS z
  FROM documents d JOIN med m ON m.lang = d.lang),
grp AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(z) AS BIGINT) AS s_i,
         CAST(sum(CAST(z AS HUGEINT) * z) AS BIGINT) AS q_i
  FROM z GROUP BY lang),
fold AS (
  SELECT CAST(count(*) AS BIGINT) AS k_groups,
         CAST(sum(n_i) AS BIGINT) AS n_total,
         CAST(sum(s_i) AS BIGINT) AS s_all,
         CAST(sum(CAST(CAST(q_i AS DOUBLE)
                       - CAST(s_i AS DOUBLE) * s_i / n_i
                  AS DECIMAL(38,12))) AS DOUBLE) AS ssw,
         CAST(sum(CAST(CAST(s_i AS DOUBLE) * s_i / n_i
                  AS DECIMAL(38,12))) AS DOUBLE) AS sb
  FROM grp),
stat AS (
  SELECT k_groups, n_total,
         sb - CAST(s_all AS DOUBLE) * s_all / n_total AS ssb, ssw
  FROM fold)
SELECT k_groups, n_total,
       CASE WHEN ssw <> 0 THEN {_BF_FINAL} END AS bf_stat
FROM stat
"""


@query("stats_levene_bf", oracle=_LEVENE_ORACLE)
def stats_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (median-based Levene) for equality of
    document-length variance across languages — the scale-homogeneity
    companion to `stats_welch_ttest` (which compares two locations and
    assumes nothing about variances; this asks whether ALL languages
    share a spread, the ANOVA precondition).

    Exactness: group centers are LOWER MEDIANS via the count-distribution
    crossing rule (min v with 2·cum ≥ n — integer, no interpolation), so
    the deviations z = |x − med| are exact integers; per-group moments
    are integer sums with 128-bit squares; the cross-group SSW/SSB folds
    go through DECIMAL(38,12) (order-free), and the F-ratio is one final
    fixed-order double chain.  Zero within-group variance ⇒ NULL on both
    engines.

    Scale: the median comes from a (lang, length)-histogram — the
    crossing-rule scan is over distinct lengths, not documents; the
    deviation join is corpus × a lang-domain-bounded median relation
    (AQE upgrades it to broadcast at runtime); two aggregates end the
    plan."""
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.groupBy("lang", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = Window.partitionBy("lang").orderBy("v")
    cum = hist.select(
        "lang",
        "v",
        F.sum("c").over(wcum).alias("cumc"),
        F.sum("c").over(Window.partitionBy("lang")).alias("n"),
    )
    med = (
        cum.filter(2 * F.col("cumc") >= F.col("n"))
        .groupBy("lang")
        .agg(F.min("v").cast("long").alias("med"))
    )
    z = docs.join(med, "lang").select(
        "lang", F.abs(F.col("n_chars") - F.col("med")).alias("z")
    )
    zc = F.col("z")
    grp = z.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_i"),
        F.sum("z").cast("long").alias("s_i"),
        F.sum(zc.cast(D38) * zc.cast(D38)).cast("long").alias("q_i"),
    )
    ssw_term = (
        F.col("q_i").cast("double")
        - F.col("s_i").cast("double") * F.col("s_i") / F.col("n_i")
    ).cast("decimal(38,12)")
    sb_term = (
        F.col("s_i").cast("double") * F.col("s_i") / F.col("n_i")
    ).cast("decimal(38,12)")
    fold = grp.agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("n_i").alias("n_total"),
        F.sum("s_i").cast("long").alias("s_all"),
        F.sum(ssw_term).cast("double").alias("ssw"),
        F.sum(sb_term).cast("double").alias("sb"),
    )
    stat = fold.select(
        "k_groups",
        "n_total",
        (
            F.col("sb")
            - F.col("s_all").cast("double") * F.col("s_all") / F.col("n_total")
        ).alias("ssb"),
        "ssw",
    )
    return stat.selectExpr(
        "k_groups",
        "n_total",
        f"CASE WHEN ssw <> 0 THEN {_BF_FINAL} END AS bf_stat",
    )


# --------------------------------------------------------------------------
# Fano factor (burstiness) of hourly traffic per page
# --------------------------------------------------------------------------
_FANO_ORACLE = """
WITH hourly AS (
  SELECT CAST(props->>'$.k' AS INT) AS page, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
mom AS (
  SELECT page, CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS q
  FROM hourly GROUP BY page)
SELECT page, n_hours, s AS n_events,
       (1000000 * s) // n_hours AS mean_e6,
       CASE WHEN n_hours > 1 THEN
         round(CAST(n_hours * CAST(q AS HUGEINT) - CAST(s AS HUGEINT) * s
                    AS DOUBLE)
               / CAST((n_hours - 1) * CAST(s AS HUGEINT) AS DOUBLE), 6)
       END AS fano
FROM mom
"""


@query("events_fano_factor", oracle=_FANO_ORACLE)
def events_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio of hourly hit counts) per
    page over its ACTIVE hours: 1 ⇒ Poisson arrivals, ≫1 ⇒ bursty
    (flash-crowd / bot bursts), ≪1 ⇒ metronomic (monitoring probes) —
    the page-level twin of `text_burstiness_topk`'s document statistic
    and the dispersion diagnostic behind `events_rate_anomaly`'s
    Poisson-ish assumption.

    Exactness: hourly counts are integers, the variance numerator
    n·Σc² − (Σc)² is a 128-bit cross-multiplication, the mean is an
    integer micro-unit division, and the ratio is ONE double division.
    Single-active-hour pages have undefined variance ⇒ NULL both
    engines.  Scale: one (page, hour) aggregate (partial map-side
    combine), then a page-keyed moment fold — bounded by the page
    domain."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            props_k().alias("page"),
            F.date_trunc("hour", "ts").alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c = F.col("c")
    mom = hourly.groupBy("page").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").cast("long").alias("s"),
        F.sum(c.cast(D38) * c.cast(D38)).cast("long").alias("q"),
    )
    num = (
        F.col("n_hours").cast(D38) * F.col("q").cast(D38)
        - F.col("s").cast(D38) * F.col("s").cast(D38)
    ).cast("double")
    den = ((F.col("n_hours") - 1).cast(D38) * F.col("s").cast(D38)).cast(
        "double"
    )
    return mom.select(
        "page",
        "n_hours",
        F.col("s").alias("n_events"),
        F.expr("(1000000 * s) div n_hours").alias("mean_e6"),
        F.when(F.col("n_hours") > 1, F.round(num / den, 6)).alias("fano"),
    )


# --------------------------------------------------------------------------
# LATERAL top-n per key: the SQL-standard form of top-k-per-group
# --------------------------------------------------------------------------
LATERAL_TOP_N = 2


def _lateral_sql(orders: str, lineitem: str) -> str:
    """Identical LATERAL text for Spark 4 and DuckDB — only the table
    names substitute.  Spark decorrelates the LIMIT-ed lateral subquery
    into a partitioned row_number window (DomainJoin rewrite), i.e. the
    same physical plan `window_topk_per_group` writes by hand — the
    point of this query is that the DECLARATIVE form survives."""
    return f"""
SELECT o.o_orderkey, t.l_linenumber, t.price_cents
FROM {orders} o,
LATERAL (
  SELECT l_linenumber,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS price_cents
  FROM {lineitem} l
  WHERE l.l_orderkey = o.o_orderkey
  ORDER BY l_extendedprice DESC, l_linenumber
  LIMIT {LATERAL_TOP_N}) t
"""


@query("join_lateral_topn", oracle=_lateral_sql("orders", "lineitem"))
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{N} most expensive lineitems per order via a correlated
    LATERAL subquery with ORDER BY + LIMIT — the SQL-standard spelling
    of top-k-per-group (`window_topk_per_group` is the hand-written
    window form; this one hands Catalyst the declarative form and the
    DomainJoin decorrelation rewrites it INTO that window, verified in
    `tests/` by plan assertion).

    Scale: after decorrelation the plan is a row_number window
    partitioned by l_orderkey plus an equi-join on the order key — both
    co-partitioned fact-side operations; nothing quadratic survives the
    rewrite.  Exact integer cents; (orderkey, linenumber) is a total
    tie-break."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "lateral_orders_src"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lateral_lineitem_src"
    )
    return spark.sql(
        _lateral_sql("lateral_orders_src", "lateral_lineitem_src")
    )


# --------------------------------------------------------------------------
# Exact global quantiles of a fact-table column via the distributed order
# --------------------------------------------------------------------------
QUANTILE_PCTS = [25, 50, 75, 95, 99]

_GLOBAL_Q_ORACLE = f"""
WITH li AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         l_orderkey, l_linenumber
  FROM lineitem),
s AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber)
              AS BIGINT) AS pos
  FROM li),
t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM li),
q AS (SELECT CAST(unnest({QUANTILE_PCTS}) AS BIGINT) AS pct)
SELECT q.pct, s.cents AS value_cents,
       (q.pct * t.n + 99) // 100 AS rank_pos
FROM q CROSS JOIN t
JOIN s ON s.pos = (q.pct * t.n + 99) // 100
"""


@query("lineitem_global_quantiles", oracle=_GLOBAL_Q_ORACLE)
def lineitem_global_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT nearest-rank p25/p50/p75/p95/p99 of lineitem price over the
    FULL fact table — the global-quantile query `percentile_approx`
    normally approximates, answered exactly at any scale: the two-phase
    distributed order (`functions/order.py`) assigns every row its global
    position with a range shuffle (no single-partition sort, no sorted
    collect), and the five target ranks are a 5-row literal relation
    broadcast against the positioned fact.

    The rank index is the integer `ceil` form `(pct·n + 99) div 100`
    (`events_hourly_p95`'s idiom — no float index anywhere); prices are
    exact cents; (orderkey, linenumber) totalizes the order, so both
    engines pick the identical element."""
    from iceberg_table_generator_spark.functions.order import with_global_order

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    # input_persist=None (r15, the lorenz finding): `li` is a bare
    # 3-column fact-scan projection — recomputing the pruned scan for the
    # boundary jobs and plan branches beats the MEMORY_AND_DISK
    # round-trip of the full relation.
    d = with_global_order(
        li, [("cents", True), ("l_orderkey", True), ("l_linenumber", True)],
        pos="pos",
        input_persist=None,
    )
    tot = li.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # spark.range(1) + explode(array(...)) plans as Range -> literal, which
    # the broadcast-invariant suite can classify (a createDataFrame relation
    # prints as Scan ExistingRDD and cannot be proven bounded).
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in QUANTILE_PCTS])).alias("_p")
    ).select(F.col("_p").cast("long").alias("pct"))
    rk = pcts.crossJoin(F.broadcast(tot)).select(
        "pct", F.expr("(pct * n + 99) div 100").alias("rank_pos")
    )
    return d.join(
        F.broadcast(rk), d["pos"] == rk["rank_pos"]
    ).select("pct", F.col("cents").alias("value_cents"), "rank_pos")


# --------------------------------------------------------------------------
# Resource-allocation link predictor (micro-unit integer form)
# --------------------------------------------------------------------------
_RA_ORACLE = f"""
WITH ev AS (
  SELECT user_id, ts, event_id, CAST(props->>'$.k' AS INT) AS k FROM events),
seq AS (
  SELECT k AS src, lead(k) OVER
    (PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM ev),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM seq WHERE dst IS NOT NULL AND src <> dst),
bi AS (SELECT u AS src, v AS dst FROM und
       UNION ALL SELECT v AS src, u AS dst FROM und),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
        FROM bi GROUP BY src),
ra AS (
  SELECT x.dst AS a, y.dst AS b,
         CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(1000000 // d.degree) AS BIGINT) AS ra_e6
  FROM bi x
  JOIN bi y ON x.src = y.src AND x.dst < y.dst
  JOIN deg d ON d.node = x.src
  GROUP BY 1, 2)
SELECT a, b, n_common, ra_e6
FROM ra
ORDER BY ra_e6 DESC, a, b
LIMIT {LINK_TOP_K}
"""


@query("events_resource_allocation", oracle=_RA_ORACLE)
def events_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link predictor (Zhou/Lü/Zhang): for the
    top-{K} page pairs, RA(a,b) = Σ_{{z ∈ N(a)∩N(b)}} 1/deg(z) — common
    neighbors weighted INVERSELY by their degree, which consistently
    beats raw common-neighbor counts because a hub that neighbors
    everything carries no signal.  Companion to
    `events_link_prediction` (unweighted count + Jaccard).

    Exactness: each wedge contributes the integer micro-unit
    `1000000 div deg(z)` — the per-term floor makes the sum pure
    integer arithmetic on both engines (documented micro-unit
    semantics, not a float approximation that happens to agree).
    Scale: the same |V|²-bounded wedge self-join as the common-neighbor
    query, with the degree relation equi-joined on the wedge center
    BEFORE grouping; global top-k at the end."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        props_k().alias("k"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(F.col("k").alias("src"), F.lead("k").over(w).alias("dst"))
    und_df = (
        seq.filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    # r14 model-sized driver fold (see events_link_prediction): each wedge
    # through `mid` contributes the integer micro-unit 1000000 // deg(mid)
    # — identical per-term floor, exact integer sums, r13 tie order
    # (-ra_e6, a, b).
    from iceberg_table_generator_spark.operators.graph import guard_model_nodes

    edges = [(r.u, r.v) for r in und_df.collect()]
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    guard_model_nodes(len(adj), "events_resource_allocation")
    cn: dict[tuple[int, int], int] = {}
    ra: dict[tuple[int, int], int] = {}
    for mid, nbrs in adj.items():
        term = 1_000_000 // len(nbrs)
        ns = sorted(nbrs)
        for i, a in enumerate(ns):
            for b in ns[i + 1 :]:
                cn[(a, b)] = cn.get((a, b), 0) + 1
                ra[(a, b)] = ra.get((a, b), 0) + term
    ranked = sorted(ra.items(), key=lambda kv: (-kv[1], kv[0]))[:LINK_TOP_K]
    rows = [(a, b, cn[(a, b)], ra_e6) for (a, b), ra_e6 in ranked]
    return spark.createDataFrame(
        rows, schema="a int, b int, n_common bigint, ra_e6 bigint"
    )


# --------------------------------------------------------------------------
# Inter-purchase gap histogram (repeat-purchase cadence)
# --------------------------------------------------------------------------
_GAP_ORACLE = """
WITH seq AS (
  SELECT o_custkey, o_orderdate,
         lag(o_orderdate) OVER
           (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS prev_date
  FROM orders),
gaps AS (
  SELECT CAST(date_diff('day', prev_date, o_orderdate) AS BIGINT) AS gap_days
  FROM seq WHERE prev_date IS NOT NULL)
SELECT gap_days // 7 AS gap_week,
       CAST(count(*) AS BIGINT) AS n_gaps
FROM gaps GROUP BY gap_days // 7
"""


@query("orders_interpurchase_gap_hist", oracle=_GAP_ORACLE)
def orders_interpurchase_gap_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of inter-purchase gaps (weeks between a customer's
    consecutive orders) — the repeat-purchase cadence curve behind
    reorder-point and churn-window decisions (`events_interarrival_hist`
    is the event-stream twin; this is the transactional one, bucketed to
    weeks because order dates are day-grained).

    Scale: one LAG window PARTITIONED by customer (never global), then a
    histogram aggregate over the bounded gap-week domain.  Gap days are
    exact date arithmetic; the week bucket is integer `div`."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev_date"),
    )
    gaps = seq.filter(F.col("prev_date").isNotNull()).select(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.col("prev_date").cast("date")
        )
        .cast("long")
        .alias("gap_days")
    )
    return (
        gaps.select(F.expr("gap_days div 7").alias("gap_week"))
        .groupBy("gap_week")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )


# --------------------------------------------------------------------------
# Laspeyres price index: monthly price level vs the base month
# --------------------------------------------------------------------------
_PRICE_INDEX_ORACLE = """
WITH pm AS (
  SELECT l_partkey,
         year(l_shipdate) * 100 + month(l_shipdate) AS ym,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) * 100 AS BIGINT)
           AS rev_cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2),
base AS (
  SELECT l_partkey, rev_cents AS rev0, qty AS qty0
  FROM pm WHERE ym = (SELECT min(ym) FROM pm)),
terms AS (
  SELECT p.ym,
         CAST(CAST(p.rev_cents AS DOUBLE) * b.qty0 / p.qty
              AS DECIMAL(38,6)) AS num_term,
         b.rev0
  FROM pm p JOIN base b ON b.l_partkey = p.l_partkey)
SELECT ym,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(CAST(sum(num_term) AS DOUBLE)
             / CAST(sum(rev0) AS BIGINT), 6) AS laspeyres_e0
FROM terms GROUP BY ym
"""


@query("lineitem_price_index", oracle=_PRICE_INDEX_ORACLE)
def lineitem_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index per ship-month against the first month as
    base: Σ p_t·q₀ / Σ p₀·q₀ over the matched part basket, where the
    part's monthly unit value p_t = rev_t/qty_t — "how much would the
    base month's basket cost at month t's prices", the standard
    fixed-basket inflation measure (index 1.0 = base price level).

    Exactness: revenues are exact cents and quantities exact integers;
    each part-month term p_t·q₀ = rev_t·q₀/qty_t is ONE fixed-order
    double chain captured into DECIMAL(38,6) so the cross-part
    accumulation is order-free (the χ² pattern); the denominator is a
    pure integer sum; one final division rounded once.

    Scale: one (part, month) aggregate off the fact table, then a
    part-keyed equi-join against the base-month slice (dimension-tier)
    and a months-bounded fold."""
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("ym"),
    ).agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(25,6)")) * 100)
        .cast("long")
        .alias("rev_cents"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )
    base_ym = pm.agg(F.min("ym").alias("base_ym"))
    base = (
        pm.join(
            F.broadcast(base_ym), F.col("ym") == F.col("base_ym")
        )
        .select(
            "l_partkey",
            F.col("rev_cents").alias("rev0"),
            F.col("qty").alias("qty0"),
        )
    )
    terms = pm.join(base, "l_partkey").select(
        "ym",
        (
            F.col("rev_cents").cast("double")
            * F.col("qty0")
            / F.col("qty")
        )
        .cast("decimal(38,6)")
        .alias("num_term"),
        "rev0",
    )
    return terms.groupBy("ym").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(
            F.sum("num_term").cast("double")
            / F.sum("rev0").cast("long"),
            6,
        ).alias("laspeyres_e0"),
    )


# --------------------------------------------------------------------------
# One-way ANOVA F on document length across languages
# --------------------------------------------------------------------------
_ANOVA_FINAL = (
    "round((CAST(n_total - k_groups AS DOUBLE) * ssb)"
    " / (CAST(k_groups - 1 AS DOUBLE) * ssw), 6)"
)

_ANOVA_ORACLE = f"""
WITH grp AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(n_chars) AS BIGINT) AS s_i,
         CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS BIGINT) AS q_i
  FROM documents GROUP BY lang),
fold AS (
  SELECT CAST(count(*) AS BIGINT) AS k_groups,
         CAST(sum(n_i) AS BIGINT) AS n_total,
         CAST(sum(s_i) AS BIGINT) AS s_all,
         CAST(sum(CAST(CAST(q_i AS DOUBLE)
                       - CAST(s_i AS DOUBLE) * s_i / n_i
                  AS DECIMAL(38,12))) AS DOUBLE) AS ssw,
         CAST(sum(CAST(CAST(s_i AS DOUBLE) * s_i / n_i
                  AS DECIMAL(38,12))) AS DOUBLE) AS sb
  FROM grp),
stat AS (
  SELECT k_groups, n_total,
         sb - CAST(s_all AS DOUBLE) * s_all / n_total AS ssb, ssw
  FROM fold)
SELECT k_groups, n_total,
       CASE WHEN ssw <> 0 THEN {_ANOVA_FINAL} END AS f_stat
FROM stat
"""


@query("stats_anova_f", oracle=_ANOVA_ORACLE)
def stats_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F for document length across languages — "do the
    languages differ in MEAN length?", the location counterpart of
    `stats_levene_bf` (which tests the spread and is ANOVA's
    precondition check; `stats_welch_ttest` compares only the top two
    languages, this tests all k at once).

    Same exactness scheme as the BF fold, applied to raw lengths
    instead of median deviations: exact per-group integer moments with
    128-bit squares, DECIMAL(38,12) order-free SSW/SSB accumulation,
    one fixed-order F chain shared textually with the oracle.  Scale:
    ONE aggregate over the corpus (no median join needed here), then a
    k-row fold."""
    docs = load_table(spark, sf_dir, "documents")
    nc = F.col("n_chars")
    grp = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_i"),
        F.sum("n_chars").cast("long").alias("s_i"),
        F.sum(nc.cast(D38) * nc.cast(D38)).cast("long").alias("q_i"),
    )
    ssw_term = (
        F.col("q_i").cast("double")
        - F.col("s_i").cast("double") * F.col("s_i") / F.col("n_i")
    ).cast("decimal(38,12)")
    sb_term = (
        F.col("s_i").cast("double") * F.col("s_i") / F.col("n_i")
    ).cast("decimal(38,12)")
    fold = grp.agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("n_i").alias("n_total"),
        F.sum("s_i").cast("long").alias("s_all"),
        F.sum(ssw_term).cast("double").alias("ssw"),
        F.sum(sb_term).cast("double").alias("sb"),
    )
    stat = fold.select(
        "k_groups",
        "n_total",
        (
            F.col("sb")
            - F.col("s_all").cast("double") * F.col("s_all") / F.col("n_total")
        ).alias("ssb"),
        "ssw",
    )
    return stat.selectExpr(
        "k_groups",
        "n_total",
        f"CASE WHEN ssw <> 0 THEN {_ANOVA_FINAL} END AS f_stat",
    )


# --------------------------------------------------------------------------
# Cohen's d effect size for the two largest languages
# --------------------------------------------------------------------------
def _cohens_d_oracle() -> str:
    from iceberg_table_generator_spark.operators.mining import _TOP2_LANGS_CTES

    return f"""
WITH {_TOP2_LANGS_CTES},
mom AS (
  SELECT lang_a, lang_b,
         CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b,
         CAST(sum(v * ca) AS BIGINT) AS s_a,
         CAST(sum(v * cb) AS BIGINT) AS s_b,
         CAST(sum(v * v * ca) AS BIGINT) AS sxx_a,
         CAST(sum(v * v * cb) AS BIGINT) AS sxx_b
  FROM dist CROSS JOIN ab GROUP BY lang_a, lang_b),
va AS (
  SELECT *,
         CAST(CAST(n_a AS HUGEINT) * sxx_a - CAST(s_a AS HUGEINT) * s_a
              AS DOUBLE) / n_a AS ssd_a,
         CAST(CAST(n_b AS HUGEINT) * sxx_b - CAST(s_b AS HUGEINT) * s_b
              AS DOUBLE) / n_b AS ssd_b
  FROM mom)
SELECT lang_a, lang_b, n_a, n_b,
       round(CAST(s_a AS DOUBLE) / n_a, 6) AS mean_a,
       round(CAST(s_b AS DOUBLE) / n_b, 6) AS mean_b,
       round((CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
             / sqrt((ssd_a + ssd_b) / (n_a + n_b - 2)), 6) AS cohens_d
FROM va
"""


@query("stats_cohens_d", oracle=_cohens_d_oracle())
def stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d (pooled-SD standardized mean difference) between the
    document-length distributions of the two largest languages — the
    effect SIZE that `stats_welch_ttest`'s t-statistic can't give
    (t grows with n; d answers "how big is the gap in SD units", the
    number meta-analyses compare).  Completes the effect-size pair with
    `stats_cramers_v` (categorical association).

    Exactness: the same shared count-distribution moments as Welch
    (exact integers, 128-bit variance numerators), then ONE fixed-order
    double chain — each group's sum-of-squared-deviations is
    (n·Σx²−(Σx)²)/n, pooled over n_a+n_b−2 — written identically in
    both engines and rounded once.  Scale: one corpus pass into the
    |distinct lengths| relation, then a single-row fold."""
    from iceberg_table_generator_spark.operators.mining import _top2_lang_dist

    dist = _top2_lang_dist(spark, sf_dir)
    v = F.col("n_chars")
    mom = dist.groupBy("lang_a", "lang_b").agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(v * F.col("ca")).cast("long").alias("s_a"),
        F.sum(v * F.col("cb")).cast("long").alias("s_b"),
        F.sum(v * v * F.col("ca")).cast("long").alias("sxx_a"),
        F.sum(v * v * F.col("cb")).cast("long").alias("sxx_b"),
    )
    va = mom.withColumns(
        {
            "ssd_a": (
                F.col("n_a").cast(D38) * F.col("sxx_a").cast(D38)
                - F.col("s_a").cast(D38) * F.col("s_a").cast(D38)
            ).cast("double")
            / F.col("n_a"),
            "ssd_b": (
                F.col("n_b").cast(D38) * F.col("sxx_b").cast(D38)
                - F.col("s_b").cast(D38) * F.col("s_b").cast(D38)
            ).cast("double")
            / F.col("n_b"),
        }
    )
    ma = F.col("s_a").cast("double") / F.col("n_a")
    mb = F.col("s_b").cast("double") / F.col("n_b")
    return va.select(
        "lang_a",
        "lang_b",
        "n_a",
        "n_b",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(
            (ma - mb)
            / F.sqrt(
                (F.col("ssd_a") + F.col("ssd_b"))
                / (F.col("n_a") + F.col("n_b") - 2)
            ),
            6,
        ).alias("cohens_d"),
    )


# --------------------------------------------------------------------------
# Token-budget apportionment across sources (largest remainder)
# --------------------------------------------------------------------------
TOKEN_BUDGET = 1_000_000

_BUDGET_ORACLE = f"""
WITH per AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per),
quota AS (
  SELECT source, n_tokens,
         ({TOKEN_BUDGET} * n_tokens) // t AS floor_alloc,
         ({TOKEN_BUDGET} * n_tokens) % t AS rem,
         t
  FROM per CROSS JOIN tot),
short AS (
  SELECT CAST({TOKEN_BUDGET} - sum(floor_alloc) AS BIGINT) AS k FROM quota),
ranked AS (
  SELECT source, n_tokens, floor_alloc,
         row_number() OVER (ORDER BY rem DESC, source) AS rk
  FROM quota)
SELECT r.source, r.n_tokens,
       CAST(r.floor_alloc + CASE WHEN r.rk <= s.k THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_tokens
FROM ranked r CROSS JOIN short s
"""


@query("pipeline_token_budget_split", oracle=_BUDGET_ORACLE)
def pipeline_token_budget_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apportion a fixed training-token budget ({TOKEN_BUDGET}) across
    sources proportionally to their token mass, by largest-remainder
    (Hamilton) rounding — integer floor quotas plus one extra token to
    the largest remainders, so the allocations are whole, sum EXACTLY to
    the budget, and respect proportionality within one token (the
    `lineitem_prorate_fee` apportionment applied to the data-mixture
    problem `pipeline_mixture_sample` samples against).

    Exactness: pure integer arithmetic (`div`/`%` on budget×mass, a
    deterministic (remainder, source) rank).  Scale: one corpus
    aggregate to the source-domain relation (bounded model domain); the
    rank window runs over that bounded relation (converting it to the
    two-phase scan measured +73% local cost for zero scale benefit —
    BENCH_NOTES_r9.md)."""
    per = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens")
    )
    tot = per.agg(F.sum("n_tokens").cast("long").alias("t"))
    quota = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr(f"({TOKEN_BUDGET} * n_tokens) div t").alias("floor_alloc"),
        F.expr(f"({TOKEN_BUDGET} * n_tokens) % t").alias("rem"),
    )
    short = quota.agg(
        (F.lit(TOKEN_BUDGET) - F.sum("floor_alloc")).cast("long").alias("k")
    )
    w = Window.orderBy(F.desc("rem"), F.asc("source"))
    ranked = quota.select(
        "source", "n_tokens", "floor_alloc", F.row_number().over(w).alias("rk")
    )
    return ranked.crossJoin(F.broadcast(short)).select(
        "source",
        "n_tokens",
        (
            F.col("floor_alloc")
            + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    )
