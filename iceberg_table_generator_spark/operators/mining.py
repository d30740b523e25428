"""Classic BI / data-mining composites over the star schema.

Association rules (market basket), RFM customer segmentation, and Pareto
revenue concentration — the mining workloads a warehouse runs beside its
reporting queries.  No counterpart in the reference (a generator,
`Main.java`); mandated by the full-relational-surface goal (SURVEY.md
§2.7) and exercising shapes the TPC-H pack doesn't: a bounded
self-join-per-group, ntile quantile cuts, and a global ordered cumsum.

Engine-exactness follows the repo policy: counts are integers; every
ratio is one multiply/divide chain over exactly-representable integers in
a fixed parenthesization, rounded once (no transcendental, no
sum-order-sensitive double accumulation — revenue sums go through the
DECIMAL helpers).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel
from pyspark.sql.window import Window

from iceberg_table_generator_spark.functions.order import (
    ntile_expr,
    with_global_order,
)
from iceberg_table_generator_spark.functions.cache import persist_tracked
from iceberg_table_generator_spark.operators.relational import D38, davg, sql_davg
from iceberg_table_generator_spark.operators.tpch_ext import (
    rev_dec,
    SQL_REV_DEC,
)
from iceberg_table_generator_spark.functions.json import props_k
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Market basket: part-pair association rules
# --------------------------------------------------------------------------
BASKET_MIN_SUPPORT = 2
BASKET_TOP_K = 100

_BASKET_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_orders AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM li),
freq AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part
  FROM li GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {BASKET_MIN_SUPPORT})
SELECT p.part_a, p.part_b, p.n_ab,
       round(CAST(p.n_ab AS DOUBLE) / fa.n_part, 6) AS confidence,
       round((CAST(p.n_ab AS DOUBLE) * t.n)
             / (CAST(fa.n_part AS DOUBLE) * fb.n_part), 6) AS lift
FROM pairs p
JOIN freq fa ON fa.l_partkey = p.part_a
JOIN freq fb ON fb.l_partkey = p.part_b
CROSS JOIN n_orders t
ORDER BY lift DESC, part_a, part_b
LIMIT {BASKET_TOP_K}
"""


@query("basket_part_pairs", oracle=_BASKET_ORACLE)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order contents: part pairs
    ranked by lift, with confidence(a→b), at minimum co-occurrence
    support.

    Scale design: the pair generation is a SELF-JOIN ON THE ORDER KEY —
    quadratic only in items-per-order (≤7 in TPC-H, bounded by basket
    size in any retail schema), never in parts or orders; it shuffles
    both sides by orderkey (co-partitioned equi-join), aggregates
    map-side to the pair-frequency relation, and the two frequency
    attaches are part-vocabulary-sized equi-joins with no broadcast
    hints (AQE decides).  The order-count scalar attaches via a
    provably-one-row aggregate broadcast.  Top-k is
    TakeOrderedAndProject.  A basket with a pathological mega-order
    (crawler cart) is the df-cap candidate — drop baskets over a size
    cap before pairing, the same boilerplate guard as the contamination
    check."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n"))
    freq = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("na"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("nb"))
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("na"), 6).alias("confidence"),
            F.round(
                (F.col("n_ab").cast("double") * F.col("n"))
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(BASKET_TOP_K)
    )


# --------------------------------------------------------------------------
# RFM customer segmentation (quantile cuts via ntile)
# --------------------------------------------------------------------------
RFM_TILES = 4

_RFM_ORACLE = f"""
WITH base AS (
  SELECT o.o_custkey AS custkey,
         max(o.o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS monetary
  FROM orders o GROUP BY o.o_custkey),
tiles AS (
  SELECT custkey, last_order, frequency, monetary,
         CAST(ntile({RFM_TILES}) OVER (ORDER BY last_order DESC, custkey)
              AS INT) AS r_tile,
         CAST(ntile({RFM_TILES}) OVER (ORDER BY frequency DESC, custkey)
              AS INT) AS f_tile,
         CAST(ntile({RFM_TILES}) OVER (ORDER BY monetary DESC, custkey)
              AS INT) AS m_tile
  FROM base)
SELECT r_tile, f_tile, m_tile,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(round(sum(CAST(monetary AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS segment_value
FROM tiles GROUP BY r_tile, f_tile, m_tile
"""


@query("rfm_segments", oracle=_RFM_ORACLE)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency / frequency / monetary
    quartiles (ntile over total, deterministic tiebreak on custkey), then
    segment sizes and value — the classic CRM cube.

    Scale: each quartile cut is the two-phase distributed global order
    (`functions/order.py::with_global_order` — range shuffle, partitioned
    running ranks, cluster-bounded offset broadcast) plus the integer
    `ntile_expr` closed form, bit-equal to the single-partition `ntile`
    window it replaced in r8 — exact quartiles at ANY customer
    cardinality, no single-executor sort.  Monetary sums are exact
    DECIMAL before the single rounding."""
    base = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("monetary"),
        )
    )
    # Persist base: the scalar n-branch and the first global-order call
    # both read it.  Chain-link persists are NOT needed —
    # with_global_order persists its own input internally (perf-only
    # under the r10 deterministic literal-boundary buckets; in r9 the
    # internal persist was correctness-required against the
    # nondeterministic range sampler), which caps each call's input
    # lineage at one execution (r8's +336% local regression is gone:
    # 2.88 s -> 1.4 s at sf0.1).
    base = persist_tracked(base, StorageLevel.MEMORY_AND_DISK)
    # r11 amortization (r10 VERDICT #2): one driver-side count serves all
    # three quartile cuts AND the ntile denominator, and every cut's
    # boundary SAMPLE reads the persisted pre-chain base (all three order
    # columns live there) instead of re-executing the chained plan —
    # count+sample effectively run once per relation, not once per call.
    n_cust = base.count()
    t = with_global_order(
        base,
        [("last_order", False), ("custkey", True)],
        pos="rpos",
        precomputed_count=n_cust,
    )
    t = with_global_order(
        t,
        [("frequency", False), ("custkey", True)],
        pos="fpos",
        boundary_source=base,
        precomputed_count=n_cust,
    )
    t = with_global_order(
        t,
        [("monetary", False), ("custkey", True)],
        pos="mpos",
        boundary_source=base,
        precomputed_count=n_cust,
    )
    n = base.sparkSession.range(1).select(
        F.lit(n_cust).cast("long").alias("n_cust")
    )
    tiles = t.crossJoin(F.broadcast(n)).select(
        "custkey",
        "monetary",
        ntile_expr("rpos", "n_cust", RFM_TILES).alias("r_tile"),
        ntile_expr("fpos", "n_cust", RFM_TILES).alias("f_tile"),
        ntile_expr("mpos", "n_cust", RFM_TILES).alias("m_tile"),
    )
    return tiles.groupBy("r_tile", "f_tile", "m_tile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum(F.col("monetary").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("segment_value"),
    )


# --------------------------------------------------------------------------
# Pareto revenue concentration (cumulative-share curve)
# --------------------------------------------------------------------------
PARETO_CUT = 0.8

_PARETO_ORACLE = f"""
WITH pv AS (
  SELECT l_partkey,
         sum({SQL_REV_DEC}) AS rev
  FROM lineitem GROUP BY l_partkey),
tot AS (SELECT sum(rev) AS total FROM pv),
ranked AS (
  SELECT p.l_partkey,
         CAST(round(p.rev, 2) AS DOUBLE) AS revenue,
         sum(p.rev) OVER (ORDER BY p.rev DESC, p.l_partkey
                          ROWS UNBOUNDED PRECEDING) AS cum_rev,
         t.total,
         CAST(row_number() OVER (ORDER BY p.rev DESC, p.l_partkey) AS INT)
           AS rev_rank
  FROM pv p CROSS JOIN tot t)
SELECT CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(total AS DOUBLE)
                          <= {PARETO_CUT}
                     THEN 1 ELSE 0 END) AS BIGINT) AS parts_to_80pct,
       CAST(round(max(total), 2) AS DOUBLE) AS total_revenue
FROM ranked
"""


@query("pareto_revenue_concentration", oracle=_PARETO_ORACLE)
def pareto_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) concentration: how many parts carry 80% of
    discounted revenue — the catalog-concentration / head-vs-tail
    diagnostic (for a training corpus: how many sources carry 80% of
    tokens).  Revenue accumulates in exact DECIMAL through BOTH the
    per-part aggregate and the running sum, so the cumulative share is a
    single double division per row, rounded nowhere before the
    comparison (both engines divide the same exact decimals).

    Scale: the per-part aggregate shuffles once; the cumulative revenue
    line is the two-phase distributed prefix scan
    (`functions/order.py::with_global_order`), bit-equal to the
    single-partition window it replaced in r8 — exact at ANY part
    cardinality; output is one row."""
    pv = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(rev_dec()).alias("rev"))
    )
    # Persist pv: the scalar total and the range shuffle both read it
    # (the shuffle itself is materialized once inside with_global_order
    # — the r9 fix).
    pv = persist_tracked(pv, StorageLevel.MEMORY_AND_DISK)
    tot = pv.agg(F.sum("rev").alias("total"))
    ranked = with_global_order(
        pv,
        [("rev", False), ("l_partkey", True)],
        cums=[(F.col("rev"), "cum_rev")],
        pos=None,
    ).crossJoin(F.broadcast(tot))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(
            F.when(
                F.col("cum_rev").cast("double") / F.col("total").cast("double")
                <= PARETO_CUT,
                1,
            ).otherwise(0)
        ).alias("parts_to_80pct"),
        F.round(F.max("total"), 2).cast("double").alias("total_revenue"),
    )


# --------------------------------------------------------------------------
# Data-quality constraint audit (Deequ-style declarative checks)
# --------------------------------------------------------------------------
_DQ_ORACLE = """
SELECT * FROM (
  SELECT 'orders_pk_unique' AS check_name, 'orders' AS table_name,
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations,
         CAST(count(*) AS BIGINT) AS checked
  FROM orders
  UNION ALL
  SELECT 'lineitem_orders_fk', 'lineitem',
         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'lineitem_discount_range', 'lineitem',
         CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                       THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'events_props_k_domain', 'events',
         CAST(sum(CASE WHEN CAST(props->>'$.k' AS INT) IS NULL
                         OR CAST(props->>'$.k' AS INT) < 0
                         OR CAST(props->>'$.k' AS INT) >= 100
                       THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'documents_text_nonempty', 'documents',
         CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
                       THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM documents
) t
"""


@query(
    "dq_constraint_audit",
    oracle=f"""
WITH report AS ({_DQ_ORACLE})
SELECT check_name, table_name, violations, checked,
       CAST(violations = 0 AS BOOLEAN) AS pass
FROM report
""",
)
def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (the Deequ / dbt-tests pattern):
    primary-key uniqueness, referential integrity, value-domain and
    non-null constraints evaluated in one report — the admission gate a
    production pipeline runs before committing a batch into the lake.

    Scale design: every non-join check is ONE full-scan aggregate whose
    map-side partial collapses to a single row per task (violations are
    counted, never materialized — the report is checks-sized no matter
    the table); the FK check is a left join on the key with the
    violation counted from the null-extension, shuffled on the join key
    like any fact-fact join and skew-safe under AQE.  Checks over
    different tables are independent branches of a union — on a cluster
    they run concurrently; a failed check's offending ROWS are a
    follow-up filtered scan, deliberately not part of the audit
    (violations at web scale can be corpus-sized)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    pk = o.agg(
        F.lit("orders_pk_unique").alias("check_name"),
        F.lit("orders").alias("table_name"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("violations"),
        F.count(F.lit(1)).alias("checked"),
    )
    fk = (
        li.join(
            o.select(F.col("o_orderkey").alias("__ok")),
            li.l_orderkey == F.col("__ok"),
            "left",
        )
        .agg(
            F.lit("lineitem_orders_fk").alias("check_name"),
            F.lit("lineitem").alias("table_name"),
            F.sum(F.when(F.col("__ok").isNull(), 1).otherwise(0)).alias("violations"),
            F.count(F.lit(1)).alias("checked"),
        )
    )
    rng = li.agg(
        F.lit("lineitem_discount_range").alias("check_name"),
        F.lit("lineitem").alias("table_name"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1).otherwise(0)
        ).alias("violations"),
        F.count(F.lit(1)).alias("checked"),
    )
    k = props_k()
    dom = ev.agg(
        F.lit("events_props_k_domain").alias("check_name"),
        F.lit("events").alias("table_name"),
        F.sum(F.when(k.isNull() | (k < 0) | (k >= 100), 1).otherwise(0)).alias(
            "violations"
        ),
        F.count(F.lit(1)).alias("checked"),
    )
    nn = docs.agg(
        F.lit("documents_text_nonempty").alias("check_name"),
        F.lit("documents").alias("table_name"),
        F.sum(
            F.when(F.col("text").isNull() | (F.length("text") == 0), 1).otherwise(0)
        ).alias("violations"),
        F.count(F.lit(1)).alias("checked"),
    )
    report = pk.unionByName(fk).unionByName(rng).unionByName(dom).unionByName(nn)
    return report.withColumn("pass", F.col("violations") == 0)


# --------------------------------------------------------------------------
# Complex-event pattern matching (MATCH_RECOGNIZE-style, regex over sessions)
# --------------------------------------------------------------------------
# Event-type alphabet: c=click e=error p=purchase s=signup v=view.
CEP_PATTERNS = [
    ("funnel_any_gap", "v.*c.*p"),  # view .. click .. purchase, gaps allowed
    ("funnel_strict", "vcp"),  # strictly adjacent conversion
    ("error_recovery", "e[^e]*p"),  # purchase after an error, no re-error
]

_CEP_VALUES = ", ".join(f"('{n}', '{p}')" for n, p in CEP_PATTERNS)

_CEP_ORACLE = f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
         CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
                         WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                         ELSE 'v' END AS c
  FROM events),
seqs AS (
  SELECT user_id, day,
         string_agg(c, '' ORDER BY ts, event_id) AS seq
  FROM ev GROUP BY user_id, day),
pat(pattern, rx) AS (VALUES {_CEP_VALUES})
SELECT p.pattern,
       CAST(sum(CASE WHEN regexp_matches(s.seq, p.rx) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       CAST(count(*) AS BIGINT) AS n_sessions,
       round(CAST(sum(CASE WHEN regexp_matches(s.seq, p.rx) THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS match_rate
FROM seqs s CROSS JOIN pat p
GROUP BY p.pattern
"""


@query("events_pattern_match", oracle=_CEP_ORACLE)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match (the MATCH_RECOGNIZE
    capability, expressed Spark-first): each user-day's event stream
    collapses to an ordered type string and declarative patterns run as
    regexes over it — conversion funnels with and without gaps, and
    error-recovery purchases.

    Scale: one shuffle groups events by (user, day) — millions of
    independent keys; the sequence build is an in-row sort of that
    group's array (bounded by events-per-user-day, the same bound
    sessionization relies on), and every regex evaluates in-row over
    WholeStageCodegen.  The pattern table is a 3-row literal exploded
    against session strings — pattern count scales the narrow pass, not
    the shuffle.  A mega-key (bot user) is the df-cap candidate: cap the
    per-key sequence length before the regex, as the dedup family caps
    posting lists."""
    c = (
        F.when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "error", "e")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("v")
    )
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.struct("ts", "event_id", c.alias("c")).alias("e"),
    )
    seqs = (
        ev.groupBy("user_id", "day")
        .agg(F.sort_array(F.collect_list("e")).alias("es"))
        .select(
            F.array_join(F.transform("es", lambda x: x["c"]), "").alias("seq")
        )
    )
    pat = F.array(
        *[
            F.struct(F.lit(n).alias("pattern"), F.lit(rx).alias("rx"))
            for n, rx in CEP_PATTERNS
        ]
    )
    exploded = seqs.select("seq", F.explode(pat).alias("p"))
    return (
        exploded.groupBy(F.col("p.pattern").alias("pattern"))
        .agg(
            F.sum(
                F.when(F.regexp_like("seq", F.col("p.rx")), 1).otherwise(0)
            ).alias("n_matched"),
            F.count(F.lit(1)).alias("n_sessions"),
        )
        .select(
            "pattern",
            "n_matched",
            "n_sessions",
            F.round(
                F.col("n_matched").cast("double") / F.col("n_sessions"), 6
            ).alias("match_rate"),
        )
    )


# --------------------------------------------------------------------------
# Chi-square independence test (lang × source contingency)
# --------------------------------------------------------------------------
@query(
    "stats_chisq_lang_source",
    oracle="""
WITH obs AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source),
rows_ AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_row FROM obs GROUP BY lang),
cols_ AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_col FROM obs GROUP BY source),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM obs),
grid AS (
  SELECT r.lang, c.source, r.n_row, c.n_col, t.n_tot, COALESCE(o.n, 0) AS n
  FROM rows_ r CROSS JOIN cols_ c CROSS JOIN tot t
  LEFT JOIN obs o ON o.lang = r.lang AND o.source = c.source)
SELECT round(CAST(sum(CAST(
         (CAST(n AS DOUBLE) - (CAST(n_row AS DOUBLE) * n_col) / n_tot)
         * (CAST(n AS DOUBLE) - (CAST(n_row AS DOUBLE) * n_col) / n_tot)
         / ((CAST(n_row AS DOUBLE) * n_col) / n_tot)
       AS DECIMAL(38,12))) AS DOUBLE), 4) AS chi2_stat,
       CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS BIGINT)
         AS dof,
       CAST(count(*) AS BIGINT) AS n_cells
FROM grid
""",
)
def stats_chisq_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test over the lang × source
    contingency table — "is language distribution independent of crawl
    source?", the statistical form of the corpus-balance question
    `pipeline_domain_mix` only tabulates.

    Engine-exactness: each cell's (O-E)²/E term is a fixed-order chain
    of IEEE ops over exactly-representable integer marginals — identical
    doubles on both engines — and the CROSS-CELL sum goes through
    DECIMAL(38,12) (the repo's order-free accumulation policy), so no
    summation-order drift is possible; zero-observed cells are
    materialized by the marginal cross join (required by the statistic,
    easy to silently drop in a naive groupBy).  Scale: marginals are two
    vocabulary-sized aggregates; the grid is |langs|×|sources| — tiny
    relative to any corpus; one row out."""
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
    return grid.agg(
        F.round(F.sum(term).cast("double"), 4).alias("chi2_stat"),
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        ).alias("dof"),
        F.count(F.lit(1)).alias("n_cells"),
    )


# --------------------------------------------------------------------------
# Exact windowed percentiles (hourly p50/p95 latency-style metrics)
# --------------------------------------------------------------------------
_P95_ORACLE = """
WITH g AS (
  SELECT date_trunc('hour', ts) AS window_start,
         list(value ORDER BY value) AS vs,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1)
SELECT window_start, n_events,
       vs[CAST((50 * n_events + 99) // 100 AS INT)] AS p50,
       vs[CAST((95 * n_events + 99) // 100 AS INT)] AS p95
FROM g
"""


@query("events_hourly_p95", oracle=_P95_ORACLE)
def events_hourly_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-hour p50/p95 of the event value — the SLO dashboard
    query (p95 latency per window).  Nearest-rank percentiles with a
    pure-INTEGER index (`(k·n + 99) div 100` = ceil without touching
    floats), picked from the window's sorted value array, so both
    engines select the identical element — no interpolation, no float
    index rounding, exact at any n.

    Scale: one shuffle keyed by hour; each window's values sort in-row.
    An hour at 100 TB can be a mega-group — the exact form holds while
    windows fit a task (the common case for hourly ops metrics); past
    that the drop-in replacement is `percentile_approx`'s mergeable
    t-digest, which `approx_sketches` already exercises with error
    bounds.  The window-grid/z-score machinery of `events_rate_anomaly`
    composes with these percentiles unchanged."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(
            F.sort_array(F.collect_list("value")).alias("vs"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    idx = lambda k: F.expr(f"CAST(({k} * n_events + 99) div 100 AS INT)")  # noqa: E731
    return g.select(
        "window_start",
        "n_events",
        F.element_at("vs", idx(50)).alias("p50"),
        F.element_at("vs", idx(95)).alias("p95"),
    )


# --------------------------------------------------------------------------
# Time-weighted average (TWAP) per hour
# --------------------------------------------------------------------------
_TWAP_ORACLE = """
WITH ev AS (
  SELECT date_trunc('hour', ts) AS h, ts, event_id, value FROM events),
gaps AS (
  SELECT h, ts, value,
         CAST(epoch_us(COALESCE(
                 lead(ts) OVER (PARTITION BY h ORDER BY ts, event_id),
                 h + INTERVAL 1 HOUR)) - epoch_us(ts) AS BIGINT) AS w_us,
         CAST(epoch_us(h + INTERVAL 1 HOUR)
              - epoch_us(min(ts) OVER (PARTITION BY h)) AS BIGINT) AS span_us
  FROM ev)
SELECT h AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value * w_us AS DECIMAL(38,6))) AS DOUBLE)
             / any_value(span_us), 6) AS twap
FROM gaps GROUP BY h
"""


@query("events_twap_hourly", oracle=_TWAP_ORACLE)
def events_twap_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-weighted average of the event value — the TWAP/ops
    aggregation where each observation counts for how LONG it was the
    latest one, not once per row (the difference between "mean of
    samples" and "mean over time" when sampling is irregular).
    Convention, stated and mirrored in the oracle: each value holds
    until the next observation in the same hour (the last one until
    hour end), and the denominator is the observed span (first
    observation → hour end) — no carry-in from the previous hour, so
    every hour is computable independently.

    Engine-exactness: weights are exact integer microseconds (epoch µs
    differences, never float timestamps); value·weight products are
    IEEE-identical; the cross-row sum accumulates in DECIMAL(38,6); one
    double division, rounded once.  Scale: the only window partitions by
    hour — fully parallel; no global ordering anywhere."""
    from pyspark.sql.window import Window

    h = F.date_trunc("hour", "ts")
    ev = load_table(spark, sf_dir, "events").select(
        h.alias("h"), "ts", "event_id", "value"
    )
    w = Window.partitionBy("h").orderBy("ts", "event_id")
    # ntz → epoch µs via the repo idiom (session TZ is UTC, so the cast is
    # the identity on the microsecond value — same as relational_ext)
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    hour_end_us = us(F.col("h") + F.expr("INTERVAL 1 HOUR"))
    gaps = ev.select(
        "h",
        "value",
        (
            F.coalesce(us(F.lead("ts").over(w)), hour_end_us)
            - us(F.col("ts"))
        ).alias("w_us"),
        (
            hour_end_us
            - us(F.min("ts").over(Window.partitionBy("h")))
        ).alias("span_us"),
    )
    return gaps.groupBy(F.col("h").alias("window_start")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum((F.col("value") * F.col("w_us")).cast("decimal(38,6)")).cast(
                "double"
            )
            / F.first("span_us"),
            6,
        ).alias("twap"),
    )


# --------------------------------------------------------------------------
# Open-order backlog over time (sweep-line interval counting)
# --------------------------------------------------------------------------
_BACKLOG_ORACLE = """
WITH iv AS (
  SELECT o.o_orderkey,
         date_trunc('month', o.o_orderdate) AS m_start,
         date_trunc('month', max(l.l_shipdate)) AS m_end
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate),
bounds AS (
  SELECT min(m_start) AS lo, max(m_end) AS hi FROM iv),
grid AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month
  FROM bounds),
starts AS (
  SELECT m_start AS month, CAST(count(*) AS BIGINT) AS started
  FROM iv GROUP BY m_start),
ends AS (
  SELECT m_end AS month, CAST(count(*) AS BIGINT) AS shipped
  FROM iv GROUP BY m_end)
SELECT g.month,
       COALESCE(s.started, 0) AS started,
       COALESCE(e.shipped, 0) AS shipped,
       CAST(sum(COALESCE(s.started, 0) - COALESCE(e.shipped, 0))
            OVER (ORDER BY g.month ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS open_backlog
FROM grid g
LEFT JOIN starts s ON s.month = g.month
LEFT JOIN ends e   ON e.month = g.month
"""


@query("orders_open_backlog", oracle=_BACKLOG_ORACLE)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog per month — concurrent-interval counting via the
    sweep line: each order contributes +1 at its order month and -1 at
    its final-shipment month, and the running sum over a gap-free month
    grid is the number of orders in flight.  The sweep turns an
    interval-stabbing problem (naively a range join of every order
    against every month) into two GROUP BYs plus one cumulative sum over
    the GRID — O(orders + months), not O(orders × months).

    Scale: the interval build is one orderkey-keyed aggregation (shuffle
    on the fact join key); start/end diffs collapse map-side to
    months-sized relations; the running sum over the month grid is the
    two-phase distributed prefix scan (`functions/order.py`) — no
    single-partition window even over that bounded relation.  All
    counts integer end to end."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.date_trunc("month", "o_orderdate").alias("m_start"),
            F.date_trunc("month", "last_ship").alias("m_end"),
        )
    )
    bounds = iv.agg(F.min("m_start").alias("lo"), F.max("m_end").alias("hi"))
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("month")
    )
    starts = iv.groupBy(F.col("m_start").alias("month")).agg(
        F.count(F.lit(1)).alias("started")
    )
    ends = iv.groupBy(F.col("m_end").alias("month")).agg(
        F.count(F.lit(1)).alias("shipped")
    )
    net = (
        grid.join(starts, "month", "left")
        .join(ends, "month", "left")
        .select(
            "month",
            F.coalesce("started", F.lit(0)).alias("started"),
            F.coalesce("shipped", F.lit(0)).alias("shipped"),
        )
        .withColumn("_net", F.col("started") - F.col("shipped"))
    )
    # Bounded month grid, read twice by the two-phase scan — persist so
    # the fact-table interval join runs once (r9 ReuseExchange finding).
    net = persist_tracked(net, StorageLevel.MEMORY_AND_DISK)
    return with_global_order(
        net, [("month", True)], cums=[(F.col("_net"), "open_backlog")], pos=None
    ).drop("_net")


# --------------------------------------------------------------------------
# DAU/MAU stickiness (multi-granularity distinct aggregation)
# --------------------------------------------------------------------------
_STICKINESS_ORACLE = """
WITH dau AS (
  SELECT date_trunc('month', ts) AS month, CAST(ts AS DATE) AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_dau
  FROM events GROUP BY 1, 2),
mau AS (
  SELECT date_trunc('month', ts) AS month,
         CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM events GROUP BY 1)
SELECT d.month, any_value(m.mau) AS mau,
       CAST(sum(d.n_dau) AS BIGINT) AS sum_dau,
       CAST(count(*) AS BIGINT) AS n_days,
       round(CAST(sum(d.n_dau) AS DOUBLE)
             / (count(*) * any_value(m.mau)), 6) AS stickiness
FROM dau d JOIN mau m ON m.month = d.month
GROUP BY d.month
"""


@query("events_user_stickiness", oracle=_STICKINESS_ORACLE)
def events_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — the product-health ratio of average
    daily active users to monthly actives, i.e. what fraction of the
    month's users show up on a typical day.  Exercises the
    multi-granularity COUNT DISTINCT shape: the same key de-duplicated
    at two window sizes, then joined back on the coarser one.

    Scale: both distincts shuffle on (period, user) — Spark's two-phase
    distinct aggregation keeps the shuffle keyed and partial; the month
    join is months-sized.  At billions of users the drop-in is HLL
    (`approx_count_distinct`, exercised with error bounds by
    `approx_sketches`) — mergeable across days, which exact distinct is
    not.  The ratio is one double division over exact integers, rounded
    once."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("month", "ts").alias("month"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    dau = ev.groupBy("month", "day").agg(
        F.countDistinct("user_id").alias("n_dau")
    )
    mau = ev.groupBy("month").agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(mau, "month")
        .groupBy("month")
        .agg(
            F.first("mau").alias("mau"),
            F.sum("n_dau").alias("sum_dau"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select(
            "month",
            "mau",
            "sum_dau",
            "n_days",
            F.round(
                F.col("sum_dau").cast("double")
                / (F.col("n_days") * F.col("mau")),
                6,
            ).alias("stickiness"),
        )
    )


# --------------------------------------------------------------------------
# First-touch attribution (which entry event type converts)
# --------------------------------------------------------------------------
_ATTRIBUTION_ORACLE = """
WITH ranked AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events),
ft AS (
  SELECT user_id, day, event_type AS first_touch FROM ranked WHERE rn = 1),
pur AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS purchases
  FROM events GROUP BY user_id, CAST(ts AS DATE)),
sess AS (
  SELECT f.first_touch, p.purchases
  FROM ft f JOIN pur p ON p.user_id = f.user_id AND p.day = f.day)
SELECT first_touch,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(purchases) AS BIGINT) AS attributed_purchases,
       CAST(sum(CASE WHEN purchases > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS converting_sessions,
       round(CAST(sum(CASE WHEN purchases > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS conversion_rate
FROM sess GROUP BY first_touch
"""


@query("events_attribution_first_touch", oracle=_ATTRIBUTION_ORACLE)
def events_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase in a user-day credits the
    day's ENTRY event type — the marketing-channel question ("what did
    converting sessions start with?") that complements the path-shape
    view of `events_pattern_match` and the ordered-steps view of
    `events_funnel`.

    The first touch is selected with min_by on the (ts, event_id) pair —
    a single aggregation, no window, no sort: at scale this is one
    shuffle keyed by (user, day) with map-side partial min_by, strictly
    cheaper than the rank-and-filter form.  Tie-safety: event_id makes
    the ordering pair total, so both engines pick the identical entry
    event.  The rollup to attribution rates is event-type-sized."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_type",
        F.struct("ts", "event_id").alias("ord"),
    )
    sess = ev.groupBy("user_id", "day").agg(
        F.min_by("event_type", "ord").alias("first_touch"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "purchases"
        ),
    )
    return (
        sess.groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("purchases").alias("attributed_purchases"),
            F.sum(F.when(F.col("purchases") > 0, 1).otherwise(0)).alias(
                "converting_sessions"
            ),
        )
        .select(
            "first_touch",
            "n_sessions",
            "attributed_purchases",
            "converting_sessions",
            F.round(
                F.col("converting_sessions").cast("double") / F.col("n_sessions"), 6
            ).alias("conversion_rate"),
        )
    )


# --------------------------------------------------------------------------
# Statistical process control: monthly return-rate p-chart
# --------------------------------------------------------------------------
_PCHART_ORACLE = """
WITH m AS (
  SELECT date_trunc('month', l_shipdate) AS month,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS r
  FROM lineitem GROUP BY 1),
c AS (SELECT CAST(sum(r) AS DOUBLE) / sum(n) AS pbar FROM m)
SELECT m.month, m.n, m.r,
       round(CAST(m.r AS DOUBLE) / m.n, 6) AS rate,
       round(c.pbar + 3 * sqrt(c.pbar * (1 - c.pbar) / m.n), 6) AS ucl,
       round(c.pbar - 3 * sqrt(c.pbar * (1 - c.pbar) / m.n), 6) AS lcl,
       CAST(CAST(m.r AS DOUBLE) / m.n
              > c.pbar + 3 * sqrt(c.pbar * (1 - c.pbar) / m.n)
            OR CAST(m.r AS DOUBLE) / m.n
              < c.pbar - 3 * sqrt(c.pbar * (1 - c.pbar) / m.n)
            AS BOOLEAN) AS out_of_control
FROM m CROSS JOIN c
"""


@query("lineitem_return_pchart", oracle=_PCHART_ORACLE)
def lineitem_return_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p-chart (SPC attribute control chart) over the monthly return rate:
    3σ binomial limits around the grand rate, months outside flagged —
    the process-monitoring counterpart of `events_rate_anomaly`'s
    trailing z-score (fixed center line vs rolling baseline).

    Engine-exactness: rates are one division of exact integers; the 3σ
    term is a fixed chain ending in a correctly-rounded sqrt —
    IEEE-identical on both engines — and the out-of-control comparison
    runs on the UNrounded doubles, so both engines flag the same months
    (rounding only at the display columns).  One aggregation, one
    scalar-aggregate broadcast, months-sized output."""
    m = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("r"),
        )
    )
    c = m.agg(
        (F.sum("r").cast("double") / F.sum("n")).alias("pbar")
    )
    rate = F.col("r").cast("double") / F.col("n")
    sigma3 = 3 * F.sqrt(F.col("pbar") * (1 - F.col("pbar")) / F.col("n"))
    return m.crossJoin(F.broadcast(c)).select(
        "month",
        "n",
        "r",
        F.round(rate, 6).alias("rate"),
        F.round(F.col("pbar") + sigma3, 6).alias("ucl"),
        F.round(F.col("pbar") - sigma3, 6).alias("lcl"),
        ((rate > F.col("pbar") + sigma3) | (rate < F.col("pbar") - sigma3)).alias(
            "out_of_control"
        ),
    )


# --------------------------------------------------------------------------
# Seasonality index (month-of-year revenue vs grand mean)
# --------------------------------------------------------------------------
_SEASONALITY_ORACLE = """
WITH ym AS (
  SELECT CAST(year(o_orderdate) AS INT) AS y,
         CAST(month(o_orderdate) AS INT) AS m,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1, 2),
moy AS (
  SELECT m, CAST(sum(rev) AS DOUBLE) / count(*) AS month_avg,
         CAST(count(*) AS BIGINT) AS n_years
  FROM ym GROUP BY m),
g AS (SELECT CAST(sum(rev) AS DOUBLE) / count(*) AS grand_avg FROM ym)
SELECT moy.m AS month_of_year, moy.n_years,
       round(moy.month_avg, 2) AS month_avg,
       round(moy.month_avg / g.grand_avg, 6) AS seasonality_index
FROM moy CROSS JOIN g
"""


@query("orders_seasonality_index", oracle=_SEASONALITY_ORACLE)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index: each calendar month's average
    revenue (across years) relative to the overall monthly average — the
    ratio-to-grand-mean step of classical time-series decomposition,
    used to deseasonalize before trend fitting.

    Revenue accumulates in exact DECIMAL through both grouping levels;
    the two averages are single divisions of identical decimals by
    integer counts, and the index one further division — all fixed-order
    double ops, rounded once each.  Two aggregations (year-month, then
    month-of-year) plus a scalar-aggregate broadcast; output is ≤12
    rows at any scale."""
    ym = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    moy = ym.groupBy("m").agg(
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias("month_avg"),
        F.count(F.lit(1)).alias("n_years"),
    )
    g = ym.agg((F.sum("rev").cast("double") / F.count(F.lit(1))).alias("grand_avg"))
    return moy.crossJoin(F.broadcast(g)).select(
        F.col("m").alias("month_of_year"),
        "n_years",
        F.round("month_avg", 2).alias("month_avg"),
        F.round(F.col("month_avg") / F.col("grand_avg"), 6).alias(
            "seasonality_index"
        ),
    )


# --------------------------------------------------------------------------
# Cohort LTV: cumulative revenue by signup cohort and age
# --------------------------------------------------------------------------
_LTV_ORACLE = """
WITH first_order AS (
  SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort
  FROM orders GROUP BY o_custkey),
rev AS (
  SELECT f.cohort,
         CAST(date_diff('month', f.cohort,
                        date_trunc('month', o.o_orderdate)) AS INT) AS age,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders o JOIN first_order f ON f.o_custkey = o.o_custkey
  GROUP BY f.cohort, age)
SELECT cohort, age, n_orders,
       CAST(round(rev, 2) AS DOUBLE) AS month_revenue,
       CAST(round(sum(rev) OVER (PARTITION BY cohort ORDER BY age
                                 ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE)
         AS cumulative_ltv
FROM rev
"""


@query("orders_cohort_ltv", oracle=_LTV_ORACLE)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: customers grouped by first-order month, and
    each cohort's revenue accumulated over its age in months — the
    money-counterpart of `events_retention`'s headcount matrix (growth
    teams read the two side by side).

    Plan: the cohort assignment is one aggregation + a self-join of
    orders against the customer-keyed cohort relation (shuffles on
    custkey, co-partitioned); revenue aggregates to (cohort, age) —
    months² rows — before the cumulative window, which partitions by
    cohort (parallel across cohorts).  Revenue is exact DECIMAL through
    BOTH the aggregate and the running sum; each output rounds once."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    first_order = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    rev = (
        o.join(first_order, "o_custkey")
        .groupBy(
            "cohort",
            (
                (F.year(F.date_trunc("month", "o_orderdate")) - F.year("cohort")) * 12
                + (F.month(F.date_trunc("month", "o_orderdate")) - F.month("cohort"))
            )
            .cast("int")
            .alias("age"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rev.select(
        "cohort",
        "age",
        "n_orders",
        F.round("rev", 2).cast("double").alias("month_revenue"),
        F.round(F.sum("rev").over(w), 2).cast("double").alias("cumulative_ltv"),
    )


# --------------------------------------------------------------------------
# Supplier scorecard: composite rank over operational metrics
# --------------------------------------------------------------------------
SCORECARD_TOP = 25

_SCORECARD_ORACLE = f"""
WITH m AS (
  SELECT l_suppkey AS suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS returns,
         CAST(count(*) AS BIGINT) AS n_items
  FROM lineitem GROUP BY l_suppkey),
ranked AS (
  SELECT suppkey, n_items,
         CAST(round(revenue, 2) AS DOUBLE) AS revenue,
         CAST(rank() OVER (ORDER BY revenue DESC, suppkey) AS BIGINT)
           AS rev_rank,
         CAST(rank() OVER (ORDER BY returns * 1000000 // n_items, suppkey)
              AS BIGINT) AS return_rank
  FROM m)
SELECT suppkey, revenue, n_items, rev_rank, return_rank,
       rev_rank + 2 * return_rank AS composite
FROM ranked
ORDER BY composite, suppkey
LIMIT {SCORECARD_TOP}
"""


@query("supplier_scorecard", oracle=_SCORECARD_ORACLE)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vendor scorecard: suppliers ranked on a weighted composite of
    revenue rank and return-rate rank (lower = better) — the multi-metric
    procurement dashboard, and the rank-aggregation pattern (Borda-style)
    that sidesteps unit problems when combining incommensurable metrics.

    Everything is INTEGER once the per-supplier aggregate exists: the
    return rate enters as the integer `returns·10⁶ div n_items` (no
    float rate, so rank ties are engine-exact), ranks tiebreak on
    suppkey, and the composite is a small integer sum.  One aggregation
    over the fact table; each rank is the two-phase distributed global
    order (`functions/order.py::with_global_order` — under the unique
    (metric, suppkey) total order, `rank` equals `row_number`), so no
    supplier-cardinality relation ever lands on one executor; top-k is
    TakeOrderedAndProject."""
    m = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "returns"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .withColumn("rate", F.expr("returns * 1000000 div n_items"))
    )
    # Persist the per-supplier aggregate (read by the first range
    # shuffle's materialization; chain links need no persist since
    # with_global_order materializes its own shuffle — the r9 fix).
    m = persist_tracked(m, StorageLevel.MEMORY_AND_DISK)
    ranked = with_global_order(
        m, [("revenue", False), ("suppkey", True)], pos="rev_rank"
    )
    ranked = with_global_order(
        ranked, [("rate", True), ("suppkey", True)], pos="return_rank"
    )
    return (
        ranked.select(
            "suppkey",
            F.round("revenue", 2).cast("double").alias("revenue"),
            "n_items",
            "rev_rank",
            "return_rank",
        )
        .withColumn("composite", F.col("rev_rank") + 2 * F.col("return_rank"))
        .orderBy("composite", "suppkey")
        .limit(SCORECARD_TOP)
    )


# --------------------------------------------------------------------------
# Distribution drift monitor (total-variation distance, log-free)
# --------------------------------------------------------------------------
DRIFT_TV_THRESHOLD = 0.15

_DRIFT_ORACLE = f"""
WITH cell AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang),
src_tot AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS n_src FROM cell GROUP BY source),
lang_tot AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cell GROUP BY lang),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_all FROM cell),
grid AS (
  SELECT s.source, l.lang, s.n_src, l.n_lang, t.n_all,
         COALESCE(c.n, 0) AS n
  FROM src_tot s CROSS JOIN lang_tot l CROSS JOIN tot t
  LEFT JOIN cell c ON c.source = s.source AND c.lang = l.lang)
SELECT source, any_value(n_src) AS n_docs,
       round(CAST(sum(CAST(abs(CAST(n AS DOUBLE) / n_src
                               - CAST(n_lang AS DOUBLE) / n_all)
                           AS DECIMAL(38,12))) AS DOUBLE) / 2, 6) AS tv_distance,
       CAST(CAST(sum(CAST(abs(CAST(n AS DOUBLE) / n_src
                              - CAST(n_lang AS DOUBLE) / n_all)
                          AS DECIMAL(38,12))) AS DOUBLE) / 2
              > {DRIFT_TV_THRESHOLD} AS BOOLEAN) AS drifted
FROM grid GROUP BY source
"""


@query("pipeline_drift_monitor", oracle=_DRIFT_ORACLE)
def pipeline_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: the total-variation distance between
    each source's language mix and the corpus-wide mix, flagged over a
    threshold — the data-drift monitor an ingest pipeline runs per
    batch/source before the mixture math trusts its metadata (TV chosen
    over PSI/KL deliberately: those need logarithms, TV is rational, so
    the monitor is exactly cross-engine reproducible — the same
    log-avoidance as Simpson diversity and bigram lift).

    Zero-observed cells are materialized by the marginal cross join
    (dropping them understates drift when a source MISSES a language
    entirely — the worst drift there is).  Per-cell |p−q| terms are
    fixed-order doubles over exact integer marginals; the cross-cell sum
    accumulates in DECIMAL(38,12) (order-free); the flag compares the
    unrounded value.  Marginals are vocabulary-sized aggregations; the
    grid is |sources|×|langs|."""
    cell = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    src_tot = cell.groupBy("source").agg(F.sum("n").alias("n_src"))
    lang_tot = cell.groupBy("lang").agg(F.sum("n").alias("n_lang"))
    tot = cell.agg(F.sum("n").alias("n_all"))
    grid = (
        src_tot.crossJoin(lang_tot)
        .crossJoin(F.broadcast(tot))
        .join(cell, ["source", "lang"], "left")
        .select(
            "source",
            "n_src",
            "n_lang",
            "n_all",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )
    term = F.abs(
        F.col("n").cast("double") / F.col("n_src")
        - F.col("n_lang").cast("double") / F.col("n_all")
    ).cast("decimal(38,12)")
    tv = F.sum(term).cast("double") / 2
    return grid.groupBy("source").agg(
        F.first("n_src").alias("n_docs"),
        F.round(tv, 6).alias("tv_distance"),
        (tv > DRIFT_TV_THRESHOLD).alias("drifted"),
    )


# --------------------------------------------------------------------------
# Perfect-order rate (all items shipped within SLA)
# --------------------------------------------------------------------------
SLA_DAYS = 60

_PERFECT_ORACLE = f"""
WITH per_order AS (
  SELECT o.o_orderkey,
         date_trunc('month', o.o_orderdate) AS month,
         CAST(CASE WHEN max(date_diff('day', o.o_orderdate, l.l_shipdate))
                        <= {SLA_DAYS}
                   THEN 1 ELSE 0 END AS INT) AS perfect
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate)
SELECT month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(perfect) AS BIGINT) AS perfect_orders,
       round(CAST(sum(perfect) AS DOUBLE) / count(*), 6) AS perfect_rate
FROM per_order GROUP BY month
"""


@query("orders_perfect_rate", oracle=_PERFECT_ORACLE)
def orders_perfect_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perfect-order rate per month: the share of orders whose EVERY line
    shipped within the SLA window — the all-or-nothing fulfillment KPI
    (one late line fails the order), i.e. a per-group universal
    quantifier expressed as `max(lateness) <= SLA` inside the order
    aggregation rather than an anti-join against late lines.

    One shuffle on the order key (fact-fact equi-join co-partitioned with
    the per-order aggregate), then a months-sized rollup; day diffs are
    exact integers, one division per month row."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.max(F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))).alias(
                "max_days"
            )
        )
        .select(
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.when(F.col("max_days") <= SLA_DAYS, 1).otherwise(0).alias("perfect"),
        )
    )
    return per_order.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("perfect").alias("perfect_orders"),
        F.round(F.sum("perfect").cast("double") / F.count(F.lit(1)), 6).alias(
            "perfect_rate"
        ),
    )


# --------------------------------------------------------------------------
# Bounce rate per entry event type
# --------------------------------------------------------------------------
_BOUNCE_ORACLE = """
WITH ranked AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS n_events
  FROM events)
SELECT event_type AS entry_type,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS bounces,
       round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS bounce_rate
FROM ranked WHERE rn = 1 GROUP BY event_type
"""


@query("events_bounce_rate", oracle=_BOUNCE_ORACLE)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by entry event type: user-days that begin with a given
    event and contain NOTHING else — the single-event-session metric
    read next to `events_attribution_first_touch`'s conversion column
    (what converts vs what bounces, per channel).  One window pass over
    (user, day) computes both the entry flag and the session size; the
    rollup is event-type-sized."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id", "day")
    ranked = ev.select(
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n_events"),
    ).filter(F.col("rn") == 1)
    return ranked.groupBy(F.col("event_type").alias("entry_type")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("bounces"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
    )


# --------------------------------------------------------------------------
# Per-category OLS revenue trend (regression by moments)
# --------------------------------------------------------------------------
_TREND_ORACLE = """
WITH ym AS (
  SELECT p.p_type,
         CAST((year(o.o_orderdate) - 1995) * 12
              + month(o.o_orderdate) - 1 AS BIGINT) AS x,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS y
  FROM lineitem l
  JOIN part p   ON p.p_partkey = l.l_partkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY p.p_type, x),
m AS (
  SELECT p_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS DECIMAL(18,2)) * y) AS DOUBLE) AS sxy,
         CAST(count(*) AS BIGINT) AS n_months
  FROM ym GROUP BY p_type)
SELECT p_type, n_months,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
       CAST((n * sxy - sx * sy) / (n * sxx - sx * sx) > 0 AS BOOLEAN)
         AS growing
FROM m
WHERE n_months >= 2
"""


@query("part_type_trend", oracle=_TREND_ORACLE)
def part_type_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue trend per part category: ordinary-least-squares slope of
    the monthly revenue series, computed from moments (n, Σx, Σx², Σy,
    Σxy) — one aggregation pass per category, the same
    single-pass-moments pattern as `wide_metrics_correlation`, closing
    the time-series family (seasonality index = level, this = trend).

    Engine-exactness: x is a small exact integer month index; y
    accumulates in DECIMAL; the x·y cross-moment multiplies DECIMALs
    exactly; the closed-form slope is one fixed-parenthesization double
    chain, rounded once; the growth flag compares the unrounded value
    against zero."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    o = load_table(spark, sf_dir, "orders")
    x = (
        (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
    ).cast("long")
    ym = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("p_type", x.alias("x"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("y"))
    )
    m = ym.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,2)") * F.col("y")).cast("double").alias("sxy"),
        F.count(F.lit(1)).alias("n_months"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    # Degenerate-series guard (r7 advice): a category with ONE month has
    # n*sxx - sx*sx == 0 exactly, and both engines would emit NaN/Inf
    # rather than error — a meaningless `growing` flag.  Slope needs two
    # points; drop single-month categories in both engines identically.
    return m.filter(F.col("n_months") >= 2).select(
        "p_type",
        "n_months",
        F.round(slope, 4).alias("slope"),
        (slope > 0).alias("growing"),
    )


# --------------------------------------------------------------------------
# New vs returning users per month
# --------------------------------------------------------------------------
_NEW_RETURNING_ORACLE = """
WITH first_seen AS (
  SELECT user_id, date_trunc('month', min(ts)) AS first_month
  FROM events GROUP BY user_id),
mu AS (
  SELECT DISTINCT date_trunc('month', ts) AS month, user_id FROM events)
SELECT mu.month,
       CAST(sum(CASE WHEN f.first_month = mu.month THEN 1 ELSE 0 END)
            AS BIGINT) AS new_users,
       CAST(sum(CASE WHEN f.first_month <> mu.month THEN 1 ELSE 0 END)
            AS BIGINT) AS returning_users,
       round(CAST(sum(CASE WHEN f.first_month <> mu.month THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS returning_share
FROM mu JOIN first_seen f ON f.user_id = mu.user_id
GROUP BY mu.month
"""


@query("events_new_vs_returning", oracle=_NEW_RETURNING_ORACLE)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly active users split into new (first month of activity) vs
    returning — the acquisition-vs-retention decomposition read next to
    `events_user_stickiness` and the cohort matrix.  Two aggregations
    keyed by user (first-seen, and the month-user distinct) joined on
    the user key — co-partitioned shuffles; months-sized output."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("month", "ts").alias("month"), "user_id", "ts"
    )
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).alias("first_month")
    )
    mu = ev.select("month", "user_id").distinct()
    new_flag = F.when(F.col("first_month") == F.col("month"), 1).otherwise(0)
    return (
        mu.join(first_seen, "user_id")
        .groupBy("month")
        .agg(
            F.sum(new_flag).alias("new_users"),
            F.sum(1 - new_flag).alias("returning_users"),
            F.round(F.sum(1 - new_flag).cast("double") / F.count(F.lit(1)), 6).alias(
                "returning_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# Session-duration histogram (5-minute integer buckets)
# --------------------------------------------------------------------------
SESSION_BUCKET_S = 300

_DURATION_HIST_ORACLE = f"""
WITH sess AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         -- epoch-us floor, NOT date_diff('second'): date_diff counts
         -- boundary CROSSINGS (0.9s->1.1s = 1), Spark's us-div floors
         -- elapsed time (= 0) - same pitfall the sessionize oracle pins
         CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
              AS BIGINT) AS dur_s
  FROM events GROUP BY user_id, CAST(ts AS DATE))
SELECT dur_s // {SESSION_BUCKET_S} AS bucket,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(min(dur_s) AS BIGINT) AS min_dur_s,
       CAST(max(dur_s) AS BIGINT) AS max_dur_s
FROM sess GROUP BY bucket
"""


@query("events_session_duration_hist", oracle=_DURATION_HIST_ORACLE)
def events_session_duration_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-day session-duration histogram in 5-minute integer buckets —
    the engagement-distribution companion to `events_bounce_rate`
    (bucket 0 ⊇ bounces).  Durations are exact integer seconds and the
    bucket is integer division, so binning is engine-exact (the same
    reason `histogram_extendedprice` bins integers, not floats).  One
    (user, day) aggregation, one buckets-sized rollup."""
    sess = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            )
            .cast("long")
            .alias("dur_us")
        )
        .select(F.expr("dur_us div 1000000").alias("dur_s"))
    )
    return sess.groupBy(
        F.expr(f"dur_s div {SESSION_BUCKET_S}").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.min("dur_s").alias("min_dur_s"),
        F.max("dur_s").alias("max_dur_s"),
    )


# --------------------------------------------------------------------------
# Activity streaks (gaps-and-islands)
# --------------------------------------------------------------------------
_STREAK_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
r AS (
  SELECT user_id, day,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS rn
  FROM d),
isl AS (
  SELECT user_id, day - rn AS anchor, CAST(count(*) AS BIGINT) AS streak_len
  FROM r GROUP BY user_id, day - rn)
SELECT streak_len,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM isl GROUP BY streak_len
"""


@query("events_activity_streaks", oracle=_STREAK_ORACLE)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of consecutive-day activity streaks — the classic
    gaps-and-islands idiom (day − row_number is constant within an island
    of consecutive days), the engagement-streak metric read next to
    `events_user_stickiness`'s DAU/MAU ratio: stickiness says HOW OFTEN,
    streaks say HOW CONTIGUOUSLY.

    Scale: one distinct + one window pass + two aggregations, all keyed
    by user_id (millions of parallel partitions; a user's day count is
    bounded by the calendar, so no window frame ever grows with event
    volume), then a streak-length-sized rollup.  Pure integer date
    arithmetic — exact on both engines."""
    from pyspark.sql.window import Window

    d = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    isl = (
        d.withColumn("rn", F.row_number().over(w))
        .select("user_id", F.expr("date_sub(day, rn)").alias("anchor"))
        .groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("streak_len"))
    )
    return isl.groupBy("streak_len").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --------------------------------------------------------------------------
# Fulfillment latency profile
# --------------------------------------------------------------------------
_FULFILL_ORACLE = f"""
WITH li AS (
  SELECT o.o_orderpriority,
         CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS ship_days,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
              THEN 1 ELSE 0 END AS is_late
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(min(ship_days) AS BIGINT) AS min_ship_days,
       CAST(max(ship_days) AS BIGINT) AS max_ship_days,
       {sql_davg('ship_days', 6)} AS avg_ship_days,
       CAST(sum(CAST(is_late AS BIGINT)) AS BIGINT) AS n_late,
       CAST((sum(CAST(is_late AS BIGINT)) * 1000000) // count(*) AS BIGINT)
         AS late_micro
FROM li GROUP BY o_orderpriority
"""


@query("orders_fulfillment_latency", oracle=_FULFILL_ORACLE)
def orders_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment scorecard: order-to-ship latency and the >90-day late
    rate per order priority — the operations companion to
    `q12_late_shipments` (which counts late lines per year; this
    profiles the latency distribution itself per priority class, using
    the same 90-day lateness convention — this testdata has no
    shipmode/receiptdate, see the q12 docstring).

    Pure integer date arithmetic; the mean goes through the DECIMAL
    accumulator and the late rate is integer micro-units.  The
    orders ⋈ lineitem equi-join shuffles both sides on orderkey (the
    standard co-partitioned fact join — bucketable at scale), then one
    aggregation onto the 5-value priority domain with map-side
    combine."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = o.join(li, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("ship_days"),
        F.when(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.make_interval(days=F.lit(90)),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("is_late"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.min("ship_days").alias("min_ship_days"),
        F.max("ship_days").alias("max_ship_days"),
        davg("ship_days", 6).alias("avg_ship_days"),
        F.sum("is_late").alias("n_late"),
        F.expr("(sum(is_late) * 1000000) div count(1)").alias("late_micro"),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------
# Expected Benford share of leading digit d is log10(1 + 1/d) — engine-
# independent micro-unit LITERALS (no transcendental at query time).
_BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_SQL_CASE = "CASE first_digit " + " ".join(
    f"WHEN {d} THEN {m}" for d, m in _BENFORD_MICRO.items()
) + " END"

_BENFORD_ORACLE = f"""
WITH d AS (
  SELECT CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                              AS BIGINT) AS VARCHAR), 1, 1) AS INT)
           AS first_digit
  FROM orders),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d),
obs AS (
  SELECT first_digit, CAST(count(*) AS BIGINT) AS n_orders
  FROM d GROUP BY first_digit)
SELECT o.first_digit, o.n_orders,
       CAST((o.n_orders * 1000000) // t.n_total AS BIGINT) AS observed_micro,
       CAST({_BENFORD_SQL_CASE} AS BIGINT) AS benford_micro,
       CAST((o.n_orders * 1000000) // t.n_total
            - {_BENFORD_SQL_CASE} AS BIGINT) AS deviation_micro
FROM obs o CROSS JOIN tot t
"""


@query("stats_benford_audit", oracle=_BENFORD_ORACLE)
def stats_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed leading-digit shares
    vs the log10(1+1/d) expectation — the classic fabricated-numbers /
    synthetic-data screen an auditing warehouse runs (genuine multi-scale
    amounts follow Benford; generator artifacts and capped domains show
    up as large signed deviations, which is exactly what this flags on
    TPC-H-style uniform prices).

    The leading digit comes from exact integer cents (DECIMAL(18,2)
    cast ×100 → BIGINT → first character), never from float formatting;
    Benford expectations are precomputed micro-unit literals, so the
    whole report is integer arithmetic.  One scan, a 9-cell rollup with
    map-side combine, scalar total broadcast back."""
    d = load_table(spark, sf_dir, "orders").select(
        F.substring(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("first_digit")
    )
    tot = d.agg(F.count(F.lit(1)).alias("n_total"))
    obs = d.groupBy("first_digit").agg(F.count(F.lit(1)).alias("n_orders"))
    benford = F.create_map(
        *[F.lit(x) for dm in _BENFORD_MICRO.items() for x in dm]
    )
    return obs.crossJoin(F.broadcast(tot)).select(
        "first_digit",
        "n_orders",
        F.expr("(n_orders * 1000000) div n_total").alias("observed_micro"),
        benford[F.col("first_digit")].cast("long").alias("benford_micro"),
        (
            F.expr("(n_orders * 1000000) div n_total")
            - benford[F.col("first_digit")].cast("long")
        ).alias("deviation_micro"),
    )


# --------------------------------------------------------------------------
# What-if: discount-cap revenue scenario
# --------------------------------------------------------------------------
DISCOUNT_CAP = "0.04"

_WHATIF_ORACLE = f"""
WITH li AS (
  SELECT CAST(l_extendedprice AS DECIMAL(18,6)) AS p,
         CAST(l_discount AS DECIMAL(18,6)) AS disc
  FROM lineitem)
SELECT
  round(CAST(sum(p * (1 - disc)) AS DOUBLE), 2) AS actual_revenue,
  round(CAST(sum(p * (1 - least(disc, {DISCOUNT_CAP}))) AS DOUBLE), 2)
    AS capped_revenue,
  round(CAST(sum(p * (1 - least(disc, {DISCOUNT_CAP})))
             - sum(p * (1 - disc)) AS DOUBLE), 2) AS revenue_delta,
  CAST(count(*) AS BIGINT) AS n_items,
  CAST(sum(CASE WHEN disc > {DISCOUNT_CAP} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_capped_items
FROM li
"""


@query("orders_whatif_discount_cap", oracle=_WHATIF_ORACLE)
def orders_whatif_discount_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scenario query: revenue if discounts were capped at 4% — the
    counterfactual pricing analysis (TPC-H Q6's "forecast revenue
    change" idea generalized from dropping a discount band to capping
    it), reported as actual vs scenario vs delta plus how many line
    items the cap would touch.

    Both accumulations ride the exact DECIMAL(18,6) revenue pattern
    (`SQL_REV_DEC` precedent) — order-insensitive, bit-exact on both
    engines — in ONE scalar aggregate over one scan (the scenario is a
    second conditional expression, not a second pass)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("decimal(18,6)").alias("p"),
        F.col("l_discount").cast("decimal(18,6)").alias("disc"),
    )
    cap = F.lit(DISCOUNT_CAP).cast("decimal(18,6)")
    actual = F.sum(F.col("p") * (F.lit(1) - F.col("disc")))
    capped = F.sum(F.col("p") * (F.lit(1) - F.least(F.col("disc"), cap)))
    return li.agg(
        F.round(actual.cast("double"), 2).alias("actual_revenue"),
        F.round(capped.cast("double"), 2).alias("capped_revenue"),
        F.round((capped - actual).cast("double"), 2).alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.when(F.col("disc") > cap, 1).otherwise(0)).alias(
            "n_capped_items"
        ),
    )


# --------------------------------------------------------------------------
# Mann-Whitney U rank-sum test (tie-corrected, count-distribution form)
# --------------------------------------------------------------------------
# shared by the two-sample tests (Mann-Whitney U, Kolmogorov-Smirnov):
# deterministically pick the two largest languages and build the joint
# count distribution of n_chars over them.
_TOP2_LANGS_CTES = """ranked_langs AS (
  SELECT lang, count(*) AS n,
         row_number() OVER (ORDER BY count(*) DESC, lang) AS rk
  FROM documents GROUP BY lang),
ab AS (
  SELECT max(CASE WHEN rk = 1 THEN lang END) AS lang_a,
         max(CASE WHEN rk = 2 THEN lang END) AS lang_b
  FROM ranked_langs),
dist AS (
  SELECT d.n_chars AS v,
         CAST(sum(CASE WHEN d.lang = ab.lang_a THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(sum(CASE WHEN d.lang = ab.lang_b THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM documents d CROSS JOIN ab
  WHERE d.lang IN (ab.lang_a, ab.lang_b)
  GROUP BY d.n_chars)"""

_MWU_ORACLE = f"""
WITH {_TOP2_LANGS_CTES},
cum AS (
  SELECT v, ca, cb,
         COALESCE(sum(cb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cb_less,
         COALESCE(sum(ca) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS ca_less
  FROM dist)
SELECT ab.lang_a, ab.lang_b,
       CAST(sum(ca) AS BIGINT) AS n_a,
       CAST(sum(cb) AS BIGINT) AS n_b,
       CAST(sum(2 * ca * cb_less + ca * cb) AS BIGINT) AS u2_a,
       CAST(sum(2 * cb * ca_less + ca * cb) AS BIGINT) AS u2_b
FROM cum CROSS JOIN ab
GROUP BY ab.lang_a, ab.lang_b
"""


def _top2_lang_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint n_chars count distribution over the two largest languages:
    one row per distinct value with per-group counts (ca, cb) and the
    selected language names carried along.  Shared by the two-sample
    tests (`stats_mann_whitney_u`, `stats_ks_test`) — the Spark twin of
    `_TOP2_LANGS_CTES`."""
    d = load_table(spark, sf_dir, "documents")
    wl = Window.orderBy(F.desc("n"), "lang")
    langs = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(wl))
        .filter(F.col("rk") <= 2)
    )
    ab = langs.groupBy().agg(
        F.max(F.when(F.col("rk") == 1, F.col("lang"))).alias("lang_a"),
        F.max(F.when(F.col("rk") == 2, F.col("lang"))).alias("lang_b"),
    )
    return (
        d.crossJoin(F.broadcast(ab))
        .filter(
            (F.col("lang") == F.col("lang_a"))
            | (F.col("lang") == F.col("lang_b"))
        )
        .groupBy("n_chars", "lang_a", "lang_b")
        .agg(
            F.sum(
                F.when(F.col("lang") == F.col("lang_a"), 1).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("lang") == F.col("lang_b"), 1).otherwise(0)
            ).alias("cb"),
        )
    )


@query("stats_mann_whitney_u", oracle=_MWU_ORACLE)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) comparing the document-length
    (n_chars) distributions of the two largest languages — the standard
    nonparametric "are these two corpora drawn from the same length
    distribution" test a curation pipeline runs before pooling sources.

    Exactness by fraction clearing: with ties, U_A = #(a>b pairs) +
    ½·#(a=b pairs); doubling clears the half, so the emitted statistics
    are 2·U — pure integers (u2_a + u2_b = 2·n_a·n_b, a checkable
    invariant the test suite pins).  Computed in the COUNT-DISTRIBUTION
    closed form: group both samples by value, then one window over the
    |distinct values| rows accumulates the cross-pair counts —
    U is tie-invariant, so per-row ranks are never materialized (the
    `events_gini_concentration` tier; the window runs over the
    aggregated relation, never the corpus).

    Scale: one groupBy on (value) — map-combinable conditional counts —
    then a single bounded window and a scalar rollup.  The two-language
    selection is itself a bounded aggregate (|langs| rows)."""
    dist = _top2_lang_dist(spark, sf_dir)
    wv = Window.partitionBy("lang_a", "lang_b").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = dist.select(
        "lang_a",
        "lang_b",
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(wv), F.lit(0)).alias("cb_less"),
        F.coalesce(F.sum("ca").over(wv), F.lit(0)).alias("ca_less"),
    )
    return cum.groupBy("lang_a", "lang_b").agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.sum(
            2 * F.col("ca") * F.col("cb_less") + F.col("ca") * F.col("cb")
        ).alias("u2_a"),
        F.sum(
            2 * F.col("cb") * F.col("ca_less") + F.col("ca") * F.col("cb")
        ).alias("u2_b"),
    )


# --------------------------------------------------------------------------
# Discrete survival (life-table) hazard of customer repurchase
# --------------------------------------------------------------------------
SURV_BUCKET_DAYS = 30
SURV_MAX_BUCKET = 11  # terminal bucket aggregates everything >= 330 days

_SURVIVAL_ORACLE = f"""
WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders),
seq AS (
  SELECT o_custkey, o_orderdate,
         lead(o_orderdate) OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS nxt
  FROM orders),
dur AS (
  SELECT least({SURV_MAX_BUCKET},
               date_diff('second', o_orderdate, COALESCE(nxt, x.a))
                 // {86400 * SURV_BUCKET_DAYS}) AS bucket,
         CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS is_event
  FROM seq CROSS JOIN anchor x),
hist AS (
  SELECT bucket,
         CAST(sum(is_event) AS BIGINT) AS n_events,
         CAST(sum(1 - is_event) AS BIGINT) AS n_censored
  FROM dur GROUP BY bucket),
lt AS (
  SELECT bucket, n_events, n_censored,
         CAST(sum(n_events + n_censored) OVER
           (ORDER BY bucket DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS n_at_risk
  FROM hist)
SELECT bucket, n_at_risk, n_events, n_censored,
       (10000 * n_events) // n_at_risk AS hazard_bp
FROM lt
"""


@query("orders_survival_hazard", oracle=_SURVIVAL_ORACLE)
def orders_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time life table of customer repurchase: for each 30-day
    interval since an order, how many customers were still "at risk" of
    reordering, how many did (event = a next order with that gap), how
    many ran out of observation window (censored at the dataset's last
    order date) — and the interval hazard in basis points.  The
    Kaplan-Meier-style churn/retention read every subscription and
    repeat-purchase business runs; censoring handling is what separates
    it from a naive gap histogram (`events_interarrival_hist`).

    Exactness: gaps are whole-day integer differences (epoch seconds,
    one truncating division), the terminal bucket ({SURV_MAX_BUCKET})
    absorbs every longer duration, and the hazard is one integer div —
    no survival-probability product (a product of fractions) is ever
    materialized, so there are no floats anywhere.

    Scale: one per-customer LEAD window (partitioned, millions of
    parallel groups), one scalar anchor broadcast, a map-combinable
    bucket histogram, and the at-risk reverse cumsum runs over the
    {SURV_MAX_BUCKET}+1-row AGGREGATED life table — never the orders."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("a"))
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        F.lead("o_orderdate").over(wc).alias("nxt"),
    )
    dur = seq.crossJoin(F.broadcast(anchor)).select(
        F.expr(
            f"least(cast({SURV_MAX_BUCKET} as bigint),"
            " (cast(cast(coalesce(nxt, a) as timestamp) as long)"
            "  - cast(cast(o_orderdate as timestamp) as long))"
            f" div {86400 * SURV_BUCKET_DAYS})"
        ).alias("bucket"),
        F.when(F.col("nxt").isNull(), 0).otherwise(1).alias("is_event"),
    )
    hist = dur.groupBy("bucket").agg(
        F.sum("is_event").alias("n_events"),
        F.sum(1 - F.col("is_event")).alias("n_censored"),
    )
    wb = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lt = hist.withColumn(
        "n_at_risk", F.sum(F.col("n_events") + F.col("n_censored")).over(wb)
    )
    return lt.select(
        "bucket",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.expr("(10000 * n_events) div n_at_risk").alias("hazard_bp"),
    )


# --------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample test (count-distribution closed form)
# --------------------------------------------------------------------------
# c(0.05)^2 = 1.358^2 = 1.844164, carried as parts-per-million so the
# rejection inequality  D^2 > c^2 (n+m)/(nm)  clears to pure integers:
#   1e6 * d_raw^2  >  1844164 * n_a * n_b * (n_a + n_b)
# with d_raw = max |cumA*n_b - cumB*n_a| (the ECDF gap times n_a*n_b).
_KS_C2_PPM = 1_844_164

_KS_ORACLE = f"""
WITH {_TOP2_LANGS_CTES},
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
  FROM dist),
cum AS (
  SELECT v, t.n_a, t.n_b,
         CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
  FROM dist CROSS JOIN tot t),
gap AS (
  SELECT n_a, n_b,
         CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_raw
  FROM cum GROUP BY n_a, n_b)
SELECT ab.lang_a, ab.lang_b, g.n_a, g.n_b, g.d_raw,
       (1000000 * g.d_raw) // (g.n_a * g.n_b) AS d_micro,
       1000000 * CAST(g.d_raw AS HUGEINT) * g.d_raw >
         {_KS_C2_PPM} * CAST(g.n_a AS HUGEINT) * g.n_b * (g.n_a + g.n_b)
         AS reject_95
FROM gap g CROSS JOIN ab
"""


@query("stats_ks_test", oracle=_KS_ORACLE)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test on the document-length
    distributions of the two largest languages — the distribution-SHAPE
    companion to `stats_mann_whitney_u`'s location test (KS sees
    variance/shape differences a rank-sum misses).

    Exactness by fraction clearing: the ECDF gap |F_A(v) - F_B(v)| is
    scaled by n_a·n_b, so the supremum D_raw = max|cumA·n_b - cumB·n_a|
    is a pure integer (the max over jump points of the pooled sample,
    which is where the supremum of a step-function difference lives).
    The 5%-level decision D > 1.358·sqrt((n_a+n_b)/(n_a·n_b)) is squared
    and cross-multiplied into 128-bit integer space (DECIMAL(38,0) on
    Spark, HUGEINT on DuckDB — both exact), so even the boolean is
    bit-identical; no sqrt, no float anywhere.

    Scale: same posture as the MWU — one conditional-count groupBy on the
    value, one running-sum window over the |distinct values| AGGREGATED
    relation, one scalar rollup."""
    dist = _top2_lang_dist(spark, sf_dir)
    tot = dist.groupBy("lang_a", "lang_b").agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    wv = (
        Window.partitionBy("lang_a", "lang_b")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # No broadcast hint on tot: a groupBy on the carried (lang_a, lang_b)
    # pair is 1 row by construction but not provable by the invariant
    # suite's categories — AQE upgrades the trivial join at runtime.
    cum = dist.select(
        "lang_a",
        "lang_b",
        F.sum("ca").over(wv).alias("cum_a"),
        F.sum("cb").over(wv).alias("cum_b"),
    ).join(tot, ["lang_a", "lang_b"])
    gap = cum.groupBy("lang_a", "lang_b", "n_a", "n_b").agg(
        F.max(
            F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
        ).alias("d_raw")
    )
    dec = "cast(d_raw as decimal(38,0))"
    na, nb = "cast(n_a as decimal(38,0))", "cast(n_b as decimal(38,0))"
    return gap.select(
        "lang_a",
        "lang_b",
        "n_a",
        "n_b",
        "d_raw",
        F.expr("(1000000 * d_raw) div (n_a * n_b)").alias("d_micro"),
        F.expr(
            f"1000000 * {dec} * {dec} >"
            f" {_KS_C2_PPM} * {na} * {nb} * (n_a + n_b)"
        ).alias("reject_95"),
    )


# --------------------------------------------------------------------------
# Weighted median via the count-distribution closed form
# --------------------------------------------------------------------------
_WMEDIAN_ORACLE = """
WITH dist AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
         CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2),
cum AS (
  SELECT l_returnflag, qty, w,
         CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY qty)
              AS BIGINT) AS cw,
         CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
  FROM dist)
SELECT l_returnflag,
       CAST(min(CASE WHEN 2 * cw >= tw THEN qty END) AS BIGINT)
         AS weighted_median_qty,
       CAST(max(tw) AS BIGINT) AS total_weight
FROM cum GROUP BY l_returnflag
"""


@query("lineitem_weighted_median", oracle=_WMEDIAN_ORACLE)
def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median order quantity per return flag: the
    smallest quantity where the running revenue weight reaches half the
    total — "half the dollars ship in lines of this size or smaller",
    the weighted robust location statistic a naive AVG(quantity) and the
    unweighted `percentiles` query both miss.

    Exact at any scale WITHOUT a sort of the fact table: quantity has a
    small value domain (1..50 in TPC-H), so the whole computation folds
    to the |flags|×|quantities| COUNT DISTRIBUTION (one map-combinable
    groupBy), a cumulative-weight window over those ~150 aggregated
    rows, and the 2·cum >= tot crossing rule — the
    `events_gini_concentration` tier.  Weights are whole dollars
    (round(extendedprice) — identical IEEE double input and half-up
    rounding on both engines), so the crossing comparison is pure
    integer."""
    li = load_table(spark, sf_dir, "lineitem")
    dist = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    ).agg(F.sum(F.round("l_extendedprice").cast("long")).alias("w"))
    wq = Window.partitionBy("l_returnflag").orderBy("qty")
    wt = Window.partitionBy("l_returnflag")
    cum = dist.select(
        "l_returnflag",
        "qty",
        F.sum("w").over(wq).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("qty"))).alias(
            "weighted_median_qty"
        ),
        F.max("tw").alias("total_weight"),
    )


# --------------------------------------------------------------------------
# EWMA forecast backtest (half-life weights, integer arithmetic)
# --------------------------------------------------------------------------
EWMA_LOOKBACK = 12  # months of history per forecast; weights 2^(12-k)
EWMA_DEN = (1 << EWMA_LOOKBACK) - 1  # sum of the 12 power-of-two weights

_EWMA_ORACLE = f"""
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
           AS mi,
         min(CAST(date_trunc('month', o_orderdate) AS VARCHAR)) AS month,
         CAST(count(*) AS BIGINT) AS actual
  FROM orders GROUP BY 1),
lagged AS (
  SELECT m.mi, m.month, m.actual,
         CAST(sum(h.actual * (CAST(1 AS BIGINT) << ({EWMA_LOOKBACK} - (m.mi - h.mi))))
              AS BIGINT) AS num,
         CAST(count(*) AS BIGINT) AS n_hist
  FROM monthly m
  JOIN monthly h ON h.mi BETWEEN m.mi - {EWMA_LOOKBACK} AND m.mi - 1
  GROUP BY m.mi, m.month, m.actual)
SELECT month, actual,
       (1000000 * num) // {EWMA_DEN} AS forecast_micro,
       abs(1000000 * actual - (1000000 * num) // {EWMA_DEN}) AS abs_err_micro
FROM lagged
WHERE n_hist = {EWMA_LOOKBACK}
"""


@query("orders_ewma_forecast", oracle=_EWMA_ORACLE)
def orders_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead EWMA backtest of monthly order volume: each month
    is forecast from the previous 12 months with half-life weights
    2^(12-k) (most recent month carries half the mass), and the absolute
    error is emitted per month — the rolling-origin evaluation a demand
    forecaster runs before trusting a smoother, with no leakage (the
    target month never enters its own forecast).

    Exactness: months are indexed by the integer year·12+month, weights
    are integer powers of two summing to {den} = 2^12 - 1, and the
    forecast is ONE truncating division of the weighted sum scaled to
    micro-units — both engines floor on non-negatives.  Only months with
    a full 12-month history are scored, so the denominator is constant.

    Scale: the monthly rollup is one map-combinable aggregate down to a
    |months|-sized relation; the lag attachment is a self-equi-range-join
    of that BOUNDED relation with itself (|months|·12 rows) — the fact
    table is scanned exactly once."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("mi")
        )
        .agg(
            F.min(
                F.date_trunc("month", "o_orderdate").cast("date").cast("string")
            ).alias("month"),
            F.count(F.lit(1)).alias("actual"),
        )
        .transform(persist_tracked)
    )
    hist = monthly.select(
        F.col("mi").alias("hi"), F.col("actual").alias("h_actual")
    )
    lagged = (
        monthly.join(
            hist,
            (F.col("hi") >= F.col("mi") - EWMA_LOOKBACK)
            & (F.col("hi") <= F.col("mi") - 1),
        )
        .groupBy("mi", "month", "actual")
        .agg(
            F.sum(
                F.expr(
                    f"h_actual * shiftleft(cast(1 as bigint),"
                    f" cast({EWMA_LOOKBACK} - (mi - hi) as int))"
                )
            ).alias("num"),
            F.count(F.lit(1)).alias("n_hist"),
        )
        .filter(F.col("n_hist") == EWMA_LOOKBACK)
    )
    return lagged.select(
        "month",
        "actual",
        F.expr(f"(1000000 * num) div {EWMA_DEN}").alias("forecast_micro"),
        F.expr(
            f"abs(1000000 * actual - (1000000 * num) div {EWMA_DEN})"
        ).alias("abs_err_micro"),
    )


# --------------------------------------------------------------------------
# Forecast benchmark: EWMA vs seasonal-naive (MASE, integer form)
# --------------------------------------------------------------------------
SEASONAL_LAG = 12  # the seasonal-naive baseline predicts month m-12

_MASE_ORACLE = f"""
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
           AS mi,
         CAST(count(*) AS BIGINT) AS actual
  FROM orders GROUP BY 1),
ew AS (
  SELECT m.mi, m.actual,
         CAST(sum(h.actual * (CAST(1 AS BIGINT) << ({EWMA_LOOKBACK} - (m.mi - h.mi))))
              AS BIGINT) AS num,
         CAST(count(*) AS BIGINT) AS n_hist
  FROM monthly m
  JOIN monthly h ON h.mi BETWEEN m.mi - {EWMA_LOOKBACK} AND m.mi - 1
  GROUP BY m.mi, m.actual),
scored AS (
  SELECT e.mi, e.actual,
         abs(1000000 * e.actual - (1000000 * e.num) // {EWMA_DEN})
           AS ewma_err_micro,
         1000000 * abs(e.actual - sn.actual) AS naive_err_micro
  FROM ew e
  JOIN monthly sn ON sn.mi = e.mi - {SEASONAL_LAG}
  WHERE e.n_hist = {EWMA_LOOKBACK})
SELECT CAST(count(*) AS BIGINT) AS n_months,
       CAST(sum(ewma_err_micro) AS BIGINT) AS ewma_abs_err_micro,
       CAST(sum(naive_err_micro) AS BIGINT) AS naive_abs_err_micro,
       (1000000 * CAST(sum(ewma_err_micro) AS BIGINT))
         // CAST(sum(naive_err_micro) AS BIGINT) AS mase_micro,
       CAST(sum(ewma_err_micro) AS BIGINT)
         < CAST(sum(naive_err_micro) AS BIGINT) AS ewma_wins
FROM scored
"""


@query("orders_forecast_mase", oracle=_MASE_ORACLE)
def orders_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE scorecard for the EWMA forecaster: total absolute error of
    `orders_ewma_forecast` against the SEASONAL-NAIVE baseline (predict
    month m-12) over the common backtest window — the scale-free
    forecast-accuracy standard (Hyndman & Koehler '06; MASE < 1 means
    the model beats the naive baseline it must justify itself against).

    Exactness: both error totals are sums of integer micro-unit absolute
    errors (the EWMA error reuses the exact arithmetic of the per-month
    query; the naive error is a plain integer difference), and the MASE
    ratio is ONE truncating division — the verdict boolean compares the
    totals directly, no division at all.

    Scale: everything after the single monthly rollup operates on the
    |months|-sized bounded relation (one self-range-join for the EWMA
    window, one self-equi-join for the seasonal lag, one scalar
    rollup)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("mi")
        )
        .agg(F.count(F.lit(1)).alias("actual"))
        .transform(persist_tracked)
    )
    hist = monthly.select(
        F.col("mi").alias("hi"), F.col("actual").alias("h_actual")
    )
    ew = (
        monthly.join(
            hist,
            (F.col("hi") >= F.col("mi") - EWMA_LOOKBACK)
            & (F.col("hi") <= F.col("mi") - 1),
        )
        .groupBy("mi", "actual")
        .agg(
            F.sum(
                F.expr(
                    f"h_actual * shiftleft(cast(1 as bigint),"
                    f" cast({EWMA_LOOKBACK} - (mi - hi) as int))"
                )
            ).alias("num"),
            F.count(F.lit(1)).alias("n_hist"),
        )
        .filter(F.col("n_hist") == EWMA_LOOKBACK)
    )
    sn = monthly.select(
        (F.col("mi") + SEASONAL_LAG).alias("mi"),
        F.col("actual").alias("sn_actual"),
    )
    scored = ew.join(sn, "mi").select(
        F.expr(
            f"abs(1000000 * actual - (1000000 * num) div {EWMA_DEN})"
        ).alias("ewma_err_micro"),
        F.expr("1000000 * abs(actual - sn_actual)").alias("naive_err_micro"),
    )
    return scored.groupBy().agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("ewma_err_micro").alias("ewma_abs_err_micro"),
        F.sum("naive_err_micro").alias("naive_abs_err_micro"),
        F.expr(
            "(1000000 * sum(ewma_err_micro)) div sum(naive_err_micro)"
        ).alias("mase_micro"),
        (F.sum("ewma_err_micro") < F.sum("naive_err_micro")).alias(
            "ewma_wins"
        ),
    )


# --------------------------------------------------------------------------
# Welch's t-test (unequal-variance location test, moment closed form)
# --------------------------------------------------------------------------
_WELCH_ORACLE = f"""
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
se AS (
  SELECT *,
         CAST(CAST(n_a AS HUGEINT) * sxx_a - CAST(s_a AS HUGEINT) * s_a
              AS DOUBLE) / n_a / (n_a - 1) / n_a AS se2_a,
         CAST(CAST(n_b AS HUGEINT) * sxx_b - CAST(s_b AS HUGEINT) * s_b
              AS DOUBLE) / n_b / (n_b - 1) / n_b AS se2_b
  FROM mom)
SELECT lang_a, lang_b, n_a, n_b,
       round(CAST(s_a AS DOUBLE) / n_a, 6) AS mean_a,
       round(CAST(s_b AS DOUBLE) / n_b, 6) AS mean_b,
       round((CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
             / sqrt(se2_a + se2_b), 6) AS t_welch,
       round((se2_a + se2_b) * (se2_a + se2_b)
             / (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1)),
             4) AS df_welch
FROM se
"""


@query("stats_welch_ttest", oracle=_WELCH_ORACLE)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on the document-length (n_chars)
    distributions of the two largest languages — the parametric companion
    to `stats_mann_whitney_u` (location) and `stats_ks_test` (shape) on
    the same two-sample fixture, with the Welch-Satterthwaite degrees of
    freedom every report quotes alongside t.

    Exactness: sample moments are EXACT integers folded from the shared
    count-distribution relation (Σx = Σ v·c, Σx² = Σ v²·c); the variance
    numerator n·Σx² − (Σx)² is cross-multiplied in 128-bit integer space
    (Spark DECIMAL(38,0) / DuckDB HUGEINT — both exact) before ONE cast
    to double, and t/df are a fixed left-associated chain of correctly-
    rounded IEEE ops (divide, multiply, sqrt — sqrt is required correctly
    rounded by IEEE 754), identical on both engines, rounded once.

    Scale: the moment fold is one map-combinable aggregate over the
    |distinct n_chars| relation — the corpus is touched once by the
    shared `_top2_lang_dist` groupBy."""
    dist = _top2_lang_dist(spark, sf_dir)
    mom = dist.groupBy("lang_a", "lang_b").agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("n_chars") * F.col("ca")).cast("long").alias("s_a"),
        F.sum(F.col("n_chars") * F.col("cb")).cast("long").alias("s_b"),
        F.sum(F.col("n_chars") * F.col("n_chars") * F.col("ca"))
        .cast("long")
        .alias("sxx_a"),
        F.sum(F.col("n_chars") * F.col("n_chars") * F.col("cb"))
        .cast("long")
        .alias("sxx_b"),
    )
    se = mom.withColumns(
        {
            "se2_a": (
                F.col("n_a").cast(D38) * F.col("sxx_a").cast(D38)
                - F.col("s_a").cast(D38) * F.col("s_a").cast(D38)
            ).cast("double")
            / F.col("n_a")
            / (F.col("n_a") - 1)
            / F.col("n_a"),
            "se2_b": (
                F.col("n_b").cast(D38) * F.col("sxx_b").cast(D38)
                - F.col("s_b").cast(D38) * F.col("s_b").cast(D38)
            ).cast("double")
            / F.col("n_b")
            / (F.col("n_b") - 1)
            / F.col("n_b"),
        }
    )
    return se.select(
        "lang_a",
        "lang_b",
        "n_a",
        "n_b",
        F.round(F.col("s_a").cast("double") / F.col("n_a"), 6).alias("mean_a"),
        F.round(F.col("s_b").cast("double") / F.col("n_b"), 6).alias("mean_b"),
        F.round(
            (
                F.col("s_a").cast("double") / F.col("n_a")
                - F.col("s_b").cast("double") / F.col("n_b")
            )
            / F.sqrt(F.col("se2_a") + F.col("se2_b")),
            6,
        ).alias("t_welch"),
        F.round(
            (F.col("se2_a") + F.col("se2_b"))
            * (F.col("se2_a") + F.col("se2_b"))
            / (
                F.col("se2_a") * F.col("se2_a") / (F.col("n_a") - 1)
                + F.col("se2_b") * F.col("se2_b") / (F.col("n_b") - 1)
            ),
            4,
        ).alias("df_welch"),
    )


# --------------------------------------------------------------------------
# Two-proportion z-test: weekend vs weekday purchase conversion
# --------------------------------------------------------------------------
_PROP_Z_ORACLE = """
WITH e AS (
  SELECT CASE WHEN ((CAST(ts AS DATE) - DATE '1970-01-01') + 4) % 7 IN (5, 6)
              THEN 'weekend' ELSE 'weekday' END AS segment,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase
  FROM events),
g AS (
  SELECT CAST(sum(CASE WHEN segment = 'weekend' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_1,
         CAST(sum(CASE WHEN segment = 'weekend' THEN is_purchase ELSE 0 END)
              AS BIGINT) AS k_1,
         CAST(sum(CASE WHEN segment = 'weekday' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_2,
         CAST(sum(CASE WHEN segment = 'weekday' THEN is_purchase ELSE 0 END)
              AS BIGINT) AS k_2
  FROM e),
z AS (
  SELECT *,
         (CAST(k_1 AS DOUBLE) / n_1 - CAST(k_2 AS DOUBLE) / n_2)
           / sqrt(CAST(k_1 + k_2 AS DOUBLE) / (n_1 + n_2)
                  * (1 - CAST(k_1 + k_2 AS DOUBLE) / (n_1 + n_2))
                  * (CAST(n_1 + n_2 AS DOUBLE) / CAST(n_1 AS DOUBLE) / n_2))
           AS z_val
  FROM g)
SELECT n_1, k_1, n_2, k_2,
       (1000000 * k_1) // n_1 AS p1_micro,
       (1000000 * k_2) // n_2 AS p2_micro,
       round(z_val, 6) AS z_score,
       abs(z_val) > 1.96 AS reject_95
FROM z
"""


@query("stats_two_proportion_z", oracle=_PROP_Z_ORACLE)
def stats_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (pooled): is the purchase-conversion rate of
    weekend traffic different from weekday traffic? — the A/B-test
    primitive behind every experimentation readout, run here on the
    calendar split the heatmap (`events_hour_of_week_heatmap`) visualizes.

    Exactness: the four cell counts are pure integers (epoch-day
    (d+4)%7 weekend rule — no engine dayofweek convention); proportions
    are emitted as truncating-div micro-units, and z is ONE fixed
    left-associated chain of correctly-rounded IEEE double ops over
    those exact integers (sqrt included), rounded once; the 5% decision
    compares the identical unrounded double on both engines.

    Scale: a single map-combinable conditional-count aggregate over the
    events scan — one row out, no shuffle beyond the 4-counter fold."""
    e = load_table(spark, sf_dir, "events").select(
        F.when(
            ((F.datediff(F.to_date("ts"), F.lit("1970-01-01")) + 4) % 7).isin(
                5, 6
            ),
            F.lit("weekend"),
        )
        .otherwise(F.lit("weekday"))
        .alias("segment"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_purchase"
        ),
    )
    g = e.agg(
        F.sum(F.when(F.col("segment") == "weekend", 1).otherwise(0))
        .cast("long")
        .alias("n_1"),
        F.sum(
            F.when(F.col("segment") == "weekend", F.col("is_purchase")).otherwise(0)
        )
        .cast("long")
        .alias("k_1"),
        F.sum(F.when(F.col("segment") == "weekday", 1).otherwise(0))
        .cast("long")
        .alias("n_2"),
        F.sum(
            F.when(F.col("segment") == "weekday", F.col("is_purchase")).otherwise(0)
        )
        .cast("long")
        .alias("k_2"),
    )
    z = g.withColumn(
        "z_val",
        (
            F.col("k_1").cast("double") / F.col("n_1")
            - F.col("k_2").cast("double") / F.col("n_2")
        )
        / F.sqrt(
            (F.col("k_1") + F.col("k_2")).cast("double")
            / (F.col("n_1") + F.col("n_2"))
            * (
                F.lit(1)
                - (F.col("k_1") + F.col("k_2")).cast("double")
                / (F.col("n_1") + F.col("n_2"))
            )
            * (
                (F.col("n_1") + F.col("n_2")).cast("double")
                / F.col("n_1").cast("double")
                / F.col("n_2")
            )
        ),
    )
    return z.select(
        "n_1",
        "k_1",
        "n_2",
        "k_2",
        F.expr("(1000000 * k_1) div n_1").alias("p1_micro"),
        F.expr("(1000000 * k_2) div n_2").alias("p2_micro"),
        F.round("z_val", 6).alias("z_score"),
        (F.abs(F.col("z_val")) > 1.96).alias("reject_95"),
    )


# --------------------------------------------------------------------------
# Theil-Sen robust trend: median of pairwise monthly-revenue slopes
# --------------------------------------------------------------------------
_THEIL_SEN_ORACLE = f"""
WITH monthly AS (
  SELECT p.p_type,
         CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate) AS BIGINT) AS mo,
         CAST(sum({SQL_REV_DEC}) * 1000000 AS BIGINT) AS rev_micro
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_type, 2),
months AS (
  SELECT p_type, CAST(count(*) AS BIGINT) AS n_months FROM monthly GROUP BY p_type),
pairs AS (
  SELECT a.p_type,
         CAST(b.rev_micro - a.rev_micro AS DOUBLE) / (b.mo - a.mo) / 1000000
           AS slope,
         a.mo AS mo1, b.mo AS mo2
  FROM monthly a JOIN monthly b
    ON a.p_type = b.p_type AND b.mo > a.mo),
ranked AS (
  SELECT p_type, slope,
         row_number() OVER (PARTITION BY p_type ORDER BY slope, mo1, mo2)
           AS rn,
         CAST(count(*) OVER (PARTITION BY p_type) AS BIGINT) AS n_pairs
  FROM pairs)
SELECT r.p_type, m.n_months, r.n_pairs,
       round(r.slope, 6) AS ts_slope
FROM ranked r JOIN months m ON m.p_type = r.p_type
WHERE r.rn = (r.n_pairs + 1) // 2
"""


@query("stats_theil_sen_trend", oracle=_THEIL_SEN_ORACLE)
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per part type: the LOWER MEDIAN of all
    pairwise monthly-revenue slopes — the outlier-resistant twin of
    `part_type_trend`'s least-squares slope (a single promo-spike month
    drags OLS but moves the median of C(n,2) pairwise slopes almost
    nothing; Sen 1968).

    Exactness: monthly revenue folds through the exact DECIMAL path into
    integer micro-units; each pairwise slope is ONE division of exact
    integers (then /1e6), deterministic to the bit, and the lower median
    is selected by the count-crossing rank rule ((n+1)//2) — the selected
    VALUE is order-independent even under slope ties — then rounded once.

    Scale: the pair join is per-p_type over the MONTHLY aggregate —
    |months|² ≈ 80² pairs per type, never corpus-sized; the rank window
    partitions by p_type over that bounded pair relation.  The only
    corpus-wide work is the one monthly groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    monthly = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            "p_type",
            (
                F.year("l_shipdate") * 12 + F.month("l_shipdate")
            ).cast("long").alias("mo"),
        )
        .agg((F.sum(rev_dec()) * 1000000).cast("long").alias("rev_micro"))
        .transform(persist_tracked)
    )
    months = monthly.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_months")
    )
    a = monthly.select(
        "p_type",
        F.col("mo").alias("mo1"),
        F.col("rev_micro").alias("r1"),
    )
    b = monthly.select(
        "p_type",
        F.col("mo").alias("mo2"),
        F.col("rev_micro").alias("r2"),
    )
    pairs = (
        a.join(b, "p_type")
        .filter(F.col("mo2") > F.col("mo1"))
        .select(
            "p_type",
            "mo1",
            "mo2",
            (
                (F.col("r2") - F.col("r1")).cast("double")
                / (F.col("mo2") - F.col("mo1"))
                / 1000000
            ).alias("slope"),
        )
    )
    wr = Window.partitionBy("p_type").orderBy("slope", "mo1", "mo2")
    wc = Window.partitionBy("p_type")
    ranked = pairs.select(
        "p_type",
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n_pairs"),
    )
    return (
        ranked.filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .join(months, "p_type")
        .select(
            "p_type",
            "n_months",
            "n_pairs",
            F.round("slope", 6).alias("ts_slope"),
        )
    )


# --------------------------------------------------------------------------
# Herfindahl-Hirschman supplier concentration per nation
# --------------------------------------------------------------------------
_HHI_ORACLE = f"""
WITH sup_rev AS (
  SELECT s.s_nationkey,
         CAST(sum({SQL_REV_DEC}) * 1000000 AS BIGINT) AS rev_micro
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey),
nat AS (
  SELECT s_nationkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(rev_micro) AS BIGINT) AS total_micro,
         CAST(sum(CAST(rev_micro AS HUGEINT) * rev_micro) AS HUGEINT)
           AS sumsq
  FROM sup_rev GROUP BY s_nationkey)
SELECT n.n_name, t.n_suppliers, t.total_micro,
       round(10000 * CAST(t.sumsq AS DOUBLE)
             / CAST(t.total_micro AS DOUBLE)
             / CAST(t.total_micro AS DOUBLE), 4) AS hhi
FROM nat t JOIN nation n ON n.n_nationkey = t.s_nationkey
"""


@query("supplier_herfindahl", oracle=_HHI_ORACLE)
def supplier_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration per
    nation — HHI = 10000·Σᵢ shareᵢ², the antitrust/sourcing-risk measure
    (10000 = one supplier takes everything; 10000/n = perfect equality).
    Complements `pareto_revenue_concentration`'s cumulative view with the
    single-number concentration index.

    Exactness: per-supplier revenue folds through the exact DECIMAL path
    into integer micro-units; Σrᵢ² is cross-multiplied in 128-bit integer
    space (Spark DECIMAL(38,0) / DuckDB HUGEINT — both exact), and the
    index is ONE fixed left-associated double chain rounded once.

    Scale: one corpus groupBy on (nation, supplier) with map-side
    combine, then a nation-sized rollup; the nation-name attach is a
    fixed-dim broadcast (bounded: 25 nations)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sup_rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg((F.sum(rev_dec()) * 1000000).cast("long").alias("rev_micro"))
    )
    nat = sup_rev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rev_micro").cast("long").alias("total_micro"),
        F.sum(F.col("rev_micro").cast(D38) * F.col("rev_micro").cast(D38))
        .cast(D38)
        .alias("sumsq"),
    )
    return nat.join(
        F.broadcast(n), nat.s_nationkey == n.n_nationkey
    ).select(
        "n_name",
        "n_suppliers",
        "total_micro",
        F.round(
            F.lit(10000)
            * F.col("sumsq").cast("double")
            / F.col("total_micro").cast("double")
            / F.col("total_micro").cast("double"),
            4,
        ).alias("hhi"),
    )


# --------------------------------------------------------------------------
# Order fan-out profile: items-per-order histogram
# --------------------------------------------------------------------------
_FANOUT_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
  FROM lineitem GROUP BY l_orderkey),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_orders FROM per_order)
SELECT p.n_lines,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(p.n_parts) AS BIGINT) AS total_parts,
       (10000 * CAST(count(*) AS BIGINT)) // t.n_orders AS share_bp
FROM per_order p CROSS JOIN tot t
GROUP BY p.n_lines, t.n_orders
"""


@query("orders_fanout_hist", oracle=_FANOUT_ORACLE)
def orders_fanout_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Items-per-order fan-out histogram: how many orders carry 1, 2, …
    line items, with the distinct-part volume per bucket — the join
    fan-out profile that sizes every orderkey-shuffle in the repo (the
    basket self-join's quadratic bound, skew-salting thresholds).

    Scale: one groupBy on the order key (co-partitioned with every
    orderkey join, map-combinable), a second fold onto the
    |max basket size| bucket domain, and a provably-one-row scalar
    broadcast for the share.  Pure integers (truncating-div basis
    points)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    tot = per_order.agg(F.count(F.lit(1)).cast("long").alias("n_orders_t"))
    return (
        per_order.crossJoin(F.broadcast(tot))
        .groupBy("n_lines", "n_orders_t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("n_parts").cast("long").alias("total_parts"),
        )
        .select(
            "n_lines",
            "n_orders",
            "total_parts",
            F.expr("(10000 * n_orders) div n_orders_t").alias("share_bp"),
        )
    )


# --------------------------------------------------------------------------
# Functional-dependency discovery audit
# --------------------------------------------------------------------------
_FD_CANDIDATES = [
    # (table, lhs, rhs)
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderdate", "o_orderstatus"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("part", "p_name", "p_type"),
]


def _fd_oracle() -> str:
    branches = []
    for tbl, lhs, rhs in _FD_CANDIDATES:
        branches.append(
            f"""
  SELECT '{lhs} -> {rhs}' AS fd, '{tbl}' AS table_name,
         CAST(count(*) AS BIGINT) AS n_lhs,
         CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS violating_lhs,
         CAST(sum(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END) AS BIGINT)
           AS violating_rows,
         CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS BOOLEAN)
           AS holds
  FROM (SELECT {lhs}, CAST(count(DISTINCT {rhs}) AS BIGINT) AS n_rhs,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM {tbl} WHERE {lhs} IS NOT NULL GROUP BY {lhs}) g"""
        )
    return "SELECT * FROM (" + "\n  UNION ALL".join(branches) + ") t"


@query("dq_fd_audit", oracle=_fd_oracle())
def dq_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery audit: for each candidate FD
    lhs → rhs, how many LHS values map to MORE than one distinct RHS
    (violating groups and the row mass inside them) — approximate-FD
    profiling (the Tane/Metanome workload) that complements
    `dq_constraint_audit`'s declared constraints with DISCOVERED
    structure: keys that almost hold are normalization and
    dedup-canonicalization candidates.

    Scale: each candidate is one (lhs → count distinct rhs) groupBy with
    map-side partials, folded to a single report row — candidates over
    different tables are independent union branches that run
    concurrently on a cluster.  Pure integer counts."""
    frames = []
    for tbl, lhs, rhs in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        g = (
            t.filter(F.col(lhs).isNotNull())
            .groupBy(lhs)
            .agg(
                F.countDistinct(rhs).alias("n_rhs"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        frames.append(
            g.agg(
                F.lit(f"{lhs} -> {rhs}").alias("fd"),
                F.lit(tbl).alias("table_name"),
                F.count(F.lit(1)).cast("long").alias("n_lhs"),
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
                .cast("long")
                .alias("violating_lhs"),
                F.sum(F.when(F.col("n_rhs") > 1, F.col("n_rows")).otherwise(0))
                .cast("long")
                .alias("violating_rows"),
            ).withColumn(
                "holds", F.col("violating_lhs") == 0
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


# --------------------------------------------------------------------------
# Autocorrelation of daily revenue at standard seasonal lags
# --------------------------------------------------------------------------
_ACF_LAGS = (1, 7, 28)

_ACF_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 1000000 AS BIGINT)
           AS rev_micro
  FROM orders GROUP BY 1),
lags AS (SELECT unnest([{", ".join(str(l) for l in _ACF_LAGS)}]) AS lag),
pairs AS (
  SELECT l.lag,
         a.rev_micro AS x, b.rev_micro AS y
  FROM daily a CROSS JOIN lags l
  JOIN daily b ON b.day = a.day + l.lag),
mom AS (
  SELECT lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM pairs GROUP BY lag)
SELECT lag, n,
       round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                * sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))),
             6) AS acf
FROM mom ORDER BY lag
"""


@query("orders_autocorrelation", oracle=_ACF_ORACLE)
def orders_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily-revenue series at the standard
    seasonal lags {_ACF_LAGS} — the ACF read that decides whether the
    forecasting family (`orders_ewma_forecast`, `orders_seasonality_index`)
    should model weekly/monthly structure.  Pearson r between the series
    and its lag-shifted self, pairing only days whose lag partner exists
    (the standard irregular-series convention, identical on both engines).

    Exactness: daily revenue folds through the DECIMAL path into integer
    micro-units; all five moments are exact integers with the cross
    products in 128-bit space (Spark DECIMAL(38,0) / DuckDB HUGEINT), and
    r is ONE fixed chain — two correctly-rounded sqrts, one multiply, one
    divide — rounded once.

    Scale: the series is calendar-bounded (one row per day), so the
    lag join is a bounded broadcast-sized relation joined to itself on
    day+lag (equi-join); the corpus is touched once by the daily
    groupBy."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("day")
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(25,6)")) * 1000000)
            .cast("long")
            .alias("rev_micro")
        )
        .transform(persist_tracked)
    )
    # Literal-plan lag relation (Range + explode, not createDataFrame):
    # the broadcast-invariant suite classifies it as provably bounded.
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(l) for l in _ACF_LAGS])).alias("lag")
    )
    a = daily.select("day", F.col("rev_micro").alias("x"))
    b = daily.select(F.col("day").alias("day_b"), F.col("rev_micro").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("day_b") == F.col("day") + F.col("lag"))
    )
    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(D38) * F.col("y").cast(D38)).cast(D38).alias("sxy"),
        F.sum(F.col("x").cast(D38) * F.col("x").cast(D38)).cast(D38).alias("sxx"),
        F.sum(F.col("y").cast(D38) * F.col("y").cast(D38)).cast(D38).alias("syy"),
    )
    num = (
        F.col("n").cast(D38) * F.col("sxy")
        - F.col("sx").cast(D38) * F.col("sy").cast(D38)
    ).cast("double")
    den_x = (
        F.col("n").cast(D38) * F.col("sxx")
        - F.col("sx").cast(D38) * F.col("sx").cast(D38)
    ).cast("double")
    den_y = (
        F.col("n").cast(D38) * F.col("syy")
        - F.col("sy").cast(D38) * F.col("sy").cast(D38)
    ).cast("double")
    return mom.select(
        "lag",
        "n",
        F.round(num / (F.sqrt(den_x) * F.sqrt(den_y)), 6).alias("acf"),
    ).orderBy("lag")


# --------------------------------------------------------------------------
# Discount-quantity elasticity per brand (Pearson r + OLS slope)
# --------------------------------------------------------------------------
_ELASTICITY_ORACLE = """
WITH pts AS (
  SELECT p.p_brand,
         CAST(round(l.l_discount * 100, 0) AS BIGINT) AS d,
         CAST(l.l_quantity AS BIGINT) AS q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
mom AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(d) AS BIGINT) AS sd,
         CAST(sum(q) AS BIGINT) AS sq,
         CAST(sum(CAST(d AS HUGEINT) * q) AS HUGEINT) AS sdq,
         CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd,
         CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq
  FROM pts GROUP BY p_brand)
SELECT p_brand, n,
       round(CAST(n * sdq - CAST(sd AS HUGEINT) * sq AS DOUBLE)
             / (sqrt(CAST(n * sdd - CAST(sd AS HUGEINT) * sd AS DOUBLE))
                * sqrt(CAST(n * sqq - CAST(sq AS HUGEINT) * sq AS DOUBLE))),
             6) AS pearson_r,
       round(CAST(n * sdq - CAST(sd AS HUGEINT) * sq AS DOUBLE)
             / CAST(n * sdd - CAST(sd AS HUGEINT) * sd AS DOUBLE),
             6) AS slope_qty_per_pt
FROM mom
"""


@query("lineitem_discount_elasticity", oracle=_ELASTICITY_ORACLE)
def lineitem_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does a deeper discount move more units?  Per-brand Pearson
    correlation AND least-squares slope of quantity on discount points —
    the pricing-elasticity read behind promo planning, and the
    per-category companion to `part_type_trend`'s time trend.

    Exactness: discount becomes integer points (×100 of an
    exactly-representable 2-decimal double — one multiply + round,
    identical both engines), quantity is already integral; the five
    moments are exact integers with cross products in 128-bit space, and
    r/slope are fixed correctly-rounded chains rounded once.

    Scale: one fact-scan groupBy on p_brand (bounded domain) after a
    partkey equi-join — map-side combinable moments, no window, no
    second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pts = li.join(p, li.l_partkey == p.p_partkey).select(
        "p_brand",
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    mom = pts.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("d").cast(D38) * F.col("q").cast(D38)).cast(D38).alias("sdq"),
        F.sum(F.col("d").cast(D38) * F.col("d").cast(D38)).cast(D38).alias("sdd"),
        F.sum(F.col("q").cast(D38) * F.col("q").cast(D38)).cast(D38).alias("sqq"),
    )
    num = (
        F.col("n").cast(D38) * F.col("sdq")
        - F.col("sd").cast(D38) * F.col("sq").cast(D38)
    ).cast("double")
    den_d = (
        F.col("n").cast(D38) * F.col("sdd")
        - F.col("sd").cast(D38) * F.col("sd").cast(D38)
    ).cast("double")
    den_q = (
        F.col("n").cast(D38) * F.col("sqq")
        - F.col("sq").cast(D38) * F.col("sq").cast(D38)
    ).cast("double")
    return mom.select(
        "p_brand",
        "n",
        F.round(num / (F.sqrt(den_d) * F.sqrt(den_q)), 6).alias("pearson_r"),
        F.round(num / den_d, 6).alias("slope_qty_per_pt"),
    )


# --------------------------------------------------------------------------
# Spearman rank correlation WITHOUT per-row ranks (count-distribution form)
# --------------------------------------------------------------------------
_SPEARMAN_ORACLE = """
WITH pts AS (
  SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem),
joint AS (SELECT d, q, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY d, q),
md AS (
  SELECT d, CAST(2 * (sum(c) OVER (ORDER BY d) - c) + c + 1 AS BIGINT) AS rd2
  FROM (SELECT d, CAST(sum(c) AS BIGINT) AS c FROM joint GROUP BY d) t),
mq AS (
  SELECT q, CAST(2 * (sum(c) OVER (ORDER BY q) - c) + c + 1 AS BIGINT) AS rq2
  FROM (SELECT q, CAST(sum(c) AS BIGINT) AS c FROM joint GROUP BY q) t),
mom AS (
  SELECT CAST(sum(j.c) AS BIGINT) AS n,
         CAST(sum(CAST(j.c AS HUGEINT) * md.rd2) AS HUGEINT) AS sx,
         CAST(sum(CAST(j.c AS HUGEINT) * mq.rq2) AS HUGEINT) AS sy,
         CAST(sum(CAST(j.c AS HUGEINT) * md.rd2 * mq.rq2) AS HUGEINT) AS sxy,
         CAST(sum(CAST(j.c AS HUGEINT) * md.rd2 * md.rd2) AS HUGEINT) AS sxx,
         CAST(sum(CAST(j.c AS HUGEINT) * mq.rq2 * mq.rq2) AS HUGEINT) AS syy
  FROM joint j JOIN md ON md.d = j.d JOIN mq ON mq.q = j.q)
SELECT n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS spearman_rho
FROM mom
"""


@query("stats_spearman_rho", oracle=_SPEARMAN_ORACLE)
def stats_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between discount and quantity — the
    monotone-association reading that is robust where
    `lineitem_discount_elasticity`'s Pearson assumes linearity — computed
    WITHOUT ever ranking the fact table: tie-averaged ranks come from the
    cumulative MARGINAL count distributions (average rank of value v =
    cum_below + (c+1)/2; doubling clears the half → integer 2r), and the
    Pearson-on-ranks moments fold over the bounded JOINT (d, q) cell
    relation weighted by cell counts.  The |discounts|×|quantities| ≈ 550
    cells replace millions of per-row ranks — at 100 TB the global sort a
    naive Spearman needs simply never happens.

    Exactness: 2r values are integers; all weighted moments accumulate in
    128-bit integer space (Spark DECIMAL(38,0) / DuckDB HUGEINT); ρ is
    one fixed correctly-rounded chain, rounded once."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    joint = pts.groupBy("d", "q").agg(F.count(F.lit(1)).alias("c")).transform(
        persist_tracked
    )
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    md = (
        joint.groupBy("d")
        .agg(F.sum("c").alias("cd"))
        .select(
            "d",
            (2 * (F.sum("cd").over(wd) - F.col("cd")) + F.col("cd") + 1)
            .cast("long")
            .alias("rd2"),
        )
    )
    wq = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mq = (
        joint.groupBy("q")
        .agg(F.sum("c").alias("cq"))
        .select(
            "q",
            (2 * (F.sum("cq").over(wq) - F.col("cq")) + F.col("cq") + 1)
            .cast("long")
            .alias("rq2"),
        )
    )
    mom = (
        joint.join(md, "d")
        .join(mq, "q")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.col("c").cast(D38) * F.col("rd2").cast(D38)).cast(D38).alias("sx"),
            F.sum(F.col("c").cast(D38) * F.col("rq2").cast(D38)).cast(D38).alias("sy"),
            F.sum(
                F.col("c").cast(D38) * F.col("rd2").cast(D38) * F.col("rq2").cast(D38)
            )
            .cast(D38)
            .alias("sxy"),
            F.sum(
                F.col("c").cast(D38) * F.col("rd2").cast(D38) * F.col("rd2").cast(D38)
            )
            .cast(D38)
            .alias("sxx"),
            F.sum(
                F.col("c").cast(D38) * F.col("rq2").cast(D38) * F.col("rq2").cast(D38)
            )
            .cast(D38)
            .alias("syy"),
        )
    )
    num = (F.col("n").cast(D38) * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den_x = (F.col("n").cast(D38) * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den_y = (F.col("n").cast(D38) * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return mom.select(
        "n",
        F.round(num / (F.sqrt(den_x) * F.sqrt(den_y)), 6).alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# Kendall tau-b over the bounded joint-cell relation
# --------------------------------------------------------------------------
_KENDALL_ORACLE = """
WITH pts AS (
  SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem),
joint AS (SELECT d, q, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY d, q),
cellpairs AS (
  SELECT CAST(sum(CASE WHEN b.q > a.q THEN CAST(a.c AS HUGEINT) * b.c
                       ELSE 0 END) AS HUGEINT) AS nc,
         CAST(sum(CASE WHEN b.q < a.q THEN CAST(a.c AS HUGEINT) * b.c
                       ELSE 0 END) AS HUGEINT) AS nd
  FROM joint a JOIN joint b ON b.d > a.d),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS t_cell
  FROM joint),
tied AS (
  SELECT (SELECT CAST(sum(CAST(cd AS HUGEINT) * (cd - 1)) AS HUGEINT)
          FROM (SELECT sum(c) AS cd FROM joint GROUP BY d) t) AS t_d2,
         (SELECT CAST(sum(CAST(cq AS HUGEINT) * (cq - 1)) AS HUGEINT)
          FROM (SELECT sum(c) AS cq FROM joint GROUP BY q) t) AS t_q2)
SELECT t.n, CAST(cp.nc AS BIGINT) AS n_concordant,
       CAST(cp.nd AS BIGINT) AS n_discordant,
       round(CAST(cp.nc - cp.nd AS DOUBLE)
             / (sqrt(CAST(CAST(t.n AS HUGEINT) * (t.n - 1) - ti.t_d2
                          AS DOUBLE) / 2)
                * sqrt(CAST(CAST(t.n AS HUGEINT) * (t.n - 1) - ti.t_q2
                            AS DOUBLE) / 2)), 6) AS kendall_tau_b
FROM cellpairs cp CROSS JOIN tot t CROSS JOIN tied ti
"""


@query("stats_kendall_tau", oracle=_KENDALL_ORACLE)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between discount and quantity — the concordance view of
    the same monotone association `stats_spearman_rho` measures, with the
    tie correction retail data needs (both columns are heavily tied).
    Naive Kendall is O(n²) over ROWS; here concordant/discordant mass
    folds over PAIRS OF JOINT CELLS (c_a·c_b per ordered cell pair) — the
    ~550-cell relation makes the quadratic term ~300k products, constant
    in corpus size, and the tie terms n_1/n_2 come from the marginals in
    closed form (Σc(c−1), halves cleared by keeping everything doubled
    until the final single chain).

    Exactness: all pair masses live in 128-bit integer space; τ-b is one
    fixed chain (two sqrts of exact-integer-derived doubles), rounded
    once."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    joint = pts.groupBy("d", "q").agg(F.count(F.lit(1)).alias("c")).transform(
        persist_tracked
    )
    a = joint.select(
        F.col("d").alias("da"), F.col("q").alias("qa"), F.col("c").alias("ca")
    )
    b = joint.select(
        F.col("d").alias("db"), F.col("q").alias("qb"), F.col("c").alias("cb")
    )
    cellpairs = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(
                    F.col("qb") > F.col("qa"),
                    F.col("ca").cast(D38) * F.col("cb").cast(D38),
                ).otherwise(F.lit(0).cast(D38))
            )
            .cast(D38)
            .alias("nc"),
            F.sum(
                F.when(
                    F.col("qb") < F.col("qa"),
                    F.col("ca").cast(D38) * F.col("cb").cast(D38),
                ).otherwise(F.lit(0).cast(D38))
            )
            .cast(D38)
            .alias("nd"),
        )
    )
    tot = joint.agg(F.sum("c").cast("long").alias("n"))
    t_d2 = (
        joint.groupBy("d")
        .agg(F.sum("c").alias("cd"))
        .agg(
            F.sum(F.col("cd").cast(D38) * (F.col("cd") - 1).cast(D38))
            .cast(D38)
            .alias("t_d2")
        )
    )
    t_q2 = (
        joint.groupBy("q")
        .agg(F.sum("c").alias("cq"))
        .agg(
            F.sum(F.col("cq").cast(D38) * (F.col("cq") - 1).cast(D38))
            .cast(D38)
            .alias("t_q2")
        )
    )
    return (
        cellpairs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(t_d2))
        .crossJoin(F.broadcast(t_q2))
        .select(
            "n",
            F.col("nc").cast("long").alias("n_concordant"),
            F.col("nd").cast("long").alias("n_discordant"),
            F.round(
                (F.col("nc") - F.col("nd")).cast("double")
                / (
                    F.sqrt(
                        (
                            F.col("n").cast(D38) * (F.col("n") - 1).cast(D38)
                            - F.col("t_d2")
                        ).cast("double")
                        / 2
                    )
                    * F.sqrt(
                        (
                            F.col("n").cast(D38) * (F.col("n") - 1).cast(D38)
                            - F.col("t_q2")
                        ).cast("double")
                        / 2
                    )
                ),
                6,
            ).alias("kendall_tau_b"),
        )
    )


# --------------------------------------------------------------------------
# Ratio-to-parent rollup (month share of quarter, quarter share of year)
# --------------------------------------------------------------------------
_RATIO_PARENT_ORACLE = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) AS INT) AS yr,
         CAST(quarter(o_orderdate) AS INT) AS qtr,
         CAST(month(o_orderdate) AS INT) AS mon,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100 AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1, 2, 3)
SELECT yr, qtr, mon, rev_cents,
       (10000 * rev_cents) // CAST(sum(rev_cents) OVER
         (PARTITION BY yr, qtr) AS BIGINT) AS pct_of_quarter_bp,
       (10000 * rev_cents) // CAST(sum(rev_cents) OVER
         (PARTITION BY yr) AS BIGINT) AS pct_of_year_bp,
       (10000 * CAST(sum(rev_cents) OVER (PARTITION BY yr, qtr) AS BIGINT))
         // CAST(sum(rev_cents) OVER (PARTITION BY yr) AS BIGINT)
         AS quarter_of_year_bp
FROM monthly
"""


@query("orders_ratio_to_parent", oracle=_RATIO_PARENT_ORACLE)
def orders_ratio_to_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent OLAP report: each month's revenue share of its
    quarter and year, and each quarter's share of its year — the
    hierarchy-percentage view (MDX's RatioToParent, Tableau's "percent of
    total" pane) that `rollup_acctbal`'s subtotal rows don't express.

    Plan: ONE monthly aggregate (calendar-bounded), then window sums over
    that bounded relation at two hierarchy levels — the corpus is scanned
    once and every window partitions by calendar keys (parallel groups,
    never a global frame).  Exactness: revenue folds through the DECIMAL
    path into integer micro-units; shares are truncating-div basis
    points — pure integers end to end (CENTS, not micro-units: yearly
    totals × the 10000 bp factor must clear int64 — micro-units overflow
    at sf0.1, observed live)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.month("o_orderdate").cast("int").alias("mon"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(25,6)")) * 100)
        .cast("long")
        .alias("rev_cents")
    )
    wq = Window.partitionBy("yr", "qtr")
    wy = Window.partitionBy("yr")
    return monthly.select(
        "yr",
        "qtr",
        "mon",
        "rev_cents",
        F.expr("10000 * rev_cents").alias("__num"),
        F.sum("rev_cents").over(wq).cast("long").alias("__qt"),
        F.sum("rev_cents").over(wy).cast("long").alias("__yt"),
    ).select(
        "yr",
        "qtr",
        "mon",
        "rev_cents",
        F.expr("__num div __qt").alias("pct_of_quarter_bp"),
        F.expr("__num div __yt").alias("pct_of_year_bp"),
        F.expr("(10000 * __qt) div __yt").alias("quarter_of_year_bp"),
    )


# --------------------------------------------------------------------------
# Month-over-month growth with explicit calendar-gap handling
# --------------------------------------------------------------------------
_MOM_GROWTH_ORACLE = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mo,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100 AS BIGINT)
           AS rev_cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1),
lagged AS (
  SELECT mo, rev_cents, n_orders,
         lag(mo) OVER (ORDER BY mo) AS prev_mo,
         lag(rev_cents) OVER (ORDER BY mo) AS prev_rev
  FROM monthly)
SELECT mo, n_orders, rev_cents,
       CASE WHEN prev_mo = mo - 1
            THEN (10000 * (rev_cents - prev_rev)) // prev_rev
       END AS growth_bp,
       CAST(prev_mo IS NOT NULL AND prev_mo <> mo - 1 AS BOOLEAN)
         AS gap_before
FROM lagged
"""


@query("orders_mom_growth", oracle=_MOM_GROWTH_ORACLE)
def orders_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth in basis points, with EXPLICIT
    calendar-gap handling: a month following a missing month reports NULL
    growth and a gap flag instead of silently comparing against the last
    observed month — the correctness detail naive LAG dashboards get
    wrong.  Complements `orders_seasonality_index` (level) and
    `orders_autocorrelation` (structure) with the first-difference view.

    One calendar-bounded monthly aggregate, one LAG window over that
    bounded relation, pure integers (cents, truncating-div bp)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mo")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(25,6)")) * 100)
        .cast("long")
        .alias("rev_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    wm = Window.orderBy("mo")
    lagged = monthly.select(
        "mo",
        "n_orders",
        "rev_cents",
        F.lag("mo").over(wm).alias("prev_mo"),
        F.lag("rev_cents").over(wm).alias("prev_rev"),
    )
    return lagged.select(
        "mo",
        "n_orders",
        "rev_cents",
        F.when(
            F.col("prev_mo") == F.col("mo") - 1,
            F.expr("(10000 * (rev_cents - prev_rev)) div prev_rev"),
        ).alias("growth_bp"),
        (
            F.col("prev_mo").isNotNull() & (F.col("prev_mo") != F.col("mo") - 1)
        ).alias("gap_before"),
    )


# --------------------------------------------------------------------------
# Frequent part triples (Apriori step-3 over bounded baskets)
# --------------------------------------------------------------------------
TRIPLE_MIN_SUPPORT = 2
TRIPLE_TOP_K = 50

_TRIPLES_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
po AS (
  SELECT a.l_orderkey AS ok, a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
fp AS (
  SELECT part_a, part_b FROM po GROUP BY part_a, part_b
  HAVING count(*) >= {TRIPLE_MIN_SUPPORT}),
cand AS (
  SELECT po.ok, po.part_a, po.part_b
  FROM po JOIN fp USING (part_a, part_b)),
tri AS (
  SELECT cand.part_a, cand.part_b, c.l_partkey AS part_c,
         CAST(count(*) AS BIGINT) AS support
  FROM cand JOIN li c
    ON c.l_orderkey = cand.ok AND c.l_partkey > cand.part_b
  GROUP BY 1, 2, 3
  HAVING count(*) >= {TRIPLE_MIN_SUPPORT})
SELECT part_a, part_b, part_c, support
FROM tri
ORDER BY support DESC, part_a, part_b, part_c
LIMIT {TRIPLE_TOP_K}
"""


@query("basket_part_triples", oracle=_TRIPLES_ORACLE)
def basket_part_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets (the Apriori k=3 step that
    follows `basket_part_pairs`' k=2): top-{TRIPLE_TOP_K} part triples by
    co-occurrence support.

    Scale — Apriori downward closure, applied identically on both
    engines because it is RESULT-IDENTICAL (every triple with support ≥ s
    has all three sub-pairs at support ≥ s): pair instances are generated
    by one orderkey self-equi-join (quadratic only in basket size), the
    third item extends ONLY instances of FREQUENT pairs, so the cubic
    candidate space collapses to the frequent-pair support mass
    (measured: the unpruned DuckDB oracle took 207 s at sf0.1; pruned,
    seconds — and the Spark plan shrinks the same way).  All joins key on
    orderkey (co-partitioned, one shuffle); top-k is
    TakeOrderedAndProject.  Pure integers."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .transform(persist_tracked)
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    po = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .transform(persist_tracked)
    )
    fp = (
        po.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_support"))
        .filter(F.col("pair_support") >= TRIPLE_MIN_SUPPORT)
        .select("part_a", "part_b")
    )
    cand = po.join(fp, ["part_a", "part_b"])
    c = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_c"))
    tri = (
        cand.join(c, "ok")
        .filter(F.col("part_c") > F.col("part_b"))
        .groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= TRIPLE_MIN_SUPPORT)
    )
    return tri.orderBy(
        F.desc("support"), "part_a", "part_b", "part_c"
    ).limit(TRIPLE_TOP_K)


# --------------------------------------------------------------------------
# Dual-sourcing audit: per-part supplier count and unit-price spread
# --------------------------------------------------------------------------
_DUAL_SOURCING_ORACLE = """
WITH unit AS (
  SELECT l_partkey, l_suppkey,
         (CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) * 1000000
               AS HUGEINT)
          // CAST(sum(CAST(l_quantity AS BIGINT)) AS HUGEINT)) AS unit_micro
  FROM lineitem GROUP BY l_partkey, l_suppkey),
per_part AS (
  SELECT l_partkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(min(unit_micro) AS BIGINT) AS min_unit_micro,
         CAST(max(unit_micro) AS BIGINT) AS max_unit_micro
  FROM unit GROUP BY l_partkey)
SELECT l_partkey, n_suppliers, min_unit_micro, max_unit_micro,
       (10000 * (max_unit_micro - min_unit_micro)) // min_unit_micro
         AS spread_bp
FROM per_part WHERE n_suppliers >= 2
"""


@query("part_dual_sourcing", oracle=_DUAL_SOURCING_ORACLE)
def part_dual_sourcing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-sourcing audit: for every part bought from ≥ 2 suppliers, the
    supplier count and the spread between the cheapest and priciest
    effective unit price — the procurement-risk / negotiation-leverage
    report (single-sourced parts are supply risks; wide spreads are
    renegotiation targets).

    Exactness: the effective unit price is ONE truncating integer
    division of exact totals (micro-revenue // total quantity) — never a
    per-row double ratio averaged; spreads are truncating-div basis
    points.  Scale: two map-combinable groupBys, (part, supplier) then
    part — co-keyed shuffles, no joins, no windows."""
    li = load_table(spark, sf_dir, "lineitem")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            (F.sum(F.col("l_extendedprice").cast("decimal(25,6)")) * 1000000)
            .cast(D38)
        ).alias("rev_micro"),
        F.sum(F.col("l_quantity").cast("long")).cast(D38).alias("qty"),
    ).select(
        "l_partkey",
        F.expr("rev_micro div qty").cast("long").alias("unit_micro"),
    )
    per_part = unit.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.min("unit_micro").alias("min_unit_micro"),
        F.max("unit_micro").alias("max_unit_micro"),
    )
    return per_part.filter(F.col("n_suppliers") >= 2).select(
        "l_partkey",
        "n_suppliers",
        "min_unit_micro",
        "max_unit_micro",
        F.expr(
            "(10000 * (max_unit_micro - min_unit_micro)) div min_unit_micro"
        ).alias("spread_bp"),
    )


# --------------------------------------------------------------------------
# Year-over-year growth (lag-12 with calendar-gap handling)
# --------------------------------------------------------------------------
_YOY_ORACLE = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mo,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100 AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1)
SELECT a.mo, a.rev_cents,
       b.rev_cents AS rev_cents_prev_year,
       (10000 * (a.rev_cents - b.rev_cents)) // b.rev_cents AS yoy_bp
FROM monthly a JOIN monthly b ON b.mo = a.mo - 12
"""


@query("orders_yoy_growth", oracle=_YOY_ORACLE)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per month in basis points — the
    seasonality-free growth read (`orders_mom_growth`'s lag-1 is noisy
    under weekly/monthly cycles; lag-12 compares like with like).
    Months without a measured same-month-last-year simply don't appear —
    the self-equi-join on mo−12 IS the calendar-gap handling (an OUTER
    lag would silently compare against the wrong month).

    One calendar-bounded monthly aggregate self-joined on the shifted
    key; pure integers (cents, truncating-div bp)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mo")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(25,6)")) * 100)
        .cast("long")
        .alias("rev_cents")
    ).transform(persist_tracked)
    a = monthly
    b = monthly.select(
        (F.col("mo") + 12).alias("mo"),
        F.col("rev_cents").alias("rev_cents_prev_year"),
    )
    return a.join(b, "mo").select(
        "mo",
        "rev_cents",
        "rev_cents_prev_year",
        F.expr(
            "(10000 * (rev_cents - rev_cents_prev_year))"
            " div rev_cents_prev_year"
        ).alias("yoy_bp"),
    )


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test on daily revenue vs its median
# --------------------------------------------------------------------------
_RUNS_TEST_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100 AS BIGINT)
           AS rev
  FROM orders GROUP BY 1),
dist AS (SELECT rev, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY rev),
med AS (
  SELECT CAST(min(rev) AS BIGINT) AS median_rev FROM (
    SELECT rev, sum(c) OVER (ORDER BY rev) AS cum,
           sum(c) OVER () AS n
    FROM dist) t
  WHERE 2 * cum >= n),
signs AS (
  SELECT d.day, CAST(d.rev > m.median_rev AS INT) AS above
  FROM daily d CROSS JOIN med m WHERE d.rev <> m.median_rev),
flagged AS (
  SELECT above,
         CASE WHEN lag(above) OVER (ORDER BY day) IS DISTINCT FROM above
              THEN 1 ELSE 0 END AS is_new
  FROM signs),
stats AS (
  SELECT CAST(sum(is_new) AS BIGINT) AS r,
         CAST(sum(above) AS BIGINT) AS n1,
         CAST(sum(1 - above) AS BIGINT) AS n2
  FROM flagged)
SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
       round((r - (CAST(2 AS DOUBLE) * n1 * n2 / (n1 + n2) + 1))
             / sqrt(CAST(2 AS DOUBLE) * n1 * n2
                    * (2 * CAST(n1 AS DOUBLE) * n2 - n1 - n2)
                    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                       * (n1 + n2 - 1))), 6) AS z_runs
FROM stats
"""


@query("stats_runs_test", oracle=_RUNS_TEST_ORACLE)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test: is the daily-revenue series RANDOM around
    its median, or does it trend/cycle?  Counts maximal runs of
    above/below-median days (median-equal days dropped, the standard
    rule; the exact lower median comes from the count-crossing rule) and
    standardizes against the null mean 2n₁n₂/(n₁+n₂)+1 — too few runs ⇒
    trending (the CUSUM/ACF finding, read nonparametrically), too many ⇒
    oscillation.

    Exactness: run counts and n₁/n₂ are pure integers; z is one fixed
    left-associated chain of correctly-rounded double ops (one sqrt),
    rounded once.  Scale: one calendar-bounded daily aggregate; the
    median-crossing cumulative runs on the two-phase distributed prefix
    scan; the only remaining unpartitioned window is the LAG over the
    day series (time-domain-bounded)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("day")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(25,6)")) * 100)
        .cast("long")
        .alias("rev")
    ).transform(persist_tracked)
    dist = persist_tracked(
        daily.groupBy("rev").agg(F.count(F.lit(1)).alias("c")),
        StorageLevel.MEMORY_AND_DISK,
    )
    tot = dist.agg(F.sum("c").alias("n"))
    med = (
        with_global_order(
            dist, [("rev", True)], cums=[(F.col("c"), "cum")], pos=None
        )
        .crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cum") >= F.col("n"))
        .agg(F.min("rev").cast("long").alias("median_rev"))
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("median_rev"))
        .select("day", (F.col("rev") > F.col("median_rev")).cast("int").alias("above"))
    )
    wd = Window.orderBy("day")
    flagged = signs.select(
        "above",
        F.when(
            F.lag("above").over(wd).isNull()
            | (F.lag("above").over(wd) != F.col("above")),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    stats = flagged.agg(
        F.sum("is_new").cast("long").alias("r"),
        F.sum("above").cast("long").alias("n1"),
        F.sum(1 - F.col("above")).cast("long").alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    mu = F.lit(2.0) * F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")) + 1
    var = (
        F.lit(2.0)
        * F.col("n1")
        * F.col("n2")
        * (2 * n1d * F.col("n2") - F.col("n1") - F.col("n2"))
        / (
            (F.col("n1") + F.col("n2")).cast("double")
            * (F.col("n1") + F.col("n2"))
            * (F.col("n1") + F.col("n2") - 1)
        )
    )
    return stats.select(
        F.col("r").alias("n_runs"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.round((F.col("r") - mu) / F.sqrt(var), 6).alias("z_runs"),
    )
