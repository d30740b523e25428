"""Event-sequence analytics: ordered-behavior operators over the event log.

Markov transition matrices, inter-arrival distributions, engagement
concentration (Gini), within-session co-occurrence lift, and user-lifecycle
rollups — the sequence-mining workloads a product-analytics warehouse runs
beside funnels/retention (which live in `relational_ext.py` / `mining.py`).
No counterpart in the reference (a table generator, `Main.java`); mandated
by the full-surface goal (SURVEY.md §2.7/§2.8) and exercising shapes the
existing pack doesn't: per-key ordered LEAD pairs, a global ordered rank
over a pre-aggregated relation, and a bounded within-group self-join.

Engine-exactness follows repo policy (see `mining.py` header): counts and
date/epoch arithmetic are integers; probabilities are integer micro-units
via a single `div`; any double ratio is one fixed-parenthesization
multiply/divide chain rounded once; cross-row double accumulation goes
through the DECIMAL helpers (`dsum`/`davg`).

Scale posture: every window is partitioned by user_id (millions of
parallel partitions); rollup outputs are bounded by small domains
(|event_type|² transitions, digit buckets, calendar weeks).  Rank-based
statistics that are tie-invariant (`events_gini_concentration`) fold the
COUNT DISTRIBUTION in closed form instead of ranking users — the only
unpartitioned window runs over |distinct count values| rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from iceberg_table_generator_spark.functions.cache import persist_tracked
from iceberg_table_generator_spark.functions.sessions import SESSION_GAP_SECONDS
from iceberg_table_generator_spark.operators.relational import D38, davg, sql_davg
from iceberg_table_generator_spark.functions.json import props_k
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# --------------------------------------------------------------------------
_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events),
t AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n_transitions
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type),
row_tot AS (
  SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS n_from
  FROM t GROUP BY from_type)
SELECT t.from_type, t.to_type, t.n_transitions, r.n_from,
       CAST((t.n_transitions * 1000000) // r.n_from AS BIGINT) AS prob_micro
FROM t JOIN row_tot r USING (from_type)
"""


@query("events_markov_transitions", oracle=_MARKOV_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    ordered pair of consecutive events by the same user, the transition
    count and probability (integer micro-units — exact on both engines).

    The output is |event_type|² rows regardless of event volume, so the
    final aggregate is a map-side-combinable shuffle onto a tiny domain.
    The LEAD window shuffles once on user_id and never materializes more
    than one following row per event — O(|E|) total, embarrassingly
    parallel across users.  Probability uses a single integer `div`
    (count × 1e6 fits int64 up to ~9e12 transitions per from-state;
    beyond that the micro-unit scale itself saturates first)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    # Persist the |types|²-row aggregate: it feeds both the final join and
    # row_tot — without it the LEAD window + corpus scan run twice (plan
    # audit showed two FileScans).
    t = (
        seq.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .transform(persist_tracked)
    )
    row_tot = t.groupBy("from_type").agg(F.sum("n_transitions").alias("n_from"))
    # No broadcast hint: row_tot's |event_type| domain is small in practice
    # but not provable by construction (the invariant suite's bar) — both
    # join sides are ≤ |types|² rows, so the shuffle is trivial and AQE
    # upgrades it to a broadcast at runtime from observed sizes.
    return t.join(row_tot, "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        "n_from",
        F.expr("(n_transitions * 1000000) div n_from").alias("prob_micro"),
    )


# --------------------------------------------------------------------------
# Inter-arrival time distribution (order-of-magnitude histogram)
# --------------------------------------------------------------------------
_INTERARRIVAL_ORACLE = f"""
WITH gaps AS (
  SELECT user_id,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap_s
  FROM events),
g AS (SELECT gap_s FROM gaps WHERE gap_s IS NOT NULL)
SELECT CAST(length(CAST(gap_s AS VARCHAR)) AS INT) AS magnitude,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s,
       {sql_davg('gap_s')} AS avg_gap_s
FROM g GROUP BY magnitude
"""


@query("events_interarrival_hist", oracle=_INTERARRIVAL_ORACLE)
def events_interarrival_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-user inter-arrival times, bucketed by decimal
    order of magnitude (digit count of the gap in seconds — an integer
    bucket rule both engines compute identically, unlike float log10).

    The LAG window is the same user_id-partitioned single pass as
    `events_sessionize`; gap seconds use the repo's second-boundary
    convention (floor-epoch difference == DuckDB `date_diff('second')`).
    Bucket count is bounded by the digit count of the dataset's time span
    (≤ ~10 buckets for any real corpus), so the rollup is tiny; the mean
    gap per bucket goes through the exact DECIMAL accumulator."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    gap_s = epoch(F.col("ts")) - epoch(F.lag("ts").over(w))
    g = ev.select(gap_s.alias("gap_s")).filter(F.col("gap_s").isNotNull())
    return g.groupBy(
        F.length(F.col("gap_s").cast("string")).cast("int").alias("magnitude")
    ).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
        davg("gap_s").alias("avg_gap_s"),
    )


# --------------------------------------------------------------------------
# Engagement concentration: Gini coefficient of per-user event counts
# --------------------------------------------------------------------------
_GINI_ORACLE = """
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id),
ranked AS (
  SELECT n_events,
         CAST(row_number() OVER (ORDER BY n_events, user_id) AS BIGINT) AS rk
  FROM per_user),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(n_events) AS BIGINT) AS total_events,
         CAST(sum(rk * n_events) AS BIGINT) AS s1
  FROM ranked)
SELECT n_users, total_events,
       CAST(((2 * s1 - (n_users + 1) * total_events) * 1000000)
            // (n_users * total_events) AS BIGINT) AS gini_micro
FROM s
"""


@query("events_gini_concentration", oracle=_GINI_ORACLE)
def events_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of activity concentration across users — the
    "do 1% of users generate 99% of events?" inequality metric, the
    single-number companion to `pareto_revenue_concentration`'s curve.

    Uses the exact rank formulation G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx),
    emitted in integer micro-units via one `div` — bit-exact on both
    engines.  S₁ = Σ rank·x is TIE-INVARIANT (users sharing a count x
    contribute x·Σranks over their block however the block is ordered),
    so the Spark side never ranks users at all: it aggregates the COUNT
    DISTRIBUTION — m_v users per distinct count v — and folds each
    block's rank range in closed form, v·(m_v·C_v + m_v(m_v+1)/2) with
    C_v the cumulative users below v.  The only window runs over the
    |distinct count values| relation (≈√(2·Σx) under any skewed
    distribution — thousands of rows at billions of users), not the
    |users| relation a row_number() formulation would single-partition.
    The oracle keeps the literal per-user row_number() formulation and
    lands on the identical S₁.  Intermediate products stay < 2^63 up to
    ~3e9 users × 1e9 total events."""
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    dist = per_user.groupBy("n_events").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    w = Window.orderBy("n_events").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    blocks = dist.select(
        "n_events",
        "m",
        (F.sum("m").over(w) - F.col("m")).alias("c_below"),
    )
    return blocks.agg(
        F.sum("m").alias("n_users"),
        F.sum(F.col("n_events") * F.col("m")).alias("total_events"),
        F.sum(
            F.col("n_events")
            * (
                F.col("m") * F.col("c_below")
                + F.expr("(m * (m + 1)) div 2")
            )
        ).alias("s1"),
    ).select(
        "n_users",
        "total_events",
        F.expr(
            "((2 * s1 - (n_users + 1) * total_events) * 1000000)"
            " div (n_users * total_events)"
        ).alias("gini_micro"),
    )


# --------------------------------------------------------------------------
# Within-session event-type co-occurrence lift
# --------------------------------------------------------------------------
_COOCCUR_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts)
                   > {SESSION_GAP_SECONDS}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, event_type,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged),
st AS (SELECT DISTINCT user_id, session_seq, event_type FROM sess),
n_sess AS (
  SELECT CAST(count(DISTINCT (user_id, session_seq)) AS BIGINT) AS n FROM st),
freq AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_type
  FROM st GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.session_seq = b.session_seq
   AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type)
SELECT p.type_a, p.type_b, p.n_ab, fa.n_type AS n_a, fb.n_type AS n_b,
       round((CAST(p.n_ab AS DOUBLE) * t.n)
             / (CAST(fa.n_type AS DOUBLE) * fb.n_type), 6) AS lift
FROM pairs p
JOIN freq fa ON fa.event_type = p.type_a
JOIN freq fb ON fb.event_type = p.type_b
CROSS JOIN n_sess t
"""


@query("events_cooccurrence_lift", oracle=_COOCCUR_ORACLE)
def events_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association lift between event types appearing in the SAME session —
    the behavioral-affinity twin of `basket_part_pairs` (which associates
    parts within an order), using the repo's canonical 30-min gap rule
    imported from `functions/sessions.py` (second-boundary convention,
    same as `events_sessionize`).

    Scale: sessionization is the standard user_id-partitioned double
    window; the self-join is per-session and each side is bounded by the
    |event_type| domain (≤5 distinct types per session here), so the
    pair relation is ≤ C(|types|,2)·|sessions| — linear in sessions,
    never quadratic in events.  Lift is the basket-precedent fixed
    parenthesization (n_ab·n_sess)/(n_a·n_b) rounded once."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    prev_ts = F.lag("ts").over(w)
    gap_s = epoch(F.col("ts")) - epoch(prev_ts)
    flagged = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(prev_ts.isNull() | (gap_s > SESSION_GAP_SECONDS), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    wrun = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Persist: four consumers (n_sess, freq, and both self-join sides)
    # would otherwise re-run the double-window sessionization per branch.
    st = (
        flagged.select(
            "user_id",
            "event_type",
            F.sum("is_new").over(wrun).alias("session_seq"),
        )
        .distinct()
        .transform(persist_tracked)
    )
    n_sess = st.select("user_id", "session_seq").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    freq = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_type"))
    a = st.select(
        "user_id", "session_seq", F.col("event_type").alias("type_a")
    )
    b = st.select(
        "user_id", "session_seq", F.col("event_type").alias("type_b")
    )
    pairs = (
        a.join(b, ["user_id", "session_seq"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    # n_sess (scalar agg, 1 row) is provably bounded and hinted below;
    # freq's |event_type| domain is small in practice but not provable by
    # construction, so it carries no hint — pairs ⋈ freq is a tiny-by-tiny
    # shuffle join that AQE upgrades to broadcast from observed sizes.
    return (
        pairs.join(
            freq.select(F.col("event_type").alias("type_a"),
                        F.col("n_type").alias("n_a")),
            "type_a",
        )
        .join(
            freq.select(F.col("event_type").alias("type_b"),
                        F.col("n_type").alias("n_b")),
            "type_b",
        )
        .crossJoin(F.broadcast(n_sess))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_ab").cast("double") * F.col("n"))
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# User lifecycle rollup
# --------------------------------------------------------------------------
_LIFECYCLE_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         min(CAST(ts AS DATE)) AS first_day,
         max(CAST(ts AS DATE)) AS last_day,
         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id),
enriched AS (
  SELECT *,
         CAST(last_day - first_day AS BIGINT) AS span_days,
         CAST((active_days * 1000000)
              // (CAST(last_day - first_day AS BIGINT) + 1) AS BIGINT)
           AS density_micro
  FROM per_user)
SELECT CAST(span_days // 7 AS BIGINT) AS span_weeks,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n_events) AS BIGINT) AS total_events,
       CAST(min(density_micro) AS BIGINT) AS min_density_micro,
       CAST(max(density_micro) AS BIGINT) AS max_density_micro,
       {sql_davg('density_micro', 6)} AS avg_density_micro
FROM enriched GROUP BY span_days // 7
"""


@query("events_user_lifecycle", oracle=_LIFECYCLE_ORACLE)
def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifecycle (first/last day, active days, activity density)
    rolled up by lifetime-span week — the cohort-tenure view that
    complements `events_retention` (fixed-window return rates) and
    `events_user_stickiness` (DAU/MAU).

    Density = active_days/(span_days+1) in integer micro-units (one
    `div`, exact both engines); the rollup key span_weeks is integer
    division so binning is engine-exact, and bucket count is bounded by
    the calendar.  One groupBy(user_id) pass, one tiny rollup —
    O(|E|) with map-side combine, no windows."""
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("first_day"),
            F.max(F.to_date("ts")).alias("last_day"),
            F.countDistinct(F.to_date("ts")).alias("active_days"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    enriched = per_user.select(
        "n_events",
        F.datediff("last_day", "first_day").cast("long").alias("span_days"),
        F.expr(
            "(active_days * 1000000)"
            " div (cast(datediff(last_day, first_day) as bigint) + 1)"
        ).alias("density_micro"),
    )
    return enriched.groupBy(
        F.expr("span_days div 7").alias("span_weeks")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("total_events"),
        F.min("density_micro").alias("min_density_micro"),
        F.max("density_micro").alias("max_density_micro"),
        davg("density_micro", 6).alias("avg_density_micro"),
    )


# --------------------------------------------------------------------------
# Hour-of-week activity heatmap
# --------------------------------------------------------------------------
_HEATMAP_ORACLE = f"""
WITH e AS (
  SELECT user_id, value,
         CAST(((CAST(ts AS DATE) - DATE '1970-01-01') + 4) % 7 AS INT) AS dow,
         CAST(hour(ts) AS INT) AS hod
  FROM events)
SELECT dow, hod,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       {sql_davg('value')} AS avg_value
FROM e GROUP BY dow, hod
"""


@query("events_hour_of_week_heatmap", oracle=_HEATMAP_ORACLE)
def events_hour_of_week_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap over the 7×24 hour-of-week grid — the seasonality
    fingerprint behind capacity planning and anomaly baselines (the
    hourly-rate anomaly query compares against "this hour last week";
    this is that baseline surface).

    Day-of-week comes from pure epoch-day arithmetic ((days+4) % 7,
    anchored on 1970-01-01 = Thursday) rather than engine dayofweek()
    builtins, whose week-start conventions differ — integer-exact on
    both engines.  One aggregation onto a fixed 168-cell domain with
    map-side combine; count-distinct users is the only shuffled set."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "value",
        (
            (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) + 4) % 7
        ).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    )
    return e.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        davg("value", 6).alias("avg_value"),
    )


# --------------------------------------------------------------------------
# Funnel time-to-convert
# --------------------------------------------------------------------------
_FUNNEL_TIME_ORACLE = f"""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
d AS (
  SELECT 'view_to_click' AS stage,
         date_diff('second', v.t1, c.t2) AS delay_s
  FROM c JOIN v USING (user_id)
  UNION ALL
  SELECT 'click_to_purchase' AS stage,
         date_diff('second', c.t2, p.t3) AS delay_s
  FROM p JOIN c USING (user_id))
SELECT stage,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(min(delay_s) AS BIGINT) AS min_delay_s,
       CAST(max(delay_s) AS BIGINT) AS max_delay_s,
       {sql_davg('delay_s')} AS avg_delay_s
FROM d GROUP BY stage
"""


@query("events_funnel_time_to_convert", oracle=_FUNNEL_TIME_ORACLE)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW LONG each funnel transition takes, for the users who make it —
    the latency companion to `events_funnel`'s conversion counts, using
    the identical strictly-after stage semantics (first view → first
    subsequent click → first subsequent purchase) so the two reports
    describe the same cohort.

    Delays are integer epoch-second differences (the repo's
    second-boundary convention); the per-stage means go through the
    DECIMAL accumulator.  Same plan skeleton as `events_funnel` — three
    user_id-keyed chained min-aggregations, no hinted broadcasts
    (per-user tables scale with the corpus) — plus one 2-row rollup."""
    ev = load_table(spark, sf_dir, "events")
    epoch = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    v = (
        ev.filter("event_type = 'view'")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter("event_type = 'click'")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter("event_type = 'purchase'")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    d = (
        c.join(v, "user_id")
        .select(
            F.lit("view_to_click").alias("stage"),
            (epoch("t2") - epoch("t1")).alias("delay_s"),
        )
        .unionByName(
            p.join(c, "user_id").select(
                F.lit("click_to_purchase").alias("stage"),
                (epoch("t3") - epoch("t2")).alias("delay_s"),
            )
        )
    )
    return d.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("delay_s").alias("min_delay_s"),
        F.max("delay_s").alias("max_delay_s"),
        davg("delay_s").alias("avg_delay_s"),
    )


# --------------------------------------------------------------------------
# Jackknife leave-one-day-out means
# --------------------------------------------------------------------------
_JACKKNIFE_ORACLE = """
WITH per_day AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_day,
         sum(CAST(value AS DECIMAL(25,6))) AS s_day
  FROM events GROUP BY CAST(ts AS DATE)),
tot AS (
  SELECT CAST(sum(n_day) AS BIGINT) AS n_total,
         sum(s_day) AS s_total
  FROM per_day)
SELECT CAST(p.day AS VARCHAR) AS day, p.n_day,
       round(CAST(t.s_total - p.s_day AS DOUBLE) / (t.n_total - p.n_day), 6)
         AS loo_mean
FROM per_day p CROSS JOIN tot t
"""


@query("stats_jackknife_loo_mean", oracle=_JACKKNIFE_ORACLE)
def stats_jackknife_loo_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife sensitivity panel: the corpus mean of `value` with each
    DAY deleted in turn — the delete-one-block diagnostic that flags a
    single day dominating a metric (one bad batch shifting the corpus
    mean is exactly what a training-data drift review wants surfaced;
    block-jackknife over days respects the within-day correlation that
    row-level resampling would destroy).

    Computed from per-day partial sums, NOT by re-scanning per fold: one
    groupBy(day) pass with exact DECIMAL accumulation, a 1-row scalar
    total broadcast back, and each leave-one-out mean is one exact
    decimal subtraction and one rounded double division — calendar-many
    output rows, corpus-size-independent fold cost.  Day renders as a
    string (DATE canon rule, `verify` skill gotchas)."""
    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(25,6)"
    # Persist the calendar-sized partials: both the scalar total and the
    # final fold read them — one corpus scan, not two.
    per_day = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_day"),
        F.sum(F.col("value").cast(dec)).alias("s_day"),
    ).transform(persist_tracked)
    tot = per_day.agg(
        F.sum("n_day").alias("n_total"),
        F.sum("s_day").cast(dec).alias("s_total"),
    )
    return per_day.crossJoin(F.broadcast(tot)).select(
        F.col("day").cast("string").alias("day"),
        "n_day",
        F.round(
            (F.col("s_total") - F.col("s_day")).cast("double")
            / (F.col("n_total") - F.col("n_day")),
            6,
        ).alias("loo_mean"),
    )


# --------------------------------------------------------------------------
# Second-order sequence patterns (behavior trigrams)
# --------------------------------------------------------------------------
TRIGRAM_TOP_K = 20

_TRIGRAM_ORACLE = f"""
WITH seq AS (
  SELECT event_type AS a,
         lead(event_type, 1) OVER w AS b,
         lead(event_type, 2) OVER w AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
t AS (
  SELECT a, b, c, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
  GROUP BY a, b, c),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM t)
SELECT t.a, t.b, t.c, t.n,
       CAST((t.n * 1000000) // x.n_total AS BIGINT) AS share_micro
FROM t CROSS JOIN tot x
ORDER BY t.n DESC, t.a, t.b, t.c
LIMIT {TRIGRAM_TOP_K}
"""


@query("events_trigram_patterns", oracle=_TRIGRAM_ORACLE)
def events_trigram_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most common 3-step behavior sequences — the second-order
    companion to `events_markov_transitions` (first-order transitions
    cannot distinguish view→click→purchase from view→click→error; the
    trigram table can, and is what a funnel designer actually mines).

    Two stacked LEADs ride the SAME user_id window (one shuffle + sort,
    Catalyst collapses both into a single WindowExec pass); the rollup
    lands on the ≤|types|³ domain with map-side combine, the share uses
    one integer `div` against the scalar total, and the top-20 is a
    TakeOrderedAndProject with a full deterministic tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    t = seq.groupBy("a", "b", "c").agg(F.count(F.lit(1)).alias("n")).transform(
        persist_tracked
    )
    tot = t.agg(F.sum("n").alias("n_total"))
    return (
        t.crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "c",
            "n",
            F.expr("(n * 1000000) div n_total").alias("share_micro"),
        )
        .orderBy(F.desc("n"), F.asc("a"), F.asc("b"), F.asc("c"))
        .limit(TRIGRAM_TOP_K)
    )


# --------------------------------------------------------------------------
# Half-life decayed engagement score (recency weighting)
# --------------------------------------------------------------------------
DECAY_CAP_WEEKS = 20  # ages beyond 20 weeks all get the minimum weight 2^0
DECAY_TOP_K = 100

_DECAY_ORACLE = f"""
WITH anchor AS (SELECT max(ts) AS a FROM events),
wk AS (
  SELECT e.user_id, e.ts,
         least({DECAY_CAP_WEEKS},
               date_diff('second', e.ts, x.a) // 604800) AS weeks
  FROM events e CROSS JOIN anchor x),
scored AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(1 AS BIGINT) << ({DECAY_CAP_WEEKS} - weeks))
              AS BIGINT) AS decayed_score,
         CAST(max(ts) AS VARCHAR) AS last_seen
  FROM wk GROUP BY user_id)
SELECT user_id, n_events, decayed_score, last_seen
FROM scored
ORDER BY decayed_score DESC, user_id
LIMIT {DECAY_TOP_K}
"""


@query("events_decay_engagement", oracle=_DECAY_ORACLE)
def events_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} users by exponentially decayed activity: each event is
    worth 2^-(weeks old) of a fresh one (one-week half-life, age capped
    at 20 weeks), anchored at the newest event in the table.  The
    standard recency-weighted engagement/freshness score a curation
    pipeline uses to up-sample active sources without a hard cutoff.

    Exactness: ages are whole weeks (epoch-second difference, one
    truncating division), weights are exact powers of two computed with
    an integer shift — max weight 2^20, so a user needs > 2^43 events to
    overflow the BIGINT sum.  No floats, no `pow`.

    Scale: one scalar aggregate (the anchor — broadcast as a 1-row
    relation), one narrow projection, one map-side-combinable groupBy
    on user_id, and a global top-K that compiles to
    TakeOrderedAndProject — never a full sort."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("a"))
    wk = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "ts",
        F.expr(
            f"least(cast({DECAY_CAP_WEEKS} as bigint),"
            " (cast(cast(a as timestamp) as long)"
            "  - cast(cast(ts as timestamp) as long)) div 604800)"
        ).alias("weeks"),
    )
    scored = wk.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.expr(
                f"shiftleft(cast(1 as bigint),"
                f" cast({DECAY_CAP_WEEKS} - weeks as int))"
            )
        ).alias("decayed_score"),
        F.max("ts").cast("string").alias("last_seen"),
    )
    return scored.orderBy(
        F.desc("decayed_score"), "user_id"
    ).limit(DECAY_TOP_K)


# --------------------------------------------------------------------------
# CUSUM changepoint scan over hourly event-rate series
# --------------------------------------------------------------------------
CUSUM_ALARM_MULT = 4  # alarm when the CUSUM peak exceeds 4 × total count

_CUSUM_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
tot AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS tot,
         CAST(count(*) AS BIGINT) AS n_hours
  FROM hourly GROUP BY event_type),
pref AS (
  SELECT h.event_type, h.hr, t.tot, t.n_hours,
         t.n_hours * sum(h.c) OVER w
           - (row_number() OVER w) * t.tot AS pn
  FROM hourly h JOIN tot t USING (event_type)
  WINDOW w AS (PARTITION BY h.event_type ORDER BY h.hr)),
cusum AS (
  SELECT event_type, hr, tot, n_hours,
         pn - least(CAST(0 AS BIGINT), min(pn) OVER
           (PARTITION BY event_type ORDER BY hr)) AS s
  FROM pref),
peak AS (
  SELECT event_type, hr, tot, n_hours, s,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY s DESC, hr) AS rn
  FROM cusum)
SELECT event_type, CAST(hr AS VARCHAR) AS peak_hour,
       CAST(s AS BIGINT) AS peak_cusum_scaled, n_hours, tot,
       s > {CUSUM_ALARM_MULT} * tot AS alarm
FROM peak WHERE rn = 1
"""


@query("events_cusum_changepoint", oracle=_CUSUM_ORACLE)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint scan (Page, 1954) per event type over
    the hourly-count series: detects sustained upward shifts in event
    rate (traffic ramp, instrumentation bug, bot onset) — the classic
    sequential drift detector, complementing `events_rate_anomaly`'s
    pointwise z-scores with an accumulating statistic.

    The recursion S_t = max(0, S_{{t-1}} + (x_t - mean)) is deliberately
    NOT computed recursively (no SQL engine exposes a recursive window):
    with P_t = prefix_sum(x - mean), the closed form
    S_t = P_t - min(0, running_min(P_t)) needs only two windows — both
    computable in one pass.  Fraction clearing makes it exact: all terms
    are scaled by n_hours (P·n = n·prefix_count - t·total), so the mean
    never materializes as a float.  Emitted per event type: the PEAK
    statistic, its hour, and an alarm flag (peak > {CUSUM_ALARM_MULT}×
    total, i.e. mean-normalized CUSUM > {CUSUM_ALARM_MULT}·mean·n).

    Scale: one map-combinable hourly rollup, then ALL windows partitioned
    by event_type over the |types|×|hours| AGGREGATED relation (never the
    raw events), and a 1-row-per-type argmax via row_number."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = hourly.groupBy("event_type").agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("n_hours")
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    pref = (
        hourly.join(tot, "event_type")
        .withColumn(
            "pn",
            F.col("n_hours") * F.sum("c").over(w)
            - F.row_number().over(w) * F.col("tot"),
        )
    )
    cusum = pref.withColumn(
        "s",
        F.col("pn")
        - F.least(F.lit(0).cast("long"), F.min("pn").over(w)),
    )
    wp = Window.partitionBy("event_type").orderBy(F.desc("s"), "hr")
    return (
        cusum.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("hr").cast("string").alias("peak_hour"),
            F.col("s").alias("peak_cusum_scaled"),
            "n_hours",
            "tot",
            (F.col("s") > CUSUM_ALARM_MULT * F.col("tot")).alias("alarm"),
        )
    )


# --------------------------------------------------------------------------
# Bot-likeness audit per user (rate + regularity rules)
# --------------------------------------------------------------------------
BOT_MIN_EVENTS = 20  # rate rule: at least this many events
BOT_MAX_MEAN_GAP_MIN = 600  # ...at a mean inter-event gap under 10 hours
BOT_VMR_THR_MILLI = 500  # regularity rule: gap VMR below 0.5 (in milli)

_BOT_ORACLE = f"""
WITH g AS (
  SELECT user_id,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) // 60 AS gap_min
  FROM events),
st AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) + 1 AS n_events,
         CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(gap_min) AS BIGINT) AS sg,
         CAST(sum(gap_min * gap_min) AS BIGINT) AS sg2
  FROM g WHERE gap_min IS NOT NULL GROUP BY user_id),
sc AS (
  SELECT user_id, n_events,
         (1000000 * sg) // ng AS mean_gap_min_micro,
         ng * sg2 - sg * sg AS vmr_num,
         ng * sg AS vmr_den
  FROM st WHERE sg > 0)
SELECT user_id, n_events, mean_gap_min_micro, vmr_num, vmr_den,
       (n_events >= {BOT_MIN_EVENTS}
        AND mean_gap_min_micro < {BOT_MAX_MEAN_GAP_MIN} * 1000000
        AND 1000 * vmr_num < {BOT_VMR_THR_MILLI} * vmr_den) AS bot_flag
FROM sc
"""


@query("events_bot_score", oracle=_BOT_ORACLE)
def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based bot audit per user: volume (>= {N} events), tempo
    (mean inter-event gap under {G} minutes) and REGULARITY — a
    variance-to-mean ratio of the gaps below {V}/1000, the machine-like
    clockwork signature (human traffic is overdispersed, VMR >> 1;
    schedulers and scrapers are sub-Poisson).  The per-user row keeps
    the raw statistics so thresholds can be re-derived offline; bot
    traffic removal is a standard pre-filter before any engagement or
    dedup statistic.

    Exactness: gaps are whole minutes (epoch-second difference, one
    truncating div), the VMR comparison is fraction-cleared —
    1000·(ng·Σg² − (Σg)²) < thr·(ng·Σg) — so no division ever happens
    for the flag, and the emitted mean is one integer micro-div.  The
    magnitudes stay under 2^63 because gaps are minutes, not seconds
    (docstring bound: ng·Σg² <= ng²·max_gap² ≈ 10⁶·(4·10⁴)² ≈ 1.6·10¹⁵).

    Scale: one per-user LAG window (partitioned, parallel across users),
    one map-combinable per-user aggregate — output is |users|-sized, the
    same tier as `events_user_stickiness`."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    g = ev.select(
        "user_id",
        (epoch(F.col("ts")) - epoch(F.lag("ts").over(w))).alias("gap_s"),
    ).select("user_id", F.expr("gap_s div 60").alias("gap_min"))
    st = (
        g.filter(F.col("gap_min").isNotNull())
        .groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) + 1).alias("n_events"),
            F.count(F.lit(1)).alias("ng"),
            F.sum("gap_min").alias("sg"),
            F.sum(F.col("gap_min") * F.col("gap_min")).alias("sg2"),
        )
        .filter(F.col("sg") > 0)
    )
    return st.select(
        "user_id",
        "n_events",
        F.expr("(1000000 * sg) div ng").alias("mean_gap_min_micro"),
        (F.col("ng") * F.col("sg2") - F.col("sg") * F.col("sg")).alias(
            "vmr_num"
        ),
        (F.col("ng") * F.col("sg")).alias("vmr_den"),
        (
            (F.col("n_events") >= BOT_MIN_EVENTS)
            & (
                F.expr("(1000000 * sg) div ng")
                < BOT_MAX_MEAN_GAP_MIN * 1_000_000
            )
            & (
                1000 * (F.col("ng") * F.col("sg2") - F.col("sg") * F.col("sg"))
                < BOT_VMR_THR_MILLI * F.col("ng") * F.col("sg")
            )
        ).alias("bot_flag"),
    )


# --------------------------------------------------------------------------
# Audience overlap between event types (pairwise user-set Jaccard)
# --------------------------------------------------------------------------
_AUDIENCE_ORACLE = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events),
sz AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
  FROM ut GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT p.type_a, p.type_b, p.n_both, sa.n_users AS n_a, sb.n_users AS n_b,
       (10000 * p.n_both) // (sa.n_users + sb.n_users - p.n_both)
         AS jaccard_bp
FROM pairs p
JOIN sz sa ON sa.event_type = p.type_a
JOIN sz sb ON sb.event_type = p.type_b
"""


@query("events_audience_overlap", oracle=_AUDIENCE_ORACLE)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: Jaccard of the
    user sets, in basis points — "do the people who click also purchase?"
    — the segmentation/cannibalization read, and the same inverted-index
    pair pattern as the dedup tier applied to BEHAVIOR instead of
    content.

    Scale: the distinct (user, type) relation is the posting list; pair
    generation joins it against itself ON THE USER — each user
    contributes at most |types|² pairs (|types| is a small fixed domain),
    so the join fans out boundedly and aggregates straight down to the
    |types|² output.  All integers, one truncating div for the ratio."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct().transform(persist_tracked)
    sz = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))
    # No broadcast hint: sz's |event_type| domain is small in practice but
    # not provable by construction (the invariant suite's bar) — all join
    # sides are <= |types|² rows, so AQE upgrades from observed sizes.
    return (
        pairs.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr("(10000 * n_both) div (n_a + n_b - n_both)").alias(
                "jaccard_bp"
            ),
        )
    )


# --------------------------------------------------------------------------
# Robust point-anomaly detection: median/MAD on the hourly series
# --------------------------------------------------------------------------
MAD_K = 3  # flag hours with |count - median| > 3 * MAD

_MAD_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
dist AS (
  SELECT event_type, c, CAST(count(*) AS BIGINT) AS f
  FROM hourly GROUP BY event_type, c),
med AS (
  SELECT event_type,
         CAST(min(CASE WHEN 2 * cf >= n THEN c END) AS BIGINT) AS median_cnt
  FROM (
    SELECT event_type, c,
           CAST(sum(f) OVER (PARTITION BY event_type ORDER BY c)
                AS BIGINT) AS cf,
           CAST(sum(f) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM dist)
  GROUP BY event_type),
devd AS (
  SELECT h.event_type, abs(h.c - m.median_cnt) AS d,
         CAST(count(*) AS BIGINT) AS f
  FROM hourly h JOIN med m USING (event_type)
  GROUP BY 1, 2),
mad AS (
  SELECT event_type,
         CAST(min(CASE WHEN 2 * cf >= n THEN d END) AS BIGINT) AS mad_cnt
  FROM (
    SELECT event_type, d,
           CAST(sum(f) OVER (PARTITION BY event_type ORDER BY d)
                AS BIGINT) AS cf,
           CAST(sum(f) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM devd)
  GROUP BY event_type)
SELECT h.event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(max(m.median_cnt) AS BIGINT) AS median_cnt,
       CAST(max(a.mad_cnt) AS BIGINT) AS mad_cnt,
       CAST(count(CASE WHEN abs(h.c - m.median_cnt) > {MAD_K} * a.mad_cnt
                  THEN 1 END) AS BIGINT) AS n_anomalies,
       CAST(max(abs(h.c - m.median_cnt)) AS BIGINT) AS max_abs_dev
FROM hourly h
JOIN med m USING (event_type)
JOIN mad a USING (event_type)
GROUP BY h.event_type
"""


@query("events_mad_anomaly", oracle=_MAD_ORACLE)
def events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust point-anomaly summary per event type: hours whose count
    deviates from the MEDIAN by more than {K}× the median absolute
    deviation — the outlier rule that, unlike the stddev z-score
    (`events_rate_anomaly`), is itself immune to the outliers it hunts
    (50% breakdown point vs 0%), and the POINT-anomaly complement to
    `events_cusum_changepoint`'s sustained-shift detector.

    Both medians come from the COUNT-DISTRIBUTION crossing rule (lower
    median: smallest value where 2·cumfreq >= n) — windows run over the
    per-type |distinct count values| aggregated relation, never the raw
    events, and every comparison is integer.

    Scale: one hourly rollup, two tiny distribution passes, one
    re-join of the |types|-row medians back to the hourly relation —
    all windows partitioned by event_type."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(persist_tracked)
    )

    def lower_median(df: DataFrame, val: str, out: str) -> DataFrame:
        dist = df.groupBy("event_type", val).agg(F.count(F.lit(1)).alias("f"))
        wc = Window.partitionBy("event_type").orderBy(val)
        wt = Window.partitionBy("event_type")
        cum = dist.select(
            "event_type",
            F.col(val).alias("v"),
            F.sum("f").over(wc).alias("cf"),
            F.sum("f").over(wt).alias("n"),
        )
        return cum.groupBy("event_type").agg(
            F.min(F.when(2 * F.col("cf") >= F.col("n"), F.col("v"))).alias(out)
        )

    med = lower_median(hourly, "c", "median_cnt")
    devd = hourly.join(med, "event_type").select(
        "event_type", F.abs(F.col("c") - F.col("median_cnt")).alias("d")
    )
    mad = lower_median(devd, "d", "mad_cnt")
    j = hourly.join(med, "event_type").join(mad, "event_type")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.max("median_cnt").alias("median_cnt"),
        F.max("mad_cnt").alias("mad_cnt"),
        F.count(
            F.when(
                F.abs(F.col("c") - F.col("median_cnt"))
                > MAD_K * F.col("mad_cnt"),
                1,
            )
        ).alias("n_anomalies"),
        F.max(F.abs(F.col("c") - F.col("median_cnt"))).alias("max_abs_dev"),
    )


# --------------------------------------------------------------------------
# Peak session concurrency (sweep-line over sessionized intervals)
# --------------------------------------------------------------------------
CONCURRENCY_TOP_K = 10

_PEAK_CONCURRENCY_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN date_diff('second',
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  ts) > {SESSION_GAP_SECONDS}
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events),
sessions AS (
  SELECT user_id,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq,
         ts
  FROM flagged),
iv AS (
  SELECT date_diff('second', TIMESTAMP '1970-01-01', min(ts)) // 60 AS sm,
         date_diff('second', TIMESTAMP '1970-01-01', max(ts)) // 60 AS em
  FROM sessions GROUP BY user_id, session_seq),
deltas AS (
  SELECT sm AS m, 1 AS delta FROM iv
  UNION ALL
  SELECT em + 1 AS m, -1 AS delta FROM iv),
agg AS (SELECT m, CAST(sum(delta) AS BIGINT) AS d FROM deltas GROUP BY m),
lev AS (
  SELECT m, CAST(sum(d) OVER (ORDER BY m) AS BIGINT) AS concurrent_sessions
  FROM agg)
SELECT m AS minute_idx, concurrent_sessions
FROM lev ORDER BY concurrent_sessions DESC, m ASC LIMIT {CONCURRENCY_TOP_K}
"""


@query("events_peak_concurrency", oracle=_PEAK_CONCURRENCY_ORACLE)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{CONCURRENCY_TOP_K} peak-concurrency minutes: how many user
    sessions were simultaneously open, computed by the classic sweep-line
    (+1 at session start minute, −1 after the end minute, running sum) —
    the capacity-planning number (max simultaneous connections) the
    hourly count approximates badly because a session spans many hours'
    worth of events.

    Session intervals use the repo's gaps-and-islands rule (the
    `events_sessionize` contract, gap > {SESSION_GAP_SECONDS}s on
    second-boundary crossings — `functions/sessions.py`).  Minutes are
    epoch-second integer division; deltas aggregate per minute BEFORE the
    running sum, so ties (sessions starting and ending the same minute)
    fold deterministically.  The only unpartitioned window runs over the
    |distinct active minutes| delta relation — calendar-horizon-bounded
    (the hourly-window tier), never corpus-sized (converting it to the
    two-phase scan measured 2.4x local cost for zero scale benefit —
    BENCH_NOTES_r9.md).  Pure integers end to end;
    the peak report is TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    prev_ts = F.lag("ts").over(w)
    gap_s = epoch(F.col("ts")) - epoch(prev_ts)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            prev_ts.isNull() | (gap_s > SESSION_GAP_SECONDS), 1
        ).otherwise(0).alias("is_new"),
    )
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = flagged.select(
        "user_id",
        F.sum("is_new").over(wrun).cast("long").alias("session_seq"),
        "ts",
    )
    iv = sessions.groupBy("user_id", "session_seq").agg(
        F.expr("cast(cast(min(ts) as timestamp) as long) div 60").alias("sm"),
        F.expr("cast(cast(max(ts) as timestamp) as long) div 60").alias("em"),
    )
    deltas = iv.select(F.col("sm").alias("m"), F.lit(1).alias("delta")).unionAll(
        iv.select((F.col("em") + 1).alias("m"), F.lit(-1).alias("delta"))
    )
    agg = deltas.groupBy("m").agg(F.sum("delta").cast("long").alias("d"))
    wl = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lev = agg.select(
        F.col("m").alias("minute_idx"),
        F.sum("d").over(wl).cast("long").alias("concurrent_sessions"),
    )
    return lev.orderBy(
        F.desc("concurrent_sessions"), F.asc("minute_idx")
    ).limit(CONCURRENCY_TOP_K)


# --------------------------------------------------------------------------
# OHLC hourly candles over the event value stream
# --------------------------------------------------------------------------
_OHLC_ORACLE = """
WITH e AS (
  SELECT date_trunc('hour', ts) AS hour, ts, event_id, value FROM events),
w AS (
  SELECT hour, value,
         first_value(value) OVER
           (PARTITION BY hour ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS open,
         last_value(value) OVER
           (PARTITION BY hour ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS close
  FROM e)
SELECT hour, CAST(count(*) AS BIGINT) AS n_events,
       max(open) AS open, max(value) AS high,
       min(value) AS low, max(close) AS close
FROM w GROUP BY hour
"""


@query("events_ohlc_hourly", oracle=_OHLC_ORACLE)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles over the event value stream: open/close are the
    first/last values by the deterministic (ts, event_id) order, high/low
    are extrema — the financial-style resample that complements
    `events_twap_hourly` (time-weighted mean) with the range view.

    Exactness: every output is a SELECTED raw double (no accumulation at
    all — first/last/min/max are order-statistics), so both engines agree
    bit for bit; ties at the same timestamp break on event_id.  Scale:
    one window pass partitioned by hour (calendar-bounded groups, full
    frame so first/last are frame-stable), then a map-combinable fold per
    hour."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.date_trunc("hour", "ts").alias("hour"), "ts", "event_id", "value"
    )
    wf = (
        Window.partitionBy("hour")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w = e.select(
        "hour",
        "value",
        F.first("value").over(wf).alias("open"),
        F.last("value").over(wf).alias("close"),
    )
    return w.groupBy("hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("open").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max("close").alias("close"),
    )


# --------------------------------------------------------------------------
# Stationary distribution of the event-type Markov chain (unrolled πP)
# --------------------------------------------------------------------------
# The event_type domain is a fixed model constant of the generator (the
# same premise as the 0..99 page-id domain the graph family bounds on);
# the Spark side asserts it loudly before trusting the hardcoded order.
MARKOV_STATES = ("click", "error", "purchase", "signup", "view")
MARKOV_PI_ITERS = 16


def _pi_step(j: int, n: int) -> str:
    """π'_j = Σ_i π_i · p_ij, p_ij = c_ij / rt_i — fixed i order."""
    return " + ".join(f"pi{i} * (c{i}{j} / rt{i})" for i in range(1, n + 1))


def _stationary_oracle() -> str:
    n = len(MARKOV_STATES)
    cells = []
    for i, a in enumerate(MARKOV_STATES, 1):
        for j, b in enumerate(MARKOV_STATES, 1):
            cells.append(
                f"CAST(sum(CASE WHEN event_type = '{a}' AND next_type = '{b}'"
                f" THEN 1 ELSE 0 END) AS DOUBLE) AS c{i}{j}"
            )
    rts = [
        "(" + " + ".join(f"c{i}{j}" for j in range(1, n + 1)) + f") AS rt{i}"
        for i in range(1, n + 1)
    ]
    carry_m = ", ".join(
        [f"c{i}{j}" for i in range(1, n + 1) for j in range(1, n + 1)]
        + [f"rt{i}" for i in range(1, n + 1)]
    )
    seed = ", ".join(f"CAST({1.0 / n!r} AS DOUBLE) AS pi{i}" for i in range(1, n + 1))
    steps = []
    prev = "seed"
    for k in range(MARKOV_PI_ITERS):
        upd = ", ".join(
            f"({_pi_step(j, n)}) AS pi{j}" for j in range(1, n + 1)
        )
        steps.append(f"it{k} AS (SELECT {carry_m}, {upd} FROM {prev})")
        prev = f"it{k}"
    outs = ", ".join(
        f"round(pi{i}, 6) AS pi_{s}" for i, s in enumerate(MARKOV_STATES, 1)
    )
    return f"""
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events),
cellcounts AS (
  SELECT {', '.join(cells)} FROM seq WHERE next_type IS NOT NULL),
m AS (SELECT *, {', '.join(rts)} FROM cellcounts),
seed AS (SELECT {carry_m}, {seed} FROM m),
{','.join(steps)}
SELECT {outs} FROM {prev}
"""


@query("events_markov_stationary", oracle=_stationary_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — where does
    a user's behavior settle in the long run?  π is computed by
    {MARKOV_PI_ITERS} unrolled π←πP steps from the uniform start, over
    the row-normalized transition matrix `events_markov_transitions`
    estimates — the long-run companion to that per-step view (and, like
    `events_pagerank`, an iterative fixed point; here the state space is
    the |event_type| = 5 model domain, so the whole iteration is scalar
    expressions on ONE row of cell counts).

    Engine-exactness: cell counts are exact integers cast once; each πP
    step replays `_pi_step`'s expression — double multiply/divide/add in
    fixed order — so {MARKOV_PI_ITERS} steps stay bit-identical to the
    oracle's CTE chain (the `wide_metrics_pca_power` argument), rounded
    once at the end (r14: the replay now runs driver-side over the one
    collected counter row; see the in-body note).
    Scale: ONE conditional-count aggregate over the LEAD pairs (25
    counters, map-combinable); the iteration is data-size-independent."""
    ev = load_table(spark, sf_dir, "events")
    observed = sorted(
        r.event_type for r in ev.select("event_type").distinct().collect()
    )
    if tuple(observed) != MARKOV_STATES:
        raise AssertionError(
            f"event_type domain drifted: {observed} != {MARKOV_STATES};"
            " regenerate MARKOV_STATES (model constant, not corpus data)"
        )
    n = len(MARKOV_STATES)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    cells = seq.agg(
        *[
            F.sum(
                F.when(
                    (F.col("event_type") == a) & (F.col("next_type") == b), 1
                ).otherwise(0)
            )
            .cast("double")
            .alias(f"c{i}{j}")
            for i, a in enumerate(MARKOV_STATES, 1)
            for j, b in enumerate(MARKOV_STATES, 1)
        ]
    )
    # r14: ONE distributed aggregate down to the 25 cell counters (the
    # only data-sized work), then the πP fixed-point folds DRIVER-SIDE
    # over that one collected row.  Each Python step replays `_pi_step`'s
    # expression — left-associated Σ_i pi_i * (c_ij / rt_i) in fixed i
    # order — as the same IEEE-754 double ops in the same order, so the
    # result is bit-identical to the r13 16-deep nested-select chain (and
    # to the oracle's unrolled CTE chain).  The r13 shape made Catalyst
    # analyze/optimize a 16-step expression tree over 30 carried columns:
    # pure planning overhead for a data-size-independent iteration.
    row = cells.first()
    c = [[float(row[f"c{i}{j}"]) for j in range(1, n + 1)] for i in range(1, n + 1)]
    rt = []
    for i in range(n):
        acc = c[i][0]
        for j in range(1, n):
            acc = acc + c[i][j]
        rt.append(acc)
    if any(t == 0.0 for t in rt):
        # The SQL chain would propagate NULL through every later step (a
        # double /0 is NULL in non-ANSI Spark); the fixture guarantees
        # every state has outgoing transitions — fail loudly if not.
        raise AssertionError(
            f"events_markov_stationary: state with zero outgoing mass "
            f"(row totals {rt}); π replay would diverge from the SQL chain"
        )
    pi = [1.0 / n] * n
    for _ in range(MARKOV_PI_ITERS):
        new = []
        for j in range(n):
            acc = pi[0] * (c[0][j] / rt[0])
            for i in range(1, n):
                acc = acc + pi[i] * (c[i][j] / rt[i])
            new.append(acc)
        pi = new
    from iceberg_table_generator_spark.operators.graph import _round6_half_up

    out = tuple(_round6_half_up(p) for p in pi)
    return spark.createDataFrame(
        [out], schema=", ".join(f"pi_{s} double" for s in MARKOV_STATES)
    )


# --------------------------------------------------------------------------
# Session entry/exit page report
# --------------------------------------------------------------------------
_ENTRY_EXIT_ORACLE = f"""
WITH ev AS (
  SELECT user_id, ts, event_id, CAST(props->>'$.k' AS INT) AS k FROM events),
flagged AS (
  SELECT user_id, ts, event_id, k,
         CASE WHEN date_diff('second',
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  ts) > {SESSION_GAP_SECONDS}
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM ev),
sess AS (
  SELECT user_id, ts, event_id, k,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM flagged),
ranked AS (
  SELECT k, session_seq, user_id,
         row_number() OVER (PARTITION BY user_id, session_seq
                            ORDER BY ts, event_id) AS rn_f,
         row_number() OVER (PARTITION BY user_id, session_seq
                            ORDER BY ts DESC, event_id DESC) AS rn_l
  FROM sess),
per_page AS (
  SELECT k AS page,
         CAST(sum(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_entries,
         CAST(sum(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exits,
         CAST(count(*) AS BIGINT) AS n_views
  FROM ranked GROUP BY k)
SELECT page, n_entries, n_exits, n_views,
       (10000 * n_exits) // n_views AS exit_rate_bp
FROM per_page
"""


@query("events_entry_exit_pages", oracle=_ENTRY_EXIT_ORACLE)
def events_entry_exit_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry/exit page report: for every page, how many sessions STARTED
    there (landing page), ENDED there (exit page), total views, and the
    exit rate — the classic web-analytics table that tells you which
    pages open journeys and which ones lose them; the page-level
    companion to `events_bounce_rate`.

    Sessions use the repo's gaps-and-islands rule; entry/exit are row_number
    order statistics with the deterministic (ts, event_id) tie rule — no
    accumulation, pure integer counts, one truncating-div rate.  Scale:
    all three windows partition by user (or user-session) — millions of
    parallel groups — and the rollup folds onto the bounded page
    domain."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        props_k().alias("k"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    prev_ts = F.lag("ts").over(w)
    gap_s = epoch(F.col("ts")) - epoch(prev_ts)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "k",
        F.when(prev_ts.isNull() | (gap_s > SESSION_GAP_SECONDS), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.select(
        "user_id",
        "ts",
        "event_id",
        "k",
        F.sum("is_new").over(wrun).cast("long").alias("session_seq"),
    )
    wf = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    wl = Window.partitionBy("user_id", "session_seq").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = sess.select(
        "k",
        F.row_number().over(wf).alias("rn_f"),
        F.row_number().over(wl).alias("rn_l"),
    )
    per_page = ranked.groupBy(F.col("k").alias("page")).agg(
        F.sum(F.when(F.col("rn_f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_entries"),
        F.sum(F.when(F.col("rn_l") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_exits"),
        F.count(F.lit(1)).alias("n_views"),
    )
    return per_page.select(
        "page",
        "n_entries",
        "n_exits",
        "n_views",
        F.expr("(10000 * n_exits) div n_views").alias("exit_rate_bp"),
    )


# --------------------------------------------------------------------------
# Run-length encoding of per-user event-type streams
# --------------------------------------------------------------------------
_RLE_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)
              IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS is_start
  FROM events),
runs AS (
  SELECT user_id, event_type,
         CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS run_id
  FROM seq),
sized AS (
  SELECT user_id, event_type, run_id, CAST(count(*) AS BIGINT) AS run_len
  FROM runs GROUP BY user_id, event_type, run_id)
SELECT event_type, run_len, CAST(count(*) AS BIGINT) AS n_runs
FROM sized GROUP BY event_type, run_len
"""


@query("events_run_length_encoding", oracle=_RLE_ORACLE)
def events_run_length_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length profile of per-user event streams: for every event type,
    how many maximal consecutive runs of each length occur — repetition
    compressibility (a user clicking 9× in a row vs alternating), the
    RLE view behind streak features and bot heuristics
    (`events_bot_score` uses tempo; this is the SYMBOL-run view).

    Gaps-and-islands: a run starts where the lagged type differs; the
    island id is a running sum of starts per user; runs then fold to
    their lengths and lengths to the (type, length) histogram — three
    user-partitioned passes and one bounded rollup, pure integers."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    runs = seq.select(
        "user_id",
        "event_type",
        F.sum("is_start").over(wrun).cast("long").alias("run_id"),
    )
    sized = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return sized.groupBy("event_type", "run_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs")
    )


# --------------------------------------------------------------------------
# Per-page dwell time (gap to next event, attributed to the earlier page)
# --------------------------------------------------------------------------
_DWELL_ORACLE = f"""
WITH ev AS (
  SELECT user_id, ts, event_id, CAST(props->>'$.k' AS INT) AS k FROM events),
gaps AS (
  SELECT k AS page,
         date_diff('second', ts,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS dwell_s
  FROM ev),
valid AS (
  SELECT page, CAST(dwell_s AS BIGINT) AS dwell_s FROM gaps
  WHERE dwell_s IS NOT NULL AND dwell_s <= {SESSION_GAP_SECONDS})
SELECT page,
       CAST(count(*) AS BIGINT) AS n_dwells,
       CAST(sum(dwell_s) AS BIGINT) AS total_dwell_s,
       CAST(sum(dwell_s) AS BIGINT) // count(*) AS mean_dwell_s,
       CAST(max(dwell_s) AS BIGINT) AS max_dwell_s
FROM valid GROUP BY page
"""


@query("events_page_dwell_time", oracle=_DWELL_ORACLE)
def events_page_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page dwell time: the gap to the user's NEXT event, attributed
    to the page being viewed, truncated at the session gap (a dwell
    longer than {SESSION_GAP_SECONDS}s is a session boundary, not
    engagement — the standard GA-style rule; the last event of a session
    contributes no dwell, the known and accepted censoring).  Pairs with
    `events_entry_exit_pages` for the full page-engagement read.

    One user-partitioned LEAD window, integer epoch-second gaps, a
    bounded page-domain rollup with one truncating-div mean."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        props_k().alias("k"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    gaps = ev.select(
        F.col("k").alias("page"),
        (epoch(F.lead("ts").over(w)) - epoch(F.col("ts"))).alias("dwell_s"),
    )
    valid = gaps.filter(
        F.col("dwell_s").isNotNull() & (F.col("dwell_s") <= SESSION_GAP_SECONDS)
    )
    return valid.groupBy("page").agg(
        F.count(F.lit(1)).alias("n_dwells"),
        F.sum("dwell_s").cast("long").alias("total_dwell_s"),
        F.expr("cast(sum(dwell_s) as bigint) div count(*)").alias("mean_dwell_s"),
        F.max("dwell_s").cast("long").alias("max_dwell_s"),
    )


# --------------------------------------------------------------------------
# Navigation predictability: Gini impurity of the next-page distribution
# --------------------------------------------------------------------------
_NAV_PREDICT_ORACLE = """
WITH ev AS (
  SELECT user_id, ts, event_id, CAST(props->>'$.k' AS INT) AS k FROM events),
seq AS (
  SELECT k AS src, lead(k) OVER
    (PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM ev),
t AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE dst IS NOT NULL GROUP BY src, dst),
per_src AS (
  SELECT src,
         CAST(sum(c) AS BIGINT) AS n_out,
         CAST(count(*) AS BIGINT) AS n_destinations,
         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sumsq,
         CAST(max(c) AS BIGINT) AS top_c
  FROM t GROUP BY src)
SELECT src AS page, n_out, n_destinations,
       round(1.0 - CAST(sumsq AS DOUBLE)
             / CAST(n_out AS DOUBLE) / CAST(n_out AS DOUBLE), 6)
         AS gini_impurity,
       (10000 * top_c) // n_out AS top_dest_share_bp
FROM per_src
"""


@query("events_nav_predictability", oracle=_NAV_PREDICT_ORACLE)
def events_nav_predictability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation predictability per page: the Gini impurity
    1 − Σᵢ pᵢ² of the next-page distribution (0 = every visitor goes the
    same place; →1 = navigation is a coin toss over many pages), plus the
    top-destination share — the polynomial-exact stand-in for transition
    entropy (no logarithms, so both engines stay bit-identical;
    `stats_simpson_diversity` uses the same identity corpus-wide) and the
    page-level read of `events_markov_transitions`.

    One LEAD-pair groupBy onto the |pages|² transition domain, one
    bounded rollup with Σc² in 128-bit space, one fixed double chain
    rounded once."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        props_k().alias("k"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(F.col("k").alias("src"), F.lead("k").over(w).alias("dst"))
    t = (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_src = t.groupBy("src").agg(
        F.sum("c").cast("long").alias("n_out"),
        F.count(F.lit(1)).alias("n_destinations"),
        F.sum(F.col("c").cast(D38) * F.col("c").cast(D38)).cast(D38).alias("sumsq"),
        F.max("c").cast("long").alias("top_c"),
    )
    return per_src.select(
        F.col("src").alias("page"),
        "n_out",
        "n_destinations",
        F.round(
            F.lit(1.0)
            - F.col("sumsq").cast("double")
            / F.col("n_out").cast("double")
            / F.col("n_out").cast("double"),
            6,
        ).alias("gini_impurity"),
        F.expr("(10000 * top_c) div n_out").alias("top_dest_share_bp"),
    )


# --------------------------------------------------------------------------
# Rolling 7-day DAU (range frame over the day index, gap-correct)
# --------------------------------------------------------------------------
_DAU_ROLLING_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1),
rolled AS (
  SELECT day, dau, n_events,
         CAST(sum(dau) OVER (ORDER BY day
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS dau_7d_sum,
         CAST(count(*) OVER (ORDER BY day
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_days_7d
  FROM daily)
SELECT day, dau, n_events, dau_7d_sum, n_days_7d,
       (1000000 * dau_7d_sum) // n_days_7d AS dau_7d_avg_micro
FROM rolled
"""


@query("events_dau_rolling", oracle=_DAU_ROLLING_ORACLE)
def events_dau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day DAU: daily distinct users with a RANGE-frame trailing
    week sum/average — the dashboard smoothing line.  The frame ranges
    over the EPOCH-DAY VALUE, not row positions, so calendar gaps shrink
    the window honestly (a ROWS frame would silently reach 7 observed
    days back across a dark week); the divisor is the actual day count
    in frame.

    One distinct-count daily aggregate, one value-range window over the
    calendar-bounded day series, integer micro-unit average."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day")
    ).agg(
        F.countDistinct("user_id").alias("dau"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wr = Window.orderBy("day").rangeBetween(-6, 0)
    rolled = daily.select(
        "day",
        "dau",
        "n_events",
        F.sum("dau").over(wr).cast("long").alias("dau_7d_sum"),
        F.count(F.lit(1)).over(wr).cast("long").alias("n_days_7d"),
    )
    return rolled.select(
        "day",
        "dau",
        "n_events",
        "dau_7d_sum",
        "n_days_7d",
        F.expr("(1000000 * dau_7d_sum) div n_days_7d").alias("dau_7d_avg_micro"),
    )
