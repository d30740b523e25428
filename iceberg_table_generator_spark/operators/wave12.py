"""Round-11 third wave: data-SELECTION and corpus-health operators the
LLM-curation surface still lacked — DSIR-style importance weights (Xie
et al. 2023, "Data Selection for Language Models via Importance
Resampling": hashed n-gram bucket log-likelihood ratios against a target
domain), the context-window
truncation-loss curve (how many training tokens each packing length
throws away), and graph eccentricity/diameter/radius (completing the
all-pairs-BFS family next to harmonic centrality).

The reference is a table generator with no analytics surface
(`IcebergTableGenerator.java` writes rows; it never reads them back) —
these operators extend SURVEY.md §2.8's curation mandate.

Exactness policy (repo convention): cross-row accumulation is integer.
``ln()`` is the one op the engines disagree on (JVM ``Math.log`` vs
libm, last-ulp — the `text.py` BM25 analysis); every log-derived weight
here is rounded to 6 decimals and micro-scaled to BIGINT *per bucket /
per vocabulary word* BEFORE any accumulation, so per-document scores are
exact integer sums of identically-rounded terms on both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from iceberg_table_generator_spark.functions.cache import persist_tracked
from iceberg_table_generator_spark.functions.text import (
    md5_60,
    md5_60_sql,
    tokens,
    tokens_sql,
)
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# DSIR importance weights (hashed-unigram LLR vs a target domain)
# --------------------------------------------------------------------------
#: Hashed feature buckets.  The paper uses 10k hashed n-gram buckets at
#: web scale; 64 keeps the λ relation a trivially-broadcast literal-sized
#: table while still separating the language distributions in this
#: testdata.  The bucket hash is the engine-independent md5-60.
DSIR_BUCKETS = 64
#: Rows returned: the "select the most target-like documents" headline.
DSIR_TOP_K = 25
#: Target domain: English-language documents (the `lang` column is the
#: testdata's domain axis; a production run points this at the curated
#: target corpus instead).
DSIR_TARGET_LANG = "en"

_DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({tokens_sql()}) AS w
  FROM documents),
tb AS (
  SELECT doc_id, lang, {md5_60_sql('w')} % {DSIR_BUCKETS} AS b FROM tok),
bs AS (
  SELECT b, CAST(count(*) AS BIGINT) AS raw_c,
         CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS tgt_c
  FROM tb GROUP BY b),
tot AS (
  SELECT CAST(sum(raw_c) AS BIGINT) AS raw_n,
         CAST(sum(tgt_c) AS BIGINT) AS tgt_n FROM bs),
lam AS (
  SELECT b,
         CAST(round((ln(tgt_c + 1.0) - ln(tgt_n + {DSIR_BUCKETS}.0)
                     - ln(raw_c + 1.0) + ln(raw_n + {DSIR_BUCKETS}.0))
                    * 1000000.0, 0) AS BIGINT) AS lam_micro
  FROM bs CROSS JOIN tot),
dc AS (
  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM tb
  GROUP BY doc_id, b),
sc AS (
  SELECT doc_id, CAST(sum(c * lam_micro) AS BIGINT) AS llr_micro,
         CAST(sum(c) AS BIGINT) AS n_tokens
  FROM dc JOIN lam USING (b) GROUP BY doc_id),
top AS (
  SELECT d.doc_id, d.source, d.lang, s.n_tokens, s.llr_micro,
         CAST(row_number() OVER (ORDER BY s.llr_micro DESC, d.doc_id)
              AS INT) AS rank
  FROM sc s JOIN documents d USING (doc_id))
SELECT doc_id, source, lang, n_tokens, llr_micro, rank
FROM top WHERE rank <= {DSIR_TOP_K}
"""


def dsir_bucket_lambdas(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """((b, raw_lam, lam_micro), token-bucket relation): per-bucket
    target/raw LLR, raw and micro-rounded, plus the persisted
    (doc_id, lang, b) token relation that produced it — shared by
    `pipeline_dsir_weights` (which joins the rounded column) and the
    rounding-margin guard test (which measures the raw column's distance
    from every rounding boundary)."""
    d = load_table(spark, sf_dir, "documents")
    tb = d.select(
        "doc_id",
        "lang",
        F.explode(tokens()).alias("w"),
    ).select("doc_id", "lang", (md5_60(F.col("w")) % DSIR_BUCKETS).alias("b"))
    tb = persist_tracked(tb)
    bs = tb.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("raw_c"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).cast("long").alias("tgt_c"),
    )
    tot = bs.agg(
        F.sum("raw_c").cast("long").alias("raw_n"),
        F.sum("tgt_c").cast("long").alias("tgt_n"),
    )
    raw_lam = (
        F.log(F.col("tgt_c") + 1.0)
        - F.log(F.col("tgt_n") + float(DSIR_BUCKETS))
        - F.log(F.col("raw_c") + 1.0)
        + F.log(F.col("raw_n") + float(DSIR_BUCKETS))
    )
    lam = bs.crossJoin(F.broadcast(tot)).select(
        "b",
        raw_lam.alias("raw_lam"),
        F.round(raw_lam * 1000000.0, 0).cast("long").alias("lam_micro"),
    )
    return lam, tb


@query("pipeline_dsir_weights", oracle=_DSIR_ORACLE)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): score every document by
    the log-likelihood ratio of a hashed-unigram bag-of-buckets model of
    the TARGET domain vs the RAW corpus, and return the top
    {DSIR_TOP_K} most target-like documents — the selection step of
    importance-resampling data curation.  λ_b =
    ln p̂_tgt(b) − ln p̂_raw(b) with add-one smoothing over
    {DSIR_BUCKETS} md5-hashed buckets; score(doc) = Σ_b count_doc(b)·λ_b.

    Engine determinism: λ_b is rounded to 6 decimals and micro-scaled to
    BIGINT per bucket (the BM25 ln-ulp absorption pattern), so per-doc
    scores are exact integer sums on both engines.

    Scale: one token pass feeds both the per-doc-bucket counts (doc-keyed
    partial agg) and the {DSIR_BUCKETS}-row bucket stats; λ attaches as a
    broadcast of a configuration-bounded relation; the final top-k is a
    TakeOrdered, never a global window."""
    d = load_table(spark, sf_dir, "documents")
    lam, tb = dsir_bucket_lambdas(spark, sf_dir)
    lam = lam.drop("raw_lam")
    dc = tb.groupBy("doc_id", "b").agg(F.count(F.lit(1)).cast("long").alias("c"))
    sc = (
        dc.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("lam_micro")).cast("long").alias("llr_micro"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
    )
    top = (
        sc.join(d.select("doc_id", "source", "lang"), "doc_id")
        .orderBy(F.desc("llr_micro"), F.asc("doc_id"))
        .limit(DSIR_TOP_K)
    )
    w = Window.orderBy(F.desc("llr_micro"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "source", "lang", "n_tokens", "llr_micro", "rank"
    )


# --------------------------------------------------------------------------
# Context-window truncation-loss curve
# --------------------------------------------------------------------------
TRUNC_GRID = (64, 128, 256, 512, 1024)

_TRUNC_ORACLE = f"""
WITH t AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
g(ctx_len) AS (VALUES {", ".join(f"({L})" for L in TRUNC_GRID)}),
a AS (
  SELECT ctx_len,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN tok > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_truncated,
         CAST(sum(CASE WHEN tok > ctx_len THEN tok - ctx_len ELSE 0 END)
              AS BIGINT) AS tokens_lost,
         CAST(sum(tok) AS BIGINT) AS tokens_total
  FROM t CROSS JOIN g GROUP BY ctx_len)
SELECT CAST(ctx_len AS INT) AS ctx_len, n_docs, docs_truncated,
       tokens_total, tokens_lost,
       CAST((CAST(tokens_lost AS HUGEINT) * 1000000) // tokens_total
            AS BIGINT) AS loss_ppm
FROM a
"""


@query("pipeline_truncation_loss", oracle=_TRUNC_ORACLE)
def pipeline_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation-loss curve: for each candidate training
    context length, how many documents exceed it and what fraction of
    corpus tokens a truncate-at-L packing policy would discard
    (loss_ppm) — the capacity-planning twin of `pipeline_sequence_packing`
    (which measures padding waste; this measures truncation waste, and the
    two jointly pick the context length).

    Scale: one narrow per-doc token count crossed with a
    {len(TRUNC_GRID)}-row literal grid (the τ-sweep sentinel-grid shape),
    folded map-side onto the grid domain — no joins, no windows."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.size(F.split("text", " ")).cast("long").alias("tok"))
    grid = spark.createDataFrame(
        [(L,) for L in TRUNC_GRID], "ctx_len int"
    )
    a = (
        t.crossJoin(F.broadcast(grid))
        .groupBy("ctx_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("tok") > F.col("ctx_len"), 1).otherwise(0)
            ).cast("long").alias("docs_truncated"),
            F.sum(
                F.when(
                    F.col("tok") > F.col("ctx_len"),
                    F.col("tok") - F.col("ctx_len"),
                ).otherwise(0)
            ).cast("long").alias("tokens_lost"),
            F.sum("tok").cast("long").alias("tokens_total"),
        )
    )
    return a.select(
        "ctx_len",
        "n_docs",
        "docs_truncated",
        "tokens_total",
        "tokens_lost",
        F.expr(
            "CAST((CAST(tokens_lost AS DECIMAL(38,0)) * 1000000) "
            "div tokens_total AS BIGINT)"
        ).alias("loss_ppm"),
    ).orderBy("ctx_len")


# --------------------------------------------------------------------------
# Graph eccentricity / diameter / radius (truncated all-pairs BFS)
# --------------------------------------------------------------------------
ECC_MAX_HOPS = 8  # same truncation as harmonic centrality (wave10)

_ECC_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT user_id, ts, event_id, CAST(props->>'$.k' AS INT) AS k FROM events),
seq AS (
  SELECT k AS src, lead(k) OVER
    (PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM ev),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM seq WHERE dst IS NOT NULL AND src <> dst),
bi AS (SELECT u AS src, v AS dst FROM und
       UNION ALL SELECT v AS src, u AS dst FROM und),
nodes AS (SELECT DISTINCT k AS node FROM ev),
walk(src, node, hop) AS (
  SELECT node, node, 0 FROM nodes
  UNION
  SELECT w.src, b.dst, w.hop + 1
  FROM walk w JOIN bi b ON b.src = w.node
  WHERE w.hop < {ECC_MAX_HOPS}),
d AS (
  SELECT src, node, CAST(min(hop) AS BIGINT) AS d
  FROM walk WHERE src <> node GROUP BY src, node),
ec AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS n_reached,
         CAST(max(d) AS BIGINT) AS ecc
  FROM d GROUP BY src),
fl AS (
  SELECT n.node, coalesce(ec.n_reached, 0) AS n_reached,
         coalesce(ec.ecc, 0) AS ecc
  FROM nodes n LEFT JOIN ec ON ec.node = n.node),
gl AS (
  SELECT CAST(coalesce(max(ecc), 0) AS BIGINT) AS diameter,
         CAST(coalesce(min(CASE WHEN n_reached > 0 THEN ecc END), 0)
              AS BIGINT) AS radius
  FROM fl)
SELECT f.node, f.n_reached, f.ecc, g.diameter, g.radius,
       CAST(CASE WHEN f.n_reached > 0 AND f.ecc = g.radius
                 THEN 1 ELSE 0 END AS INT) AS is_center,
       CAST(CASE WHEN f.n_reached > 0 AND f.ecc = g.diameter
                 THEN 1 ELSE 0 END AS INT) AS is_periphery
FROM fl f CROSS JOIN gl g
"""


@query("events_graph_eccentricity", oracle=_ECC_ORACLE)
def events_graph_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated eccentricity of every page in the undirected transition
    graph (max BFS distance within {ECC_MAX_HOPS} hops), plus the graph
    diameter (max eccentricity), radius (min over reachable nodes), and
    center/periphery membership — the structural-extent companion to
    `events_harmonic_centrality` (proximity) over the same all-pairs-BFS
    machinery.

    Exactness: distances are integers; every output is an integer or a
    0/1 flag — nothing to round.  Scale: the transition graph is
    MODEL-BOUNDED (|V|² distinct edges, visit-count-independent), so per
    repo policy the all-pairs BFS runs driver-side over one collect() of
    the edge set — via the SAME `undirected_transition_adjacency` /
    `truncated_bfs_hops` substrate as harmonic centrality (wave10); the
    corpus-sized work (events scan → distinct edges) stays distributed."""
    from iceberg_table_generator_spark.operators.wave10 import (
        truncated_bfs_hops,
        undirected_transition_adjacency,
    )

    nodes, adj = undirected_transition_adjacency(spark, sf_dir)
    per_node = []
    for s in nodes:
        hop = truncated_bfs_hops(adj, s, ECC_MAX_HOPS)
        dists = [dd for n, dd in hop.items() if n != s]
        per_node.append((s, len(dists), max(dists) if dists else 0))
    diameter = max((e for _, _, e in per_node), default=0)
    reached_eccs = [e for _, n, e in per_node if n > 0]
    radius = min(reached_eccs) if reached_eccs else 0
    rows = [
        (
            s,
            n,
            e,
            diameter,
            radius,
            1 if n > 0 and e == radius else 0,
            1 if n > 0 and e == diameter else 0,
        )
        for s, n, e in per_node
    ]
    return spark.createDataFrame(
        rows,
        "node int, n_reached bigint, ecc bigint, diameter bigint, "
        "radius bigint, is_center int, is_periphery int",
    )


# --------------------------------------------------------------------------
# PII incidence matrix (per source x PII type)
# --------------------------------------------------------------------------
def _pii_incidence_oracle() -> str:
    from iceberg_table_generator_spark.operators.pipeline import (
        _PII_EMAIL,
        _PII_IP,
        _PII_PHONE,
    )

    return f"""
WITH planted AS (
  SELECT doc_id, source,
         text
         || CASE WHEN doc_id % 7 < 3
                 THEN ' contact user' || doc_id || '@mail.example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 < 2
                 THEN ' call 555-'
                      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                      || '-'
                      || lpad(CAST((doc_id * 37) % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 3 < 1
                 THEN ' from 10.' || (doc_id % 256) || '.0.'
                      || ((doc_id * 3) % 256)
                 ELSE '' END AS pii_text
  FROM documents),
cnt AS (
  SELECT source,
         CASE WHEN len(regexp_extract_all(pii_text, '{_PII_EMAIL}')) > 0
              THEN 1 ELSE 0 END AS he,
         CASE WHEN len(regexp_extract_all(pii_text, '{_PII_PHONE}')) > 0
              THEN 1 ELSE 0 END AS hp,
         CASE WHEN len(regexp_extract_all(pii_text, '{_PII_IP}')) > 0
              THEN 1 ELSE 0 END AS hi
  FROM planted)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(he) AS BIGINT) AS docs_with_email,
       CAST(sum(hp) AS BIGINT) AS docs_with_phone,
       CAST(sum(hi) AS BIGINT) AS docs_with_ip,
       CAST(sum(CASE WHEN he + hp + hi > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_with_any,
       CAST((sum(he) * 1000000) // count(*) AS BIGINT) AS email_ppm,
       CAST((sum(hp) * 1000000) // count(*) AS BIGINT) AS phone_ppm,
       CAST((sum(hi) * 1000000) // count(*) AS BIGINT) AS ip_ppm
FROM cnt GROUP BY source
"""


@query("pipeline_pii_incidence", oracle=_pii_incidence_oracle())
def pipeline_pii_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII incidence matrix — the compliance dashboard next to
    `pipeline_pii_redaction`'s scrubber: which feeds leak emails / phone
    numbers / IPv4 addresses and at what document rate (ppm).  The corpus
    text is synthetic word soup, so PII is PLANTED deterministically on
    modular doc_id subsets (email on ~3/7 of docs, phone ~2/5, IP ~1/3)
    and detected back through the SAME regex patterns the redaction pass
    uses — the detection path, not the plant, is the deliverable.

    Scale: pure narrow per-row regexp detection (JVM `regexp_count`-class
    expressions, no Python), then the 20-row source rollup."""
    from iceberg_table_generator_spark.operators.pipeline import (
        _PII_EMAIL,
        _PII_IP,
        _PII_PHONE,
    )

    docs = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 < 3,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 < 2,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad(((F.col("doc_id") * 37) % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 3 < 1,
            F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."),
                ((F.col("doc_id") * 3) % 256).cast("string"),
            ),
        ).otherwise(""),
    )
    planted = docs.select("source", pii_text.alias("pii_text"))
    cnt = planted.select(
        "source",
        F.when(
            F.size(F.regexp_extract_all("pii_text", F.lit(_PII_EMAIL), 0)) > 0,
            1,
        )
        .otherwise(0)
        .alias("he"),
        F.when(
            F.size(F.regexp_extract_all("pii_text", F.lit(_PII_PHONE), 0)) > 0,
            1,
        )
        .otherwise(0)
        .alias("hp"),
        F.when(
            F.size(F.regexp_extract_all("pii_text", F.lit(_PII_IP), 0)) > 0, 1
        )
        .otherwise(0)
        .alias("hi"),
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("he").cast("long").alias("docs_with_email"),
            F.sum("hp").cast("long").alias("docs_with_phone"),
            F.sum("hi").cast("long").alias("docs_with_ip"),
            F.sum(
                F.when(F.col("he") + F.col("hp") + F.col("hi") > 0, 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("docs_with_any"),
            F.expr(
                "CAST((sum(he) * 1000000) div count(1) AS BIGINT)"
            ).alias("email_ppm"),
            F.expr(
                "CAST((sum(hp) * 1000000) div count(1) AS BIGINT)"
            ).alias("phone_ppm"),
            F.expr(
                "CAST((sum(hi) * 1000000) div count(1) AS BIGINT)"
            ).alias("ip_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Revenue max drawdown (time-domain risk curve)
# --------------------------------------------------------------------------
_DRAWDOWN_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100 AS BIGINT)
             AS rev_cents
  FROM orders GROUP BY o_orderdate),
runp AS (
  SELECT day, rev_cents,
         CAST(max(rev_cents) OVER (ORDER BY day
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS peak_cents
  FROM daily),
dd AS (
  SELECT day, rev_cents, peak_cents,
         peak_cents - rev_cents AS dd_cents,
         CAST(((peak_cents - rev_cents) * 10000) // peak_cents AS BIGINT)
             AS dd_bp
  FROM runp),
mx AS (SELECT CAST(max(dd_cents) AS BIGINT) AS max_dd FROM dd)
SELECT CAST(d.day AS VARCHAR) AS day, d.rev_cents, d.peak_cents,
       CAST(d.dd_cents AS BIGINT) AS dd_cents, d.dd_bp,
       CAST(CASE WHEN d.dd_cents = m.max_dd AND m.max_dd > 0
                 THEN 1 ELSE 0 END AS INT) AS is_max_drawdown
FROM dd d CROSS JOIN mx m
"""


@query("orders_revenue_drawdown", oracle=_DRAWDOWN_ORACLE)
def orders_revenue_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue drawdown curve: running peak, absolute and
    basis-point drawdown per day, and the max-drawdown day(s) — the
    risk/monitoring view of the revenue series (a deep drawdown is the
    page that gets ops out of bed; `orders_mom_growth` sees only
    month-grain first differences).

    Exactness: revenue is DECIMAL-summed to integer cents (repo
    convention); peak/drawdown/bp are pure integer ops.  Scale: one
    calendar-bounded daily aggregate, ONE unpartitioned running-max
    window over the day-domain relation (acknowledged in the window
    invariant suite: one row per calendar day), and the max flag joins a
    scalar aggregate back — never a second pass over facts."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(25,6)")) * 100)
        .cast("long")
        .alias("rev_cents")
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "day",
        "rev_cents",
        F.max("rev_cents").over(wd).cast("long").alias("peak_cents"),
    ).select(
        "day",
        "rev_cents",
        "peak_cents",
        (F.col("peak_cents") - F.col("rev_cents")).cast("long").alias("dd_cents"),
        F.expr(
            "CAST(((peak_cents - rev_cents) * 10000) div peak_cents AS BIGINT)"
        ).alias("dd_bp"),
    )
    mx = dd.agg(F.max("dd_cents").cast("long").alias("max_dd"))
    return dd.crossJoin(F.broadcast(mx)).select(
        F.col("day").cast("string").alias("day"),
        "rev_cents",
        "peak_cents",
        "dd_cents",
        "dd_bp",
        F.when((F.col("dd_cents") == F.col("max_dd")) & (F.col("max_dd") > 0), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_max_drawdown"),
    )


# --------------------------------------------------------------------------
# Incremental SemDeDup (new batch vs stored exemplars)
# --------------------------------------------------------------------------
def _semdedup_incremental_oracle() -> str:
    from iceberg_table_generator_spark.operators.similarity import VEC_DIM
    from iceberg_table_generator_spark.operators.wave11 import (
        SEMDEDUP_TAU,
        sql_semdedup_ctes,
    )

    dim = VEC_DIM
    duv = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "i -> u.vec[i] * v.vec[i]))"
    )
    return f"""{sql_semdedup_ctes()},
old AS (SELECT * FROM m WHERE vec_id % 10 <> 0),
dold AS (
  SELECT DISTINCT v.cid, v.vec_id
  FROM old u JOIN old v ON u.cid = v.cid
   AND (u.ccos < v.ccos OR (u.ccos = v.ccos AND u.vec_id < v.vec_id))
  WHERE {duv} / (u.nrm * v.nrm) >= {SEMDEDUP_TAU}),
kept AS (
  SELECT o.* FROM old o
  LEFT JOIN dold d ON d.cid = o.cid AND d.vec_id = o.vec_id
  WHERE d.vec_id IS NULL),
newv AS (SELECT * FROM m WHERE vec_id % 10 = 0),
hits AS (
  SELECT v.vec_id, u.vec_id AS u_id
  FROM kept u JOIN newv v ON u.cid = v.cid
  WHERE {duv} / (u.nrm * v.nrm) >= {SEMDEDUP_TAU}),
ag AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_hits,
         CAST(min(u_id) AS BIGINT) AS shadow_exemplar
  FROM hits GROUP BY vec_id)
SELECT n.vec_id, n.cid,
       CASE WHEN a.n_hits IS NOT NULL THEN 'drop' ELSE 'keep' END AS verdict,
       CAST(coalesce(a.n_hits, 0) AS BIGINT) AS n_hits,
       a.shadow_exemplar
FROM newv n LEFT JOIN ag a USING (vec_id)
"""


@query("dedup_semdedup_incremental", oracle=_semdedup_incremental_oracle())
def dedup_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic dedup — the production shape SemDeDup runs in
    after day one: the STORED exemplar index is the kept set of a
    SemDeDup pass over the existing corpus (vec_id % 10 ≠ 0 here); each
    NEWLY INGESTED vector (vec_id % 10 = 0, the bench-fraction split) is
    dropped iff a same-cluster stored exemplar sits within cosine τ —
    new data never reshuffles the index, exactly like
    `dedup_incremental_verdict` for the exact tier.

    Oracle-paired end-to-end on the shared engine-exact k-means member
    relation; DuckDB replays the old-corpus prefix-dominance pass, the
    kept-set anti-join, and the new-vs-kept probe with the identical
    cosine chains.

    Scale: both pair joins are cid-co-partitioned (never broadcast of
    corpus data), the new batch is a small fraction of the corpus, and
    the stored side is the POST-dedup exemplar set — the cheapest
    relation the pipeline owns."""
    from iceberg_table_generator_spark.operators.similarity import dot
    from iceberg_table_generator_spark.operators.wave11 import (
        SEMDEDUP_TAU,
        _semdedup_dropped,
        semdedup_relation,
    )

    m = semdedup_relation(spark, sf_dir)
    old = m.filter(F.col("vec_id") % 10 != 0)
    new = m.filter(F.col("vec_id") % 10 == 0)
    dropped_old = _semdedup_dropped(old)
    kept = old.join(dropped_old, ["cid", "vec_id"], "left_anti")
    u = kept.select(
        "cid",
        F.col("vec_id").alias("u_id"),
        F.col("vec").alias("u_vec"),
        F.col("nrm").alias("u_nrm"),
    )
    v = new.select("cid", "vec_id", "vec", "nrm")
    hits = (
        u.join(v, "cid")
        .filter(
            dot("u_vec", "vec") / (F.col("u_nrm") * F.col("nrm"))
            >= SEMDEDUP_TAU
        )
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.min("u_id").cast("long").alias("shadow_exemplar"),
        )
    )
    return new.select("vec_id", "cid").join(hits, "vec_id", "left").select(
        "vec_id",
        "cid",
        F.when(F.col("n_hits").isNotNull(), "drop")
        .otherwise("keep")
        .alias("verdict"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        "shadow_exemplar",
    )


# --------------------------------------------------------------------------
# Markov removal-effect attribution (channel value via absorbing walks)
# --------------------------------------------------------------------------
ATTR_SCALE = 1_000_000_000_000  # micro-units of probability (1e12)
ATTR_ITERS = 8
ATTR_TARGET = 0  # conversion page (the absorption query's landing page)
ATTR_CHANNELS = 8  # top pages by out-weight get a removal run


def _attribution_oracle() -> str:
    ctes = [
        "ev AS (SELECT user_id, ts, event_id,"
        " CAST(props->>'$.k' AS INT) AS k FROM events)",
        "seq AS (SELECT k AS src, lead(k) OVER"
        " (PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM ev)",
        "edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt"
        " FROM seq WHERE dst IS NOT NULL GROUP BY src, dst)",
        "outw AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS outw"
        " FROM edges GROUP BY src)",
        "er AS (SELECT e.src, e.dst, e.cnt, o.outw"
        " FROM edges e JOIN outw o USING (src))",
        "nodes AS (SELECT DISTINCT k AS node FROM ev)",
        "st AS (SELECT k AS node, CAST(count(*) AS BIGINT) AS sc FROM ("
        " SELECT user_id, k, row_number() OVER (PARTITION BY user_id"
        " ORDER BY ts, event_id) AS rn FROM ev) WHERE rn = 1 GROUP BY k)",
        f"rems AS (SELECT rem FROM (SELECT CAST(src AS INT) AS rem"
        f" FROM outw WHERE src <> {ATTR_TARGET}"
        f" ORDER BY outw DESC, src LIMIT {ATTR_CHANNELS})"
        f" UNION ALL SELECT -1)",
        "erx AS (SELECT r.rem, e.src, e.dst, e.cnt, e.outw"
        " FROM er e CROSS JOIN rems r)",
        "grid AS (SELECT r.rem, n.node FROM nodes n CROSS JOIN rems r)",
        f"g0 AS (SELECT rem, node, CAST(CASE WHEN node = {ATTR_TARGET}"
        f" THEN {ATTR_SCALE} ELSE 0 END AS BIGINT) AS h FROM grid)",
    ]
    for i in range(1, ATTR_ITERS + 1):
        ctes.append(
            f"g{i} AS (SELECT gr.rem, gr.node,"
            f" CAST(CASE WHEN gr.node = {ATTR_TARGET} THEN {ATTR_SCALE}"
            f" WHEN gr.node = gr.rem THEN 0"
            f" ELSE COALESCE(CAST(sum(CAST(p.cnt AS HUGEINT) * p.h)"
            f" // any_value(p.outw) AS BIGINT), 0) END AS BIGINT) AS h"
            f" FROM grid gr LEFT JOIN"
            f" (SELECT ex.rem, ex.src, ex.cnt, ex.outw, hp.h"
            f"  FROM erx ex JOIN g{i - 1} hp"
            f"  ON ex.dst = hp.node AND ex.rem = hp.rem) p"
            f" ON p.src = gr.node AND p.rem = gr.rem"
            f" GROUP BY gr.rem, gr.node)"
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body},
conv AS (
  SELECT g.rem, CAST(sum(CAST(s.sc AS HUGEINT) * g.h) AS HUGEINT) AS cv
  FROM g{ATTR_ITERS} g JOIN st s ON s.node = g.node GROUP BY g.rem),
tots AS (SELECT CAST(sum(sc) AS BIGINT) AS t FROM st),
base AS (SELECT cv AS bcv FROM conv WHERE rem = -1)
SELECT c.rem AS channel, o.outw AS out_visits,
       CAST(c.cv // t.t AS BIGINT) AS conv_micro,
       CAST(b.bcv // t.t AS BIGINT) AS base_micro,
       CAST(CASE WHEN b.bcv > 0
                 THEN ((b.bcv - c.cv) * 1000000) // b.bcv
                 ELSE 0 END AS BIGINT) AS removal_effect_ppm
FROM conv c CROSS JOIN base b CROSS JOIN tots t
JOIN outw o ON o.src = c.rem
WHERE c.rem <> -1
"""


@query("events_markov_attribution", oracle=_attribution_oracle())
def events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution: the value of each major page
    (top-{ATTR_CHANNELS} by out-weight) = how much the start-weighted
    probability of reaching the conversion page within {ATTR_ITERS}
    clicks DROPS when walks through that page are killed — the
    data-driven alternative to first/last-touch attribution
    (`events_attribution_first_touch`), built by composing the
    absorption-probability machinery (`events_absorption_probability`)
    with a channel-removal grid.  Removal is absorbing-to-null: h(rem)
    is pinned to 0 every iteration, so any walk entering the removed
    page never converts.

    Engine-exactness: identical to the absorption query — 128-bit
    cnt·h products summed exactly, ONE truncating division per (rem,
    node, iteration); conversion mass start-weights the final h with
    exact integer session-start counts; DuckDB replays the unrolled
    (rem × node) CTE chain bit-identically.  Removal effects are
    non-negative by monotone induction (killing walks can't create
    conversions).

    Scale: the transition graph is MODEL-BOUNDED (|V|² distinct edges),
    so per repo policy (the PageRank/harmonic/eccentricity precedent)
    the (channels+1) × {ATTR_ITERS}-iteration fixed point runs
    DRIVER-side over one collect() of the edge/start relations — the
    distributed-iteration version measured 10.5 s of pure Spark
    job-scheduling constant at sf0.1 for identical results.  The
    corpus-sized work (events scan → windowed transitions → edge/start
    aggregates) stays distributed; Python's arbitrary-precision ints
    subsume the 128-bit products, and `//` on non-negative operands
    matches both engines' truncating division."""
    from iceberg_table_generator_spark.operators.wave10 import nav_events

    ev = nav_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(F.col("k").alias("src"), F.lead("k").over(w).alias("dst"))
    edges = (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    starts = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("k").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("sc"))
    )
    edge_rows = edges.collect()  # |V|²-bounded (model, not corpus)
    start_rows = starts.collect()  # |V|-bounded
    nodes = sorted(
        {r["src"] for r in edge_rows}
        | {r["dst"] for r in edge_rows}
        | {r["node"] for r in start_rows}
    )
    outw: dict[int, int] = {}
    adj: dict[int, list[tuple[int, int]]] = {}
    for r in edge_rows:
        outw[r["src"]] = outw.get(r["src"], 0) + r["cnt"]
        adj.setdefault(r["src"], []).append((r["dst"], r["cnt"]))
    sc = {r["node"]: r["sc"] for r in start_rows}
    total_starts = sum(sc.values())
    rems = [
        s
        for s, _ in sorted(
            ((s, o) for s, o in outw.items() if s != ATTR_TARGET),
            key=lambda t: (-t[1], t[0]),
        )[:ATTR_CHANNELS]
    ] + [-1]

    def fixed_point(rem: int) -> dict[int, int]:
        h = {n: (ATTR_SCALE if n == ATTR_TARGET else 0) for n in nodes}
        for _ in range(ATTR_ITERS):
            nh = {}
            for n in nodes:
                if n == ATTR_TARGET:
                    nh[n] = ATTR_SCALE
                elif n == rem:
                    nh[n] = 0
                elif n in adj:
                    nh[n] = sum(c * h[d] for d, c in adj[n]) // outw[n]
                else:
                    nh[n] = 0
            h = nh
        return h

    conv = {}
    for rem in rems:
        h = fixed_point(rem)
        conv[rem] = sum(s * h[n] for n, s in sc.items())
    bcv = conv[-1]
    rows = [
        (
            rem,
            outw[rem],
            conv[rem] // total_starts,
            bcv // total_starts,
            ((bcv - conv[rem]) * 1_000_000) // bcv if bcv > 0 else 0,
        )
        for rem in rems
        if rem != -1
    ]
    return spark.createDataFrame(
        rows,
        "channel int, out_visits bigint, conv_micro bigint, "
        "base_micro bigint, removal_effect_ppm bigint",
    )
