"""Round-12 fourth wave: the composed production-ANN shape, the dedup
tier-overlap audit, and the multimodal alignment filter.

* **IVF+PQ recall** — FAISS's `IndexIVFPQ` composed from this repo's two
  registered halves: IVF lists prune WHICH vectors are scored, PQ ADC
  compresses HOW each is scored, an exact rerank corrects the shortlist.
  (Non-residual variant: codes are fit on raw vectors, not per-list
  residuals — the `IVFFlat`+`PQ` composition; residual encoding changes
  accuracy, not the plan shape.)
* **Dedup tier-overlap matrix** — the Venn a curation run reads across
  its dedup ladder: which duplicate pairs the exact tier (identical
  text), the lexical tier (MinHash-LSH, Jaccard ≥ τ), and the semantic
  tier (SemDeDup cosine ≥ τ) each catch, and crucially how many pairs
  ONLY the embedding tier sees (paraphrase duplicates — the SemDeDup
  paper's motivating count).
* **Text↔embedding alignment filter** — the CLIP-score filtering proxy
  (LAION's core curation op): project each document's tokens into the
  embedding space with a deterministic feature hash (±1 signs into 64
  dims) and score cosine alignment against the document's stored
  embedding.  With a real encoder the text side becomes CLIP text
  embeddings; everything downstream — the per-pair cosine, the
  per-source retention — is exactly this plan (the sanctioned-stub
  pattern of the multimodal decode path).
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
from iceberg_table_generator_spark.sources.tables import load_table, spread

_MICRO = 1_000_000

# --------------------------------------------------------------------------
# IVF + PQ composed search (prune → ADC → rerank) + recall vs exact
# --------------------------------------------------------------------------


def _ivfpq_recall_oracle() -> str:
    from iceberg_table_generator_spark.operators.similarity import (
        _sql_d2_int,
        _sql_ivf_fit_ctes,
        _sql_km_setup,
        _sql_pq_fit_ctes,
        _VEC_DIM,
        IVF_CLUSTERS,
        IVF_ITERS,
        IVF_NPROBE,
        KM_SCALE,
        N_QUERIES,
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_SHORTLIST,
        TOP_K,
    )

    dim, m = _VEC_DIM, PQ_M
    sd = dim // m
    cf, pcf = f"c{IVF_ITERS}", f"pc{PQ_ITERS}"
    cvd = f"CAST(c.cv[i] AS DOUBLE)/{KM_SCALE}.0"
    dot = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "i -> q.vec[i]*c.vec[i]))"
    )
    return f"""{_sql_km_setup()}{_sql_ivf_fit_ctes(IVF_CLUSTERS, IVF_ITERS, dim)}{_sql_pq_fit_ctes(m, PQ_K, PQ_ITERS, sd, prefix="p")},
nrm AS (
  SELECT vec_id, vec,
         sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                      i -> vec[i]*vec[i]))) AS norm
  FROM v),
asg AS (
  SELECT vec_id, cid FROM (
    SELECT q0.vec_id, c.cid,
           row_number() OVER (PARTITION BY q0.vec_id
               ORDER BY {_sql_d2_int('q0.qv', 'c.cv', dim)}, c.cid) AS rn
    FROM q0 CROSS JOIN {cf} c) WHERE rn = 1),
cs AS (
  SELECT q0.vec_id, g.j,
         list_transform(generate_series(1, {sd}), i -> q0.qv[g.j*{sd}+i]) AS sv
  FROM q0, generate_series(0, {m - 1}) g(j)),
codes AS (
  SELECT vec_id, j, cid AS code FROM (
    SELECT cs.vec_id, cs.j, c.cid,
           row_number() OVER (PARTITION BY cs.vec_id, cs.j
               ORDER BY {_sql_d2_int('cs.sv', 'c.cv', sd)}, c.cid) AS rn
    FROM cs JOIN {pcf} c ON c.j = cs.j) WHERE rn = 1),
cl AS (SELECT vec_id, list(code ORDER BY j) AS codes FROM codes GROUP BY vec_id),
qn AS (SELECT n.*, q0.qv FROM nrm n JOIN q0 USING (vec_id)
       WHERE n.vec_id < {N_QUERIES}),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT q.vec_id, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
               ORDER BY {_sql_d2_int('q.qv', 'c.cv', dim)}, c.cid) AS rn
    FROM qn q CROSS JOIN {cf} c) WHERE rn <= {IVF_NPROBE}),
qtab AS (
  SELECT q.vec_id AS query_id, c.j, c.cid,
         list_sum(list_transform(generate_series(1, {sd}),
           i -> (q.vec[c.j*{sd}+i] - {cvd})
              * (q.vec[c.j*{sd}+i] - {cvd}))) AS d2
  FROM qn q CROSS JOIN {pcf} c),
qtl AS (SELECT query_id, j, list(d2 ORDER BY cid) AS tr
        FROM qtab GROUP BY query_id, j),
qt2 AS (SELECT query_id, list(tr ORDER BY j) AS tab FROM qtl GROUP BY query_id),
adc AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, {m}),
                  j -> t.tab[j][cl.codes[j] + 1])) AS adc_d2
  FROM probes p
  JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.query_id
  JOIN cl ON cl.vec_id = a.vec_id
  JOIN qt2 t ON t.query_id = p.query_id),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_d2, neighbor_id) AS rn
    FROM adc) WHERE rn <= {PQ_SHORTLIST}),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         list_sum(list_transform(generate_series(1, {dim}),
                  i -> q.vec[i]*c.vec[i])) / (q.norm * c.norm) AS sim
  FROM short s
  JOIN nrm q ON q.vec_id = s.query_id
  JOIN nrm c ON c.vec_id = s.neighbor_id),
apk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rn
    FROM rer) WHERE rn <= {TOP_K}),
ext AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot} / (q.norm * c.norm) AS sim
  FROM nrm q JOIN nrm c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}),
epk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rn
    FROM ext) WHERE rn <= {TOP_K}),
hits AS (
  SELECT e.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hits
  FROM epk e LEFT JOIN apk a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id)
SELECT query_id, CAST({TOP_K} AS INT) AS k, n_hits,
       CAST((n_hits * {_MICRO}) // {TOP_K} AS BIGINT) AS recall_ppm
FROM hits
"""


@query("similarity_ivfpq_recall", oracle=_ivfpq_recall_oracle())
def similarity_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed search + recall@k vs exact — the production vector
    index (FAISS `IndexIVFPQ`) assembled from the repo's registered
    halves: the engine-exact IVF coarse quantizer prunes to nprobe lists,
    PQ ADC scores only the pruned candidates from 4-bit codes, the
    shortlist reranks exactly, and per-query recall against exact cosine
    is reported.  `similarity_ivf_topk` and `similarity_pq_topk` each
    measure one half; this measures the composition a deployment
    actually runs (errors COMPOUND: list pruning can evict a vector that
    PQ would have scored well, which no single-half recall shows).

    Non-residual composition (IVFFlat+PQ): codes quantize raw vectors,
    not per-list residuals — residual encoding changes constants, not
    plan shape.  Oracle-paired end-to-end: both fit chains are the
    engine-exact integer k-means (the PQ chain prefixed `p…` so the two
    coexist in one CTE tree), assignment/encoding are integer argmins,
    ADC folds are shared double op trees.

    Scale: candidates scored = nprobe/k of the corpus at 4 bits/dim·m;
    the probe/candidate join co-partitions on cid; rerank touches
    shortlist rows only; rank windows are (n_queries × k)-bounded."""
    from iceberg_table_generator_spark.operators.similarity import (
        _d2_structs_int,
        _dot,
        _pq_codes,
        _pq_query_table,
        _qint,
        codebooks_to_float,
        IVF_NPROBE,
        ivf_index,
        N_QUERIES,
        PQ_SHORTLIST,
        pq_index,
        similarity_cosine_topk,
        TOP_K,
        with_norm,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = ivf_index(emb, cache_key=sf_dir)
    books = pq_index(emb, cache_key=sf_dir)
    qemb = with_norm(emb).withColumn("qv", _qint("vec"))
    best = F.array_min(_d2_structs_int("qv", cents))
    cand = qemb.select(
        "vec_id",
        "vec",
        "norm",
        best["cluster_id"].alias("cid"),
        _pq_codes("vec", books).alias("codes"),
    ).transform(persist_tracked)
    qry = (
        cand.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("qv", _qint("vec"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("norm").alias("qnorm"),
            _pq_query_table("vec", codebooks_to_float(books)).alias("qtab"),
            F.explode(
                F.slice(
                    F.array_sort(_d2_structs_int("qv", cents)), 1, IVF_NPROBE
                )
            ).alias("probe"),
        )
        .select(
            "query_id", "qvec", "qnorm", "qtab",
            F.col("probe")["cluster_id"].alias("cid"),
        )
    )
    adc = (
        cand.join(F.broadcast(qry), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qvec",
            "qnorm",
            F.col("vec_id").alias("neighbor_id"),
            "vec",
            "norm",
            F.aggregate(
                F.zip_with(
                    "codes", "qtab", lambda code, row: F.element_at(row, code + 1)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("adc_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    shortlist = adc.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= PQ_SHORTLIST
    )
    sim = (_dot("qvec", "vec") / (F.col("qnorm") * F.col("norm"))).alias("sim")
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    apk = (
        shortlist.select("query_id", "neighbor_id", sim)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    epk = similarity_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    hits = (
        epk.alias("e")
        .join(
            apk.alias("a"),
            (F.col("e.query_id") == F.col("a.query_id"))
            & (F.col("e.neighbor_id") == F.col("a.neighbor_id")),
            "left",
        )
        .groupBy(F.col("e.query_id").alias("query_id"))
        .agg(F.count(F.col("a.neighbor_id")).cast("long").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        F.lit(TOP_K).cast("int").alias("k"),
        "n_hits",
        F.expr(f"CAST((n_hits * {_MICRO}) div {TOP_K} AS BIGINT)").alias(
            "recall_ppm"
        ),
    )


# --------------------------------------------------------------------------
# Dedup tier-overlap matrix (exact × lexical × semantic Venn)
# --------------------------------------------------------------------------


def _tier_overlap_oracle() -> str:
    from iceberg_table_generator_spark.operators.dedup import (
        _MINHASH_ORACLE,
    )
    from iceberg_table_generator_spark.operators.wave11 import (
        _sql_semdedup_ctes,
        SEMDEDUP_TAU,
    )
    from iceberg_table_generator_spark.operators.similarity import _VEC_DIM

    return f"""
WITH lex_q AS ({_MINHASH_ORACLE}),
sem_base AS ({_sql_semdedup_ctes()}
  SELECT least(u.vec_id, v.vec_id) AS a, greatest(u.vec_id, v.vec_id) AS b
  FROM m u JOIN m v ON u.cid = v.cid
   AND (u.ccos < v.ccos OR (u.ccos = v.ccos AND u.vec_id < v.vec_id))
  WHERE list_sum(list_transform(generate_series(1, {_VEC_DIM}),
                                i -> u.vec[i] * v.vec[i]))
        / (u.nrm * v.nrm) >= {SEMDEDUP_TAU}),
exact_p AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM (SELECT doc_id, md5(text) AS h FROM documents) x
  JOIN (SELECT doc_id, md5(text) AS h FROM documents) y
    ON x.h = y.h AND x.doc_id < y.doc_id),
lex_p AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM lex_q),
sem_p AS (SELECT DISTINCT a, b FROM sem_base),
u AS (
  SELECT a, b FROM exact_p UNION
  SELECT a, b FROM lex_p UNION
  SELECT a, b FROM sem_p),
flags AS (
  SELECT u.a, u.b,
         CASE WHEN e.a IS NULL THEN 0 ELSE 1 END AS in_exact,
         CASE WHEN l.a IS NULL THEN 0 ELSE 1 END AS in_lexical,
         CASE WHEN s.a IS NULL THEN 0 ELSE 1 END AS in_semantic
  FROM u
  LEFT JOIN exact_p e ON e.a = u.a AND e.b = u.b
  LEFT JOIN lex_p l ON l.a = u.a AND l.b = u.b
  LEFT JOIN sem_p s ON s.a = u.a AND s.b = u.b)
SELECT CAST(in_exact AS INT) AS in_exact,
       CAST(in_lexical AS INT) AS in_lexical,
       CAST(in_semantic AS INT) AS in_semantic,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM flags GROUP BY in_exact, in_lexical, in_semantic
"""


@query("dedup_tier_overlap_matrix", oracle=_tier_overlap_oracle())
def dedup_tier_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-ladder Venn: every duplicate PAIR any tier detects, flagged
    by which tiers detect it — exact (identical text), lexical
    (MinHash-LSH candidates verified at Jaccard ≥ 0.5, the registered
    `dedup_minhash_lsh` output), semantic (SemDeDup cluster-local cosine
    ≥ τ over the id-aligned embeddings) — aggregated to the ≤ 7 populated
    cells of the 2³ membership grid.  The cell (0,0,1) is the headline:
    pairs ONLY the embedding tier sees (paraphrases — the SemDeDup
    paper's motivating count), and the (1,·,·) rows are the sanity check
    that byte-identical duplicates are caught by the cheaper tiers too.

    Compositional: the lexical set is the registered query run unchanged
    (oracle text composed verbatim); the semantic set is the registered
    member relation's τ-cut pair join; exact is one md5 self-join on the
    hash key.  Every tier's pair relation is bounded by its own pruning
    (hash groups / LSH buckets / clusters) — the union and the flag
    joins are pair-set-sized, never corpus².  Output ≤ 8 rows."""
    from iceberg_table_generator_spark.operators.dedup import (
        dedup_minhash_lsh,
    )
    from iceberg_table_generator_spark.operators.similarity import _dot
    from iceberg_table_generator_spark.operators.wave11 import (
        _semdedup_prior_pairs,
        _semdedup_relation,
        SEMDEDUP_TAU,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    x = d.select(F.col("doc_id").alias("a"), "h")
    y = d.select(F.col("doc_id").alias("b"), "h")
    exact_p = (
        x.join(y, "h").filter(F.col("a") < F.col("b")).select("a", "b")
    )
    lex_p = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .distinct()
    )
    m = _semdedup_relation(spark, sf_dir)
    sem_p = (
        _semdedup_prior_pairs(m)
        .filter(F.col("sim") >= SEMDEDUP_TAU)
        .select(
            F.least("u_id", "v_id").alias("a"),
            F.greatest("u_id", "v_id").alias("b"),
        )
        .distinct()
    )
    # r14: the union-then-3-left-joins shape evaluated every tier's pair
    # relation TWICE (once inside the distinct union, once as a join
    # probe) — for the lexical tier that is the full MinHash-LSH pipeline
    # re-run.  Tagging each tier's (distinct) pairs with a one-hot flag
    # triple and folding with max() per pair computes the identical
    # membership grid with each tier evaluated ONCE and zero joins: the
    # union's groupBy(a, b) IS the old distinct's shuffle, so the plan
    # drops three pair-set joins and one evaluation of every tier.
    def _tag(p: DataFrame, e: int, lx: int, s: int) -> DataFrame:
        return p.select(
            "a",
            "b",
            F.lit(e).alias("e"),
            F.lit(lx).alias("l"),
            F.lit(s).alias("s"),
        )

    flags = (
        _tag(exact_p, 1, 0, 0)
        .unionByName(_tag(lex_p, 0, 1, 0))
        .unionByName(_tag(sem_p, 0, 0, 1))
        .groupBy("a", "b")
        .agg(
            F.max("e").cast("int").alias("in_exact"),
            F.max("l").cast("int").alias("in_lexical"),
            F.max("s").cast("int").alias("in_semantic"),
        )
    )
    return flags.groupBy("in_exact", "in_lexical", "in_semantic").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


# --------------------------------------------------------------------------
# Text ↔ embedding alignment (CLIP-score filtering proxy)
# --------------------------------------------------------------------------
#: Alignment threshold for the retention count (the LAION pipeline keeps
#: pairs with CLIP score above a fixed cut; cosine 0 is the natural cut
#: for the sign-hash proxy — uncorrelated projections center there).
ALIGN_KEEP_T = 0.0


def _alignment_oracle() -> str:
    from iceberg_table_generator_spark.operators.similarity import _VEC_DIM

    dim = _VEC_DIM
    return f"""
WITH tok AS (
  SELECT doc_id, source, unnest({tokens_sql()}) AS w
  FROM documents),
hashed AS (
  SELECT doc_id, source,
         CAST(1 + ({md5_60_sql('w')} % {dim}) AS INT) AS i,
         CAST((({md5_60_sql('w')} >> 6) % 2) * 2 - 1 AS BIGINT) AS sgn
  FROM tok),
tv AS (
  SELECT doc_id, source, i, CAST(sum(sgn) AS BIGINT) AS x
  FROM hashed GROUP BY doc_id, source, i),
tvl AS (
  SELECT doc_id, source, map_from_entries(list(ROW(i, x))) AS mv
  FROM tv GROUP BY doc_id, source),
e AS (
  SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings),
al AS (
  SELECT t.doc_id, t.source,
         list_sum(list_transform(generate_series(1, {dim}),
           i -> CAST(COALESCE(element_at(t.mv, i)[1], 0) AS DOUBLE)
                * e.vec[i])) AS dp,
         sqrt(list_sum(list_transform(generate_series(1, {dim}),
           i -> CAST(COALESCE(element_at(t.mv, i)[1], 0) AS DOUBLE)
              * COALESCE(element_at(t.mv, i)[1], 0)))) AS tn,
         sqrt(list_sum(list_transform(generate_series(1, {dim}),
           i -> e.vec[i] * e.vec[i]))) AS en
  FROM tvl t JOIN e ON e.doc_id = t.doc_id),
sc AS (
  SELECT doc_id, source,
         CASE WHEN tn = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(round(dp / (tn * en) * {_MICRO}, 0) AS BIGINT) END
           AS align_micro
  FROM al)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(align_micro) AS BIGINT) AS align_micro_sum,
       CAST(sum(CASE WHEN align_micro > {int(ALIGN_KEEP_T * _MICRO)}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST((sum(CASE WHEN align_micro > {int(ALIGN_KEEP_T * _MICRO)}
                      THEN 1 ELSE 0 END) * {_MICRO}) // count(*) AS BIGINT)
         AS keep_ppm
FROM sc GROUP BY source
"""


@query("multimodal_text_embedding_alignment", oracle=_alignment_oracle())
def multimodal_text_embedding_alignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Text↔embedding alignment filter — the CLIP-score curation proxy
    (LAION filters image-text pairs by CLIP cosine; this is that op over
    the id-aligned documents/embeddings pair): each document's tokens
    feature-hash into the embedding space (md5 dim, ±1 sign, summed with
    multiplicity — a deterministic bag-of-words projection), alignment =
    cosine(text projection, stored embedding), reported as per-source
    mass and retention above the cut.  With a real encoder the text side
    becomes CLIP text embeddings; the per-pair cosine, threshold cut,
    and retention report — the parts that cost anything at 100 TB — are
    exactly this plan (the sanctioned-stub pattern of the decode path).

    Exactness: the projection is INTEGER (signed token counts per dim);
    the cosine is one shared double op tree; per-doc scores micro-round
    before the source aggregate, so sums are order-free integers.

    Scale: one token pass → (doc, dim)-keyed integer aggregate (≤ dim
    rows per doc), one id-co-partitioned join against the embeddings
    scan, sources-bounded output."""
    from iceberg_table_generator_spark.operators.similarity import _VEC_DIM

    dim = _VEC_DIM
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(tokens()).alias("w")
    )
    h = md5_60(F.col("w"))
    hashed = tok.select(
        "doc_id",
        "source",
        (F.lit(1) + (h % dim)).cast("int").alias("i"),
        ((F.shiftrightunsigned(h, 6) % 2) * 2 - 1).cast("long").alias("sgn"),
    )
    tv = hashed.groupBy("doc_id", "source", "i").agg(
        F.sum("sgn").cast("long").alias("x")
    )
    tvl = tv.groupBy("doc_id", "source").agg(
        F.map_from_entries(F.collect_list(F.struct("i", "x"))).alias("mv")
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    idx = F.sequence(F.lit(1), F.lit(dim))
    tcomp = F.transform(
        idx,
        lambda i: F.coalesce(F.element_at("mv", i.cast("int")), F.lit(0)).cast(
            "double"
        ),
    )
    al = tvl.join(e, "doc_id").select(
        "doc_id",
        "source",
        F.aggregate(
            F.zip_with(tcomp, "vec", lambda t, v: t * v),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("dp"),
        F.sqrt(
            F.aggregate(
                F.transform(tcomp, lambda t: t * t),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("tn"),
        F.sqrt(
            F.aggregate(
                F.transform("vec", lambda v: v * v),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("en"),
    )
    sc = al.select(
        "source",
        F.when(F.col("tn") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.round(F.col("dp") / (F.col("tn") * F.col("en")) * _MICRO, 0).cast(
                "long"
            )
        )
        .alias("align_micro"),
    )
    cut = int(ALIGN_KEEP_T * _MICRO)
    kept = F.when(F.col("align_micro") > cut, 1).otherwise(0)
    return (
        sc.withColumn("k", kept)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("align_micro").cast("long").alias("align_micro_sum"),
            F.sum("k").cast("long").alias("n_kept"),
            F.expr(f"(sum(k) * {_MICRO}) div count(*)")
            .cast("long")
            .alias("keep_ppm"),
        )
    )
