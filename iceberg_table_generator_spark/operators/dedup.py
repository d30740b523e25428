"""Deduplication operators (driver-mandated extension, SURVEY.md §2.8).

Four tiers over the `documents` table, each designed for 100 TB:

- exact: content-hash groupBy — one shuffle on the 16-byte digest (never on
  the document text), keep-first by doc_id.
- n-gram Jaccard: inverted-index self-join on 3-word shingles — candidate
  pairs are only those sharing ≥1 shingle, so cost scales with true overlap,
  not |docs|².  DuckDB-oracle-checkable end to end.
- MinHash + LSH banding: constant-size signatures (64 perms) per doc, band
  buckets bound the candidate set; verification joins back to exact Jaccard.
  Hashing is engine-independent (md5-prefix base hash + universal-hash
  permutations), so the whole pipeline is DuckDB-oracle-paired since r5;
  recall vs the exact operator is additionally asserted in
  tests/test_dedup.py.
- SimHash: 60-bit fingerprints from md5-prefix token hashes (engine-
  independent, oracle-paired), chunk-banded candidate generation
  (pigeonhole: hamming ≤ 3 ⇒ some 15-bit chunk equal), bit_count XOR verify.

No Python UDFs anywhere — hashing is md5/conv plus integer column
arithmetic (all JVM codegen), set math is explode + groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from iceberg_table_generator_spark.functions.cache import persist_tracked
from iceberg_table_generator_spark.functions.text import (
    md5_60,
    md5_60_sql,
    shingles,
    shingles_sql,
    tokens,
    tokens_sql,
)
from iceberg_table_generator_spark.operators.relational import davg, sql_davg
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table, spread


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(text))   AS content_key,
           min(doc_id)        AS keep_doc_id,
           count(*)           AS n_copies
    FROM documents
    GROUP BY md5(lower(text))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash, keep-min doc_id.

    Scale: the shuffle key is the 128-bit digest, not the document — at
    100 TB the shuffle moves ~32 bytes/doc.  Equivalent plan to
    `dropDuplicates(["content_key"])` but keeps the group size for audit."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("content_key", F.md5(F.lower(F.col("text"))))
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# --------------------------------------------------------------------------
# Near-dup: n-gram Jaccard via inverted-index join (exact, oracle-checked)
# --------------------------------------------------------------------------
_JACCARD_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, len(ws) - 2),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
  FROM w),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT p.doc_a, p.doc_b,
       round(p.shared * 1.0 / (ca.n + cb.n - p.shared), 6) AS jaccard
FROM pairs p
JOIN cnt ca ON p.doc_a = ca.doc_id
JOIN cnt cb ON p.doc_b = cb.doc_id
WHERE p.shared * 1.0 / (ca.n + cb.n - p.shared) >= 0.5
"""


JACCARD_DF_CAP = 1000  # stop-shingle document-frequency cap (no-op at test SFs)


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, df_cap: int = JACCARD_DF_CAP
) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5).

    Inverted index: explode shingles → self-join on the shingle → count
    shared per pair → Jaccard from per-doc distinct-shingle counts.  The
    join key is the shingle, so only genuinely overlapping pairs are ever
    materialized.

    Stop-shingle cap: shingles whose document frequency exceeds `df_cap`
    (boilerplate headers, licence text) are dropped from the inverted
    index BEFORE the self-join — one boilerplate shingle shared by 10⁶
    docs would otherwise create a 10¹²-pair bucket.  The hot set is tiny
    by construction (few shingles exceed the cap), so it applies as a
    broadcast anti-join — the candidate-generation shuffle never sees the
    hot buckets.  Per-doc set sizes are computed before the cap, but
    capped shingles are also excluded from the `shared` count — so above
    the cap the result is a CONSERVATIVE approximation: a pair sharing a
    capped shingle has its union exact but its intersection undercounted,
    so its Jaccard is underestimated and near-threshold pairs can be
    dropped (not only pairs overlapping solely in capped shingles).
    That is the standard contract of stop-shingle filtering.  The default
    cap sits far above any df at oracle scale, so nothing is capped there
    and the driver check stays exact."""
    d = spread(load_table(spark, sf_dir, "documents")).withColumn("tokens", tokens())
    d = d.withColumn("shingles", shingles("tokens", 3))
    # Set size rides along from the array (F.size) — no count aggregation,
    # no post-join back to a counts table.  The index key is the xxhash64
    # of the shingle: an 8-byte shuffle key instead of a ~20-byte string; a
    # 64-bit collision would need ~2^32 distinct shingles to matter.
    # Materialized once — persist(DISK_ONLY), not localCheckpoint: the
    # hot-shingle pass and the posting-list build both consume it, and
    # re-deriving it would re-run tokenization+shingling per consumer —
    # the same conscious write-the-intermediate trade a shuffle makes.
    # This relation is CORPUS-sized (one row per posting), so the
    # embedding-cosine r5 rationale applies verbatim: a localCheckpoint
    # pins it in executor-local storage with truncated lineage — one lost
    # executor fails a 100 TB run — while DISK_ONLY persist keeps the
    # recompute-avoidance, stays recomputable, and keeps corpus-sized
    # blocks out of executor heap.
    sh = d.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode(F.transform("shingles", lambda x: F.xxhash64(x))).alias("s"),
    ).transform(persist_tracked)
    hot = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("s")
    )
    sh = sh.join(F.broadcast(hot), "s", "left_anti")
    # Inverted-index pair enumeration via posting lists: one shuffle groups
    # the index by shingle; pairs are generated in-row from each (sorted,
    # cap-bounded) posting list — no self-join, and singleton shingles
    # (the vast majority) die at the size(docs) >= 2 filter before any
    # pair exists.  The size-ratio prefilter (sound for t=0.5: jaccard ≥ t
    # forces min(na,nb)/max(na,nb) ≥ t) prunes inside the same expression,
    # before the pair-count aggregation ever sees a row.
    posting = (
        sh.groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    pair_structs = F.expr(
        """
        flatten(transform(docs, (a, i) ->
          filter(transform(slice(docs, i + 2, size(docs)), b ->
                   struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
                          a.n AS na, b.n AS nb)),
                 p -> p.na <= 2 * p.nb AND p.nb <= 2 * p.na)))
        """
    )
    pairs = (
        posting.select(F.explode(pair_structs).alias("p"))
        .select("p.*")
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("shared"))
    )
    jac = F.col("shared") * 1.0 / (F.col("na") + F.col("nb") - F.col("shared"))
    return pairs.filter(jac >= 0.5).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# Asymmetric containment near-dup (superset/boilerplate-expansion detector)
# --------------------------------------------------------------------------
_CONTAIN_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, len(ws) - 2),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
  FROM w),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT p.doc_a, p.doc_b,
       CAST(least(ca.n, cb.n) AS BIGINT) AS n_small,
       round(p.shared * 1.0 / least(ca.n, cb.n), 6) AS containment
FROM pairs p
JOIN cnt ca ON p.doc_a = ca.doc_id
JOIN cnt cb ON p.doc_b = cb.doc_id
WHERE p.shared * 1.0 / least(ca.n, cb.n) >= 0.8
"""

CONTAIN_T = 0.8
CONTAIN_DF_CAP = 1000  # stop-shingle cap, same contract as Jaccard's


@query("dedup_ngram_containment", oracle=_CONTAIN_ORACLE)
def dedup_ngram_containment(
    spark: SparkSession, sf_dir: str, df_cap: int = CONTAIN_DF_CAP
) -> DataFrame:
    """Exact 3-gram CONTAINMENT near-dup pairs (threshold 0.8): shared
    shingles over the SMALLER set.  Jaccard misses the quote-expansion /
    boilerplate-superset case — a 100-shingle doc fully embedded in a
    2000-shingle doc has Jaccard ≈ 0.05 but containment 1.0 — and that
    asymmetric case is exactly what training-set contamination and
    wrapped-boilerplate dedup look for (the standard companion metric to
    resemblance in Broder's shingling formulation).

    Same inverted-index plan as `dedup_ngram_jaccard` (posting lists over
    xxhash64 shingle keys, stop-shingle df-cap applied as a broadcast
    anti-join), with ONE deliberate difference: no size-ratio prefilter —
    containment is precisely the metric for which |A| ≪ |B| pairs are the
    signal, so pruning on size asymmetry would delete the answer.  The
    candidate space stays bounded by the same argument as Jaccard's: a
    pair is enumerated only under shingles both docs share, and the
    df-cap bounds every posting list, so candidates ≤ Σ df² over retained
    shingles, never all-pairs."""
    d = spread(load_table(spark, sf_dir, "documents")).withColumn("tokens", tokens())
    d = d.withColumn("shingles", shingles("tokens", 3))
    sh = d.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode(F.transform("shingles", lambda x: F.xxhash64(x))).alias("s"),
    ).transform(persist_tracked)
    hot = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("s")
    )
    sh = sh.join(F.broadcast(hot), "s", "left_anti")
    posting = (
        sh.groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    pair_structs = F.expr(
        """
        flatten(transform(docs, (a, i) ->
          transform(slice(docs, i + 2, size(docs)), b ->
            struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n AS na, b.n AS nb))))
        """
    )
    pairs = (
        posting.select(F.explode(pair_structs).alias("p"))
        .select("p.*")
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("shared"))
    )
    containment = F.col("shared") * 1.0 / F.least("na", "nb")
    return pairs.filter(containment >= CONTAIN_T).select(
        "doc_a",
        "doc_b",
        F.least("na", "nb").cast("long").alias("n_small"),
        F.round(containment, 6).alias("containment"),
    )


# --------------------------------------------------------------------------
# Near-dup clusters: connected components over the pair graph
# --------------------------------------------------------------------------
# Shared recursive-CTE prefix: near-dup pairs → undirected edges →
# transitive closure → per-member min-label cluster id.  Reused by the
# cluster query and the keep-canonical corpus filter below.
_CC_MEMBERS_CTE = f"""
WITH RECURSIVE pairs AS (
  -- the exact 3-gram near-dup pairs (same logic as dedup_ngram_jaccard)
  SELECT doc_a, doc_b FROM (
    WITH w AS (SELECT doc_id, {tokens_sql()} AS ws FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(generate_series(1, len(ws) - 2),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
           FROM w),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b
    FROM p JOIN cnt ca ON p.doc_a = ca.doc_id JOIN cnt cb ON p.doc_b = cb.doc_id
    WHERE p.shared * 1.0 / (ca.n + cb.n - p.shared) >= 0.5)),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
members AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)
"""

_CC_ORACLE = f"""{_CC_MEMBERS_CTE}
SELECT cluster_id, doc_id, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM members
"""


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged (doc_id, label) min-label propagation over the Jaccard
    pair graph — the shared core of `dedup_connected_components` and
    `dedup_keep_canonical` (r14: factored out so keep_canonical's plan
    skips the cluster-size attach it never reads).

    Every node starts as its own label; each round joins labels across
    edges and keeps the min; stops when a round changes nothing.  Rounds
    = graph diameter (near-dup components are tiny — 2-3 rounds); each
    round is one broadcast-able join on the pair set, NOT on the
    corpus."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    changed = -1
    for _ in range(50):  # safety bound well past any near-dup component diameter
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # The convergence flag rides INSIDE the checkpointed relation (the
        # old label is on the join's left side already), so counting the
        # changed rows is a filter over the checkpoint — no third
        # per-round join of new labels back to old ones.
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                    "new_label"
                ),
                F.col("label").alias("old_label"),
            )
        ).localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("new_label") != F.col("old_label")).count()
        labels = new_labels.select("doc_id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    if changed != 0:
        # Silent non-convergence would return wrong cluster labels and
        # surface only as a baffling oracle hash-mismatch — fail loudly.
        raise RuntimeError(
            "connected-components min-label propagation did not converge "
            f"within 50 rounds ({changed} labels still changing)"
        )
    return labels


@query("dedup_connected_components", oracle=_CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the Jaccard pair graph,
    labeled by the component's minimum doc_id (the canonical keeper —
    "connected components keep-min", SURVEY.md §2.8).

    Label propagation in :func:`_cc_labels`; the oracle computes the same
    components with a recursive CTE."""
    labels = _cc_labels(spark, sf_dir)
    # Cluster-size attach: `count(*) over (partition by label)` would put
    # an entire mega-cluster (boilerplate docs are exactly that) on one
    # task — the hot-key window shape r4/r5 removed everywhere else.
    # groupBy(label) has map-side combine; the sizes then attach through
    # the standard hot/tail split (top clusters ride a bounded broadcast,
    # the tail shuffle-joins — tail clusters are by definition not huge).
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    hot = sizes.orderBy(F.desc("cluster_size"), F.asc("label")).limit(1024)
    hot_rows = labels.join(F.broadcast(hot), "label")
    tail_rows = labels.join(F.broadcast(hot), "label", "left_anti").join(
        sizes.hint("merge"), "label"
    )
    return hot_rows.unionByName(tail_rows).select(
        F.col("label").alias("cluster_id"),
        "doc_id",
        "cluster_size",
    )


_KEEP_CANONICAL_ORACLE = f"""{_CC_MEMBERS_CTE}
SELECT d.doc_id,
       m.cluster_id,
       (m.cluster_id IS NULL OR m.cluster_id = d.doc_id) AS is_kept
FROM documents d LEFT JOIN members m ON d.doc_id = m.doc_id
"""


@query("dedup_keep_canonical", oracle=_KEEP_CANONICAL_ORACLE)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus dedup verdict — the operation a training-data
    pipeline actually runs after clustering: every document tagged with
    its near-dup cluster (NULL if it has none) and a keep/drop flag that
    keeps exactly one canonical doc per cluster (the min doc_id, which IS
    the cluster label) plus every unclustered doc.

    Scale note (r6): the membership attach is deliberately a plain
    shuffle left join, NOT a broadcast.  The cluster relation holds every
    document with a near-dup partner — at real web-corpus duplication
    rates (30-50%, the RefinedWeb/Gopher numbers) it is CORPUS-FRACTION
    sized, tens of TB at 100 TB input, so a broadcast would kill the
    driver exactly when dedup matters most.  A doc_id equi-join shuffles
    both sides on a uniform high-cardinality key (no skew: one row per
    doc_id on each side), and AQE is free to pick a local broadcast at
    runtime only if the relation really is small.  Downstream, the
    cleaned corpus is `filter(is_kept)`.

    r14: joins the converged label relation (:func:`_cc_labels`)
    directly — the cluster-size attach in `dedup_connected_components`
    (sizes groupBy + hot/tail split joins) computed a column this query
    never reads, and Catalyst cannot prune joins it can't prove
    row-preserving."""
    cc = _cc_labels(spark, sf_dir).select(
        "doc_id", F.col("label").alias("cluster_id")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(cc, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        (F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))).alias(
            "is_kept"
        ),
    )


# --------------------------------------------------------------------------
# Near-dup: embedding cosine threshold (the semantic-dedup tier)
# --------------------------------------------------------------------------
COSINE_DUP_THRESHOLD = 0.35  # testdata's near-dup band (max pairwise ≈ 0.51)
EMB_DEDUP_K = 64  # finer quantizer than the k=16 search path: prune rate only

_EMB_DEDUP_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
n AS (
  SELECT vec_id, vec,
         sqrt(list_sum(list_transform(generate_series(1, len(vec)),
                                      i -> vec[i] * vec[i]))) AS norm
  FROM v)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_sum(list_transform(generate_series(1, len(a.vec)),
                                     i -> a.vec[i] * b.vec[i]))
             / (a.norm * b.norm), 6) AS sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(generate_series(1, len(a.vec)),
                              i -> a.vec[i] * b.vec[i]))
      / (a.norm * b.norm) >= {COSINE_DUP_THRESHOLD}
"""


@query("dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs: embedding cosine ≥ threshold — EXACT, but
    cluster-pruned instead of all-pairs.

    Shape: k-means coarse clusters (reused from operators/similarity) give
    every vector a cluster id; a cluster PAIR (ci, cj) can contain a
    qualifying vector pair only if the angular triangle inequality allows
    it:  angle(a,b) ≥ angle(ci,cj) − r_i − r_j  (r = the cluster's max
    angular radius), so pairs with  angle(ci,cj) − r_i − r_j > arccos(t)
    are provably empty and never joined.  The survivors join with plain
    equi-joins on cluster ids — shuffle-hash co-partitioned, ZERO
    BroadcastNestedLoopJoin — and the exact cosine + threshold runs only
    on those candidates.  Output is bit-identical to the all-pairs form
    (the prune is sound, never lossy), which is what keeps this
    oracle-checkable while the old `vec_a < vec_b`-only join was an O(n²)
    nested loop.

    At 100 TB: clustered corpora prune most of the k² cluster grid; in the
    worst (unclustered) case the compare count matches all-pairs but the
    work distributes by hash shuffle across executors instead of looping
    over a broadcast copy of the whole corpus."""
    import math

    from iceberg_table_generator_spark.operators.similarity import (
        d2_structs,
        dot,
        centroids_to_float,
        ivf_index,
        with_norm,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    # Float view of the shared integer-k-means quantizer, but fitted at
    # k=64 (own cache entry) instead of the search-path k=16: the pruning
    # is triangle-inequality admissible for ANY clustering — only the
    # prune RATE depends on it.  Finer cells have smaller angular radii,
    # so far more (ci, cj) pairs are provably empty: at sf0.1 the k=16
    # grid admitted nearly every pair (~2M candidate dots, ~12 s local);
    # k=64 cuts the candidate count ~10x and also widens the candidate
    # join to 64 hash keys, which is what the parallelism of the exact
    # verify stage is bounded by.  No oracle-exact integer path needed —
    # the prune only has to be internally consistent.
    cents = centroids_to_float(ivf_index(emb, cache_key=sf_dir, k=EMB_DEDUP_K))
    # Assignment + angular radius in one narrow pass: nearest centroid by
    # squared distance, then angle(vec, centroid) from the same struct.
    best = F.array_min(d2_structs("vec", cents))
    assigned = with_norm(emb).select(
        "vec_id",
        "vec",
        "norm",
        best["cluster_id"].alias("cluster_id"),
        best["d2"].alias("d2"),
    )
    # cos(angle to own centroid) via the law of cosines:
    #   d2 = |v|^2 + |c|^2 − 2|v||c|cosθ  ⇒  cosθ = (|v|^2+|c|^2−d2)/(2|v||c|)
    cnorm2 = {cid: sum(x * x for x in vec) for cid, vec in cents}
    cnorm2_map = F.create_map(
        *[F.lit(v) for kv in cnorm2.items() for v in kv]
    )
    cos_theta = (
        (F.col("norm") * F.col("norm") + cnorm2_map[F.col("cluster_id")] - F.col("d2"))
        / (2.0 * F.col("norm") * F.sqrt(cnorm2_map[F.col("cluster_id")]))
    )
    ang = F.acos(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), cos_theta)))
    # DISK_ONLY persist, not localCheckpoint: this relation is one row per
    # corpus vector.  A localCheckpoint pins it in executor-local storage
    # with TRUNCATED lineage — on a 100 TB run with preemptible executors
    # one lost executor fails the whole job (localCheckpoint blocks are
    # not recomputable), and the pin competes with shuffle memory.
    # persist keeps the recompute-avoidance (the relation is read twice:
    # radii collect + self-join sides) while remaining fault-tolerant,
    # and DISK_ONLY keeps corpus-sized blocks out of executor heap.
    # The small pair-set checkpoints in the CC loop above are fine — they
    # are bounded by the candidate-pair relation, not the corpus.
    #
    # spread() widens the persisted working set BEFORE the verify stage:
    # the exact-cosine join pipelines over these partitions (the probe
    # side broadcasts or co-shuffles), so its parallelism is exactly this
    # partition count.  A single parquet file otherwise yields ONE
    # partition and a serial verify — measured 12 s vs 4 s at sf0.1 on
    # local[32]; at real scale the scan is already split and spread() is
    # a no-op.
    clustered = spread(assigned.withColumn("ang", ang)).transform(persist_tracked)
    radii = {
        r.cluster_id: r.r
        for r in clustered.groupBy("cluster_id").agg(F.max("ang").alias("r")).collect()
    }

    def _cent_angle(u: list[float], v: list[float]) -> float:
        dot = sum(x * y for x, y in zip(u, v))
        nu = math.sqrt(sum(x * x for x in u))
        nv = math.sqrt(sum(x * x for x in v))
        return math.acos(max(-1.0, min(1.0, dot / (nu * nv))))

    acos_t = math.acos(COSINE_DUP_THRESHOLD)
    admissible = [
        (ci, cj)
        for ci in radii
        for cj in radii
        if _cent_angle(dict(cents)[ci], dict(cents)[cj]) - radii[ci] - radii[cj]
        <= acos_t + 1e-9
    ]
    adm = spark.createDataFrame(admissible, "ca int, cb int")
    a = clustered.select(
        F.col("vec_id").alias("vec_a"),
        F.col("vec").alias("va"),
        F.col("norm").alias("na"),
        F.col("cluster_id").alias("ca"),
    )
    b = clustered.select(
        F.col("vec_id").alias("vec_b"),
        F.col("vec").alias("vb"),
        F.col("norm").alias("nb"),
        F.col("cluster_id").alias("cb"),
    )
    sim = dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (
        a.join(F.broadcast(adm), "ca")
        .join(b, "cb")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim_raw", sim)
        .filter(F.col("sim_raw") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("sim_raw", 6).alias("sim"))
    )


# --------------------------------------------------------------------------
# Near-dup: MinHash + LSH banding (the 100 TB path)
# --------------------------------------------------------------------------
N_PERM = 64
N_BANDS = 16  # 16 bands × 4 rows ⇒ candidate threshold ≈ (1/16)^(1/4) ≈ 0.5
ROWS_PER_BAND = N_PERM // N_BANDS

# Engine-independent hashing (r5): the r4 form used xxhash64, which DuckDB
# cannot evaluate, forcing a rows-only driver check.  Both engines compute
# IDENTICAL md5 hex digests natively, and both can parse a 15-hex-char
# (60-bit) prefix into a BIGINT — Spark `conv(substring(md5(s),1,15),16,10)`
# equals DuckDB `CAST('0x' || substring(md5(s),1,15) AS BIGINT)` bit for
# bit at native speed (one digest call per value; no per-character lambda
# folds).  MinHash permutations are then universal hashes
# min_s((a_i·(h mod P)+b_i) mod P) — every product stays below 2^60, and
# the FULL pipeline (signature → banding → candidates → exact-Jaccard
# verify) is oracle-paired.
#
# Universe-width bias bound (r5 advice): reducing the 60-bit shingle hash
# mod P (~2^30 universe) before the min adds ~|A|·|B|/P cross-doc collision
# probability per pair — two docs with 500 shingles each pick up ≤ ~2.5e-4
# extra match probability per permutation, biasing the Jaccard ESTIMATE
# slightly upward and inflating the LSH candidate set by the same order.
# OUTPUT stays exact (candidates are exact-Jaccard verified); the cost is
# a few extra verified-and-rejected candidates.  If candidate inflation
# ever matters at 100 TB, switch to a 61-bit Mersenne scheme (P = 2^61−1
# with split multiply-mod, or two independent 30-bit hashes) to widen the
# universe; both engines can express the split multiply in BIGINT.
MH_P = 1_000_000_007
MH_A = [(2654435761 * (i + 1)) % MH_P for i in range(N_PERM)]
MH_B = [(1779033703 * (i + 1) + 104729) % MH_P for i in range(N_PERM)]


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """64 minhash values per doc from one explode pass.

    One aggregation computes all 64 permutations: min((a_i·h+b_i) mod P)
    per i, where `h` is the shingle pre-hashed to a long — the string is
    hashed once and each permutation is three integer ops on 8 bytes, all
    JVM codegen'd.  The shuffle carries just (doc_id, 64×8 bytes)."""
    aggs = [
        F.min((F.lit(MH_A[i]) * F.col("h") + F.lit(MH_B[i])) % MH_P).alias(f"mh_{i}")
        for i in range(N_PERM)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_band_keys(docs: DataFrame, pre_shingled: bool = False) -> DataFrame:
    """(doc_id, band_id, band_hash) — every LSH band key of every document,
    via the engine-independent md5-60 minhash pipeline (constants above).

    The shared candidate-generation core: the batch query self-joins this
    relation, the streaming near-dedup (streaming/neardup.py) joins a
    micro-batch's keys against its history store.  Documents with fewer
    than 3 tokens have no shingles, hence NO band rows — callers must
    treat keylessness as "cannot be a near-dup" (the batch self-join and
    the streaming anti-join both do so naturally).

    Hash IN-ROW (transform over the shingle array) and explode the 8-byte
    longs — exploding the raw ~30-byte shingle strings costs ~3× the
    whole signature stage (measured r5; the explode dominates, not the
    hash)."""
    d = docs
    if not pre_shingled:
        d = d.withColumn("tokens", tokens())
        d = d.withColumn("shingles", shingles("tokens", 3))
    sh = d.select(
        "doc_id",
        F.explode(F.transform("shingles", lambda s: md5_60(s) % MH_P)).alias("h"),
    )
    sig = minhash_signatures(sh)
    band_cols = [
        _band_fold(
            [F.col(f"mh_{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"band_{b}")
        for b in range(N_BANDS)
    ]
    banded = sig.select("doc_id", *band_cols)
    bands = banded.selectExpr(
        "doc_id",
        "stack({}, {}) AS (band_id, band_hash)".format(
            N_BANDS, ", ".join(f"{b}, band_{b}" for b in range(N_BANDS))
        ),
    )
    # persist(DISK_ONLY): every consumer uses this relation at least twice
    # (the pair query self-joins it; the verdict derives owners AND hits
    # from it), and differing output aliases defeat Spark's ReuseExchange —
    # without the persist the full tokenize→shingle→md5→signature pipeline
    # re-runs per branch (plan audit showed 0 reused exchanges, 3-4 corpus
    # scans per query).  16 small rows per doc; DISK_ONLY for the same
    # fault-tolerance rationale as the posting streams.
    return bands.transform(persist_tracked)


def _band_fold(cols: list[Column]) -> Column:
    """Combine a band's row-minima into one join key with the same base-31
    fold (collisions only ADD candidates, which exact verification then
    filters — and the oracle folds identically, so both engines see the
    same candidate set)."""
    return F.aggregate(
        F.array(*cols),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % MH_P,
    )


# Shared CTE chain: documents -> (doc_id, band_id, bk) — the SQL twin of
# `minhash_band_keys`, reused by the pair query and the one-pass verdict.
_SQL_BANDS_CTE = f"""
WITH tok AS (SELECT doc_id, {tokens_sql()} AS ws FROM documents),
sh AS (SELECT doc_id, unnest(
    {shingles_sql("ws", 3)}) AS s FROM tok),
hs AS (SELECT doc_id, {md5_60_sql('s')} % {MH_P} AS h FROM sh),
perms AS (SELECT * FROM (VALUES {", ".join(f"({i}, {MH_A[i]}, {MH_B[i]})" for i in range(N_PERM))}) t(i, a, b)),
mh AS (
  SELECT doc_id, p.i, min((p.a * h + p.b) % {MH_P}) AS m
  FROM hs CROSS JOIN perms p GROUP BY doc_id, p.i),
bands AS (
  SELECT doc_id, i // {ROWS_PER_BAND} AS band_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list(m ORDER BY i)),
                     (acc, x) -> (acc * 31 + x) % {MH_P}) AS bk
  FROM mh GROUP BY doc_id, i // {ROWS_PER_BAND})"""

_MINHASH_ORACLE = f"""{_SQL_BANDS_CTE},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT c.doc_a, c.doc_b,
       round(s.shared * 1.0 / (ca.n + cb.n - s.shared), 6) AS jaccard
FROM cand c
JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
JOIN cnt ca ON ca.doc_id = c.doc_a
JOIN cnt cb ON cb.doc_id = c.doc_b
WHERE s.shared * 1.0 / (ca.n + cb.n - s.shared) >= 0.5
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates, verified with exact Jaccard.

    Pipeline: shingle → 64-perm minhash signature → 16 band keys per doc →
    self-join on (band, band_hash) → exact-Jaccard verification of the
    candidate pairs only.  Hashing is engine-independent (universal hash
    over the base-31 char fold, constants above), so since r5 the whole
    pipeline is DuckDB-oracle-paired — the LSH candidate set itself is
    deterministic and identical on both engines, not just the verified
    output.  At 100 TB: signatures are constant-size per doc; band buckets
    bound candidates; a hot bucket (boilerplate shingles) is handled by
    salting the band key or capping bucket size."""
    d = spread(load_table(spark, sf_dir, "documents")).withColumn("tokens", tokens())
    d = d.withColumn("shingles", shingles("tokens", 3))
    bands = minhash_band_keys(d, pre_shingled=True)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Verify candidates with exact Jaccard (joins back to shingle sets).
    sets = d.select("doc_id", "shingles")
    verified = (
        cand.join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


# --------------------------------------------------------------------------
# One-pass LSH dedup verdict (the streaming ingest rule, batch-checkable)
# --------------------------------------------------------------------------
_ONE_PASS_ORACLE = f"""{_SQL_BANDS_CTE},
owner AS (
  SELECT band_id, bk, min(doc_id) AS min_doc
  FROM bands GROUP BY band_id, bk),
loses AS (
  SELECT DISTINCT b.doc_id
  FROM bands b JOIN owner o ON b.band_id = o.band_id AND b.bk = o.bk
  WHERE b.doc_id > o.min_doc)
SELECT d.doc_id,
       d.doc_id NOT IN (SELECT doc_id FROM loses) AS keep
FROM documents d
"""


@query("dedup_one_pass_verdict", oracle=_ONE_PASS_ORACLE)
def dedup_one_pass_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ingest near-dedup rule (streaming/neardup.py), run
    over a whole corpus as one batch with no history — oracle-paired so
    the exact keep/drop decision the stream makes is hash-checked against
    DuckDB, not just pytest-asserted.

    Rule: a doc is kept iff it is the minimum doc_id of EVERY LSH band
    bucket it belongs to (docs too short to shingle have no buckets and
    are always kept).  One-pass semantics — chains terminate at a kept
    representative, but the rule is deliberately not transitive; the
    batch CC operator is the transitive tier (full contract in
    streaming/neardup.py)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return near_dedup_batch_verdict(docs, None)


def near_dedup_batch_verdict(batch_df: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Per-batch keep/drop decision of the streaming near-dedup: returns
    (doc_id, keep) for every input doc.  `seen` is the history store of
    (band_id, band_hash) keys from previously kept docs (None = empty).
    Pure relational algebra over `minhash_band_keys`, so the no-history
    case is DuckDB-oracle-paired via `dedup_one_pass_verdict`."""
    bk = minhash_band_keys(batch_df)
    # history hits: any band key already in the store
    hist_hits = (
        bk.join(seen.select("band_id", "band_hash"), ["band_id", "band_hash"])
        .select("doc_id")
        .distinct()
        if seen is not None
        else None
    )
    # in-batch one-pass rule: a doc loses every bucket owned by a smaller
    # id.  r15 (guide §2.4): the bucket minimum rides a window over the
    # SAME (band_id, band_hash) key instead of a groupBy + join-back —
    # one keyed exchange replaces an exchange plus a join, and the key is
    # a bounded-bucket LSH key (the band join's own skew argument), so
    # the window partition is never a hot single task.
    wmin = Window.partitionBy("band_id", "band_hash")
    batch_hits = (
        bk.withColumn("min_doc", F.min("doc_id").over(wmin))
        .filter(F.col("doc_id") > F.col("min_doc"))
        .select("doc_id")
        .distinct()
    )
    drops = (
        batch_hits if hist_hits is None else batch_hits.unionByName(hist_hits)
    ).distinct()
    return (
        batch_df.select("doc_id")
        .join(drops.withColumn("keep", F.lit(False)), "doc_id", "left")
        .select("doc_id", F.coalesce("keep", F.lit(True)).alias("keep"))
    )


# --------------------------------------------------------------------------
# Near-dup: SimHash (engine-independent bits → oracle-paired since r5)
# --------------------------------------------------------------------------
SIMHASH_BITS = 60  # the md5-prefix hash width (15 hex chars)
SIMHASH_CHUNKS = 4  # hamming ≤ 3 ⇒ at least one 15-bit chunk identical
SIMHASH_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS
SIMHASH_CHUNK_MASK = (1 << SIMHASH_CHUNK_BITS) - 1


def simhash(df: DataFrame) -> DataFrame:
    """60-bit SimHash per doc: per-bit majority vote over token hashes.

    Token hashes are the engine-independent 60-bit md5 prefix (`md5_60`),
    so the fingerprint is identical on Spark and DuckDB.  Expressed as 60
    conditional sums over the exploded tokens — one shuffle on doc_id."""
    # Hash in-row, explode longs (same explode-width economics as minhash).
    hashed = df.select(
        "doc_id", F.explode(F.transform("tokens", md5_60)).alias("h")
    )
    bit = lambda i: F.shiftleft(F.lit(1).cast("long"), i)  # noqa: E731
    bit_sums = [
        F.sum(F.when(F.col("h").bitwiseAND(bit(i)) != 0, 1).otherwise(-1)).alias(
            f"b_{i}"
        )
        for i in range(SIMHASH_BITS)
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"b_{i}") > 0, bit(i)).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return sums.select("doc_id", fp.alias("simhash"))


_SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql()}) AS t FROM documents),
hh AS (SELECT doc_id, {md5_60_sql('t')} AS h FROM tok),
bits AS (
  SELECT doc_id, i.i AS i, sum(((h >> i.i) & 1) * 2 - 1) AS s
  FROM hh CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS i) i
  GROUP BY doc_id, i.i),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS simhash
  FROM bits GROUP BY doc_id),
ch AS (
  SELECT doc_id, simhash, c.c AS chunk_id,
         (simhash >> ({SIMHASH_CHUNK_BITS} * c.c)) & {SIMHASH_CHUNK_MASK} AS chunk_val
  FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) c),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM ch a JOIN ch b
    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ 3.

    Candidate generation by chunk banding (pigeonhole over 4 × 15-bit
    chunks), verification by bit_count(xor).  Fingerprint bits are
    engine-independent (md5-prefix token hashes), so the full pipeline is
    DuckDB-oracle-paired since r5.  At 100 TB the fingerprint is 8
    bytes/doc and candidates are bounded by chunk-bucket sizes."""
    d = spread(load_table(spark, sf_dir, "documents")).withColumn("tokens", tokens())
    # persist(DISK_ONLY): the self-join's differing aliases defeat
    # ReuseExchange, so without this the tokenize->md5->bit-vote pipeline
    # runs once per join side (8 bytes per doc; the minhash_band_keys
    # rationale verbatim).
    fp = simhash(d).transform(persist_tracked)
    chunks = fp.select(
        "doc_id",
        "simhash",
        *[
            F.shiftrightunsigned("simhash", SIMHASH_CHUNK_BITS * c)
            .bitwiseAND(F.lit(SIMHASH_CHUNK_MASK))
            .alias(f"c_{c}")
            for c in range(SIMHASH_CHUNKS)
        ],
    )
    stacked = chunks.selectExpr(
        "doc_id",
        "simhash",
        "stack({}, {}) AS (chunk_id, chunk_val)".format(
            SIMHASH_CHUNKS, ", ".join(f"{c}, c_{c}" for c in range(SIMHASH_CHUNKS))
        ),
    )
    a, b = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------------
# Incremental (O(Δ)) dedup: new batch vs already-ingested corpus
# --------------------------------------------------------------------------
DELTA_MOD, DELTA_REM = 5, 4  # docs with doc_id % 5 == 4 form the new batch

_INCR_DEDUP_ORACLE = f"""
WITH h AS (
  SELECT doc_id, md5(text) AS hh, doc_id % {DELTA_MOD} = {DELTA_REM} AS is_delta
  FROM documents),
base AS (SELECT DISTINCT hh FROM h WHERE NOT is_delta),
delta AS (SELECT doc_id, hh FROM h WHERE is_delta),
firsts AS (SELECT hh, min(doc_id) AS first_delta FROM delta GROUP BY hh)
SELECT d.doc_id,
       CASE WHEN b.hh IS NOT NULL THEN 'dup_of_base'
            WHEN d.doc_id > f.first_delta THEN 'dup_in_delta'
            ELSE 'new' END AS verdict
FROM delta d
LEFT JOIN base b ON b.hh = d.hh
JOIN firsts f ON f.hh = d.hh
"""


@query("dedup_incremental_verdict", oracle=_INCR_DEDUP_ORACLE)
def dedup_incremental_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup verdict for an incoming ingest batch against the
    already-ingested corpus — the O(Δ) maintenance form of `dedup_exact`
    (the `incremental_agg_maintenance` algebra applied to dedup): a
    continuously-growing corpus must classify each NEW doc as a duplicate
    of the base, a duplicate within its own batch (first-id wins, the
    `dedup_one_pass_verdict` arrival rule), or genuinely new — WITHOUT
    re-deduplicating the base against itself.

    The batch is simulated as doc_id ≡ {DELTA_REM} (mod {DELTA_MOD}) so
    it exists at every SF.  Cost is O(Δ + matches): the delta's content
    hashes anti/semi-join the base's hash index on the 16-byte digest
    (never the text — the `dedup_exact` shuffle posture), co-partitioned
    by hash; the within-batch rule is one Δ-sized aggregation.  At 100 TB
    the base-side hash index is exactly what the exactly-once streaming
    ingest (`streaming/ingest.py`) maintains as state."""
    h = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("hh"),
        (F.pmod("doc_id", F.lit(DELTA_MOD)) == DELTA_REM).alias("is_delta"),
    )
    base = h.filter(~F.col("is_delta")).select("hh").distinct()
    delta = h.filter(F.col("is_delta")).select("doc_id", "hh")
    firsts = delta.groupBy("hh").agg(F.min("doc_id").alias("first_delta"))
    in_base = base.withColumn("in_base", F.lit(1))
    return (
        delta.join(in_base, "hh", "left")
        .join(firsts, "hh")
        .select(
            "doc_id",
            F.when(F.col("in_base").isNotNull(), "dup_of_base")
            .when(F.col("doc_id") > F.col("first_delta"), "dup_in_delta")
            .otherwise("new")
            .alias("verdict"),
        )
    )


# --------------------------------------------------------------------------
# MinHash estimator error audit
# --------------------------------------------------------------------------
# err ∈ [-1e6, 1e6] micro-units; shifting by +1e6 before the integer
# division keeps the operand non-negative so Spark's truncating `div` and
# DuckDB's flooring `//` agree (32 buckets of width 1/16).
_ERR_BUCKET_W = 62_500

_MINHASH_ERR_ORACLE = f"""{_SQL_BANDS_CTE},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
est AS (
  SELECT c.doc_a, c.doc_b,
         CAST(sum(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS BIGINT)
           AS n_match
  FROM cand c
  JOIN mh ma ON ma.doc_id = c.doc_a
  JOIN mh mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
  GROUP BY c.doc_a, c.doc_b),
cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
err AS (
  SELECT (e.n_match * 1000000) // {N_PERM} AS est_micro,
         (coalesce(s.shared, 0) * 1000000)
           // (ca.n + cb.n - coalesce(s.shared, 0)) AS exact_micro
  FROM est e
  LEFT JOIN shared s ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
  JOIN cnt ca ON ca.doc_id = e.doc_a
  JOIN cnt cb ON cb.doc_id = e.doc_b)
SELECT CAST((est_micro - exact_micro + 1000000) // {_ERR_BUCKET_W} AS BIGINT)
         AS err_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(est_micro - exact_micro) AS BIGINT) AS min_err_micro,
       CAST(max(est_micro - exact_micro) AS BIGINT) AS max_err_micro,
       {sql_davg('est_micro', 6)} AS avg_est_micro,
       {sql_davg('exact_micro', 6)} AS avg_exact_micro
FROM err GROUP BY (est_micro - exact_micro + 1000000) // {_ERR_BUCKET_W}
"""


@query("dedup_minhash_error_audit", oracle=_MINHASH_ERR_ORACLE)
def dedup_minhash_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the MinHash pipeline: on every LSH
    candidate pair, the 64-slot signature-agreement Jaccard estimate vs
    the exact shingle Jaccard, histogrammed by signed error (width-1/16
    buckets, integer micro-units) — the empirical check of the
    1/√64 ≈ 12.5% standard-error bound that justifies the banding
    thresholds in `dedup_minhash_lsh`.

    Both engines compute BOTH sides from raw parquet: the signatures are
    the engine-independent universal-hash minima (constants above), so
    the estimate — not just the exact value — is hash-checked.  Scale:
    candidates come from the same bounded band buckets as the dedup
    query; per-pair work is a constant 64-slot comparison plus the
    shingle-set intersection already paid by exact verification, and the
    output is ≤32 buckets."""
    d = spread(load_table(spark, sf_dir, "documents")).withColumn("tokens", tokens())
    d = d.withColumn("shingles", shingles("tokens", 3))
    sh = d.select(
        "doc_id",
        F.explode(F.transform("shingles", lambda s: md5_60(s) % MH_P)).alias("h"),
    )
    sig = minhash_signatures(sh).transform(persist_tracked)
    band_cols = [
        _band_fold(
            [F.col(f"mh_{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"band_{b}")
        for b in range(N_BANDS)
    ]
    bands = sig.select("doc_id", *band_cols).selectExpr(
        "doc_id",
        "stack({}, {}) AS (band_id, band_hash)".format(
            N_BANDS, ", ".join(f"{b}, band_{b}" for b in range(N_BANDS))
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_mh_{i}") for i in range(N_PERM)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_mh_{i}") for i in range(N_PERM)],
    )
    n_match = F.expr(
        "CAST("
        + " + ".join(
            f"(CASE WHEN a_mh_{i} = b_mh_{i} THEN 1 ELSE 0 END)"
            for i in range(N_PERM)
        )
        + " AS BIGINT)"
    )
    est = cand.join(sig_a, "doc_a").join(sig_b, "doc_b").select(
        "doc_a", "doc_b", n_match.alias("n_match")
    )
    sets = d.select("doc_id", F.size("shingles").alias("n"), "shingles")
    err = (
        est.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n").alias("n_a"),
                F.col("shingles").alias("sh_a"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n").alias("n_b"),
                F.col("shingles").alias("sh_b"),
            ),
            "doc_b",
        )
        .select(
            F.expr(f"(n_match * 1000000) div {N_PERM}").alias("est_micro"),
            F.expr(
                "(cast(size(array_intersect(sh_a, sh_b)) as bigint) * 1000000)"
                " div (n_a + n_b - cast(size(array_intersect(sh_a, sh_b)) as bigint))"
            ).alias("exact_micro"),
        )
    )
    return err.groupBy(
        F.expr(
            f"(est_micro - exact_micro + 1000000) div {_ERR_BUCKET_W}"
        ).alias("err_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.expr("est_micro - exact_micro")).alias("min_err_micro"),
        F.max(F.expr("est_micro - exact_micro")).alias("max_err_micro"),
        davg("est_micro", 6).alias("avg_est_micro"),
        davg("exact_micro", 6).alias("avg_exact_micro"),
    )


# --------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-style, exact)
# --------------------------------------------------------------------------
PF_N = 4  # 4-word shingles (vs the posting-list family's 3)
PF_TAU_NUM = 11  # Jaccard threshold 11/20 = 0.55, tested with integer
PF_TAU_DEN = 20  # cross-multiplication only — no float compare anywhere

_PREFIX_FILTER_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, len(ws) - {PF_N - 1}),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
         ))) AS s
  FROM w),
cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT p.doc_a, p.doc_b, p.shared,
       ca.n AS size_a, cb.n AS size_b,
       (10000 * p.shared) // (ca.n + cb.n - p.shared) AS jacc_bp
FROM pairs p
JOIN cnt ca ON p.doc_a = ca.doc_id
JOIN cnt cb ON p.doc_b = cb.doc_id
WHERE {PF_TAU_DEN} * p.shared >= {PF_TAU_NUM} * (ca.n + cb.n - p.shared)
"""


@query("dedup_prefix_filter_join", oracle=_PREFIX_FILTER_ORACLE)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-gram Jaccard join (threshold 0.55) via PREFIX FILTERING —
    the PPJoin/AllPairs candidate-generation strategy (Xiao et al.,
    WWW'08; Bayardo et al., WWW'07), the third candidate-generation
    family in the dedup tier list after posting lists
    (`dedup_ngram_jaccard`) and banded MinHash (`dedup_minhash_lsh`).

    The algorithm: order every document's shingle set by ASCENDING global
    document frequency (ties by shingle text — any consistent total order
    works); a pair with Jaccard >= t must share at least one shingle
    within each side's first |S| - ceil(t*|S|) + 1 shingles (the prefix),
    so only PREFIX postings enter the candidate self-join.  Candidates
    are then verified exactly with a full-set intersection.  The oracle
    does not replay the pruning — it computes the exact threshold-join
    from the full posting lists; a hash match therefore CHECKS the
    completeness theorem, not just the arithmetic.

    Scale posture vs the siblings: the posting-list join keys on EVERY
    shingle — its candidate volume is sum over shingles of df², dominated
    by mid-frequency shingles; banded MinHash bounds candidates but is
    approximate.  Prefix filtering keys only on each set's RAREST
    (1-t)·|S| shingles, so candidate buckets are small BY CONSTRUCTION
    (frequency-ascending order is the heavy-hitter mitigation — a
    boilerplate shingle shared by 10⁶ docs lands in nobody's prefix
    unless a doc consists of almost nothing else), while staying exact.
    Joins: one uniform shuffle on the shingle hash for the df count, one
    candidate self-join on prefix shingles, two doc_id equi-joins to
    fetch the sorted arrays for verification — candidate-bounded, never
    corpus × corpus.  The size-ratio prune (t·|B| <= |A| <= |B|/t) runs
    inside the candidate join condition.  Everything is 64-bit integer;
    the basis-point ratio uses one truncating div (both engines floor on
    non-negatives)."""
    d = spread(load_table(spark, sf_dir, "documents")).withColumn("tokens", tokens())
    d = d.withColumn("shingles", shingles("tokens", PF_N))
    # Postings carry the xxhash64 of the shingle, not the string: an
    # 8-byte shuffle key instead of a ~25-byte phrase (the
    # `dedup_ngram_jaccard` convention — a collision needs ~2^32 distinct
    # shingles to matter, and the oracle's string-exact replay would
    # catch one).  The prefix theorem only needs a CONSISTENT total
    # order, so (df asc, hash asc) serves as well as (df, text).
    sh = d.select(
        "doc_id",
        F.explode(F.transform("shingles", lambda x: F.xxhash64(x))).alias("s"),
    ).transform(persist_tracked)
    df_cnt = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # Per-doc shingle array sorted by (global df asc, hash asc): rare
    # shingles first.  Both sides of the df join arrive hash-partitioned
    # on `s` from the same persisted relation, so the join itself adds no
    # third shuffle.
    sets = (
        sh.join(df_cnt, "s")
        .groupBy("doc_id")
        .agg(
            F.expr("transform(sort_array(collect_list(struct(df, s))), x -> x.s)")
            .alias("arr")
        )
        .select(
            "doc_id",
            "arr",
            F.size("arr").cast("long").alias("n"),
            # prefix length = n - ceil(t*n) + 1; integer ceil on positives
            F.expr(
                f"size(arr) - (({PF_TAU_NUM} * size(arr) + {PF_TAU_DEN - 1})"
                f" div {PF_TAU_DEN}) + 1"
            ).cast("int").alias("p"),
        )
        .transform(persist_tracked)
    )
    prefix = sets.select(
        "doc_id", "n", F.explode(F.expr("slice(arr, 1, p)")).alias("s")
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "s"
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "s"
    )
    cand = (
        a.join(b, "s")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # size-ratio prune: J >= t forces t*max(na,nb) <= min(na,nb)
            & (PF_TAU_NUM * F.col("n_a") <= PF_TAU_DEN * F.col("n_b"))
            & (PF_TAU_NUM * F.col("n_b") <= PF_TAU_DEN * F.col("n_a"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("arr").alias("arr_a"),
                F.col("n").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("arr").alias("arr_b"),
                F.col("n").alias("size_b"),
            ),
            "doc_b",
        )
        .withColumn(
            "shared",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("long"),
        )
        .filter(
            PF_TAU_DEN * F.col("shared")
            >= PF_TAU_NUM * (F.col("size_a") + F.col("size_b") - F.col("shared"))
        )
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "shared",
        "size_a",
        "size_b",
        F.expr("(10000 * shared) div (size_a + size_b - shared)").alias("jacc_bp"),
    )
