"""Round-10 operator wave: MAXIMAL duplicated spans (the gaps-and-islands
completion of the Lee-et-al substring dedup — r9 reported fixed k-token
spans, so a 50-token boilerplate paragraph surfaced as 43 overlapping
hits; this wave merges them into maximal islands), and content-level
multimodal near-dup (frame-FEATURE SimHash over the Arrow-batched decode
path — the perceptual-hash tier the byte-level chunk dedup can't see).

The reference is a table generator with no analytics surface
(`IcebergTableGenerator.java` writes rows; it never reads them back) —
these operators extend SURVEY.md §2.8's dedup mandate.

Exactness policy (the repo convention): every cross-row accumulation is
integer (positions, counts, bit votes); doubles appear only in a final
fixed-order chain per row, rounded once.  Span identity is the
engine-independent 60-bit md5 prefix (`md5_60`) on BOTH engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from iceberg_table_generator_spark.functions.cache import persist_tracked
from iceberg_table_generator_spark.functions.order import with_global_order
from iceberg_table_generator_spark.functions.text import md5_60_sql
from iceberg_table_generator_spark.operators.dedup import (
    SIMHASH_BITS,
    SIMHASH_CHUNK_BITS,
    SIMHASH_CHUNK_MASK,
    SIMHASH_CHUNKS,
)
from iceberg_table_generator_spark.operators.multimodal import (
    FP_TOP_K,
    FRAME_BYTES,
    FRAME_STRIDE,
    attach_payload,
    sample_frame_features,
)
from iceberg_table_generator_spark.operators.wave9 import (
    SPAN_K,
    SPAN_TOP_K,
    _span_positions,
    _sql_span_groups,
)
from iceberg_table_generator_spark.functions.json import props_k
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table, spread

# --------------------------------------------------------------------------
# Maximal duplicated spans: gaps-and-islands over duplicated k-span
# positions (Lee et al.'s suffix-array dedup removes MAXIMAL repeated
# substrings; a length-L duplicated region appears as L-K+1 consecutive
# duplicated k-spans, so merging consecutive positions recovers it).
# --------------------------------------------------------------------------


def merge_position_islands(flagged: DataFrame, *extra_aggs) -> DataFrame:
    """Gaps-and-islands merge of flagged k-window POSITIONS into maximal
    token intervals: input ``(doc_id, pos, ...)`` (1-based token positions
    whose k-window matched some predicate), output one row per maximal run
    of consecutive positions — ``(doc_id, token_start, token_end,
    n_kspans, *extra_aggs)``.  The repo's sessionize idiom: pos −
    row_number() per doc under a doc-PARTITIONED window (bounded by
    document length).  Shared by the span-dedup family and the span-level
    decontamination pass (r11) — the merge lives HERE once (r10 VERDICT
    #6 asked for reuse, not duplication)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = flagged.withColumn("_grp", F.col("pos") - F.row_number().over(w))
    return isl.groupBy("doc_id", "_grp").agg(
        F.min("pos").cast("long").alias("token_start"),
        (F.max("pos") + (SPAN_K - 1)).cast("long").alias("token_end"),
        F.count(F.lit(1)).alias("n_kspans"),
        *extra_aggs,
    )


def with_interval_coverage(isl: DataFrame) -> DataFrame:
    """Exact per-island token contribution under per-doc interval union —
    the sorted-starts running-max-end form: each island contributes
    ``max(0, end − max(prev_max_end, start−1))`` under a doc-partitioned
    window, so summing ``covered`` per doc (or corpus-wide) counts each
    token once even where nearby islands' extents overlap (islands 2
    positions apart still overlap in tokens for k > 2).  Integer-exact,
    bounded per doc; shared by `dedup_span_island_stats` and the r11
    decontamination coverage."""
    prev = Window.partitionBy("doc_id").orderBy("token_start").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return isl.withColumn(
        "covered",
        F.greatest(
            F.lit(0).cast("long"),
            F.col("token_end")
            - F.greatest(
                F.coalesce(
                    F.max("token_end").over(prev), F.lit(0).cast("long")
                ),
                F.col("token_start") - 1,
            ),
        ),
    )


def _span_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per maximal duplicated span island: (doc_id, token_start,
    token_end, n_kspans, max_span_occurrences).  An island is a maximal
    run of CONSECUTIVE token positions whose k-token window is duplicated
    somewhere in the corpus — i.e. a maximal region in which EVERY
    k-window is duplicated, the token-level analogue of Lee et al.'s
    maximal repeated substring.

    Shape: one posexplode (`_span_positions`), ONE span-keyed groupBy
    (map-side combine eats the Zipf head), then a join back on the 60-bit
    HASH — never the text.  The join's build side carries exactly one row
    per duplicated span group, so a Zipf-hot boilerplate span streams its
    occurrences through the probe side with NO pair explosion (output =
    probe cardinality; AQE's skew-join split applies cleanly because the
    per-key build side is a single row — this is categorically different
    from the posting-list self-joins the text family forbids).  Island
    merging is the repo's sessionize idiom: pos − row_number() per doc
    under a doc-PARTITIONED window (bounded by document length)."""
    sp = _span_positions(spark, sf_dir)
    # Perf-only persist: the group side and the probe side both read the
    # exploded+hashed relation; differing aliases defeat ReuseExchange
    # (the minhash_band_keys rationale).
    sp = persist_tracked(sp)
    dup = (
        sp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
    )
    flagged = sp.join(dup, "h")
    return merge_position_islands(
        flagged, F.max("n_occ").alias("max_span_occurrences")
    )


def _sql_span_islands() -> str:
    """DuckDB twin of `_span_islands`, appended to `_sql_span_groups`'s
    CTE chain (which ends at `grp`): identical island algebra."""
    return f""",
dup AS (SELECT h, n_occurrences AS n_occ FROM grp WHERE n_occurrences >= 2),
fl AS (SELECT sp.doc_id, sp.pos, dup.n_occ FROM sp JOIN dup USING (h)),
runs AS (
  SELECT doc_id, pos, n_occ,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp_id
  FROM fl),
islands AS (
  SELECT doc_id,
         CAST(min(pos) AS BIGINT) AS token_start,
         CAST(max(pos) + {SPAN_K - 1} AS BIGINT) AS token_end,
         CAST(count(*) AS BIGINT) AS n_kspans,
         CAST(max(n_occ) AS BIGINT) AS max_span_occurrences
  FROM runs GROUP BY doc_id, grp_id)
"""


_SPAN_ISLANDS_ORACLE = f"""{_sql_span_groups()}{_sql_span_islands()}
SELECT doc_id, token_start, token_end,
       token_end - token_start + 1 AS span_len,
       n_kspans, max_span_occurrences
FROM islands
ORDER BY span_len DESC, doc_id, token_start
LIMIT {SPAN_TOP_K}
"""


@query("dedup_span_islands", oracle=_SPAN_ISLANDS_ORACLE)
def dedup_span_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top maximal duplicated spans: adjacent duplicated {SPAN_K}-token
    windows merged per document into islands, reported with their token
    extent and the hottest constituent window's occurrence count — the
    row a Lee-et-al substring-removal pass would actually cut, where
    `dedup_span_exact` reports its overlapping k-window fragments (a
    50-token boilerplate paragraph = ONE island here vs 43 fixed-k hits
    there).

    Scale: `_span_islands`' shape — one posexplode, one hash-keyed
    groupBy, one 1-row-per-key hash join (no pair explosion), per-doc
    bounded windows, then a global top-k (TakeOrderedAndProject).  The
    (span_len, doc_id, token_start) order is total because islands are
    disjoint position runs within a doc."""
    isl = _span_islands(spark, sf_dir)
    return (
        isl.select(
            "doc_id",
            "token_start",
            "token_end",
            (F.col("token_end") - F.col("token_start") + 1).alias("span_len"),
            "n_kspans",
            "max_span_occurrences",
        )
        .orderBy(F.desc("span_len"), "doc_id", "token_start")
        .limit(SPAN_TOP_K)
    )


_SPAN_ISLAND_STATS_ORACLE = f"""{_sql_span_groups()}{_sql_span_islands()},
cov AS (
  SELECT doc_id, token_start, token_end,
         greatest(CAST(0 AS BIGINT),
                  token_end - greatest(
                      coalesce(max(token_end) OVER (
                          PARTITION BY doc_id ORDER BY token_start
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        CAST(0 AS BIGINT)),
                      token_start - 1)) AS covered
  FROM islands),
tot AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS total_tokens FROM t)
SELECT CAST(count(*) AS BIGINT) AS n_islands,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_with_islands,
       CAST(max(token_end - token_start + 1) AS BIGINT)
         AS longest_island_tokens,
       round(CAST(sum(token_end - token_start + 1) AS DOUBLE) / count(*), 6)
         AS avg_island_tokens,
       CAST(sum(covered) AS BIGINT) AS dup_tokens,
       CAST(any_value(total_tokens) AS BIGINT) AS total_tokens,
       round(CAST(sum(covered) AS DOUBLE) / any_value(total_tokens), 6)
         AS dup_token_ratio
FROM cov CROSS JOIN tot
"""


@query("dedup_span_island_stats", oracle=_SPAN_ISLAND_STATS_ORACLE)
def dedup_span_island_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level maximal-span profile: island count and sizes, plus the
    EXACT duplicated-token coverage — the token count a substring-removal
    pass would touch, with overlap between nearby islands' token extents
    removed by per-doc interval union (islands 2 positions apart still
    overlap in tokens for k > 2, so summing lengths would double-count).

    The interval union is the classic sorted-starts running-max-end form:
    each island contributes max(0, end − max(prev_max_end, start−1))
    under a doc-partitioned window — integer-exact, bounded per doc.
    Total tokens come from the corpus relation itself, so `dup_token_
    ratio` is directly comparable to `dedup_span_stats.dup_ratio` (which
    counts k-WINDOW occurrences, not distinct tokens)."""
    isl = _span_islands(spark, sf_dir)
    cov = with_interval_coverage(isl)
    tot = (
        load_table(spark, sf_dir, "documents")
        .select(F.size(F.split("text", " ")).alias("n_tok"))
        .agg(F.sum("n_tok").cast("long").alias("total_tokens"))
    )
    return cov.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.countDistinct("doc_id").alias("n_docs_with_islands"),
        F.max(F.col("token_end") - F.col("token_start") + 1).alias(
            "longest_island_tokens"
        ),
        F.round(
            F.sum(F.col("token_end") - F.col("token_start") + 1).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_island_tokens"),
        F.sum("covered").alias("dup_tokens"),
        F.max("total_tokens").alias("total_tokens"),
        F.round(
            F.sum("covered").cast("double") / F.max("total_tokens"), 6
        ).alias("dup_token_ratio"),
    )


# --------------------------------------------------------------------------
# Content-level multimodal near-dup: SimHash over decoded frame FEATURES
# (the perceptual-hash tier — byte-level chunk dedup misses re-encodes
# that preserve content; feature-space dedup is what a real multimodal
# pipeline runs after decode).
# --------------------------------------------------------------------------

#: Shared oracle CTE chain: documents -> (doc_id, t) — one row per SAMPLED
#: FRAME (non-distinct), where `t` is the quantized feature token the fake
#: decoder produces for that frame.  SQL twin of `_frame_tokens`.
_SQL_FRAME_TOKENS = f"""
WITH p AS (
  SELECT doc_id, text, length(text) AS bl FROM documents WHERE length(text) > 0),
fr AS (
  SELECT doc_id, bl, text,
         unnest(generate_series(0, (bl - 1) // {FRAME_BYTES}, {FRAME_STRIDE}))
           AS fi
  FROM p),
fh AS (
  SELECT doc_id, fi,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(
               generate_series(1, CAST(least(64, bl - fi * {FRAME_BYTES}) AS INT)),
               i -> CAST(ascii(substring(text, fi * {FRAME_BYTES} + i, 1))
                         AS BIGINT))),
           (acc, b) -> (acc * 131 + b) % 1000000007) AS hv
  FROM fr),
ftok AS (
  SELECT doc_id,
         array_to_string(
           list_transform([0, 4, 8, 12, 16, 20, 24, 28],
                          s -> CAST((hv >> s) & 255 AS VARCHAR)), ',') AS t
  FROM fh)
"""


def _frame_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, t): the quantized feature token of every SAMPLED frame —
    the Arrow-batched decode (`sample_frame_features`, deterministic fake)
    followed by the engine-exact byte-recovering quantization
    round(f·255).  Shared by the SimHash pair query and the frame-level
    dup profile."""
    media = attach_payload(
        spread(load_table(spark, sf_dir, "documents"))
    ).filter(F.col("byte_len") > 0)
    frames = sample_frame_features(media, fake_decode=True)
    return frames.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.transform(
                "features",
                lambda f: F.round(f * 255).cast("int").cast("string"),
            ),
        ).alias("t"),
    )


_FEATURE_SIMHASH_ORACLE = f"""{_SQL_FRAME_TOKENS},
tokd AS (SELECT DISTINCT doc_id, t FROM ftok),
hh AS (SELECT doc_id, {md5_60_sql('t')} AS h FROM tokd),
bits AS (
  SELECT doc_id, i.i AS i, sum(((h >> i.i) & 1) * 2 - 1) AS s
  FROM hh CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS i) i
  GROUP BY doc_id, i.i),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS fp
  FROM bits GROUP BY doc_id),
ch AS (
  SELECT doc_id, fp, c.c AS chunk_id,
         (fp >> ({SIMHASH_CHUNK_BITS} * c.c)) & {SIMHASH_CHUNK_MASK} AS chunk_val
  FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) c),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.fp AS fp_a, b.fp AS fp_b
  FROM ch a JOIN ch b
    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
FROM cand ORDER BY hamming, doc_a, doc_b LIMIT {FP_TOP_K}
"""


@query("multimodal_feature_simhash_dedup", oracle=_FEATURE_SIMHASH_ORACLE)
def multimodal_feature_simhash_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Content-level (feature-space) multimodal near-dup: each payload's
    sampled frames run through the Arrow-batched decode
    (`sample_frame_features` — the deterministic fake decoder, the
    sanctioned stub), their feature vectors quantize to frame tokens, a
    60-bit SimHash majority-votes over each payload's distinct frame
    tokens, and the {FP_TOP_K} closest payload pairs are reported by
    fingerprint Hamming distance.  This is the perceptual tier of the
    multimodal dedup family: `multimodal_chunk_dedup` and
    `multimodal_fingerprint_dedup` see BYTES (re-encodes defeat them); a
    feature-space SimHash survives any byte-level change the decoder
    normalizes away.  With real media libs the fake fold becomes an
    actual pHash/embedding per frame — everything downstream (the
    quantization, banding, bucket join, Hamming verify) is exactly this
    plan.

    Scale: decode is embarrassingly parallel over Arrow record batches
    (payload bytes cross the Python boundary once, inside the scan
    stage); per-doc token sets are bounded by frames/payload; the
    fingerprint is 8 bytes/payload; candidates are banded (pigeonhole:
    Hamming ≤ 3 recall is exact).  Oracle exactness: the fake decoder's
    byte fold and b/255 features are replayed in SQL as integer algebra
    ((hv >> 4s) & 255 — round(f*255) on the Spark side recovers the byte
    exactly through the float32 round trip), then the dedup_simhash
    oracle idiom verbatim."""
    # r15 (guide §4.2, the byte_stats pattern): the whole doc → 60-bit
    # fingerprint chain — frame sampling, the deterministic fake-decode
    # byte fold, token quantization, per-token md5-prefix hash, per-bit
    # majority vote — runs in ONE mapInArrow pass over the payload batch.
    # The r14 shape crossed the Python boundary with per-FRAME feature
    # arrays (mapInPandas decode), rebuilt tokens in the JVM
    # (round(f·255) + concat_ws), shuffled a corpus-wide
    # groupBy/collect_list, and folded 60 conditional sums through a
    # second shuffle (`simhash()`).  Exactness: the fake decoder's fold
    # is replayed verbatim ((acc·131+b) mod 1e9+7 over the frame's first
    # 64 bytes); the token is str((hv>>s)&255) joined by "," — exactly
    # what round(f·255) recovers through the float32 round trip (the
    # oracle's ftok CTE computes the same integers directly); token
    # distinctness, md5-60 and the vote are content-exact, so
    # fingerprints are bit-identical (oracle-checked at 3 SFs).
    media = attach_payload(
        spread(load_table(spark, sf_dir, "documents"))
    ).filter(F.col("byte_len") > 0)

    def fp_run(batches):  # Iterator[pa.RecordBatch] -> Iterator[pa.RecordBatch]
        import hashlib

        import numpy as np
        import pyarrow as pa

        bit_idx = np.arange(SIMHASH_BITS, dtype=np.uint64)
        shifts = range(0, 32, 4)
        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            arr = batch.column(1)
            off_dtype = (
                np.int64 if pa.types.is_large_binary(arr.type) else np.int32
            )
            bufs = arr.buffers()
            offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
                arr.offset : arr.offset + nrows + 1
            ].astype(np.int64)
            mv = memoryview(bufs[2])
            fps = np.empty(nrows, dtype=np.int64)
            for i in range(nrows):
                s, e = int(offsets[i]), int(offsets[i + 1])
                n_frames = max(1, -((s - e) // FRAME_BYTES))
                toks = set()
                for fi in range(0, n_frames, FRAME_STRIDE):
                    fs = s + fi * FRAME_BYTES
                    hv = 0
                    for b in mv[fs : min(fs + 64, fs + FRAME_BYTES, e)]:
                        hv = (hv * 131 + b) % 1_000_000_007
                    toks.add(",".join(str((hv >> sh) & 0xFF) for sh in shifts))
                hs = np.fromiter(
                    (
                        int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                        for t in toks
                    ),
                    dtype=np.uint64,
                    count=len(toks),
                )
                votes = (
                    2 * ((hs[:, None] >> bit_idx) & 1).astype(np.int64) - 1
                ).sum(axis=0)
                fps[i] = int(
                    ((votes > 0).astype(np.uint64) << bit_idx).sum()
                )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(fps, type=pa.int64()),
                ],
                names=["doc_id", "fp"],
            )

    # persist(DISK_ONLY): both band-join sides read the fingerprint
    # relation under differing aliases (ReuseExchange defeat — the
    # dedup_simhash rationale; without it the decode pass runs once per
    # join side).
    fp = persist_tracked(
        media.select("doc_id", "payload").mapInArrow(
            fp_run, schema="doc_id long, fp long"
        )
    )
    chunks = fp.select(
        "doc_id",
        "fp",
        *[
            F.shiftrightunsigned("fp", SIMHASH_CHUNK_BITS * c)
            .bitwiseAND(F.lit(SIMHASH_CHUNK_MASK))
            .alias(f"c_{c}")
            for c in range(SIMHASH_CHUNKS)
        ],
    )
    stacked = chunks.selectExpr(
        "doc_id",
        "fp",
        "stack({}, {}) AS (chunk_id, chunk_val)".format(
            SIMHASH_CHUNKS,
            ", ".join(f"{c}, c_{c}" for c in range(SIMHASH_CHUNKS)),
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
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int"),
        )
        .select("doc_a", "doc_b", "hamming")
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(FP_TOP_K)
    )


# --------------------------------------------------------------------------
# Frame-level duplication profile (content-level, corpus-wide)
# --------------------------------------------------------------------------
_FRAME_DUP_ORACLE = f"""{_SQL_FRAME_TOKENS},
grp AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM ftok GROUP BY t)
SELECT CAST(sum(c) AS BIGINT) AS n_frames,
       CAST(count(*) AS BIGINT) AS n_distinct_frames,
       CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
         AS n_dup_frames,
       round(CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
             / sum(c), 6) AS dup_frame_ratio,
       CAST(max(c) AS BIGINT) AS top_frame_occurrences
FROM grp
"""


@query("multimodal_frame_dup_stats", oracle=_FRAME_DUP_ORACLE)
def multimodal_frame_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide FRAME-level duplication profile: how many decoded
    frames share their quantized feature token with another frame
    anywhere in the corpus — the number that sizes a frame-dedup pass
    (store each distinct frame once, reference elsewhere) before anyone
    commits to it.  Complements `multimodal_feature_simhash_dedup`
    (payload PAIRS) with the content-addressable-storage view.

    Scale: the decode is the Arrow-batched mapInPandas path; the ONLY
    token-keyed operation is one map-combinable groupBy (the span-dedup
    skew rule applied to frame tokens), folded to a one-row profile."""
    tok = _frame_tokens(spark, sf_dir)
    grp = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    dup_c = F.when(F.col("c") >= 2, F.col("c")).otherwise(0)
    return grp.agg(
        F.sum("c").alias("n_frames"),
        F.count(F.lit(1)).alias("n_distinct_frames"),
        F.sum(dup_c).alias("n_dup_frames"),
        F.round(
            F.sum(dup_c).cast("double") / F.sum("c").cast("double"), 6
        ).alias("dup_frame_ratio"),
        F.max("c").alias("top_frame_occurrences"),
    )


# --------------------------------------------------------------------------
# Per-document duplication profile: trim-priority list from span islands
# --------------------------------------------------------------------------
DOC_DUP_TOP_K = 40

_DOC_DUP_ORACLE = f"""{_sql_span_groups()}{_sql_span_islands()},
cov AS (
  SELECT doc_id, token_end, token_start,
         greatest(CAST(0 AS BIGINT),
                  token_end - greatest(
                      coalesce(max(token_end) OVER (
                          PARTITION BY doc_id ORDER BY token_start
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        CAST(0 AS BIGINT)),
                      token_start - 1)) AS covered
  FROM islands),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
         CAST(sum(covered) AS BIGINT) AS dup_tokens
  FROM cov GROUP BY doc_id),
lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t)
SELECT p.doc_id, l.n_tokens, p.dup_tokens, p.n_islands,
       round(CAST(p.dup_tokens AS DOUBLE) / l.n_tokens, 6) AS dup_fraction
FROM per_doc p JOIN lens l ON p.doc_id = l.doc_id
ORDER BY CAST(p.dup_tokens AS DOUBLE) / l.n_tokens DESC, p.doc_id
LIMIT {DOC_DUP_TOP_K}
"""


@query("dedup_doc_dup_profile", oracle=_DOC_DUP_ORACLE)
def dedup_doc_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim-priority list: the {DOC_DUP_TOP_K} documents with the highest
    fraction of their tokens inside duplicated maximal spans — the
    per-document actionable view of the island analysis (a doc at 0.9 is
    mostly boilerplate: trim or drop; a corpus-wide pass would process
    docs in exactly this order for maximum token savings per doc
    touched).  dup_tokens is the exact interval union of the doc's
    island extents (`dedup_span_island_stats`' coverage algebra).

    Scale: the islands plan plus one doc-keyed aggregate and one
    doc-keyed join against the pruned (doc_id, length) relation; the
    ratio order is a total order (identical integer divisions tie-break
    by doc_id).  Top-k ends the plan."""
    isl = _span_islands(spark, sf_dir)
    cov = with_interval_coverage(isl)
    per_doc = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("covered").alias("dup_tokens"),
    )
    lens = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return (
        per_doc.join(lens, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "dup_tokens",
            "n_islands",
            F.round(
                F.col("dup_tokens").cast("double") / F.col("n_tokens"), 6
            ).alias("dup_fraction"),
        )
        .orderBy(
            (F.col("dup_tokens").cast("double") / F.col("n_tokens")).desc(),
            "doc_id",
        )
        .limit(DOC_DUP_TOP_K)
    )


# --------------------------------------------------------------------------
# Dedup ROI curve: savings concentration by head-fingerprint cluster size
# --------------------------------------------------------------------------
#: Head-fingerprint width (tokens).  Docs sharing their first k tokens are
#: template/boilerplate near-dup candidates — a coarser (higher-recall)
#: granularity than whole-text equality, which this fixture only exhibits
#: at sf0.1; the ROI algebra is identical for any cluster definition.
ROI_HEAD_K = 8

#: Composite packing for "token count of the kept (min doc_id) document":
#: doc token counts are bounded well below this base.
_ROI_TOK_BASE = 1_000_000

_DEDUP_ROI_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         md5(array_to_string(
             list_slice(string_split(text, ' '), 1, {ROI_HEAD_K}), ' '))
           AS dig,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
  FROM documents),
cl AS (
  SELECT dig, CAST(count(*) AS BIGINT) AS s,
         CAST(sum(tok) AS BIGINT) AS tot_tok,
         min(doc_id * {_ROI_TOK_BASE} + tok) % {_ROI_TOK_BASE} AS kept_tok
  FROM d GROUP BY dig),
sizes AS (
  SELECT s AS cluster_size,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(tot_tok - kept_tok) AS BIGINT) AS savings_tokens
  FROM cl WHERE s >= 2 GROUP BY s),
tot AS (
  SELECT CAST(sum(savings_tokens) AS BIGINT) AS ts,
         CAST(sum(n_clusters) AS BIGINT) AS tc
  FROM sizes)
SELECT cluster_size, n_clusters, savings_tokens,
       round(CAST(sum(savings_tokens) OVER w AS DOUBLE) / ts, 6)
         AS cum_savings_share,
       round(CAST(sum(n_clusters) OVER w AS DOUBLE) / tc, 6)
         AS cum_cluster_share
FROM sizes CROSS JOIN tot
WINDOW w AS (ORDER BY cluster_size DESC ROWS UNBOUNDED PRECEDING)
ORDER BY cluster_size DESC
"""


@query("pipeline_dedup_roi_curve", oracle=_DEDUP_ROI_ORACLE)
def pipeline_dedup_roi_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI curve: processing head-fingerprint clusters LARGEST-FIRST
    (documents sharing their first {ROI_HEAD_K} tokens — the template/
    boilerplate near-dup granularity), what share of the total keep-one
    token savings does each cluster-size tier unlock, and what share of
    clusters must be touched to get it?  The classic Zipf answer — a few
    huge clusters carry most of the savings — is what justifies capping a
    dedup pass at the head instead of sweeping every pair; this query
    measures it exactly.  Keep-one keeps the lowest doc_id (the
    `dedup_keep_canonical` rule), so savings = cluster token mass minus
    the kept doc's tokens.

    Scale: one digest groupBy (16-byte shuffle keys; the kept doc's token
    count rides a min() composite, no selection join), then a
    count-of-counts rollup onto the cluster-SIZE domain — O(sqrt(corpus))
    rows under any size distribution (the `events_gini_concentration`
    bound), where the cumulative windows are therefore safe."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.split("text", " "), 1, ROI_HEAD_K)
            )
        ).alias("dig"),
        F.size(F.split("text", " ")).cast("long").alias("tok"),
    )
    cl = d.groupBy("dig").agg(
        F.count(F.lit(1)).alias("s"),
        F.sum("tok").alias("tot_tok"),
        (
            F.min(F.col("doc_id") * _ROI_TOK_BASE + F.col("tok"))
            % _ROI_TOK_BASE
        ).alias("kept_tok"),
    )
    sizes = (
        cl.filter(F.col("s") >= 2)
        .groupBy(F.col("s").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.col("tot_tok") - F.col("kept_tok")).alias(
                "savings_tokens"
            ),
        )
    )
    sizes = persist_tracked(sizes)
    tot = sizes.agg(
        F.sum("savings_tokens").alias("ts"), F.sum("n_clusters").alias("tc")
    )
    w = Window.orderBy(F.desc("cluster_size")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .select(
            "cluster_size",
            "n_clusters",
            "savings_tokens",
            F.round(
                F.sum("savings_tokens").over(w).cast("double") / F.col("ts"),
                6,
            ).alias("cum_savings_share"),
            F.round(
                F.sum("n_clusters").over(w).cast("double") / F.col("tc"), 6
            ).alias("cum_cluster_share"),
        )
        .orderBy(F.desc("cluster_size"))
    )


# --------------------------------------------------------------------------
# Quality × duplication survival matrix
# --------------------------------------------------------------------------
QD_MIN_CHARS = 200
QD_MAX_CHARS = 6000

_QUALITY_DEDUP_ORACLE = f"""
WITH d AS (
  SELECT doc_id, md5(text) AS dig,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         CASE WHEN n_chars BETWEEN {QD_MIN_CHARS} AND {QD_MAX_CHARS}
              THEN 1 ELSE 0 END AS quality_ok
  FROM documents),
cnt AS (SELECT dig, count(*) AS c FROM d GROUP BY dig),
m AS (
  SELECT d.quality_ok, CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END AS is_dup,
         d.tok
  FROM d JOIN cnt USING (dig)),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(tok) AS BIGINT) AS tt
        FROM m)
SELECT quality_ok, is_dup,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS token_mass,
       round(CAST(count(*) AS DOUBLE) / any_value(n), 6) AS doc_share,
       round(CAST(sum(tok) AS DOUBLE) / any_value(tt), 6) AS token_share
FROM m CROSS JOIN tot
GROUP BY quality_ok, is_dup
ORDER BY quality_ok, is_dup
"""


@query("pipeline_quality_dedup_matrix", oracle=_QUALITY_DEDUP_ORACLE)
def pipeline_quality_dedup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 2×2 survival matrix every corpus-prep plan starts from: quality
    gate (length window {QD_MIN_CHARS}..{QD_MAX_CHARS} chars — the
    metadata-only screen that needs no text compute) × exact-duplicate
    status, with document AND token mass per cell — i.e. how much of the
    corpus survives filtering ∩ dedup, and whether dups concentrate in
    the low-quality stratum (they usually do; this query says by how
    much).

    Scale: one digest groupBy + one digest-keyed bounded-multiplicity
    join back (the `pipeline_dup_by_source` shape), folded onto a 4-row
    grid; the quality flag reads the n_chars METADATA column only."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("dig"),
        F.size(F.split("text", " ")).cast("long").alias("tok"),
        F.when(
            F.col("n_chars").between(QD_MIN_CHARS, QD_MAX_CHARS), 1
        )
        .otherwise(0)
        .alias("quality_ok"),
    )
    d = persist_tracked(d)
    cnt = d.groupBy("dig").agg(F.count(F.lit(1)).alias("c"))
    m = d.join(cnt, "dig").select(
        "quality_ok",
        F.when(F.col("c") >= 2, 1).otherwise(0).alias("is_dup"),
        "tok",
    )
    m = persist_tracked(m)
    tot = m.agg(
        F.count(F.lit(1)).alias("n"), F.sum("tok").alias("tt")
    )
    return (
        m.crossJoin(F.broadcast(tot))
        .groupBy("quality_ok", "is_dup")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("token_mass"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.max("n"), 6
            ).alias("doc_share"),
            F.round(
                F.sum("tok").cast("double") / F.max("tt"), 6
            ).alias("token_share"),
        )
        .orderBy("quality_ok", "is_dup")
    )


# --------------------------------------------------------------------------
# Page's trend test (ordered alternative to Friedman, same rank machinery)
# --------------------------------------------------------------------------
PAGE_K = 5  # order priorities, hypothesized order = priority name order

_PAGE_ORACLE = f"""
WITH cell AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mo,
         o_orderpriority AS pri,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2),
full_blocks AS (
  SELECT mo FROM cell GROUP BY mo HAVING count(*) = {PAGE_K}),
rk AS (
  SELECT c.mo,
         CAST(substring(c.pri, 1, 1) AS BIGINT) AS j,
         CAST(row_number() OVER (PARTITION BY c.mo
              ORDER BY c.cents, c.pri) AS BIGINT) AS r
  FROM cell c JOIN full_blocks f ON c.mo = f.mo),
mom AS (
  SELECT CAST(sum(j * r) AS BIGINT) AS l,
         CAST((CAST(sum(r) AS BIGINT) * 2)
              // ({PAGE_K} * ({PAGE_K} + 1)) AS BIGINT) AS nb
  FROM rk)
SELECT nb AS n_blocks, l AS page_l,
       CAST(nb * {PAGE_K} * ({PAGE_K} + 1) * ({PAGE_K} + 1) AS BIGINT) // 4
         AS expected_l,
       round((CAST(l AS DOUBLE)
              - CAST(nb AS DOUBLE) * {PAGE_K}.0 * ({PAGE_K}.0 + 1.0)
                * ({PAGE_K}.0 + 1.0) / 4.0)
             / sqrt(CAST(nb AS DOUBLE) * {PAGE_K}.0 * {PAGE_K}.0
                    * ({PAGE_K}.0 + 1.0) * ({PAGE_K}.0 + 1.0)
                    * ({PAGE_K}.0 - 1.0) / 144.0), 6) AS z
FROM mom
"""


@query("stats_page_trend", oracle=_PAGE_ORACLE)
def stats_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test: is monthly revenue MONOTONICALLY ordered along
    the five order priorities (the ordered alternative Friedman can't
    see — Friedman detects ANY rank disagreement, Page's L = Σ j·R_j is
    powered specifically against the hypothesized 1-URGENT < … < 5-LOW
    ordering)?  Same blocks, same within-month ranking, same tie rule as
    `stats_friedman_test`, so the two statistics are directly
    comparable.

    Exactness: L and n_blocks (via the rank-sum identity) are exact
    integers; E[L] = nb·k(k+1)²/4 is an exact integer `div`; the z-score
    is one shared double chain with Var(L) = nb·k²(k+1)²(k−1)/144."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mo"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(25,6)")) * 100)
        .cast("long")
        .alias("cents")
    )
    cell = persist_tracked(cell)
    full = (
        cell.groupBy("mo")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") == PAGE_K)
    )
    rk = cell.join(full.select("mo"), "mo").select(
        F.substring("pri", 1, 1).cast("long").alias("j"),
        F.row_number()
        .over(W.partitionBy("mo").orderBy("cents", "pri"))
        .cast("long")
        .alias("r"),
    )
    mom = rk.agg(
        F.sum(F.col("j") * F.col("r")).alias("l"),
        F.sum("r").alias("sr"),
    ).selectExpr(
        "l",
        f"CAST((sr * 2) div ({PAGE_K} * ({PAGE_K} + 1)) AS BIGINT) AS nb",
    )
    return mom.selectExpr(
        "nb AS n_blocks",
        "l AS page_l",
        f"CAST(nb * {PAGE_K} * ({PAGE_K} + 1) * ({PAGE_K} + 1) AS BIGINT)"
        " div 4 AS expected_l",
        f"round((CAST(l AS DOUBLE)"
        f" - CAST(nb AS DOUBLE) * {PAGE_K}.0 * ({PAGE_K}.0 + 1.0)"
        f" * ({PAGE_K}.0 + 1.0) / 4.0)"
        f" / sqrt(CAST(nb AS DOUBLE) * {PAGE_K}.0 * {PAGE_K}.0"
        f" * ({PAGE_K}.0 + 1.0) * ({PAGE_K}.0 + 1.0)"
        f" * ({PAGE_K}.0 - 1.0) / 144.0), 6) AS z",
    )


# --------------------------------------------------------------------------
# Hoover (Robin Hood) index of customer spend — integer-exact companion
# to customer_gini_spend / lineitem_lorenz_deciles
# --------------------------------------------------------------------------
_HOOVER_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
  FROM spend),
num AS (
  SELECT CAST(sum(abs(CAST(n AS HUGEINT) * cents - s)) AS HUGEINT) AS a,
         any_value(n) AS n, any_value(s) AS s
  FROM spend CROSS JOIN mom)
SELECT n AS n_customers, s AS total_cents,
       round(CAST(a AS DOUBLE)
             / (2.0 * CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS hoover
FROM num
"""


@query("customer_hoover_index", oracle=_HOOVER_ORACLE)
def customer_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoover (Robin Hood) index of per-customer spend: the share of total
    revenue that would have to move between customers to equalize them —
    H = Σ|x_i − μ| / (2Σx), the third inequality lens next to
    `customer_gini_spend` and `lineitem_lorenz_deciles` (Hoover reads
    directly as 'fraction to redistribute'; for a corpus, the fraction
    of token mass to rebalance across sources/shards).

    Exactness AND scale: unlike Gini, Hoover needs NO global ordering at
    all — Σ|n·x_i − s| clears the mean's division into exact
    DECIMAL(38,0) cross-mults against the broadcast (n, s) scalars, so
    the whole statistic is two scalar aggregates and one narrow pass:
    zero sorts, zero windows, one double chain at the end."""
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(25,6)")) * 100)
            .cast("long")
            .alias("cents")
        )
    )
    spend = persist_tracked(spend)
    mom = spend.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    num = spend.crossJoin(F.broadcast(mom)).agg(
        F.sum(
            F.abs(
                F.col("n") * F.col("cents").cast("decimal(38,0)") - F.col("s")
            )
        ).alias("a"),
        F.max("n").alias("n"),
        F.max("s").alias("s"),
    )
    return num.select(
        F.col("n").alias("n_customers"),
        F.col("s").alias("total_cents"),
        F.round(
            F.col("a").cast("double")
            / (2.0 * F.col("n").cast("double") * F.col("s").cast("double")),
            6,
        ).alias("hoover"),
    )


# --------------------------------------------------------------------------
# Frame-motion profile: consecutive-frame feature distance (cut detection)
# --------------------------------------------------------------------------
#: Scene-cut threshold on the integer L1 distance between consecutive
#: frames' 8 quantized feature bytes (range 0..2040).
MOTION_CUT_L1 = 256

_FRAME_MOTION_ORACLE = f"""{_SQL_FRAME_TOKENS.replace("ftok AS (", "fb0 AS (")},
fb AS (
  SELECT doc_id, fi,
         list_transform([0, 4, 8, 12, 16, 20, 24, 28],
                        s -> (hv >> s) & 255) AS f
  FROM fh),
lg AS (
  SELECT doc_id, fi, f,
         lag(f) OVER (PARTITION BY doc_id ORDER BY fi) AS pf
  FROM fb),
dist AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(generate_series(1, 8),
                                      i -> abs(f[i] - pf[i]))) AS BIGINT) AS d
  FROM lg WHERE pf IS NOT NULL),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames FROM fb GROUP BY doc_id),
mo AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
         CAST(sum(d) AS BIGINT) AS total_motion,
         CAST(sum(CASE WHEN d >= {MOTION_CUT_L1} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cuts
  FROM dist GROUP BY doc_id)
SELECT p.doc_id, p.n_frames,
       coalesce(mo.n_transitions, 0) AS n_transitions,
       coalesce(mo.total_motion, 0) AS total_motion,
       coalesce(mo.n_cuts, 0) AS n_cuts,
       CASE WHEN mo.n_transitions > 0
            THEN round(CAST(mo.total_motion AS DOUBLE) / mo.n_transitions, 6)
       END AS mean_motion
FROM per_doc p LEFT JOIN mo ON p.doc_id = mo.doc_id
"""


@query("multimodal_frame_motion_profile", oracle=_FRAME_MOTION_ORACLE)
def multimodal_frame_motion_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-payload motion profile: integer L1 distance between CONSECUTIVE
    sampled frames' quantized feature bytes, with a scene-cut count
    (distance ≥ {MOTION_CUT_L1}) — the shot-boundary / static-content
    detector a video pipeline runs right after decode (a payload whose
    frames never move is a slideshow or padding; one with constant cuts
    is noise).  With real media libs the fake features become actual
    frame embeddings; the windowed distance algebra is unchanged.

    Scale: the Arrow-batched decode (bytes cross the Python boundary
    once), then a doc-PARTITIONED lag window (bounded by frames/payload)
    and integer zip_with folds — all cross-row accumulation integer; the
    only double is the final per-doc mean, rounded once."""
    media = attach_payload(
        spread(load_table(spark, sf_dir, "documents"))
    ).filter(F.col("byte_len") > 0)
    frames = sample_frame_features(media, fake_decode=True)
    fb = frames.select(
        "doc_id",
        "frame_idx",
        F.transform(
            "features", lambda f: F.round(f * 255).cast("int")
        ).alias("f"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    lg = fb.withColumn("pf", F.lag("f").over(w))
    dist = lg.filter(F.col("pf").isNotNull()).select(
        "doc_id",
        F.aggregate(
            F.zip_with("f", "pf", lambda a, b: F.abs(a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("d"),
    )
    per_doc = fb.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_frames"))
    mo = dist.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.sum("d").alias("total_motion"),
        F.sum(F.when(F.col("d") >= MOTION_CUT_L1, 1).otherwise(0)).alias(
            "n_cuts"
        ),
    )
    return per_doc.join(mo, "doc_id", "left").select(
        "doc_id",
        "n_frames",
        F.coalesce("n_transitions", F.lit(0).cast("long")).alias(
            "n_transitions"
        ),
        F.coalesce("total_motion", F.lit(0).cast("long")).alias(
            "total_motion"
        ),
        F.coalesce("n_cuts", F.lit(0).cast("long")).alias("n_cuts"),
        F.when(
            F.col("n_transitions") > 0,
            F.round(
                F.col("total_motion").cast("double")
                / F.col("n_transitions"),
                6,
            ),
        ).alias("mean_motion"),
    )


# --------------------------------------------------------------------------
# Siegel-Tukey dispersion test on the two-phase global order
# --------------------------------------------------------------------------
ST_GROUPS = ("A", "R")  # l_returnflag: accepted vs returned lines

#: Alternating-extreme rank from the global 1-based position `pos` and the
#: total count `n` (both referenced BY NAME): rank 1 to the smallest, 2,3
#: to the two largest, 4,5 to the next two smallest, … — a permutation of
#: 1..n (odd n: the middle element takes rank n).  Shared text between the
#: Spark selectExpr and the DuckDB oracle so the integer CASE is identical.
_ST_RANK = (
    "CASE WHEN pos * 2 = n + 1 THEN n "  # odd n: the middle takes rank n
    "WHEN pos * 2 < n + 1 THEN "
    "(CASE WHEN pos = 1 THEN 1 WHEN pos % 2 = 0 THEN 2 * pos "
    "ELSE 2 * pos - 1 END) "
    "ELSE (CASE WHEN (n + 1 - pos) % 2 = 1 THEN 2 * (n + 1 - pos) "
    "ELSE 2 * (n + 1 - pos) - 1 END) END"
)

_SIEGEL_TUKEY_ORACLE = f"""
WITH v AS (
  SELECT l_returnflag AS grp,
         CAST(CAST(l_extendedprice AS DECIMAL(25,6)) * 100 AS BIGINT)
           AS cents,
         l_orderkey, l_linenumber
  FROM lineitem WHERE l_returnflag IN ('{ST_GROUPS[0]}', '{ST_GROUPS[1]}')),
r AS (
  SELECT grp,
         CAST(row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber)
              AS BIGINT) AS pos
  FROM v),
mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN grp = '{ST_GROUPS[0]}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1
        FROM v),
st AS (
  SELECT grp, {_ST_RANK} AS st_rank
  FROM r CROSS JOIN mom),
agg AS (
  SELECT CAST(sum(CASE WHEN grp = '{ST_GROUPS[0]}' THEN st_rank ELSE 0 END)
              AS HUGEINT) AS w,
         any_value((SELECT n FROM mom)) AS n,
         any_value((SELECT n1 FROM mom)) AS n1
  FROM st)
SELECT n1 AS n_grp_a, n - n1 AS n_grp_b, CAST(w AS BIGINT) AS w_grp_a,
       round((2.0 * CAST(w AS DOUBLE)
              - CAST(n1 AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
             / (2.0 * sqrt(CAST(n1 AS DOUBLE)
                           * (CAST(n AS DOUBLE) - CAST(n1 AS DOUBLE))
                           * (CAST(n AS DOUBLE) + 1.0) / 12.0)), 6) AS z
FROM agg
"""


@query("stats_siegel_tukey", oracle=_SIEGEL_TUKEY_ORACLE)
def stats_siegel_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel-Tukey dispersion test: do accepted (A) and returned (R)
    lineitems have the same SPREAD of line revenue?  Ranks alternate between the extremes of
    the pooled order (smallest→1, two largest→2,3, …), so a group with
    fatter tails collects smaller ranks — a rank-sum test on dispersion
    rather than location, completing the rank-stat family
    (Mann-Whitney/KW/Wilcoxon/Friedman/Page test location; this tests
    scale).  Exact ties order by (orderkey, linenumber) — the
    deterministic ordinal convention, identical on both engines.

    Scale + exactness: the pooled order is the two-phase distributed
    global order over a FACT-scale relation (~2/3 of lineitem — another
    deliberate stress of the r10 deterministic-bucket primitive); the
    alternating rank is a shared integer CASE over (pos, n); W
    accumulates as integers; the z-score is one double chain with the
    standard rank-sum moments E=n1(n+1)/2, Var=n1·n2·(n+1)/12."""
    v = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin(*ST_GROUPS))
        .select(
            F.col("l_returnflag").alias("grp"),
            (F.col("l_extendedprice").cast("decimal(25,6)") * 100)
            .cast("long")
            .alias("cents"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    v = persist_tracked(v)
    r = with_global_order(
        v,
        [("cents", True), ("l_orderkey", True), ("l_linenumber", True)],
        pos="pos",
    )
    mom = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("grp") == ST_GROUPS[0], 1).otherwise(0)).alias(
            "n1"
        ),
    )
    st = r.crossJoin(F.broadcast(mom)).selectExpr(
        "grp", "n", "n1", f"{_ST_RANK} AS st_rank"
    )
    agg = st.agg(
        F.sum(
            F.when(F.col("grp") == ST_GROUPS[0], F.col("st_rank")).otherwise(
                0
            ).cast("decimal(38,0)")
        ).alias("w"),
        F.max("n").alias("n"),
        F.max("n1").alias("n1"),
    )
    return agg.selectExpr(
        "n1 AS n_grp_a",
        "n - n1 AS n_grp_b",
        "CAST(w AS BIGINT) AS w_grp_a",
        "round((2.0 * CAST(w AS DOUBLE)"
        " - CAST(n1 AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))"
        " / (2.0 * sqrt(CAST(n1 AS DOUBLE)"
        " * (CAST(n AS DOUBLE) - CAST(n1 AS DOUBLE))"
        " * (CAST(n AS DOUBLE) + 1.0) / 12.0)), 6) AS z",
    )


# --------------------------------------------------------------------------
# Harmonic centrality (truncated, exact via lcm fraction clearing)
# --------------------------------------------------------------------------
HC_MAX_HOPS = 8
HC_LCM = 840  # lcm(1..8): 840/d is an exact integer for every hop count

_HARMONIC_ORACLE = f"""
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
  WHERE w.hop < {HC_MAX_HOPS}),
d AS (
  SELECT src, node, CAST(min(hop) AS BIGINT) AS d
  FROM walk WHERE src <> node GROUP BY src, node),
h AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS n_reached,
         CAST(sum({HC_LCM} // d) AS BIGINT) AS harmonic_{HC_LCM}
  FROM d GROUP BY src)
SELECT n.node, coalesce(h.n_reached, 0) AS n_reached,
       coalesce(h.harmonic_{HC_LCM}, 0) AS harmonic_{HC_LCM},
       round(CAST(coalesce(h.harmonic_{HC_LCM}, 0) AS DOUBLE)
             / {HC_LCM}.0, 6) AS harmonic
FROM nodes n LEFT JOIN h ON h.node = n.node
"""


def nav_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, ts, event_id, k): the navigation-event frame every
    transition-graph operator starts from — shared by harmonic
    centrality (here), eccentricity and Markov attribution (wave12)."""
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        props_k().alias("k"),
    )


def undirected_transition_adjacency(
    spark: SparkSession, sf_dir: str
) -> tuple[list[int], dict[int, set[int]]]:
    """(sorted nodes, adjacency sets) of the UNDIRECTED page-transition
    graph — the shared all-pairs-BFS substrate of harmonic centrality
    and eccentricity/diameter/radius (wave12).  The corpus-sized work
    (events scan → per-user windowed transitions → distinct edges) runs
    distributed; only the |V|²-bounded edge set and the |V|-bounded node
    domain collect to the driver (repo policy for model-bounded graph
    iteration)."""
    from iceberg_table_generator_spark.operators.graph import (
        collect_transition_model,
    )

    # r15: ONE fused distributed pass instead of separate edge + node
    # collects, with |V| loud-guarded (`collect_transition_model`); the
    # undirected pair set is the min/max of the dst-non-null, src≠dst
    # transitions (a NULL src fails `src != dst` on both engines).
    trans, nodes = collect_transition_model(
        spark, sf_dir, "undirected_transition_adjacency"
    )
    adj: dict[int, set[int]] = {n: set() for n in nodes}
    for s, t, _c in trans:
        if s is not None and s != t:
            adj[min(s, t)].add(max(s, t))
            adj[max(s, t)].add(min(s, t))
    return nodes, adj


def truncated_bfs_hops(
    adj: dict[int, set[int]], start: int, max_hops: int
) -> dict[int, int]:
    """Hop distances from ``start`` to every node reachable within
    ``max_hops`` over ``adj`` (start itself maps to 0) — the per-source
    BFS both harmonic centrality and eccentricity fold over."""
    hop = {start: 0}
    frontier = [start]
    for h in range(1, max_hops + 1):
        frontier = sorted(
            {m for f in frontier for m in adj[f] if m not in hop}
        )
        for m in frontier:
            hop[m] = h
        if not frontier:
            break
    return hop


@query("events_harmonic_centrality", oracle=_HARMONIC_ORACLE)
def events_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality of every page in the undirected
    transition graph: Σ 1/d(u,v) over nodes reachable within
    {HC_MAX_HOPS} hops — the centrality that stays well-defined on
    disconnected graphs (unreachable contributes 0, no infinite
    distances), completing the graph pack's centrality trio
    (degree/PageRank/Katz measure flow; harmonic measures PROXIMITY).

    Exactness: distances are integers and every 1/d clears through the
    lcm(1..{HC_MAX_HOPS}) = {HC_LCM} numerator — harmonic_{HC_LCM} is an
    exact integer on both engines; the readable value is one division,
    rounded once.  Scale: the transition graph is MODEL-BOUNDED (|V|²
    distinct edges, visit-count-independent — the PageRank/BFS premise),
    so per repo policy the all-pairs BFS runs driver-side over one
    collect() of the edge set (`undirected_transition_adjacency`); the
    corpus-sized work (events scan → distinct edges) stays distributed."""
    nodes, adj = undirected_transition_adjacency(spark, sf_dir)
    rows = []
    for s in nodes:
        hop = truncated_bfs_hops(adj, s, HC_MAX_HOPS)
        dists = [d for n, d in hop.items() if n != s]
        hsum = sum(HC_LCM // d for d in dists)
        rows.append((s, len(dists), hsum, round(hsum / HC_LCM, 6)))
    return spark.createDataFrame(
        rows,
        f"node int, n_reached bigint, harmonic_{HC_LCM} bigint, "
        "harmonic double",
    )


# --------------------------------------------------------------------------
# Monthly priority-mix drift (TV distance vs the global mix, integer-cleared)
# --------------------------------------------------------------------------
_MIX_DRIFT_ORACLE = """
WITH cell AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mo,
         o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2),
mos AS (SELECT mo, CAST(sum(c) AS BIGINT) AS n_m FROM cell GROUP BY mo),
pris AS (SELECT pri, CAST(sum(c) AS BIGINT) AS cp FROM cell GROUP BY pri),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cell),
grid AS (
  SELECT m.mo, m.n_m, p.pri, p.cp, t.n, coalesce(cell.c, 0) AS c
  FROM mos m CROSS JOIN pris p CROSS JOIN tot t
  LEFT JOIN cell ON cell.mo = m.mo AND cell.pri = p.pri)
SELECT mo, any_value(n_m) AS n_orders,
       round(CAST(sum(abs(CAST(c AS HUGEINT) * n - CAST(cp AS HUGEINT) * n_m))
                  AS DOUBLE)
             / (2.0 * CAST(any_value(n_m) AS DOUBLE)
                * CAST(any_value(n) AS DOUBLE)), 6) AS tv_drift
FROM grid GROUP BY mo ORDER BY mo
"""


@query("orders_priority_mix_drift", oracle=_MIX_DRIFT_ORACLE)
def orders_priority_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-global drift of the order-priority MIX: per month, the
    total-variation distance between that month's priority distribution
    and the corpus-wide one — the categorical drift monitor (for a
    training pipeline: per-shard label/source mix vs the global recipe;
    a month above threshold means the mix shifted, not just the volume).
    Missing cells count (a month with NO urgent orders drifts).

    Exactness: TV clears its two divisions into |c·N − C_p·n_m| integer
    cross-mults (DECIMAL(38,0) — c·N overflows BIGINT at warehouse
    scale), summed exactly over the bounded month×priority grid; one
    double division per month, rounded once.  Scale: one calendar-
    bounded aggregate + a broadcast 5-row priority relation; no windows,
    no corpus-sized joins."""
    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mo"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(F.count(F.lit(1)).alias("c"))
    cell = persist_tracked(cell)
    mos = cell.groupBy("mo").agg(F.sum("c").alias("n_m"))
    pris = cell.groupBy("pri").agg(F.sum("c").alias("cp"))
    tot = cell.agg(F.sum("c").alias("n"))
    # pris is the 5-value priority domain but an agg keyed on a column is
    # not STRUCTURALLY bounded, so no broadcast hint (the repo's bounded-
    # broadcast invariant) — AQE sizes it adaptively at runtime, and the
    # grid sides are calendar/domain-bounded either way.
    grid = (
        mos.crossJoin(pris)
        .crossJoin(F.broadcast(tot))
        .join(cell, ["mo", "pri"], "left")
        .select(
            "mo",
            "n_m",
            "n",
            F.coalesce("c", F.lit(0)).alias("c"),
            "cp",
        )
    )
    d38 = "decimal(38,0)"
    return (
        grid.groupBy("mo")
        .agg(
            F.max("n_m").alias("n_orders"),
            F.round(
                F.sum(
                    F.abs(
                        F.col("c").cast(d38) * F.col("n")
                        - F.col("cp").cast(d38) * F.col("n_m")
                    )
                ).cast("double")
                / (
                    2.0
                    * F.max("n_m").cast("double")
                    * F.max("n").cast("double")
                ),
                6,
            ).alias("tv_drift"),
        )
        .orderBy("mo")
    )


# --------------------------------------------------------------------------
# Per-source document-length quantiles (grouped crossing rule)
# --------------------------------------------------------------------------
_SOURCE_LEN_Q_ORACLE = """
WITH c AS (
  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS t
  FROM documents GROUP BY 1, 2),
cum AS (
  SELECT source, v, t,
         sum(t) OVER (PARTITION BY source ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cu,
         sum(t) OVER (PARTITION BY source) AS n
  FROM c)
SELECT source, CAST(any_value(n) AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN 4 * cu >= n THEN v END) AS BIGINT) AS p25_chars,
       CAST(min(CASE WHEN 2 * cu >= n THEN v END) AS BIGINT) AS p50_chars,
       CAST(min(CASE WHEN 10 * cu >= 9 * n THEN v END) AS BIGINT) AS p90_chars
FROM cum GROUP BY source ORDER BY source
"""


@query("pipeline_source_length_quantiles", oracle=_SOURCE_LEN_Q_ORACLE)
def pipeline_source_length_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source exact document-length quantiles (p25/p50/p90 chars) via
    the grouped count-crossing rule — the numbers that set per-source
    length filters and packing bin sizes (a source whose p90 exceeds the
    context window needs chunking; one whose p25 is tiny needs a floor).

    Exactness + scale: counts per (source, length) value, source-
    PARTITIONED cumulative windows (bounded per source by the distinct-
    length domain), and the integer crossing rule (min v with k·cum ≥
    m·n) — no percentile_approx, no single-partition window, no floats
    anywhere."""
    c = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("t"))
    )
    w = Window.partitionBy("source").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("source")
    cum = c.select(
        "source",
        "v",
        F.sum("t").over(w).alias("cu"),
        F.sum("t").over(wn).alias("n"),
    )
    return (
        cum.groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.min(F.when(4 * F.col("cu") >= F.col("n"), F.col("v"))).alias(
                "p25_chars"
            ),
            F.min(F.when(2 * F.col("cu") >= F.col("n"), F.col("v"))).alias(
                "p50_chars"
            ),
            F.min(
                F.when(10 * F.col("cu") >= 9 * F.col("n"), F.col("v"))
            ).alias("p90_chars"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Ship-delay quantiles per priority (fact-scale grouped crossing rule)
# --------------------------------------------------------------------------
_SHIP_DELAY_ORACLE = """
WITH d AS (
  SELECT o.o_orderpriority AS pri,
         CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS delay
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
c AS (SELECT pri, delay AS v, CAST(count(*) AS BIGINT) AS t
      FROM d GROUP BY 1, 2),
cum AS (
  SELECT pri, v, t,
         sum(t) OVER (PARTITION BY pri ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cu,
         sum(t) OVER (PARTITION BY pri) AS n
  FROM c)
SELECT pri, CAST(any_value(n) AS BIGINT) AS n_lines,
       CAST(min(CASE WHEN 2 * cu >= n THEN v END) AS BIGINT) AS p50_days,
       CAST(min(CASE WHEN 10 * cu >= 9 * n THEN v END) AS BIGINT) AS p90_days,
       CAST(max(v) AS BIGINT) AS max_days
FROM cum GROUP BY pri ORDER BY pri
"""


@query("lineitem_ship_delay_by_priority", oracle=_SHIP_DELAY_ORACLE)
def lineitem_ship_delay_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-ship delay quantiles (exact p50/p90/max days) per order
    priority — does paying for 1-URGENT actually ship faster, read off
    the FULL fact join, not a sample.  The SLA answer every priority
    tier is sold on.

    Scale + exactness: one orderkey-equi join (orders side pruned to two
    columns), then the grouped count-crossing rule — counts per
    (priority, delay-day) value, priority-PARTITIONED cumulative windows
    over the bounded delay-day domain, integer crossings.  No
    percentile_approx, no single-partition window, no floats."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", F.col("o_orderpriority").alias("pri")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "pri",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("long")
        .alias("v"),
    )
    c = d.groupBy("pri", "v").agg(F.count(F.lit(1)).alias("t"))
    w = Window.partitionBy("pri").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("pri")
    cum = c.select(
        "pri",
        "v",
        F.sum("t").over(w).alias("cu"),
        F.sum("t").over(wn).alias("n"),
    )
    return (
        cum.groupBy("pri")
        .agg(
            F.max("n").alias("n_lines"),
            F.min(F.when(2 * F.col("cu") >= F.col("n"), F.col("v"))).alias(
                "p50_days"
            ),
            F.min(
                F.when(10 * F.col("cu") >= 9 * F.col("n"), F.col("v"))
            ).alias("p90_days"),
            F.max("v").alias("max_days"),
        )
        .orderBy("pri")
    )


# --------------------------------------------------------------------------
# Peak-to-mean load ratio per event type (capacity planning)
# --------------------------------------------------------------------------
_PEAK_MEAN_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_active_hours,
       CAST(sum(c) AS BIGINT) AS n_events,
       CAST(max(c) AS BIGINT) AS peak_hourly,
       round(CAST(max(c) * count(*) AS DOUBLE) / sum(c), 6)
         AS peak_to_mean
FROM h GROUP BY event_type ORDER BY event_type
"""


@query("events_peak_to_mean_by_type", oracle=_PEAK_MEAN_ORACLE)
def events_peak_to_mean_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-to-mean hourly load ratio per event type (mean over ACTIVE
    hours) — the capacity-planning number: a type at ratio ≈ 1 is steady
    background load, one at 10 needs burst headroom ten times its
    average.  For an ingestion pipeline: per-stream provisioning.

    Exactness + scale: two nested calendar-bounded aggregates (hourly
    counts, then the per-type fold); the ratio max·hours/total is exact
    integers into one rounded division.  No windows, no joins."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    )
    h = ev.groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("c"))
    return (
        h.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_active_hours"),
            F.sum("c").alias("n_events"),
            F.max("c").alias("peak_hourly"),
            F.round(
                (F.max("c") * F.count(F.lit(1))).cast("double")
                / F.sum("c"),
                6,
            ).alias("peak_to_mean"),
        )
        .orderBy("event_type")
    )
