"""Multimodal column plumbing (SURVEY.md §2.8).

Treats image/audio/video payloads as opaque `binary` columns with typed
metadata.  The Spark-side plumbing — schema, partition-friendly layout,
Arrow-batched mapInPandas signatures, batch shapes — is real and tested;
the actual media decode is STUBBED (no image/audio libs in this container)
behind `decode_stub`, which raises NotImplementedError unless the
deterministic fake decoder is requested (tests use the fake).

Scale posture: payloads live in their own column so Parquet/Iceberg column
pruning keeps the blobs off the wire for metadata-only queries; decode runs
in mapInPandas over Arrow record batches, so adding executors scales decode
linearly and the Python boundary is batched, never per-row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from iceberg_table_generator_spark.functions.cache import persist_tracked
from iceberg_table_generator_spark.functions.text import md5_60_sql
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), nullable=False),
        StructField("mime", StringType(), nullable=False),
        StructField("width", IntegerType(), nullable=True),
        StructField("height", IntegerType(), nullable=True),
        StructField("features", ArrayType(FloatType()), nullable=True),
    ]
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Synthesize a binary payload column from the document text (the
    container has no real media; the *plumbing* is the deliverable).
    Real pipelines replace this with a scan of (path, binary) Parquet."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.octet_length("text").cast("long").alias("byte_len"),
    )


def decode_stub(payload: bytes, mime: str, fake: bool = False) -> dict:
    """Decode one media payload.  Real decode requires image/audio libs not
    present in this container — STUB per the build brief.

    The deterministic fake derives a stable pseudo-feature vector from the
    payload bytes so the distributed plumbing (batching, schema, shapes)
    is testable end to end."""
    if not fake:
        raise NotImplementedError(
            "media decode requires PIL/av/soundfile, not available in this container"
        )
    h = 0
    for b in payload[:64]:
        h = (h * 131 + b) % 1_000_000_007
    return {
        "width": (h % 640) + 1,
        "height": (h % 480) + 1,
        "features": [float((h >> s) & 0xFF) / 255.0 for s in range(0, 32, 4)],
    }


def extract_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """mapInPandas feature extraction over Arrow batches.

    Each Python worker receives whole Arrow record batches (never row at a
    time); output schema is fixed so downstream stays fully typed."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, payload, mime in zip(pdf["doc_id"], pdf["payload"], pdf["mime"]):
                d = decode_stub(bytes(payload), mime, fake=fake_decode)
                out.append((doc_id, mime, d["width"], d["height"], d["features"]))
            yield pd.DataFrame(
                out, columns=["doc_id", "mime", "width", "height", "features"]
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           'text/plain'                 AS mime,
           octet_length(encode(text))   AS byte_len,
           n_chars,
           md5(text)                    AS content_md5
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over binary payload columns — the pruning-friendly
    side of the multimodal design: this query never touches the payload
    bytes column layout-wise (column pruning), only its metadata."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lit("text/plain").alias("mime"),
        F.octet_length("text").cast("long").alias("byte_len"),
        "n_chars",
        F.md5("text").alias("content_md5"),
    )


# --------------------------------------------------------------------------
# Frame sampling (video-style payloads)
# --------------------------------------------------------------------------
FRAME_BYTES = 256  # fixed-size frame stand-in (real codecs: keyframe index)
FRAME_STRIDE = 4  # sample every 4th frame

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), nullable=False),
        StructField("frame_idx", IntegerType(), nullable=False),
        StructField("features", ArrayType(FloatType()), nullable=True),
    ]
)


@query(
    "multimodal_frame_index",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, octet_length(encode(text)) AS byte_len FROM documents),
    idx AS (
      SELECT doc_id, byte_len,
             unnest(generate_series(0, (byte_len - 1) // {FRAME_BYTES},
                                    {FRAME_STRIDE})) AS frame_idx
      FROM m)
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * {FRAME_BYTES} AS BIGINT) AS frame_offset,
           CAST(least({FRAME_BYTES}, byte_len - frame_idx * {FRAME_BYTES}) AS INT)
             AS frame_len
    FROM idx
    """,
)
def multimodal_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling INDEX over binary payloads: every FRAME_STRIDE-th
    fixed-size frame's (offset, length), computed without touching the
    payload bytes — the planning half of video frame extraction (a real
    pipeline swaps the fixed grid for the container's keyframe index).
    Zero shuffle; the byte-ranges then drive the batched decode below."""
    media = attach_payload(load_table(spark, sf_dir, "documents"))
    idx = media.select(
        "doc_id",
        "byte_len",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                # integer division on BOTH engines: DuckDB's CAST(double AS
                # BIGINT) rounds half-to-even, which fabricates an extra
                # (negative-length) frame when (byte_len-1)/256 has
                # fractional part >= 0.5 near a stride boundary
                F.expr(f"(byte_len - 1) div {FRAME_BYTES}"),
                F.lit(FRAME_STRIDE).cast("bigint"),
            )
        ).alias("frame_idx"),
    )
    return idx.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        (F.col("frame_idx") * FRAME_BYTES).cast("bigint").alias("frame_offset"),
        F.least(
            F.lit(FRAME_BYTES), F.col("byte_len") - F.col("frame_idx") * FRAME_BYTES
        )
        .cast("int")
        .alias("frame_len"),
    )


def sample_frame_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """Frame-level feature extraction: one mapInPandas pass slices each
    payload into its sampled frames and featurizes them — the per-frame
    fan-out happens INSIDE the Arrow batch (no pre-explode of binary
    columns through a shuffle), so each payload's bytes cross the Python
    boundary exactly once."""

    def run(batches):  # Iterator[pd.DataFrame] -> Iterator[pd.DataFrame]
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                n_frames = max(1, (len(raw) + FRAME_BYTES - 1) // FRAME_BYTES)
                for frame_idx in range(0, n_frames, FRAME_STRIDE):
                    frame = raw[frame_idx * FRAME_BYTES : (frame_idx + 1) * FRAME_BYTES]
                    d = decode_stub(frame, "video/frame", fake=fake_decode)
                    out.append((doc_id, frame_idx, d["features"]))
            yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "features"])

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


# --------------------------------------------------------------------------
# Payload chunk-hash near-dedup (media-level duplicate detection)
# --------------------------------------------------------------------------
CHUNK_BYTES = 256  # fixed-width chunks; real media dedup uses CDC boundaries
CHUNK_CONTAINMENT = 0.5  # pairs sharing >= 50% of the smaller side's chunks
CHUNK_DF_CAP = 50  # chunks in more payloads than this are boilerplate blocks

_CHUNK_DEDUP_ORACLE = f"""
WITH p AS (
  SELECT doc_id, text, length(text) AS byte_len FROM documents
  WHERE length(text) > 0),
ch AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(0, CAST(ceil(byte_len / {CHUNK_BYTES}.0) AS INT) - 1),
             i -> md5(substring(text, i * {CHUNK_BYTES} + 1, {CHUNK_BYTES}))))) AS h
  FROM p),
cnt AS (SELECT doc_id, count(*) AS n FROM ch GROUP BY doc_id),
hot AS (SELECT h FROM ch GROUP BY h HAVING count(*) > {CHUNK_DF_CAP}),
cold AS (SELECT * FROM ch WHERE h NOT IN (SELECT h FROM hot)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_chunks
  FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT p.doc_a, p.doc_b,
       CAST(p.shared_chunks AS BIGINT) AS shared_chunks,
       round(p.shared_chunks * 1.0 / least(ca.n, cb.n), 6) AS containment
FROM pairs p
JOIN cnt ca ON p.doc_a = ca.doc_id
JOIN cnt cb ON p.doc_b = cb.doc_id
WHERE p.shared_chunks * 1.0 / least(ca.n, cb.n) >= {CHUNK_CONTAINMENT}
"""


@query("multimodal_chunk_dedup", oracle=_CHUNK_DEDUP_ORACLE)
def multimodal_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-payload near-dedup by chunk-hash containment: payloads are
    split into fixed {CHUNK_BYTES}-byte chunks, each chunk is md5-hashed,
    and payload pairs sharing >= 50% of the smaller side's distinct
    chunks are reported — the storage-level duplicate detector (re-uploads,
    re-encodes with identical leading content, partial copies) that runs
    BEFORE any media decode, on bytes alone.

    The whole pipeline is chunk-hash relational algebra: in-row chunking
    (transform over a sequence of byte offsets; `substring` slices the
    BINARY payload), one explode, inverted-index self-join on the 16-byte
    digest — only genuinely overlapping pairs materialize, the same
    posting-list shape as the text dedup family.  At 100 TB the shuffle
    carries (doc_id, digest) only; payload bytes never leave the scan.
    Fixed-width chunking is the honest simplification — production media
    dedup uses content-defined chunking so INSERTIONS don't shift every
    later boundary; the relational skeleton downstream of the chunker is
    identical.

    Boilerplate-block guard: chunks present in more than CHUNK_DF_CAP
    payloads (zero-padding blocks, container-format headers — every real
    media corpus has them) are dropped from the inverted index before the
    self-join, exactly like the text family's stop-shingle caps: one
    universal block would otherwise put |corpus|² pairs in a single
    bucket.  Per-payload chunk counts are taken BEFORE the cap, so capped
    chunks reduce the shared count but not the denominator — containment
    is conservatively underestimated for pairs sharing boilerplate, the
    standard stop-list contract.  The cap sits far above any chunk df at
    oracle scale, so the driver check stays exact.

    Oracle exactness: the synthetic payload is `encode(text, 'UTF-8')`
    (attach_payload) and the corpus is pure ASCII at every SF (asserted
    in tests), so DuckDB's CHARACTER-offset substring over the text
    produces byte-identical chunks to Spark's byte-offset substring over
    the payload, and both engines' md5 agree."""
    from iceberg_table_generator_spark.sources.tables import spread

    p = attach_payload(spread(load_table(spark, sf_dir, "documents"))).filter(
        F.col("byte_len") > 0
    )
    n_chunks = F.ceil(F.col("byte_len") / F.lit(float(CHUNK_BYTES))).cast("int")
    # persist(DISK_ONLY): four consumers (per-doc counts, hot set, both
    # self-join sides) with differing aliases defeat ReuseExchange — the
    # unpersisted plan re-scanned and re-hashed the corpus 6 times.  Same
    # fault-tolerance rationale as the text posting streams.
    ch = p.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.md5(
                        F.substring("payload", i * CHUNK_BYTES + 1, CHUNK_BYTES)
                    ),
                )
            )
        ).alias("h"),
    ).transform(persist_tracked)
    cnt = ch.groupBy("doc_id").agg(F.count("*").alias("n"))
    hot = (
        ch.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > CHUNK_DF_CAP)
        .select("h")
    )
    cold = ch.join(F.broadcast(hot), "h", "left_anti")
    a = cold.select(F.col("doc_id").alias("doc_a"), "h")
    b = cold.select(F.col("doc_id").alias("doc_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_chunks"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "containment",
            F.round(F.col("shared_chunks") / F.least("na", "nb"), 6),
        )
        .filter(
            F.col("shared_chunks") / F.least("na", "nb") >= CHUNK_CONTAINMENT
        )
        .select("doc_a", "doc_b", "shared_chunks", "containment")
    )


# --------------------------------------------------------------------------
# Payload byte statistics (corruption / compressibility screen)
# --------------------------------------------------------------------------
_BYTE_STATS_ORACLE = """
WITH h AS (
  SELECT doc_id, hex(CAST(text AS BLOB)) AS hs,
         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
  FROM documents WHERE octet_length(CAST(text AS BLOB)) > 0),
b AS (
  SELECT doc_id, n_bytes,
         list_transform(generate_series(1, CAST(n_bytes AS INT)),
                        i -> substring(hs, 2 * i - 1, 2)) AS bs
  FROM h)
SELECT doc_id, n_bytes,
       CAST(len(list_distinct(bs)) AS INT) AS distinct_bytes,
       round(CAST(len(list_filter(bs, x -> x >= '20' AND x <= '7E'))
                  AS DOUBLE) / n_bytes, 6) AS printable_ratio,
       CAST(list_sum(list_transform(bs, x -> CAST('0x' || x AS INT)))
            AS BIGINT) AS byte_sum
FROM b
"""


@query("multimodal_byte_stats", oracle=_BYTE_STATS_ORACLE)
def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level payload statistics — the cheap corruption /
    compressibility screen run before expensive media decode (a payload
    whose byte histogram collapses to a few values is padding or a
    truncated container; printable ratio separates text-in-blob from
    real codec output): distinct-byte count, printable ratio, and a
    byte-sum checksum per payload.

    r14 (guide §4.2): the per-byte work runs VECTORIZED over whole Arrow
    record batches — an Arrow binary column is one contiguous data
    buffer plus an offsets array, so the per-row folds are three numpy
    segment reductions (`add.reduceat` for byte_sum / printable count, a
    256-wide presence-bitmap scatter for distinct bytes) with zero
    per-row Python and zero byte copies into Python objects.  The r13
    JVM shape built a per-BYTE array of 2-char hex strings and walked it
    with three higher-order functions (measured 3.7 s at sf0.1; an
    arithmetic in-row variant measured 4× WORSE) — per-element
    UTF8String allocation is exactly the "row-at-a-time bulk data
    manipulation" the guide says to hand to native batch code instead.
    Exactness: byte values are integers; the ratio is one IEEE double
    division, rounded by the exact replay of Spark's HALF_UP round
    (`_round6_half_up`), so output is bit-identical to the r13 shape.

    Scale: one narrow pass, zero shuffle; only (doc_id, payload) crosses
    the Arrow boundary (explicit select — an opaque function otherwise
    defeats column pruning).  As with the frame/chunk operators, the
    payload stands in via the UTF-8-encoded text (ASCII-precondition
    pinned by the chunk-dedup test); a real media column swaps the
    source expression only."""
    from iceberg_table_generator_spark.sources.tables import spread

    d = (
        spread(load_table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.encode("text", "UTF-8").alias("payload"),
        )
        .filter(F.octet_length("payload") > 0)
    )

    def run(batches):  # Iterator[pa.RecordBatch] -> Iterator[pa.RecordBatch]
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np
        import pyarrow as pa

        def _round6_half_up(x: float) -> float:
            # Exact replay of Spark's round(double, 6): BigDecimal over the
            # double's shortest decimal repr (Python `repr` agrees), HALF_UP.
            # Shortest-repr agreement assumes JDK >= 19 (JDK-4511638 fixed
            # Double.toString's non-shortest digits); this container runs
            # JDK 17 + Spark 4, whose BigDecimal.valueOf path is already
            # shortest-repr for the values here — the 3-SF oracle sweeps
            # pin the actual data, the JDK note bounds the general claim
            # (r14 ADVICE #3).
            return float(
                Decimal(repr(x)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )

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
            data = np.frombuffer(bufs[2], dtype=np.uint8)[: offsets[-1]]
            n = np.diff(offsets)
            starts = offsets[:-1]
            # Segment reductions over the contiguous byte buffer: rows are
            # non-empty by the upstream filter, so `starts` is strictly
            # increasing and reduceat segments are exactly the rows.  The
            # precondition is load-bearing — duplicate offsets would make
            # reduceat return a wrong single-element sum, not fail — so
            # assert it per batch (r14 ADVICE #4: fail loudly at the
            # source if the filter ever moves).
            assert (n > 0).all(), "byte_stats: empty payload reached a batch"
            sums = np.add.reduceat(data.astype(np.int64), starts)
            printable = np.add.reduceat(
                ((data >= 0x20) & (data <= 0x7E)).astype(np.int64), starts
            )
            row_of = np.repeat(np.arange(nrows), n)
            seen = np.zeros((nrows, 256), dtype=bool)
            seen[row_of, data[offsets[0] :]] = True
            distinct = seen.sum(axis=1).astype(np.int32)
            ratio = [
                _round6_half_up(p / t)
                for p, t in zip(printable.tolist(), n.tolist())
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(n, type=pa.int64()),
                    pa.array(distinct, type=pa.int32()),
                    pa.array(ratio, type=pa.float64()),
                    pa.array(sums, type=pa.int64()),
                ],
                names=[
                    "doc_id",
                    "n_bytes",
                    "distinct_bytes",
                    "printable_ratio",
                    "byte_sum",
                ],
            )

    return d.mapInArrow(
        run,
        schema=(
            "doc_id long, n_bytes long, distinct_bytes int,"
            " printable_ratio double, byte_sum long"
        ),
    )


# --------------------------------------------------------------------------
# Payload fingerprint near-dup: chunk-level SimHash over the binary column
# --------------------------------------------------------------------------
FP_TOP_K = 20

_FINGERPRINT_ORACLE = f"""
WITH p AS (
  SELECT doc_id, text, length(text) AS bl FROM documents
  WHERE length(text) > 0),
ck AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(0, CAST(ceil(bl / {CHUNK_BYTES}.0) AS INT) - 1),
             i -> substring(text, i * {CHUNK_BYTES} + 1, {CHUNK_BYTES}))))
           AS c
  FROM p),
hh AS (SELECT doc_id,
              {md5_60_sql('c')} AS h
       FROM ck),
bits AS (
  SELECT doc_id, i.i AS i, sum(((h >> i.i) & 1) * 2 - 1) AS s
  FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) i
  GROUP BY doc_id, i.i),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
           AS fp
  FROM bits GROUP BY doc_id),
ch AS (
  SELECT doc_id, fp, c.c AS chunk_id,
         (fp >> (15 * c.c)) & 32767 AS chunk_val
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


@query("multimodal_fingerprint_dedup", oracle=_FINGERPRINT_ORACLE)
def multimodal_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash-style near-dup over OPAQUE BINARY payloads: each
    payload's fixed-width chunks vote a 60-bit fingerprint (per-bit
    majority over chunk digests — SimHash at the storage-block level),
    banded into 4×15-bit chunks for candidate generation, and the
    {FP_TOP_K} closest candidate pairs reported by Hamming distance (the
    banding makes sub-4-Hamming recall exact by pigeonhole; the top-k
    report stays informative on corpora — like this fixture — whose
    nearest payload pairs sit above that bound).  This is the byte-level
    stand-in for a
    true perceptual hash: with media libs a pHash/chromaprint would
    replace the chunk digests, and EVERYTHING downstream — the banding,
    the bucket join, the Hamming verify, the 8-bytes-per-item shuffle —
    is exactly this plan.  Complements `multimodal_chunk_dedup`
    (containment on shared chunks) with a CONSTANT-SIZE sketch: the
    fingerprint survives where a chunk posting list is too big to index.

    Scale: fingerprints are 8 bytes/payload; candidates are bounded by
    band-bucket sizes (pigeonhole guarantees recall at Hamming ≤ 3);
    payload bytes never leave the scan stage.  Oracle exactness: chunk
    digests are the engine-independent md5-prefix 60-bit hash over
    byte-identical chunks (ASCII corpus — see `multimodal_chunk_dedup`'s
    oracle note), so fingerprints match bit for bit."""
    from iceberg_table_generator_spark.operators.dedup import (
        SIMHASH_BITS,
        SIMHASH_CHUNK_BITS,
        SIMHASH_CHUNK_MASK,
        SIMHASH_CHUNKS,
    )
    from iceberg_table_generator_spark.sources.tables import spread

    d = (
        spread(load_table(spark, sf_dir, "documents"))
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
        .filter(F.octet_length("payload") > 0)
    )

    # r15 (guide §4.2, the byte_stats pattern): the whole doc → 60-bit
    # fingerprint chain — fixed-width chunking, per-chunk md5-prefix hash,
    # per-bit majority vote — runs in ONE mapInArrow pass over the
    # payload batch (hashlib.md5 per CHUNK, chunk counts are small; the
    # bit votes vectorize in numpy across each doc's chunk hashes).  The
    # r14 shape built per-chunk binary substrings + array_distinct in the
    # JVM, exploded them, and folded 60 conditional sums through a
    # corpus-wide groupBy (`simhash()`) — per-chunk UTF8String/array
    # allocation plus a shuffle that this per-doc statistic never needed.
    # Exactness: chunk slices are byte-identical to
    # substring(payload, i*CHUNK+1, CHUNK); distinctness is content-keyed
    # exactly like array_distinct; the hash is int(md5(chunk).hexdigest()
    # [:15], 16) ≡ conv(substring(md5(c),1,15),16,10); votes and the bit
    # assembly are exact integer ops — fingerprints are bit-identical
    # (oracle-checked at 3 SFs).  Only (doc_id, payload) crosses the
    # Arrow boundary (explicit select).
    def run(batches):  # Iterator[pa.RecordBatch] -> Iterator[pa.RecordBatch]
        import hashlib

        import numpy as np
        import pyarrow as pa

        bit_idx = np.arange(SIMHASH_BITS, dtype=np.uint64)
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
                chunks = {
                    bytes(mv[j : min(j + CHUNK_BYTES, e)])
                    for j in range(s, e, CHUNK_BYTES)
                }
                hs = np.fromiter(
                    (
                        int(hashlib.md5(c).hexdigest()[:15], 16)
                        for c in chunks
                    ),
                    dtype=np.uint64,
                    count=len(chunks),
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

    # persist(DISK_ONLY): both band-join sides read the fingerprint relation
    # under differing aliases (ReuseExchange defeat — the dedup_simhash
    # rationale verbatim).
    fp = persist_tracked(d.mapInArrow(run, schema="doc_id long, fp long"))
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
# Decode-output statistics: the mapInPandas path, oracle-replayed in SQL
# --------------------------------------------------------------------------
_DECODE_STATS_ORACLE = """
WITH p AS (
  SELECT doc_id, hex(CAST(text AS BLOB)) AS hs,
         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n
  FROM documents WHERE octet_length(CAST(text AS BLOB)) > 0),
h AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, CAST(least(n, 64) AS INT)),
                            i -> CAST(CAST('0x' || substring(hs, 2 * i - 1, 2)
                                            AS INT) AS BIGINT))),
           (acc, b) -> (acc * 131 + b) % 1000000007) AS hv
  FROM p),
wh AS (
  SELECT ((hv % 640) + 1) // 64 AS w_bucket,
         ((hv % 480) + 1) // 48 AS h_bucket
  FROM h)
SELECT CAST(w_bucket AS INT) AS w_bucket, CAST(h_bucket AS INT) AS h_bucket,
       CAST(count(*) AS BIGINT) AS n_payloads
FROM wh GROUP BY 1, 2
"""


@query("multimodal_decode_stats", oracle=_DECODE_STATS_ORACLE)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolution-bucket histogram of DECODED media dimensions — and the
    one query whose Spark side actually RUNS the Arrow-batched
    mapInPandas decode path (`extract_features`, deterministic fake
    decoder) while the oracle replays the same byte fold in pure SQL
    (`list_reduce` over the payload's first 64 bytes).  Every other
    mapInPandas operator is pytest-only; this puts the Python-boundary
    plumbing itself under the cross-engine hash gate: schema, batching,
    byte handling, and the decode contract all have to agree for the
    histogram to match.

    Scale: decode is embarrassingly parallel over Arrow record batches
    (the module's posture); the rollup folds onto a ≤ 11×11 bucket
    domain.  With real media libs the fake fold is replaced by the
    actual decoder and the oracle by golden outputs — the plan is
    unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_payload(docs).filter(F.col("byte_len") > 0)
    feats = extract_features(media, fake_decode=True)
    return (
        feats.select(
            F.expr("(width div 64)").cast("int").alias("w_bucket"),
            F.expr("(height div 48)").cast("int").alias("h_bucket"),
        )
        .groupBy("w_bucket", "h_bucket")
        .agg(F.count(F.lit(1)).alias("n_payloads"))
    )
