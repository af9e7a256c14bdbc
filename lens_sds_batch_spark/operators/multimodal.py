"""Multimodal column plumbing (north-star B11).

Media (image/audio/video) is carried as opaque ``binary`` columns with
typed metadata structs.  The decode/feature-extraction step is a
clearly-marked STUB (no media libraries in this container) — but the
Spark-side plumbing is real and tested: schema, Arrow batch shape,
``mapInPandas`` signature, partition behavior.

``multimodal_meta`` is oracle-checkable (byte-level metadata via
built-ins); ``media_decode_stub`` runs the ``mapInPandas`` stage
(``extract_media_features``) against a DuckDB twin of the stub codec.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.parquet import load_table

CHUNK_BYTES = 64

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("media_type", StringType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("format", StringType()),
    ]
)

N_FEATURES = 8  # fake-codec feature width (stands in for a pooled embedding)
FRAME_STRIDE = 7  # every-k-th frame sampling for video

FEATURES_SCHEMA = StructType(
    list(DECODED_SCHEMA.fields)
    + [
        StructField("features", ArrayType(DoubleType())),
        StructField("sampled_frames", ArrayType(IntegerType())),
    ]
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-cast as an opaque media blob column + metadata
    (the binary-column carrier pattern for 100 TB media lakes: blobs
    stay columnar, metadata is queryable without touching bytes)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level metadata over the blob column — all built-ins."""
    media = media_table(spark, sf_dir)
    n_bytes = F.length("payload")
    return media.select(
        "doc_id",
        "media_type",
        n_bytes.alias("n_bytes"),
        F.ceil(n_bytes / CHUNK_BYTES).cast("bigint").alias("n_chunks"),
        F.lower(F.hex(F.substring(F.col("payload"), 1, 8))).alias("header_hex"),
    )


MULTIMODAL_META_SQL = f"""
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       octet_length(encode(text)) AS n_bytes,
       CAST(ceil(octet_length(encode(text)) / {CHUNK_BYTES}.0) AS BIGINT) AS n_chunks,
       lower(substr(hex(encode(text)), 1, 16)) AS header_hex
FROM documents ORDER BY doc_id
"""


def _fake_decode(payload: bytes, media_type: str) -> tuple[int, int, int, str]:
    """Deterministic STUB decode.

    Real deployments plug pillow/ffmpeg/soundfile in here; this
    container has none, so we derive fake-but-stable dimensions from
    the payload bytes.  The Spark plumbing around it (Arrow batches,
    schema, partitioning) is the real deliverable.

    A NULL payload returns the DEGRADED row ``(None, None, None,
    "missing-payload")`` instead of raising (r8 null sweep): at 100 TB
    a decode stage meets missing blobs every hour — one of them must
    mark its row, not kill the job.  The marker format string keeps
    failed rows routable downstream (``where(format ==
    'missing-payload')`` is the dead-letter filter), the same
    split-don't-crash policy as the CSV/JSON corrupt-record path.
    """
    if payload is None:
        return (None, None, None, "missing-payload")
    n = len(payload)
    kind = media_type.split("/")[0]
    if kind == "image":
        return (n % 640 + 1, n % 480 + 1, 1, "png")
    if kind == "audio":
        return (0, 0, n % 1000 + 1, "wav")
    return (n % 1920 + 1, n % 1080 + 1, n % 240 + 1, "mp4")


def extract_media_features(media: DataFrame) -> DataFrame:
    """Fake-codec feature extraction over Arrow batches — the realistic
    batch SHAPE of a decode→pool→sample stage, with the codec itself a
    deterministic stand-in (no media libs in this container):

    - ``features``: N_FEATURES-dim pooled vector = per-block mean byte
      value of the payload split into N_FEATURES equal blocks (what a
      pooled image/audio embedding looks like to Spark: fixed-width
      ``array<double>`` per row, vectorized with numpy per Arrow batch).
    - ``sampled_frames``: every FRAME_STRIDE-th frame index for video
      (variable-length ``array<int>`` per row — the ragged shape frame
      sampling produces); empty for image/audio.

    ``mapInPandas`` end-to-end: per-partition, zero shuffle, memory
    bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    (r14-opt: a gated fan_out was tried here and REVERTED — the
    whole-batch numpy path below is so much faster than the old row
    loop that the round-robin exchange of payload bytes plus the
    32-worker Arrow fan cost MORE than the 1-core decode it saved:
    warm A/B base 0.57 s / numpy-only 0.40 s / numpy+fan_out 0.55 s.)"""
    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Whole-batch vectorization (guide §4.2: hand batches to
            # native code, don't loop rows in Python).  The per-block
            # means are EXACT re-implementations of the row form
            # (np.array_split boundaries; integer uint8 block sums are
            # < 2^53, so sum/len in float64 is bit-identical to
            # np.mean regardless of summation order — same invariant
            # the DuckDB twin relies on).
            payloads = list(pdf["payload"])
            mtypes = pdf["media_type"]
            dims = [_fake_decode(p, m) for p, m in zip(payloads, mtypes)]
            n = np.fromiter(
                (0 if p is None else len(p) for p in payloads), dtype=np.int64,
                count=len(payloads),
            )
            # concatenated buffer + per-row block boundaries (k-th block
            # of row i starts at off[i] + k*(n//N) + min(k, n%N))
            # trailing 0 sentinel: block starts can equal the true buffer
            # length (zero-length blocks of short rows) — the sentinel
            # keeps every reduceat index in range without clamping, and
            # adds 0 to the final real segment's sum
            buf = np.concatenate([
                np.frombuffer(
                    b"".join(p for p in payloads if p is not None), dtype=np.uint8
                ).astype(np.int64),
                np.zeros(1, dtype=np.int64),
            ])
            off = np.zeros(len(n), dtype=np.int64)
            if len(n) > 1:
                np.cumsum(n[:-1], out=off[1:])
            q, r = n // N_FEATURES, n % N_FEATURES
            k = np.arange(N_FEATURES, dtype=np.int64)
            starts = off[:, None] + k[None, :] * q[:, None] + np.minimum(k[None, :], r[:, None])
            lens = q[:, None] + (k[None, :] < r[:, None])
            flat = starts.ravel()
            sums = np.add.reduceat(buf, flat).astype(np.float64)
            # reduceat quirk: equal consecutive indices yield buf[idx] —
            # zero-length blocks and None rows are masked to 0.0 below,
            # matching the row form exactly
            lens_f = lens.ravel()
            feats_flat = np.where(lens_f > 0, sums / np.maximum(lens_f, 1), 0.0)
            feats_mat = feats_flat.reshape(len(n), N_FEATURES)
            is_null = np.fromiter(
                (p is None for p in payloads), dtype=bool, count=len(payloads)
            )
            feats = [
                [] if is_null[i] else feats_mat[i].tolist() for i in range(len(n))
            ]
            frames = [
                list(range(0, d[2], FRAME_STRIDE))
                if (not is_null[i] and m.startswith("video"))
                else []
                for i, (d, m) in enumerate(zip(dims, mtypes))
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "n_frames": [d[2] for d in dims],
                    "format": [d[3] for d in dims],
                    "features": feats,
                    "sampled_frames": frames,
                }
            )

    return media.mapInPandas(extract, FEATURES_SCHEMA)


def media_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-PAIRED since r5 (was rows-only): full decode→pool→
    frame-sample pipeline with the stubbed codec, hash-compared against
    a DuckDB twin that recomputes the SAME deterministic arithmetic in
    SQL.  The fake codec's outputs are pure functions of the payload
    bytes (dims from byte length, pooled features = per-block mean byte
    value over np.array_split boundaries, frame indices = a stride
    range), so the oracle can mirror them exactly — block sums of
    uint8 are integers < 2^53, hence bit-identical in float64
    regardless of summation order.  What stays Spark-only is the
    EXECUTION shape (Arrow mapInPandas, zero shuffle); what the oracle
    pins is every VALUE the stub produces.

    ``extract_media_features`` (the library API) stays array-typed; the
    registered query scalarizes: features become f0..f{N_FEATURES-1}
    columns (rounded to 6dp, matching the driver float canonicalizer),
    ragged ``sampled_frames`` a CSV string."""
    feats = extract_media_features(media_table(spark, sf_dir))
    return feats.select(
        "doc_id",
        "media_type",
        "width",
        "height",
        "n_frames",
        "format",
        *[
            F.round(F.element_at("features", i + 1), 6).alias(f"f{i}")
            for i in range(N_FEATURES)
        ],
        F.concat_ws(",", F.col("sampled_frames").cast("array<string>")).alias(
            "sampled_frames_csv"
        ),
    )


def _media_decode_sql() -> str:
    """DuckDB twin of the fake codec: byte means via hex-space byte
    extraction (this DuckDB lacks substr(BLOB)); np.array_split block k
    of n items = start k*(n//N) + min(k, n%N), length n//N + (k < n%N)."""
    f_cols = []
    for k in range(N_FEATURES):
        start = f"({k} * (n // {N_FEATURES}) + least({k}, n % {N_FEATURES}))"
        blen = f"((n // {N_FEATURES}) + CASE WHEN {k} < n % {N_FEATURES} THEN 1 ELSE 0 END)"
        mean = (
            f"list_avg(list_transform(range(1, {blen} + 1), "
            f"i -> CAST('0x' || substr(hx, ({start} + i - 1) * 2 + 1, 2) AS INT)))"
        )
        f_cols.append(
            f"CASE WHEN {blen} > 0 THEN round({mean}, 6) ELSE 0.0 END AS f{k}"
        )
    return f"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         lower(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
dec AS (
  SELECT doc_id, media_type, hx, n,
    CAST(CASE WHEN media_type = 'image/png' THEN n % 640 + 1
              WHEN media_type = 'audio/wav' THEN 0
              ELSE n % 1920 + 1 END AS INT) AS width,
    CAST(CASE WHEN media_type = 'image/png' THEN n % 480 + 1
              WHEN media_type = 'audio/wav' THEN 0
              ELSE n % 1080 + 1 END AS INT) AS height,
    CAST(CASE WHEN media_type = 'image/png' THEN 1
              WHEN media_type = 'audio/wav' THEN n % 1000 + 1
              ELSE n % 240 + 1 END AS INT) AS n_frames,
    CASE WHEN media_type = 'image/png' THEN 'png'
         WHEN media_type = 'audio/wav' THEN 'wav'
         ELSE 'mp4' END AS format
  FROM m
)
SELECT doc_id, media_type, width, height, n_frames, format,
       {", ".join(f_cols)},
       CASE WHEN media_type = 'video/mp4'
            THEN array_to_string(list_transform(range(0, n_frames, {FRAME_STRIDE}),
                                                x -> CAST(x AS VARCHAR)), ',')
            ELSE '' END AS sampled_frames_csv
FROM dec ORDER BY doc_id
"""


QUERIES: dict[str, tuple] = {
    "multimodal_meta": (multimodal_meta, MULTIMODAL_META_SQL),
    "media_decode_stub": (media_decode_stub, _media_decode_sql()),
}


def media_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking for blob processing: fixed CHUNK_BYTES windows with a
    per-chunk md5 (content-addressable chunk store pattern — dedupe
    and transfer at chunk granularity at 100 TB).  Chunk slicing is
    done in hex space (2 hex chars per byte) so the DuckDB twin is
    exact without BLOB substring support."""
    media = media_table(spark, sf_dir)
    hexed = media.select(
        "doc_id", F.lower(F.hex(F.col("payload"))).alias("hx"), F.length("payload").alias("n_bytes")
    )
    hex_chunk = 2 * CHUNK_BYTES
    chunks = hexed.select(
        "doc_id",
        "n_bytes",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, CAST(ceil(length(hx) / {hex_chunk}.0) AS INT)), "
                f"i -> substring(hx, (i - 1) * {hex_chunk} + 1, {hex_chunk}))"
            )
        ).alias("chunk_idx", "chunk_hex"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        (F.length("chunk_hex") / 2).cast("bigint").alias("chunk_bytes"),
        F.md5(F.col("chunk_hex").cast("binary")).alias("chunk_md5"),
    )


MEDIA_CHUNKS_SQL = f"""
WITH hexed AS (
  SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents
),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(1, CAST(ceil(length(hx) / {2 * CHUNK_BYTES}.0) AS INT) + 1),
                i -> substr(hx, (i - 1) * {2 * CHUNK_BYTES} + 1, {2 * CHUNK_BYTES}))) AS chunk_hex,
         generate_subscripts(list_transform(range(1, CAST(ceil(length(hx) / {2 * CHUNK_BYTES}.0) AS INT) + 1),
                i -> i), 1) AS chunk_idx_1
  FROM hexed
)
SELECT doc_id, chunk_idx_1 - 1 AS chunk_idx,
       CAST(length(chunk_hex) / 2 AS BIGINT) AS chunk_bytes,
       md5(chunk_hex) AS chunk_md5
FROM chunks
ORDER BY doc_id, chunk_idx
"""

QUERIES.update({"media_chunks": (media_chunks, MEDIA_CHUNKS_SQL)})


# Predicate-power probes (see registry.all_probes / dedup.PROBES header)
PROBES: dict[str, tuple] = {
    "all three modalities present, multi-chunk payloads exist": (
        "multimodal_meta", "oracle",
        "SELECT (SELECT count(DISTINCT media_type) - 2 FROM t),"
        " (SELECT count(*) FROM t WHERE n_chunks > 1)"),
    "decode splits by modality (dims for images, frames for time media)": (
        "media_decode_stub", "oracle",
        "SELECT sum(CASE WHEN width > 0 AND n_frames = 1 THEN 1 ELSE 0 END),"
        " sum(CASE WHEN n_frames > 1 THEN 1 ELSE 0 END) FROM t"),
    "video frame sampling fires (sampled, not-applicable)": (
        "media_decode_stub", "oracle",
        "SELECT sum(CASE WHEN sampled_frames_csv <> '' THEN 1 ELSE 0 END),"
        " sum(CASE WHEN sampled_frames_csv = '' THEN 1 ELSE 0 END) FROM t"),
    "chunking emits continuation chunks and single-chunk docs": (
        "media_chunks", "oracle",
        "SELECT (SELECT count(*) FROM t WHERE chunk_idx > 0),"
        " (SELECT count(*) FROM (SELECT doc_id FROM t"
        "   GROUP BY doc_id HAVING count(*) = 1))"),
}
