"""Multimodal (binary) column support (SURVEY.md §2.10 / BASELINE.json
mandate).

Model: image/audio/video payloads are opaque ``binary`` columns with
typed metadata beside them. Everything Spark-side is real — schema,
partitioning, Arrow batch flow, UDF signatures; only the codec call
itself is stubbed (no image/audio libraries in this container) behind
``decode_stub``, which produces a deterministic fake feature vector so
the plumbing is testable end-to-end.

At scale: payload bytes ride the scan (parquet binary / binaryFile
source); feature extraction is mapInPandas (no shuffle), so the cost is
one decode pass co-located with the data.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exprs import micro
from ..io import load
from ..registry import query

FEATURE_DIM = 8


def attach_fake_payload(df: DataFrame) -> DataFrame:
    """Derive a deterministic binary payload column from text (stand-in
    for real image/audio bytes; the engine treats it as opaque)."""
    payload = F.col("text").cast("binary")
    return df.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, "image/png")
        .otherwise("audio/wav")
        .alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("bigint").alias("payload_len"),
    )


def decode_stub(payload: bytes) -> np.ndarray:
    """STUB for the real codec (PIL/librosa/ffmpeg are not in this
    container). Deterministic fake: FEATURE_DIM floats derived from the
    payload digest. Replace with a real decode at deployment; the
    signature (bytes → fixed-dim float vector) is the contract."""
    digest = hashlib.sha256(payload).digest()
    return np.frombuffer(digest[: FEATURE_DIM * 4], dtype=np.uint32).astype(
        np.float64
    ) / np.float64(2**32)


@query(
    "multimodal_meta",
    oracle="""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS media_type,
               octet_length(encode(text)) AS payload_len
        FROM documents
    """,
    phase="P4",
    tags=("multimodal",),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata path: payload byte length + media type.

    Verifies the binary plumbing end-to-end (cast → BinaryType →
    byte-length) against DuckDB's encode/octet_length.
    """
    d = load(spark, sf_dir, "documents")
    return attach_fake_payload(d).select("doc_id", "media_type", "payload_len")


# DuckDB twin of decode_stub: sha256 hex → 8 little-endian uint32 words
# → /2^32 → 6-decimal printf. Byte pairs are swapped per word because
# np.frombuffer reads little-endian while hex renders bytes in order.
_FEATURE_WORD_SQL = (
    "CAST('0x' || substr(h, {o7}, 2) || substr(h, {o5}, 2)"
    " || substr(h, {o3}, 2) || substr(h, {o1}, 2) AS BIGINT)"
)
_FEATURE_CSV_SQL = " || ',' || ".join(
    "printf('%.6f', "
    + _FEATURE_WORD_SQL.format(
        o1=w * 8 + 1, o3=w * 8 + 3, o5=w * 8 + 5, o7=w * 8 + 7
    )
    + " / 4294967296.0)"
    for w in range(FEATURE_DIM)
)


@query(
    "multimodal_features",
    oracle=f"""
        WITH hashed AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'image/png'
                        ELSE 'audio/wav' END AS media_type,
                   sha256(text) AS h
            FROM documents
        )
        SELECT doc_id, media_type,
               CAST({FEATURE_DIM} AS BIGINT) AS feature_dim,
               {_FEATURE_CSV_SQL} AS feature_csv
        FROM hashed
    """,
    phase="P4",
    tags=("multimodal", "mapinpandas"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas.

    Real Arrow batch flow, stubbed codec: each batch of payload bytes
    becomes FEATURE_DIM-float vectors. This is the exact shape a real
    image-embedding pass takes at 100 TB (decode co-located with the
    scan, no shuffle, constant memory per batch).

    The vector ships as a fixed-format CSV string plus a dim column —
    the driver canonicalizer cannot hash array cells (CORRECTNESS_r05),
    and a 6-decimal rendering is deterministic across runs because the
    stub itself is deterministic. FULLY oracled as of late r6: the stub
    codec (sha256 → little-endian uint32 words → /2^32) is replicated
    in DuckDB SQL word-by-word (hex byte-pair swap + printf), so even
    the Python decode path gets a value hash — when a real codec
    replaces the stub, drop the oracle and keep the pytest
    shape/determinism checks.
    """
    d = load(spark, sf_dir, "documents")
    media = attach_fake_payload(d)

    def extract(batches):
        for pdf in batches:
            feats = pdf["payload"].map(lambda b: decode_stub(bytes(b)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "feature_dim": feats.map(len).astype("int64"),
                    "feature_csv": feats.map(
                        lambda v: ",".join(f"{x:.6f}" for x in v)
                    ),
                }
            )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("feature_dim", T.LongType()),
            T.StructField("feature_csv", T.StringType()),
        ]
    )
    return media.mapInPandas(extract, schema=out_schema)


@query(
    "multimodal_dedup",
    oracle="""
        SELECT md5(text) AS payload_hash,
               CASE WHEN min(doc_id) % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS media_type,
               count(*)    AS n_copies,
               min(doc_id) AS canonical_doc_id
        FROM documents
        GROUP BY md5(text)
    """,
    phase="P4",
    tags=("multimodal", "dedup"),
)
def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over BINARY payloads — media files dedupe by content
    digest exactly like text (identical bytes → identical md5), and the
    digest groupBy carries one row per distinct payload across the
    shuffle. Verifies Spark's binary-input md5 against DuckDB's
    string md5 (same UTF-8 bytes) byte-for-byte; at 100 TB this runs before any
    decode so duplicate media is never decoded twice."""
    d = load(spark, sf_dir, "documents")
    media = attach_fake_payload(d)
    return media.groupBy(F.md5("payload").alias("payload_hash")).agg(
        F.when(F.min("doc_id") % 2 == 0, "image/png")
        .otherwise("audio/wav")
        .alias("media_type"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


RESIZE_MAX_BYTES = 256  # stub "resize" target: truncate payload to 256 B
FRAME_BYTES = 32  # stub frame size for video-like payloads
FRAME_STRIDE = 4  # sample every 4th frame → byte stride 128


@query(
    "multimodal_resize",
    oracle=f"""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END
                   AS media_type,
               octet_length(encode(text))              AS orig_len,
               least(octet_length(encode(text)), {RESIZE_MAX_BYTES})
                   AS resized_len,
               md5(substr(text, 1, {RESIZE_MAX_BYTES})) AS resized_md5
        FROM documents
    """,
    phase="P4",
    tags=("multimodal", "mapinpandas", "resize"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media RESIZE surface via mapInPandas — binary payloads in,
    transformed binary payloads out, one Arrow batch round trip, no
    shuffle: the exact plumbing a real thumbnailer/transcoder uses at
    100 TB (decode→resize→re-encode co-located with the scan). The
    codec itself is stubbed (no image libs in this container) as a
    DETERMINISTIC byte truncation to RESIZE_MAX_BYTES, which makes
    the whole binary round trip fully oracle-checkable: the emitted
    digest of the resized payload must equal DuckDB's md5 of the same
    byte slice (fixture text is ASCII, so VARCHAR substr = byte slice —
    the same identity multimodal_meta relies on). Swap ``resize`` for a
    real PIL/ffmpeg call at deployment; signature (bytes → bytes) is
    the contract."""
    d = load(spark, sf_dir, "documents")
    media = attach_fake_payload(d)

    def resize(payload: bytes) -> bytes:
        # STUB for the real codec — deterministic truncation
        return payload[:RESIZE_MAX_BYTES]

    def transform(batches):
        for pdf in batches:
            resized = pdf["payload"].map(lambda b: resize(bytes(b)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "orig_len": pdf["payload"].map(len).astype("int64"),
                    "resized_len": resized.map(len).astype("int64"),
                    "resized_payload": resized,
                }
            )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("orig_len", T.LongType()),
            T.StructField("resized_len", T.LongType()),
            T.StructField("resized_payload", T.BinaryType()),
        ]
    )
    out = media.mapInPandas(transform, schema=out_schema)
    # digest the round-tripped binary JVM-side: proves the bytes
    # survived the Arrow transfer intact, and keeps the driver-visible
    # projection scalar (harness contract)
    return out.select(
        "doc_id",
        "media_type",
        "orig_len",
        "resized_len",
        F.md5("resized_payload").alias("resized_md5"),
    )


@query(
    "multimodal_frame_sample",
    oracle=f"""
        WITH p AS (
            SELECT doc_id, text, octet_length(encode(text)) AS len
            FROM documents
        )
        SELECT doc_id,
               CAST(off / {FRAME_BYTES * FRAME_STRIDE} AS BIGINT) AS frame_idx,
               CAST(off AS BIGINT)                                AS frame_off,
               least({FRAME_BYTES}, len - off)                    AS frame_len,
               md5(substr(text, off + 1, {FRAME_BYTES}))          AS frame_md5
        FROM p, unnest(range(0, len, {FRAME_BYTES * FRAME_STRIDE})) AS u(off)
    """,
    phase="P4",
    tags=("multimodal", "frames", "explode"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAME SAMPLING over video-like binary payloads — every
    FRAME_STRIDEth fixed-size frame (FRAME_BYTES bytes) of each payload,
    UDTF-shaped (one row out per sampled frame). Pure expressions:
    offsets come from ``sequence`` + ``posexplode`` and the frame bytes
    from binary ``substring``, so the fan-out is generated inside the
    scan task — no Python, no shuffle, the same row-explosion shape a
    real keyframe extractor feeds into a decode UDF at 100 TB. The
    stub "frame" is the raw byte slice (deterministic), so frame
    digests are fully oracle-checkable against DuckDB's byte-identical
    slices."""
    d = load(spark, sf_dir, "documents")
    media = attach_fake_payload(d)
    stride = FRAME_BYTES * FRAME_STRIDE
    with_offs = media.filter(F.col("payload_len") > 0).select(
        "doc_id",
        "payload",
        "payload_len",
        F.posexplode(
            F.sequence(
                F.lit(0).cast("bigint"),
                F.col("payload_len") - 1,
                F.lit(stride).cast("bigint"),
            )
        ).alias("frame_idx", "off"),
    )
    frame = F.expr(f"substring(payload, off + 1, {FRAME_BYTES})")
    return with_offs.select(
        "doc_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("off").alias("frame_off"),
        F.least(
            F.lit(FRAME_BYTES).cast("bigint"),
            F.col("payload_len") - F.col("off"),
        ).alias("frame_len"),
        F.md5(frame).alias("frame_md5"),
    )


SHARD_CAPACITY_BYTES = 65536


@query(
    "multimodal_shard_plan",
    oracle=f"""
        WITH blobs AS (
            SELECT doc_id, source,
                   CAST(octet_length(encode(text)) AS BIGINT) AS plen
            FROM documents
        ),
        placed AS (
            SELECT doc_id, source, plen,
                   CAST(coalesce(sum(plen) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0)
                        // {SHARD_CAPACITY_BYTES} AS BIGINT) AS shard_idx
            FROM blobs
        )
        SELECT source, shard_idx,
               CAST(count(*) AS BIGINT) AS n_blobs,
               CAST(sum(plen) AS BIGINT) AS shard_bytes,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(max(doc_id) AS BIGINT) AS last_doc,
               CAST(floor(CAST(sum(plen) AS DOUBLE)
                    / {SHARD_CAPACITY_BYTES} * 1000000.0 + 0.5)
                    AS BIGINT) AS fill_micro
        FROM placed
        GROUP BY source, shard_idx
        ORDER BY source, shard_idx
    """,
    phase="P4",
    tags=("multimodal", "layout", "sharding"),
)
def multimodal_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bytes-balanced shard plan for media blobs — the write-side
    layout step a multimodal corpus needs before training ingestion
    (webdataset/tar shards want ~uniform byte sizes, not uniform blob
    COUNTS: video blobs dwarf thumbnails). Blobs pack next-fit in
    doc_id order within their source: shard = floor(preceding-bytes /
    64 KiB), so assignment is deterministic, append-stable (new docs
    never reshuffle old shards), and reproducible across engines.
    Per shard: blob count, byte total, id range (the manifest a
    reader seeks by), and fill ratio — chronic underfill says the
    capacity is mis-sized for the blob distribution.

    Exactness: byte lengths and the running sum are exact BIGINTs;
    shard assignment is integer floor-division; the fill ratio is
    one spelled division quantized to micro.

    Plan: ONE running-sum window PARTITIONED BY SOURCE (never a
    global single-partition window — the k-partition trap; sources
    are the natural shard namespaces and each packs independently),
    then a combinable (source, shard) roll-up. At 100 TB both stages
    shuffle on the source key only."""
    d = load(spark, sf_dir, "documents")
    blobs = d.select(
        "doc_id",
        "source",
        F.length(F.col("text").cast("binary")).cast("bigint").alias("plen"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = blobs.select(
        "doc_id",
        "source",
        "plen",
        (
            F.coalesce(F.sum("plen").over(w), F.lit(0))
            / F.lit(SHARD_CAPACITY_BYTES)
        )
        .cast("bigint")
        .alias("shard_idx"),
    )
    return (
        placed.groupBy("source", "shard_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blobs"),
            F.sum("plen").cast("bigint").alias("shard_bytes"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .select(
            "source",
            "shard_idx",
            "n_blobs",
            "shard_bytes",
            "first_doc",
            "last_doc",
            micro(
                F.col("shard_bytes").cast("double")
                / F.lit(SHARD_CAPACITY_BYTES)
            ).alias("fill_micro"),
        )
        .orderBy("source", "shard_idx")
    )
