"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video travel as ``binary`` columns with a typed metadata
struct; decode / resize / frame-sample run as Arrow-batched kernels over
``mapInArrow``/``mapInPandas``. The decode step itself is STUBBED offline
(no image/audio libraries in this container — clearly marked below); the
Spark-side plumbing — schema, partitioning, kernel signature, batch shape —
is real and tested.

Deterministic fake codec ("T2PIMG"): a 16-byte header
``b"T2PIMG" + uint32_be(width) + uint32_be(height) + uint16_be(channels)``
followed by pseudo-pixel bytes. ``media_meta`` parses the header
vectorized; ``decode_media`` raises NotImplementedError unless the payload
is the fake codec.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from t2p_spark.kernel import row_kernel

MAGIC = b"T2PIMG"

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), nullable=False),
    T.StructField("doc_id", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("content", T.BinaryType()),
])

META_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("valid", T.BooleanType()),
])


def encode_fake_image(width: int, height: int, channels: int = 3,
                      seed: int = 0) -> bytes:
    header = MAGIC + struct.pack(">IIH", width, height, channels)
    n = min(width * height * channels, 4096)  # truncated pseudo-pixels
    # numpy-vectorized: identical bytes to the per-byte Python loop
    # ((seed*1103515245 + i*12345) % 256), at array speed
    idx = np.arange(n, dtype=np.int64)
    body = ((seed * 1103515245 + idx * 12345) % 256).astype(np.uint8).tobytes()
    return header + body


def _meta_row(media_id, blob) -> Iterator[tuple]:
    if blob is not None and blob[:6] == MAGIC and len(blob) >= 16:
        width, height, channels = struct.unpack(">IIH", blob[6:16])
        yield media_id, "t2pimg", width, height, channels, len(blob), True
    else:
        n_bytes = len(blob) if blob is not None else 0
        yield media_id, "unknown", None, None, None, n_bytes, False


def media_meta(media: DataFrame) -> DataFrame:
    """Vectorized header parse: (media_id, format, width, height, channels,
    n_bytes, valid). One Arrow cross per batch; binary never leaves the
    executor."""
    return media.select("media_id", "content").mapInArrow(
        row_kernel(META_SCHEMA, _meta_row), schema=META_SCHEMA
    )


def decode_media(blob: bytes):
    """Decode a media payload to a pixel array.

    OFFLINE STUB: real codecs (PIL/libjpeg/ffmpeg) are not available in
    this container. The fake codec decodes deterministically; everything
    else raises. On a real cluster this body swaps for PIL/torchvision
    inside the same mapInArrow kernel — the plumbing does not change.
    """
    if blob[:6] == MAGIC:
        width, height, channels = struct.unpack(">IIH", blob[6:16])
        return {"width": width, "height": height, "channels": channels,
                "pixels": blob[16:]}
    raise NotImplementedError(
        "real image decoding unavailable offline (no PIL/ffmpeg); "
        "only the deterministic T2PIMG fake codec is supported"
    )


def media_table_from_docs(docs: DataFrame) -> DataFrame:
    """Derive a media table from the interleaved docs table: one row per
    media span, with deterministic fake content sized from the 'WxH' dims."""
    exploded = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).filter(F.col("s.kind") == "media")
    dims = F.split(F.col("s.text"), "x")
    with_dims = exploded.select(
        F.concat_ws("#", "doc_id", F.col("s.media_ref")).alias("media_id"),
        "doc_id",
        F.col("s.media_ref").alias("media_ref"),
        F.element_at(dims, 1).cast("int").alias("w"),
        F.element_at(dims, 2).cast("int").alias("h"),
    )

    def _encode(media_id, doc_id, media_ref, w, h) -> Iterator[tuple]:
        content = encode_fake_image(w or 1, h or 1, seed=len(media_id))
        yield media_id, doc_id, media_ref, content

    return with_dims.mapInArrow(row_kernel(MEDIA_SCHEMA, _encode),
                                schema=MEDIA_SCHEMA)


# --- transform kernels -------------------------------------------------------

RESIZED_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("content", T.BinaryType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def resize_media(media: DataFrame, max_side: int = 512) -> DataFrame:
    """Proportional downscale to max_side. Real resampling is stubbed
    offline (PIL absent): the fake codec's header is rewritten and the
    pseudo-pixel payload deterministically subsampled; unknown formats pass
    through unchanged. The kernel shape (binary in -> binary out, Arrow
    batches) is exactly what a PIL/libvips body would use."""

    def _resize(media_id, blob) -> Iterator[tuple]:
        if blob is None or blob[:6] != MAGIC:
            yield media_id, blob, None, None
            return
        w, h, c = struct.unpack(">IIH", blob[6:16])
        scale = max(w, h) / max_side
        if scale <= 1:
            nw, nh = w, h
            body = blob[16:]
        else:
            nw, nh = max(1, int(w / scale)), max(1, int(h / scale))
            step = max(1, int(scale))
            body = blob[16::step]
        yield media_id, MAGIC + struct.pack(">IIH", nw, nh, c) + body, nw, nh

    return media.select("media_id", "content").mapInArrow(
        row_kernel(RESIZED_SCHEMA, _resize), schema=RESIZED_SCHEMA
    )


FEATURE_DIM = 8

FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def _feature_row(media_id, blob) -> Iterator[tuple]:
    body = (blob or b"")[16:2048 + 16]
    # numpy bincount == the per-byte `hist[b % 8] += 1` loop
    arr = np.frombuffer(body, dtype=np.uint8)
    hist = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM)
    total = max(1, int(hist.sum()))
    yield media_id, [round(int(v) / total, 6) for v in hist]


def media_features(media: DataFrame) -> DataFrame:
    """Deterministic byte-histogram feature per media row (stand-in for a
    real vision encoder — offline stub; the Arrow plumbing, batch shape and
    array<float> output column are production-real and feed t2p_spark.ann)."""
    return media.select("media_id", "content").mapInArrow(
        row_kernel(FEATURES_SCHEMA, _feature_row), schema=FEATURES_SCHEMA
    )


PHASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("phash", T.LongType()),
])


# dHash sample positions: bit b compares body[233*b] vs body[233*b + 97].
# Odd stride/offset on purpose — the fake codec's byte stream has period
# 256 in i (12345 ≡ 57 mod 256, full cycle), so any 256-aligned sampling
# (and any histogram of a 256-multiple window) is seed-invariant and
# degenerate; 233/97 break the alignment and the 8 fixture media yield 6
# distinct hashes with two 2-member collision clusters.
PHASH_STRIDE, PHASH_OFFSET = 233, 97


def _phash_row(media_id, blob) -> Iterator[tuple]:
    body = (blob or b"")[16:2048 + 16]
    ph = 0
    for b in range(FEATURE_DIM):
        p = PHASH_STRIDE * b
        q = p + PHASH_OFFSET
        if q < len(body) and body[p] > body[q]:
            ph |= 1 << b
    yield media_id, ph


def media_phash(media: DataFrame) -> DataFrame:
    """Perceptual-hash-style media fingerprint — the dHash recipe (bit =
    sampled cell brighter than its neighbor) over the decoded byte stream;
    with the offline-stub codec the 'pixels' are the fake payload bytes,
    but the kernel shape (binary column in, integer fingerprint out,
    Arrow-batched) and the downstream cluster-groupBy are production-real.
    Pure integer comparisons, so the DuckDB oracle replays it bit-for-bit
    from (media_id, W, H). Near-dup media dedup then clusters on the
    fingerprint — no pairwise compare anywhere."""
    return media.select("media_id", "content").mapInArrow(
        row_kernel(PHASH_SCHEMA, _phash_row), schema=PHASH_SCHEMA
    )


def frame_sample(media: DataFrame, every_n: int = 4,
                 frame_bytes: int = 256) -> DataFrame:
    """Sample every Nth fixed-size frame from a (fake) video payload:
    one output row per sampled frame with its index. Real demuxing is
    stubbed offline (ffmpeg absent); the explode-shaped kernel (1 row in ->
    k rows out) is the production pattern."""
    out_schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ])

    def _frames(media_id, blob) -> Iterator[tuple]:
        body = (blob or b"")[16:]
        for i in range(0, len(body) // frame_bytes, every_n):
            yield media_id, i, body[i * frame_bytes:(i + 1) * frame_bytes]

    return media.select("media_id", "content").mapInArrow(
        row_kernel(out_schema, _frames), schema=out_schema
    )
