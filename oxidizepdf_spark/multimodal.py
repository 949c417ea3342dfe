"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video ride the corpus as ``binary`` columns with a metadata
struct; feature-extract / frame-sample run as Arrow-batched stages over
``pipeline.map_rows``. Image payloads this engine can decode natively
— JPEG via kernel/jpeg_codec.py (baseline, extended,
progressive) and the filter-0 PNGs its own extractors emit — go through a
REAL decode/resize path (no external imaging stack needed); anything else
(audio, video, exotic formats) falls back to deterministic fakes so the
pipeline stays testable end-to-end. Everything Spark cares about —
schema, partitioning, UDF signatures, batch shapes, binary transport — is
real and tested either way.

Reference tie-in: the reference captures image XObjects and exposes raw
streams (operations/extract_images.rs); pixel decoding is equally optional
there (DCT passthrough). This module is the training-data-pipeline side:
what a 100 TB multimodal corpus does with those captured bytes.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import map_rows

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURES_SCHEMA = (
    "doc_id string, media_ref string, media_type string, n_bytes long, "
    "sha1 string, md5 string, fake_embedding array<float>, decoder string"
)

FRAME_SCHEMA = (
    "doc_id string, media_ref string, frame_idx int, frame_sha1 string"
)


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\x0a"


def _decode_png_pixels(payload: bytes):
    """Minimal reader for the filter-0 non-interlaced 8-bit PNGs this
    engine's own extractors emit (kernel/extract_images.encode_png).
    Returns (h, w, c) uint8 or None for anything fancier."""
    import numpy as np

    if not payload.startswith(PNG_SIGNATURE):
        return None
    pos = 8
    ihdr = None
    idat = b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        return None
    w, h, depth, color_type, _comp, _filt, interlace = ihdr
    components = {0: 1, 2: 3, 6: 4}.get(color_type)
    if depth != 8 or components is None or interlace != 0:
        return None
    raw = zlib.decompress(idat)
    stride = 1 + w * components
    if len(raw) < h * stride:
        return None
    rows = np.frombuffer(raw[: h * stride], dtype=np.uint8).reshape(h, stride)
    if (rows[:, 0] != 0).any():  # only filter type 0 (None)
        return None
    return rows[:, 1:].reshape(h, w, components).copy()


def decode_image_pixels(payload: bytes):
    """Real pixel decode for payloads this engine has codecs for:
    JPEG (kernel/jpeg_codec.py) and its own filter-0 PNGs. Returns an
    (h, w, c) uint8 numpy array or None."""
    if payload[:2] == b"\xff\xd8":
        try:
            from .kernel.jpeg_codec import decode_jpeg_to_rgb

            return decode_jpeg_to_rgb(payload)[0]
        except Exception:
            return None
    try:
        return _decode_png_pixels(payload)
    except Exception:
        return None


def decode_image_stub(payload: bytes, meta: dict | None) -> dict:
    """Decode one image. JPEG/PNG payloads decode for real (dimensions
    and checksum come from the actual pixels, ``decoder='native'``);
    everything else returns a deterministic fake derived from the bytes
    so the pipeline stays testable end-to-end (``decoder='stub'``)."""
    pixels = decode_image_pixels(payload)
    if pixels is not None:
        return {
            "width": int(pixels.shape[1]),
            "height": int(pixels.shape[0]),
            "checksum": hashlib.md5(pixels.tobytes()).hexdigest(),
            "decoder": "native",
        }
    h = hashlib.md5(payload).digest()
    width = (meta or {}).get("width") or (struct.unpack(">H", h[:2])[0] % 1024 + 1)
    height = (meta or {}).get("height") or (struct.unpack(">H", h[2:4])[0] % 1024 + 1)
    return {
        "width": int(width),
        "height": int(height),
        "checksum": h.hex(),
        "decoder": "stub",
    }


def fake_embedding(payload: bytes, dims: int = 8) -> list[float]:
    """Deterministic unit-free 'embedding' from the payload bytes: dim i is
    the first 4 bytes of md5(i ':' payload) scaled to [0, 1). Stands in for
    a CLIP/audio encoder while exercising the exact array<float> shape."""
    out = []
    for i in range(dims):
        h = hashlib.md5(f"{i}:".encode() + payload).digest()
        out.append(round(int.from_bytes(h[:4], "big") / 2**32, 6))
    return out


def extract_media_features(media: DataFrame, dims: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over the binary column."""

    def make_row():
        # Feature extraction here is bytes-level (no pixel decode), so
        # the decoder tag stays 'stub'; decode_image_stub reports
        # 'native' when a payload really decodes.
        def row(doc_id, media_ref, media_type, payload):
            payload = payload if payload is not None else b""
            yield (
                doc_id, media_ref, media_type, len(payload),
                hashlib.sha1(payload).hexdigest(),
                hashlib.md5(payload).hexdigest(),
                fake_embedding(payload, dims), "stub",
            )

        return row

    cols = media.select("doc_id", "media_ref", "media_type", "payload")
    return map_rows(cols, make_row, FEATURES_SCHEMA)


def resize_image_stub(payload: bytes, target: tuple[int, int]) -> bytes:
    """Resize one image. Decodable payloads (JPEG / this engine's PNGs)
    take a REAL path: nearest-neighbour resample to ``target`` and
    re-encode as a baseline JPEG. Everything else keeps the
    deterministic fake transform (crc-tagged header + truncated payload)
    so tests can assert the byte-level contract."""
    pixels = decode_image_pixels(payload)
    if pixels is not None:
        import numpy as np

        from .kernel.jpeg_codec import encode_jpeg

        th, tw = target[1], target[0]
        src_h, src_w = pixels.shape[:2]
        ys = (np.arange(th) * src_h // th).clip(0, src_h - 1)
        xs = (np.arange(tw) * src_w // tw).clip(0, src_w - 1)
        resized = pixels[ys][:, xs]
        if resized.shape[2] == 4:  # RGBA from a PNG: drop alpha
            resized = resized[..., :3]
        return encode_jpeg(resized, quality=90)
    tag = struct.pack(">II", *target) + zlib.crc32(payload).to_bytes(4, "big")
    return tag + payload[: 64 * target[0] * target[1] // 1024 or 64]


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video rows: emits one row per sampled frame.
    Stub derives frame count from duration_ms; the real path would seek a
    decoder. Batch shape (explode inside the UDF) matches production."""

    def make_row():
        def row(doc_id, media_ref, media_type, payload, meta):
            if media_type != "video":
                return
            duration = (meta or {}).get("duration_ms") or 0
            payload = payload if payload is not None else b""
            for i in range(max(1, duration // every_ms)):
                sha1 = hashlib.sha1(payload + i.to_bytes(4, "big")).hexdigest()
                yield doc_id, media_ref, i, sha1

        return row

    cols = media.select("doc_id", "media_ref", "media_type", "payload", "meta")
    return map_rows(cols, make_row, FRAME_SCHEMA)


def synth_media_table(spark, docs: DataFrame) -> DataFrame:
    """Derive a deterministic media table from the documents table: each
    doc's bytes become an 'image' payload; every 5th doc adds a 'video' row
    with metadata. Used by tests/queries since the shared tables carry no
    real media blobs."""
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("media://img/"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.lit("image").alias("media_type"),
        F.encode(F.col("norm"), "UTF-8").alias("payload"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(48).alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit("raw").alias("codec"),
        ).alias("meta"),
    )
    videos = (
        docs.where(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.concat(F.lit("media://vid/"), F.col("doc_id").cast("string")).alias(
                "media_ref"
            ),
            F.lit("video").alias("media_type"),
            F.encode(F.col("norm"), "UTF-8").alias("payload"),
            F.struct(
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                (F.pmod(F.col("doc_id"), F.lit(5)) * 1000 + 3000)
                .cast("int")
                .alias("duration_ms"),
                F.lit("fake").alias("codec"),
            ).alias("meta"),
        )
    )
    return base.unionByName(videos)
