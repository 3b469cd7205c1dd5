"""Multimodal content transforms ([EXT]): the resize / frame-sample /
audio-decode stages a training-data pipeline runs after ingestion,
over the same opaque ``binary`` columns as operators.multimodal.

Everything here decodes REAL bytes with REAL stdlib codecs:

- PNG: full chunk walk + zlib inflate + scanline unfilter (all five
  PNG filter types), nearest-neighbor resample, re-encode. The
  corpus's PNGs are built by ``multimodal.synth_png`` (valid files),
  so the pipeline exercises genuine decode->transform->encode.
- WAV: written and parsed with the stdlib ``wave`` module (a real
  RIFF codec), samples analyzed vector-at-a-time with numpy.
- Video: a documented toy container (magic + dims + length-prefixed
  PNG frames) standing in for a real demuxer; frame *decode* is the
  real PNG path above. Real video codecs aren't in this container —
  the demux/sample plumbing (schema, Arrow batching, stride policy)
  is the part Spark owns at 100 TB and is fully real here.

Every query emits only scalar columns whose values are reproducible
from the generative text formula, so the DuckDB oracle checks the
decoded *pixel/sample content* (e.g. ``thumb_sum`` is the sum of the
actual resampled raster bytes) — a differential proof that the
decode is real, not a metadata echo.

Scale posture: every stage is mapInPandas (map-only, no shuffle);
payload synthesis and decode ride data parallelism linearly.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_etl_global_footprint_network_spark.operators.multimodal import (
    attach_binary_payload,
    synth_png,
    synthesize_image_payloads,
)
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata
from aws_etl_global_footprint_network_spark.worker_imports import kernel

# --------------------------------------------------------------------
# PNG: real decode (inflate + unfilter), nearest-neighbor resize,
# re-encode
# --------------------------------------------------------------------


def decode_png_gray(payload: bytes) -> tuple[int, int, bytearray]:
    """Fully decode an 8-bit grayscale non-interlaced PNG: walk the
    chunk chain, inflate the concatenated IDAT stream, and reverse the
    per-scanline filter (all five PNG filter types, bpp=1). Returns
    (width, height, raster) with raster in row-major order."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, width, height, idat = 8, None, None, b""
    while pos + 8 <= len(payload):
        (length,), typ = struct.unpack(">I", payload[pos : pos + 4]), payload[
            pos + 4 : pos + 8
        ]
        data = payload[pos + 8 : pos + 8 + length]
        if typ == b"IHDR":
            width, height, depth, color, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or color != 0 or interlace != 0:
                raise ValueError("only 8-bit grayscale non-interlaced supported")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(idat)
    stride = width + 1
    if len(raw) != stride * height:
        raise ValueError("decoded length mismatch")
    raster = bytearray(width * height)
    prev = bytes(width)
    for r in range(height):
        line = raw[r * stride : (r + 1) * stride]
        ftype, fdata = line[0], bytearray(line[1:])
        if ftype == 1:  # Sub
            for c in range(1, width):
                fdata[c] = (fdata[c] + fdata[c - 1]) & 0xFF
        elif ftype == 2:  # Up
            for c in range(width):
                fdata[c] = (fdata[c] + prev[c]) & 0xFF
        elif ftype == 3:  # Average
            for c in range(width):
                left = fdata[c - 1] if c else 0
                fdata[c] = (fdata[c] + (left + prev[c]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for c in range(width):
                a = fdata[c - 1] if c else 0
                b, cc = prev[c], (prev[c - 1] if c else 0)
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                fdata[c] = (fdata[c] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter {ftype}")
        raster[r * width : (r + 1) * width] = fdata
        prev = bytes(fdata)
    return width, height, raster


def encode_png_gray(width: int, height: int, raster: bytes) -> bytes:
    """Re-encode a raster as a minimal valid grayscale PNG (filter 0)."""

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(raster[r * width : (r + 1) * width]) for r in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def resize_nn(
    raster: bytes, width: int, height: int, new_w: int, new_h: int
) -> bytearray:
    """Nearest-neighbor resample: out[r][c] = in[r*H//new_h][c*W//new_w]
    — the standard floor mapping, mirrored exactly by the oracle SQL."""
    out = bytearray(new_w * new_h)
    for r in range(new_h):
        src_row = r * height // new_h * width
        for c in range(new_w):
            out[r * new_w + c] = raster[src_row + c * width // new_w]
    return out


THUMB_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("thumb_w", T.IntegerType()),
        T.StructField("thumb_h", T.IntegerType()),
        T.StructField("thumb_sum", T.LongType()),
    ]
)


def resize_thumbnails(media: DataFrame) -> DataFrame:
    """Decode each PNG payload, halve both dimensions by
    nearest-neighbor, and emit the thumbnail's pixel sum (content
    witness) plus dimensions. Map-only mapInPandas."""

    @kernel
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in THUMB_SCHEMA.fieldNames()}
            for doc_id, payload, mtype in zip(
                pdf["doc_id"], pdf["payload"], pdf["media_type"]
            ):
                if mtype != "image/png":
                    continue
                w, h, raster = decode_png_gray(bytes(payload))
                tw, th = (w + 1) // 2, (h + 1) // 2
                thumb = resize_nn(raster, w, h, tw, th)
                rows["doc_id"].append(int(doc_id))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["thumb_w"].append(tw)
                rows["thumb_h"].append(th)
                rows["thumb_sum"].append(int(sum(thumb)))
            yield pd.DataFrame(rows)

    return media.mapInPandas(op, schema=THUMB_SCHEMA)


@register(
    "image_resize_thumbs",
    """
    WITH m AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n,
             CAST(4 + doc_id % 29 AS INT) AS w,
             CAST(3 + doc_id % 17 AS INT) AS h
      FROM documents WHERE doc_id % 4 = 0),
    d AS (
      SELECT doc_id, text, n, w, h,
             CAST((w + 1) // 2 AS INT) AS tw,
             CAST((h + 1) // 2 AS INT) AS th
      FROM m)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           w AS width, h AS height, tw AS thumb_w, th AS thumb_h,
           CAST(list_sum(list_transform(range(0, tw * th), k ->
             ord(substr(text,
               ((k // tw) * h // th * w + (k % tw) * w // tw) % n + 1,
               1)))) AS BIGINT) AS thumb_sum
    FROM d
    """,
    "image resize: real PNG decode (inflate + unfilter) -> nearest-"
    "neighbor half-size thumbnail; the oracle recomputes the resampled"
    " pixel sum from the generative text formula, so the hash gate"
    " verifies actual decoded content",
    tags=("multimodal", "image"),
)
def image_resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata(spark, sf_dir, "documents")
    media = synthesize_image_payloads(attach_binary_payload(d))
    return resize_thumbnails(media)


# --------------------------------------------------------------------
# Audio: WAV written + parsed with the stdlib wave codec
# --------------------------------------------------------------------

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_width", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def synth_wav(sample_rate: int, samples: np.ndarray) -> bytes:
    """A real RIFF/WAVE file (mono, 16-bit PCM) via the stdlib wave
    codec."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def synthesize_audio_payloads(documents: DataFrame) -> DataFrame:
    """Deterministic audio corpus: each document's UTF-8 bytes become
    16-bit PCM samples ((byte - 64) * 256) at a doc_id-derived sample
    rate — real WAV files, reproducible by the oracle from the text."""

    @kernel
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                samples = (b.astype(np.int32) - 64) * 256
                rate = 8000 + (int(doc_id) % 8) * 1000
                payloads.append(synth_wav(rate, samples))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).mapInPandas(op, schema=AUDIO_SCHEMA)


def extract_audio_features(audio: DataFrame) -> DataFrame:
    """Parse each WAV with the stdlib wave codec (header fields come
    from the actual RIFF chunks, not trusted metadata) and analyze the
    PCM samples with numpy: energy (exact integer sum of squares) and
    peak amplitude. Map-only."""

    @kernel
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in AUDIO_FEATURES_SCHEMA.fieldNames()}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                    rate, nch, width = (
                        w.getframerate(),
                        w.getnchannels(),
                        w.getsampwidth(),
                    )
                    n = w.getnframes()
                    samples = np.frombuffer(w.readframes(n), dtype="<i2").astype(
                        np.int64
                    )
                rows["doc_id"].append(int(doc_id))
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(nch)
                rows["sample_width"].append(width)
                rows["n_samples"].append(n)
                rows["duration_ms"].append(n * 1000 // rate)
                rows["sum_sq"].append(int((samples * samples).sum()))
                rows["peak"].append(int(np.abs(samples).max()) if n else 0)
            yield pd.DataFrame(rows)

    return audio.mapInPandas(op, schema=AUDIO_FEATURES_SCHEMA)


@register(
    "audio_wav_features",
    """
    WITH s AS (
      SELECT doc_id, octet_length(encode(text)) AS n,
             CAST(8000 + (doc_id % 8) * 1000 AS INT) AS rate,
             list_transform(range(1, octet_length(encode(text)) + 1),
               i -> (ord(substr(text, i, 1)) - 64) * 256) AS samples
      FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           rate AS sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST(2 AS INT) AS sample_width,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
           CAST(list_sum(list_transform(samples,
             x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS sum_sq,
           CAST(list_max(list_transform(samples, x -> abs(x))) AS INT)
             AS peak
    FROM s
    """,
    "audio decode: real WAV files parsed with the stdlib RIFF codec;"
    " sample rate / duration come from the actual header and the"
    " energy (integer sum of squares) and peak from the PCM samples —"
    " all hash-checked against the generative formula",
    tags=("multimodal", "audio"),
)
def audio_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata(spark, sf_dir, "documents")
    return extract_audio_features(synthesize_audio_payloads(d))


# --------------------------------------------------------------------
# Video: toy container demux + stride frame sampling; frame decode is
# the real PNG path
# --------------------------------------------------------------------

VIDEO_MAGIC = b"FVID"
FRAME_STRIDE = 2

VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_w", T.IntegerType()),
        T.StructField("frame_h", T.IntegerType()),
        T.StructField("frame_sum", T.LongType()),
    ]
)


def synth_video(doc_id: int, text_bytes: bytes) -> bytes:
    """Toy video container: ``FVID`` magic + big-endian
    (n_frames, width, height) + length-prefixed PNG frames. Frame f's
    pixels cycle the text bytes rotated by f, so frame content is a
    pure function of (doc_id, text) that the oracle can recompute."""
    n_frames = 2 + doc_id % 7
    fw, fh = 4 + doc_id % 13, 3 + doc_id % 11
    n = len(text_bytes)
    out = [VIDEO_MAGIC, struct.pack(">HHH", n_frames, fw, fh)]
    for f in range(n_frames):
        rot = text_bytes[f % n :] + text_bytes[: f % n]
        frame = synth_png(fw, fh, rot)
        out.append(struct.pack(">I", len(frame)))
        out.append(frame)
    return b"".join(out)


def demux_frames(payload: bytes) -> tuple[int, int, int, list[bytes]]:
    """Parse the toy container back into its PNG frames."""
    if payload[:4] != VIDEO_MAGIC:
        raise ValueError("not an FVID container")
    n_frames, fw, fh = struct.unpack(">HHH", payload[4:10])
    frames, pos = [], 10
    for _ in range(n_frames):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        frames.append(payload[pos + 4 : pos + 4 + length])
        pos += 4 + length
    return n_frames, fw, fh, frames


def synthesize_video_payloads(documents: DataFrame) -> DataFrame:
    @kernel
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                synth_video(int(doc_id), text.encode("utf-8"))
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).mapInPandas(op, schema=VIDEO_SCHEMA)


def sample_frames(videos: DataFrame, stride: int = FRAME_STRIDE) -> DataFrame:
    """Demux each container and decode every ``stride``-th frame (the
    standard key-frame sampling a vision pipeline does before
    feature extraction). Frame decode is the real PNG decoder; output
    is one row per sampled frame with the decoded pixel sum."""

    @kernel
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in FRAME_SCHEMA.fieldNames()}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames, fw, fh, frames = demux_frames(bytes(payload))
                for f in range(0, n_frames, stride):
                    w, h, raster = decode_png_gray(frames[f])
                    rows["doc_id"].append(int(doc_id))
                    rows["n_frames"].append(n_frames)
                    rows["frame_idx"].append(f)
                    rows["frame_w"].append(w)
                    rows["frame_h"].append(h)
                    rows["frame_sum"].append(int(sum(raster)))
            yield pd.DataFrame(rows)

    return videos.mapInPandas(op, schema=FRAME_SCHEMA)


@register(
    "video_frame_sample",
    f"""
    WITH m AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n,
             CAST(2 + doc_id % 7 AS INT) AS n_frames,
             CAST(4 + doc_id % 13 AS INT) AS fw,
             CAST(3 + doc_id % 11 AS INT) AS fh
      FROM documents WHERE doc_id % 5 = 0),
    fr AS (
      SELECT doc_id, n_frames, fw, fh, n, text,
             unnest(range(0, n_frames)) AS f
      FROM m)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_frames,
           CAST(f AS INT) AS frame_idx, fw AS frame_w, fh AS frame_h,
           CAST(list_sum(list_transform(range(0, fw * fh), k ->
             ord(substr(text, (f + k % n) % n + 1, 1)))) AS BIGINT)
             AS frame_sum
    FROM fr WHERE f % {FRAME_STRIDE} = 0
    """,
    "video frame sampling: toy container demux + every-Nth-frame"
    " key-frame selection; sampled frames run the real PNG decoder and"
    " the oracle recomputes each decoded frame's pixel sum",
    tags=("multimodal", "video"),
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    return sample_frames(synthesize_video_payloads(d))


# --------------------------------------------------------------------
# Image perceptual hash (average hash) over genuinely decoded pixels
# --------------------------------------------------------------------

AH_W, AH_H = 8, 7  # 56-bit hash: stays clear of the int64 sign bit

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.LongType()),
        T.StructField("n_set_bits", T.LongType()),
    ]
)


def average_hash(media: DataFrame) -> DataFrame:
    """Decode each PNG, downsample to AH_W x AH_H by nearest-neighbor,
    and emit the average-hash: bit k set iff pixel k is strictly above
    the downsampled mean (compared in integers: n_pixels * p > total,
    no float mean). Map-only mapInPandas."""

    @kernel
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_px = AH_W * AH_H
        for pdf in batches:
            rows = {k: [] for k in PHASH_SCHEMA.fieldNames()}
            for doc_id, payload, mtype in zip(
                pdf["doc_id"], pdf["payload"], pdf["media_type"]
            ):
                if mtype != "image/png":
                    continue
                w, h, raster = decode_png_gray(bytes(payload))
                small = resize_nn(raster, w, h, AH_W, AH_H)
                total = int(sum(small))
                phash = 0
                nset = 0
                for k, p in enumerate(small):
                    if n_px * int(p) > total:
                        phash |= 1 << k
                        nset += 1
                rows["doc_id"].append(int(doc_id))
                rows["phash"].append(phash)
                rows["n_set_bits"].append(nset)
            yield pd.DataFrame(rows)

    return media.mapInPandas(op, schema=PHASH_SCHEMA)


def _phash_oracle() -> str:
    n_px = AH_W * AH_H
    px = (
        f"list_transform(range(0, {n_px}), k -> ord(substr(text,"
        f" ((k // {AH_W}) * h // {AH_H} * w + (k % {AH_W}) * w // {AH_W})"
        f" % n + 1, 1)))"
    )
    return f"""
    WITH m AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n,
             CAST(4 + doc_id % 29 AS INT) AS w,
             CAST(3 + doc_id % 17 AS INT) AS h
      FROM documents WHERE doc_id % 4 = 0),
    p AS (SELECT doc_id, {px} AS px FROM m),
    t AS (SELECT doc_id, px, list_sum(px) AS total FROM p)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(list_sum(list_transform(range(0, {n_px}), k ->
             CASE WHEN {n_px} * px[k + 1] > total
                  THEN (1::BIGINT << k) ELSE 0::BIGINT END)) AS BIGINT)
             AS phash,
           CAST(list_sum(list_transform(range(0, {n_px}), k ->
             CASE WHEN {n_px} * px[k + 1] > total THEN 1 ELSE 0 END))
             AS BIGINT) AS n_set_bits
    FROM t
    """


@register(
    "image_phash_ahash",
    _phash_oracle(),
    f"image perceptual fingerprint: real PNG decode -> {AH_W}x{AH_H}"
    " nearest-neighbor downsample -> average-hash (bit = pixel above"
    " the downsampled mean, integer compare); the oracle recomputes"
    " every bit from the generative pixel formula, so the hash gate"
    " verifies actual decoded content end-to-end",
    tags=("multimodal", "image", "dedup"),
)
def image_phash_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fingerprint that bridges the multimodal and dedup families:
    aHash is the standard cheap perceptual hash (near-duplicate images
    differ in O(1) bits, so the SimHash Hamming-band index —
    ``simhash_neardup_pairs`` — applies unchanged downstream). The
    downsampled mean is compared in integers (n_pixels * p > total),
    so no float contract is needed anywhere. Map-only mapInPandas over
    the decoded rasters; linear in image bytes, no shuffle."""
    d = read_testdata(spark, sf_dir, "documents")
    media = synthesize_image_payloads(attach_binary_payload(d))
    return average_hash(media)
