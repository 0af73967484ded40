"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

M7 extension. ALL THREE modalities have REAL decode paths in pure numpy
over bytes (no codec libraries needed): images are 24-bit uncompressed
BMPs (decode/resample/re-encode), audio is PCM16 WAV (RIFF chunk walker),
and video is a concatenated-BMP frame stream (boundaries parsed from the
BMP headers, each frame a standalone image). Compressed containers
(JPEG/PNG/MP3/MP4) require codec libraries not present in this container
and stay stubbed behind ``NotImplementedError`` with documented byte-level
fallbacks — the Spark plumbing (schema, Arrow batch shape, mapInPandas
signature, 1→N expansion) is identical and tested either way.

Pattern for 100 TB: binary payloads ride in parquet as BinaryType columns;
decode/feature-extract runs as ``mapInPandas`` (Arrow batches, one Python
worker per core, no per-row serde); downstream ops see only the extracted
typed features, so the heavy bytes are column-pruned away the moment
they're consumed.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = (
    "media_id long, modality string, n_bytes long, payload_hash string, "
    "feat_mean double, feat_dim int"
)


# ---------------------------------------------------------------------------
# 24-bit uncompressed BMP codec — pure numpy over bytes, no codec libraries.
# BMP is the one mainstream image container whose pixel data is raw (BGR
# rows, bottom-up, 4-byte row padding), so a full real decode path fits in
# plain struct/numpy and exercises extract_features/resize_images on actual
# pixels. Format: BITMAPFILEHEADER (14 B) + BITMAPINFOHEADER (40 B) + rows.
# ---------------------------------------------------------------------------

_BMP_HDR = 54  # file header (14) + info header (40)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """RGB uint8 array (h, w, 3), top-down → 24-bit uncompressed BMP bytes."""
    h, w, _ = pixels.shape
    row_bytes = (w * 3 + 3) // 4 * 4
    img_size = row_bytes * h
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", _BMP_HDR + img_size, 0, 0, _BMP_HDR,  # file header
        40, w, h, 1, 24, 0, img_size, 0, 0, 0, 0,    # info header
    )
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    # BMP stores bottom-up BGR: flip rows, reverse channels
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
    return header + rows.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP bytes → RGB uint8 array (h, w, 3), top-down."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h, _planes, bitcount, compression = struct.unpack_from("<iiHHI", payload, 18)
    if bitcount != 24 or compression != 0 or h <= 0:
        raise NotImplementedError("only 24-bit uncompressed bottom-up BMP")
    row_bytes = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(payload, dtype=np.uint8, count=row_bytes * h, offset=data_off)
    rows = rows.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    return rows[::-1, :, ::-1]  # bottom-up BGR -> top-down RGB


# ---------------------------------------------------------------------------
# PCM16 WAV codec — like BMP, RIFF/WAVE with uncompressed PCM is raw sample
# data behind a fixed header, so a full real decode path is pure struct/
# numpy. 44-byte canonical header (RIFF + fmt + data chunks) + LE int16.
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Mono int16 sample array → canonical 44-byte-header PCM WAV bytes."""
    data = samples.astype("<i2").tobytes()
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return header + data


def decode_wav(payload: bytes) -> np.ndarray:
    """PCM16 mono WAV bytes → int16 sample array. Walks the RIFF chunk list
    (a 'fact' or 'LIST' chunk before 'data' is legal WAV), so any
    uncompressed 16-bit mono file decodes, not just our canonical layout."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    off, fmt_ok = 12, False
    while off + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, off)
        if cid == b"fmt ":
            audio_fmt, _ch, _sr, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", payload, off + 8
            )
            if audio_fmt != 1 or bits != 16:
                raise NotImplementedError("only uncompressed 16-bit PCM WAV")
            fmt_ok = True
        elif cid == b"data":
            if not fmt_ok:
                raise ValueError("WAV data chunk before fmt chunk")
            return np.frombuffer(payload, dtype="<i2", count=size // 2, offset=off + 8)
        off += 8 + size + (size & 1)  # chunks are word-aligned
    raise ValueError("WAV payload has no data chunk")


#: synthesized audio length (samples) and rate
SYNTH_SAMPLES, SYNTH_RATE = 256, 8000


def synth_samples(media_id: int) -> np.ndarray:
    """Deterministic int16 waveform with a CLOSED FORM the SQL oracle can
    mirror: s[i] = ((media_id % 7) * 1000 + i * 37) % 4096 - 2048."""
    i = np.arange(SYNTH_SAMPLES, dtype=np.int64)
    return (((media_id % 7) * 1000 + i * 37) % 4096 - 2048).astype(np.int16)


#: synthesized video frame count (frames are real BMPs — see below)
SYNTH_FRAMES = 4


def split_bmp_stream(payload: bytes) -> list[bytes]:
    """Split a concatenated-BMP stream ("BMPS" — the uncompressed stand-in
    for a video container) into its frame payloads using each BMP header's
    file-size field. Raises ValueError on a non-BMP boundary so callers can
    fall back to byte-level handling."""
    frames, off = [], 0
    while off < len(payload):
        if payload[off : off + 2] != b"BM":
            raise ValueError("not a BMP frame boundary")
        size = struct.unpack_from("<I", payload, off + 2)[0]
        if size < _BMP_HDR or off + size > len(payload):
            raise ValueError("truncated BMP frame")
        frames.append(payload[off : off + size])
        off += size
    return frames


#: synthesized image dimensions (small enough that fixtures stay light)
SYNTH_W, SYNTH_H = 8, 6


def synth_pixels(media_id: int) -> np.ndarray:
    """Deterministic RGB test pattern; depends only on ``media_id % 7`` so
    payload determinism (same id class → same bytes) is testable."""
    y, x, c = np.indices((SYNTH_H, SYNTH_W, 3))
    return (((media_id % 7) * 11 + 16 * y + 3 * x + 5 * c) % 256).astype(np.uint8)


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table so the plumbing is testable without
    codec libraries: image rows carry REAL 8×6 24-bit BMP payloads, audio
    rows REAL 256-sample PCM16 WAV payloads, and video rows a REAL
    concatenated-BMP frame stream — all three modalities decode end-to-end
    with pure numpy (compressed containers remain the stubbed fallback,
    exercised separately in tests)."""
    # size partitions to the tiny synth row count: spark.range defaults to
    # one partition per core, and every pandas-UDF stage pays a Python
    # worker round-trip PER PARTITION — 32 partitions for 96 rows made the
    # multimodal pipeline ~5x slower than its data justifies
    base = spark.range(0, n, 1, max(1, n // 24)).select(
        F.col("id").alias("media_id"),
        F.when(F.col("id") % 3 == 0, "image")
        .when(F.col("id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
    )

    @F.pandas_udf(T.BinaryType())
    def bmp_payload(media_id: pd.Series) -> pd.Series:
        return media_id.map(lambda i: encode_bmp(synth_pixels(int(i))))

    @F.pandas_udf(T.BinaryType())
    def wav_payload(media_id: pd.Series) -> pd.Series:
        return media_id.map(lambda i: encode_wav(synth_samples(int(i)), SYNTH_RATE))

    @F.pandas_udf(T.BinaryType())
    def bmps_payload(media_id: pd.Series) -> pd.Series:
        return media_id.map(
            lambda i: b"".join(
                encode_bmp(synth_pixels(int(i) + f)) for f in range(SYNTH_FRAMES)
            )
        )

    is_img = F.col("modality") == "image"
    is_aud = F.col("modality") == "audio"
    return base.select(
        "media_id",
        "modality",
        F.when(is_img, bmp_payload(F.col("media_id")))
        .when(is_aud, wav_payload(F.col("media_id")))
        .otherwise(bmps_payload(F.col("media_id")))
        .alias("payload"),
        F.when(is_img, "image/bmp")
        .when(is_aud, "audio/wav")
        .otherwise("video/x-bmp-stream")
        .alias("mime"),
        F.when(is_img, F.lit(SYNTH_W)).cast("int").alias("width"),
        F.when(is_img, F.lit(SYNTH_H)).cast("int").alias("height"),
        F.when(is_aud, F.lit(SYNTH_SAMPLES * 1000 // SYNTH_RATE))
        .cast("long")
        .alias("duration_ms"),
    )


def decode_media(payload: bytes, modality: str):
    """Decode a payload to its natural array form. REAL for uncompressed
    BMP images (``decode_bmp``) and PCM16 WAV audio (``decode_wav``) — both
    pure numpy over bytes. Compressed formats (JPEG/PNG/MP3/video) require
    codec libraries not present in this container and raise
    ``NotImplementedError`` (callers fall back to byte-level features)."""
    if modality == "image" and payload is not None and payload[:2] == b"BM":
        return decode_bmp(payload)
    if modality == "audio" and payload is not None and payload[:4] == b"RIFF":
        return decode_wav(payload)
    if modality == "video" and payload is not None and payload[:2] == b"BM":
        return np.stack([decode_bmp(f) for f in split_bmp_stream(payload)])
    raise NotImplementedError(
        "decoding this payload requires codec libraries; only 24-bit "
        "uncompressed BMP and PCM16 WAV have built-in pure-numpy paths"
    )


def extract_features(df: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via mapInPandas.

    BMP images take the REAL path: decode to pixels, feat_mean = mean pixel
    value, feat_dim = decoded element count. Payloads the container can't
    decode (compressed images, audio, video) fall back to the documented
    byte-level features (md5 + mean byte value, feat_dim 1); the batch
    iteration, schema contract, and column pruning are identical either way.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def feats(b, modality):
            if b is None:
                return 0, None, 0.0, 0
            try:
                arr = decode_media(b, modality)
                # ints < 2^53 sum exactly in float64; single IEEE division
                # keeps the mean engine-exact (oracle does sum/count too)
                return len(b), hashlib.md5(b).hexdigest(), float(arr.sum()) / arr.size, int(arr.size)
            except NotImplementedError:
                return len(b), hashlib.md5(b).hexdigest(), (sum(b) / len(b)) if b else 0.0, 1

        for pdf in it:
            cols = [feats(b, m) for b, m in zip(pdf["payload"], pdf["modality"])]
            n_bytes, payload_hash, feat_mean, feat_dim = (
                zip(*cols) if cols else ((), (), (), ())
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": list(n_bytes),
                    "payload_hash": list(payload_hash),
                    "feat_mean": list(feat_mean),
                    "feat_dim": list(feat_dim),
                }
            )

    return df.select("media_id", "modality", "payload").mapInPandas(
        batches, schema=FEATURE_SCHEMA
    )


RESIZED_SCHEMA = "media_id long, payload binary, width int, height int"


def resize_images(df: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Image resize (1→1): Arrow batches in, resized payload + dimensions
    out. BMP payloads take the REAL path — decode → nearest-neighbor resample
    (pure numpy index arithmetic) → re-encode BMP. Undecodable payloads get
    the documented size-normalized fake so the operator is total; the schema
    contract, batch shape, and column pruning are identical either way."""

    def _resize(payload: bytes) -> bytes:
        try:
            arr = decode_media(payload, "image")
        except NotImplementedError:
            # stand-in for decode→resize→re-encode: size-normalized pattern
            return (payload or b"\x00")[:16].ljust(16, b"\x00") * (
                width * height // 256 or 1
            )
        h, w = arr.shape[:2]
        ys = (np.arange(height) * h) // height
        xs = (np.arange(width) * w) // width
        return encode_bmp(arr[ys][:, xs])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": pdf["payload"].map(_resize),
                    "width": width,
                    "height": height,
                }
            )

    return (
        df.filter(F.col("modality") == "image")
        .select("media_id", "payload")
        .mapInPandas(batches, schema=RESIZED_SCHEMA)
    )


FRAME_SCHEMA = "media_id long, frame_idx int, frame_ms long, frame_payload binary"


def sample_frames(df: DataFrame, every_ms: int = 1000, max_frames: int = 8) -> DataFrame:
    """Video frame sampling (1→N row expansion inside mapInPandas): each
    video row yields up to ``max_frames`` frame rows. BMP-stream payloads
    take the REAL path — frame boundaries parsed from the BMP headers, each
    emitted frame a decodable standalone image. Other containers fall back
    to the documented 16-byte fake slices so the operator stays total; the
    expansion shape (row multiplication inside an Arrow batch) is identical
    either way."""

    def frames_of(payload: bytes) -> list[bytes]:
        try:
            return split_bmp_stream(payload or b"")
        except ValueError:
            n = max(1, len(payload or b"") // 16)
            return [(payload or b"")[i * 16 : (i + 1) * 16] for i in range(n)]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "media_id": [],
                "frame_idx": [],
                "frame_ms": [],
                "frame_payload": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for i, fr in enumerate(frames_of(payload)[:max_frames]):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_ms"].append(i * every_ms)
                    out["frame_payload"].append(fr)
            yield pd.DataFrame(out)

    return (
        df.filter(F.col("modality") == "video")
        .select("media_id", "payload")
        .mapInPandas(batches, schema=FRAME_SCHEMA)
    )
