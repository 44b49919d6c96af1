"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (training-data pipeline extension, see build brief).

Decode is REAL for uncompressed container formats — parsed from the
actual payload bytes with stdlib + numpy, no codec libraries:

- image: BMP (24-bit uncompressed, BITMAPINFOHEADER) and PPM (P6)
- audio: WAV (PCM 8/16-bit, stdlib ``wave``)
- video: a minimal raw container ``RVID`` = magic + frame count + a BMP
  per frame (the honest stand-in for an uncompressed y4m-style stream)

Compressed formats (JPEG/PNG/MP3/H.264 …) still need codec libraries the
container doesn't ship; those payloads raise :class:`DecodeUnavailable`
with the mime type, and ``extract_features`` surfaces them in an
``error`` column instead of failing the batch — the production swap-in
point for Pillow/torchaudio/pyav is exactly `_decode`, everything
Spark-side (schema, Arrow batching, partition sizing) is unchanged.

At scale: binary payloads dominate partition size — callers should set
``spark.sql.files.maxPartitionBytes`` down (e.g. 32 MB) for tables with
multi-MB blobs, and metadata-only transforms must select away the binary
column (column pruning keeps the scan light).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from ..plans.driver import local_frame

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),       # image|audio|video
    T.StructField("mime", T.StringType(), False),
    T.StructField("payload", T.BinaryType(), False),     # opaque bytes
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.IntegerType(), True),
])

#: fixed feature shapes per kind (resize targets → stable schema)
FEATURE_SHAPES = {"image": (8, 8, 3), "audio": (16, 4), "video": (4, 8, 8)}

RVID_MAGIC = b"RVID"


class DecodeUnavailable(NotImplementedError):
    """Decoding this payload needs codec libraries not present in this
    container (e.g. JPEG/PNG/MP3). On a production cluster, extend
    ``_decode`` with a Pillow/torchaudio/pyav call — the Spark plumbing
    (schemas, batching, partitioning) is unchanged."""


# --------------------------------------------------------------------------
# encoders (used by the synthetic generator + tests; real formats)
# --------------------------------------------------------------------------

def encode_bmp(pixels: np.ndarray) -> bytes:
    """HxWx3 uint8 → 24-bit uncompressed BMP (BITMAPINFOHEADER)."""
    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                       2835, 2835, 0, 0)
    rows = []
    for y in range(h - 1, -1, -1):  # BMP rows bottom-up, BGR order
        row = pixels[y, :, ::-1].tobytes()
        rows.append(row + b"\x00" * (row_size - len(row)))
    return header + info + b"".join(rows)


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """float array in [-1, 1] → 16-bit PCM mono WAV."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes((np.clip(samples, -1, 1) * 32767)
                      .astype("<i2").tobytes())
    return buf.getvalue()


def encode_rvid(frames: list[np.ndarray]) -> bytes:
    """List of HxWx3 uint8 frames → minimal raw-video container:
    magic, u32 frame count, then (u32 length, BMP bytes) per frame."""
    out = [RVID_MAGIC, struct.pack("<I", len(frames))]
    for fr in frames:
        b = encode_bmp(fr)
        out.append(struct.pack("<I", len(b)))
        out.append(b)
    return b"".join(out)


# --------------------------------------------------------------------------
# decoders (real byte parsing)
# --------------------------------------------------------------------------

def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP → HxWx3 uint8 (RGB)."""
    if payload[:2] != b"BM":
        raise DecodeUnavailable("not a BMP")
    off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise DecodeUnavailable(f"BMP bpp={bpp} compression={comp}")
    row_size = (w * 3 + 3) & ~3
    flip = h > 0
    h = abs(h)
    data = np.frombuffer(payload, dtype=np.uint8,
                         count=row_size * h, offset=off)
    rows = data.reshape(h, row_size)[:, :w * 3].reshape(h, w, 3)
    rgb = rows[:, :, ::-1]  # BGR → RGB
    return rgb[::-1] if flip else rgb


import re as _re

_PPM_HEADER = _re.compile(rb"^P6\s+(\d+)\s+(\d+)\s+(\d+)\s")


def decode_ppm(payload: bytes) -> np.ndarray:
    """PPM P6 (binary) → HxWx3 uint8. Raster is located by the HEADER
    offset (exactly one whitespace byte after maxval per the format) —
    slicing from the end would silently shift every pixel when a writer
    appends a trailing newline."""
    m = _PPM_HEADER.match(payload)
    if not m:
        raise DecodeUnavailable("not a P6 PPM")
    w, h, maxv = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if maxv > 255:
        raise DecodeUnavailable("16-bit PPM")
    need = w * h * 3
    raw = payload[m.end():m.end() + need]
    if len(raw) < need:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


def decode_wav(payload: bytes) -> np.ndarray:
    """PCM WAV → float64 mono samples in [-1, 1] (channels averaged)."""
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            n, ch, width = w.getnframes(), w.getnchannels(), w.getsampwidth()
            raw = w.readframes(n)
    except wave.Error as e:
        raise DecodeUnavailable(f"WAV: {e}") from None
    if width == 2:
        arr = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        arr = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
               - 128.0) / 128.0
    else:
        raise DecodeUnavailable(f"WAV sample width {width}")
    if ch > 1:
        arr = arr.reshape(-1, ch).mean(axis=1)
    return arr


def decode_rvid(payload: bytes) -> list[np.ndarray]:
    """Minimal raw-video container → list of RGB frames."""
    if payload[:4] != RVID_MAGIC:
        raise DecodeUnavailable("not an RVID stream")
    n = struct.unpack_from("<I", payload, 4)[0]
    frames, off = [], 8
    for _ in range(n):
        ln = struct.unpack_from("<I", payload, off)[0]
        off += 4
        frames.append(decode_bmp(payload[off:off + ln]))
        off += ln
    return frames


def _decode(payload: bytes, kind: str, decoders: dict | None = None):
    """Dispatch on magic bytes. Compressed formats raise
    DecodeUnavailable — the production codec swap-in point: pass
    ``decoders={"image": my_jpeg_fn, ...}`` (e.g. a Pillow/pyav call) to
    ``extract_features`` and it is consulted FIRST; return None to fall
    through to the built-in uncompressed parsers. The callable ships to
    executors inside the UDF closure, so swapping a codec in requires no
    module changes on the cluster."""
    if decoders and kind in decoders:
        try:
            out = decoders[kind](payload)
        except Exception as e:  # user codec: failures surface per-row
            raise DecodeUnavailable(
                f"custom {kind} decoder failed: "
                f"{type(e).__name__}: {e}") from None
        if out is not None:
            return out
    if kind == "image":
        if payload[:2] == b"BM":
            return decode_bmp(payload)
        if payload[:2] == b"P6":
            return decode_ppm(payload)
        raise DecodeUnavailable("image codec (JPEG/PNG…) not available")
    if kind == "audio":
        if payload[:4] == b"RIFF":
            return decode_wav(payload)
        raise DecodeUnavailable("audio codec (MP3/AAC…) not available")
    if kind == "video":
        if payload[:4] == RVID_MAGIC:
            return decode_rvid(payload)
        raise DecodeUnavailable("video codec (H.264…) not available")
    raise DecodeUnavailable(f"unknown kind {kind!r}")


# --------------------------------------------------------------------------
# feature extraction (decode → resize/sample → fixed-shape features)
# --------------------------------------------------------------------------

def _resize_mean(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Block-mean downsample (area interpolation) HxWxC → out_h×out_w×C.
    Vectorized via two ``np.add.reduceat`` passes when the image is at
    least target-sized (the normal case); tiny images fall back to the
    per-block loop (reduceat mishandles empty segments)."""
    h, w, c = img.shape
    if h >= out_h and w >= out_w:
        ys = (np.arange(out_h) * h // out_h).astype(np.int64)
        xs = (np.arange(out_w) * w // out_w).astype(np.int64)
        acc = np.add.reduceat(img.astype(np.float64), ys, axis=0)
        acc = np.add.reduceat(acc, xs, axis=1)
        ycnt = np.diff(np.append(ys, h))
        xcnt = np.diff(np.append(xs, w))
        out = acc / (ycnt[:, None, None] * xcnt[None, :, None])
        return (out / 255.0).astype(np.float32)
    ys = (np.arange(out_h + 1) * h // out_h)
    xs = (np.arange(out_w + 1) * w // out_w)
    out = np.empty((out_h, out_w, c), dtype=np.float32)
    for i in range(out_h):
        for j in range(out_w):
            block = img[ys[i]:max(ys[i + 1], ys[i] + 1),
                        xs[j]:max(xs[j + 1], xs[j] + 1)]
            out[i, j] = block.reshape(-1, c).mean(axis=0)
    return out / 255.0


def _features_for(payload: bytes, kind: str,
                  decoders: dict | None = None) -> np.ndarray:
    decoded = _decode(payload, kind, decoders)
    if kind == "image":
        return _resize_mean(decoded, 8, 8)  # (8,8,3)
    if kind == "audio":
        # 16 windows × (mean, std, min, max) over the waveform
        n = len(decoded)
        bounds = (np.arange(17) * n // 16)
        rows = []
        for i in range(16):
            seg = decoded[bounds[i]:max(bounds[i + 1], bounds[i] + 1)]
            rows.append([seg.mean(), seg.std(), seg.min(), seg.max()])
        return np.asarray(rows, dtype=np.float32)  # (16,4)
    # video: sample 4 frames evenly, 8×8 grayscale each
    frames = decoded
    idx = np.linspace(0, len(frames) - 1, 4).round().astype(int)
    planes = [_resize_mean(frames[i], 8, 8).mean(axis=2) for i in idx]
    return np.stack(planes).astype(np.float32)  # (4,8,8)


FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
    T.StructField("n_bytes", T.IntegerType(), False),
    T.StructField("content_sha1", T.StringType(), False),
    T.StructField("error", T.StringType(), True),
])


def extract_features(media: DataFrame,
                     decoders: dict | None = None) -> DataFrame:
    """mapInPandas feature extraction: decode (real byte parsing for
    uncompressed formats) → fixed-shape features + content hash. Narrow;
    the binary column never shuffles. Undecodable payloads yield a NULL
    feature with the reason in ``error`` (bad rows must not kill a 100 TB
    job). ``decoders`` is the compressed-codec swap-in seam (see
    ``_decode``) — the callables are captured in the closure and shipped
    to executors."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                payload = bytes(payload)
                sha = hashlib.sha1(payload).hexdigest()
                try:
                    feat = _features_for(payload, kind,
                                         decoders).ravel().tolist()
                    err = None
                except DecodeUnavailable as e:
                    feat, err = None, str(e)
                except (struct.error, ValueError, IndexError, EOFError,
                        OSError) as e:
                    # truncated/malformed payloads (bad headers, lying
                    # lengths) must not kill the task at 100 TB — surface
                    # them like unavailable codecs
                    feat, err = None, f"corrupt payload: {type(e).__name__}: {e}"
                rows.append((int(mid), kind, feat, len(payload), sha, err))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in FEATURE_SCHEMA])

    return media.select("media_id", "kind", "payload") \
        .mapInPandas(gen, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts).
    Timestamp fan-out is pure JVM (sequence+explode); per-frame decode
    happens in the feature UDF."""
    vids = media.where(F.col("kind") == "video")
    return vids.select(
        "media_id",
        F.explode(F.sequence(
            F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)),
            F.lit(every_ms))).alias("frame_ts_ms"),
    )


def synthetic_media_df(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic media table with REAL payloads: BMP images, PCM WAV
    audio, RVID raw-video streams — decodable by the real parsers above
    (content seeded per id, so features are content-sensitive)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        rng = np.random.RandomState(seed * 100003 + i)
        kind = kinds[i % 3]
        if kind == "image":
            px = rng.randint(0, 256, size=(16 + i % 8, 16 + i % 5, 3),
                             dtype=np.uint8)  # noqa: E501
            payload = encode_bmp(px.astype(np.uint8))
            w_, h_, dur = px.shape[1], px.shape[0], None
        elif kind == "audio":
            t = np.arange(800 + 16 * (i % 9)) / 8000.0
            sig = 0.5 * np.sin(2 * np.pi * (220 + 11 * i) * t) \
                + 0.1 * rng.randn(len(t))
            payload = encode_wav(sig)
            w_, h_, dur = None, None, int(1000 * len(t) / 8000)
        else:
            frames = [rng.randint(0, 256, size=(12, 12, 3)).astype(np.uint8)
                      for _ in range(5 + i % 4)]
            payload = encode_rvid(frames)
            w_, h_, dur = 12, 12, (5 + i % 4) * 40
        rows.append((i, kind, f"application/x-{kind}", payload,
                     w_, h_, dur))
    return local_frame(spark, rows, MEDIA_SCHEMA)
