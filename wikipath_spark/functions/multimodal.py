"""Multimodal columns: opaque binary payloads + typed metadata + REAL decode
for the library-free container formats.

Images/audio/video ride as ``binary`` columns with a typed metadata struct;
the Spark-side plumbing (schema, batching, partition sizing, Arrow transfer)
is shared by every decoder.  Three decoders:

- ``"real"``: actual byte-level decoding of three public pure-struct
  container formats that need no codec library — WAV (RIFF little-endian
  PCM16), BMP (uncompressed 24-bit BITMAPINFOHEADER), and Y4M (YUV4MPEG2
  4:2:0).  Parsing is numpy/struct only.  Rows that fail to parse NEVER fail
  the scan (P5 tolerance, parse.rs:489-493): they come back with
  ``decode_ok = false`` and null media fields.
- ``"fake"``: deterministic pseudo-decode from payload bytes — exercises the
  identical plumbing for payloads in formats this container cannot decode
  (JPEG/MP3/MP4 want PIL/librosa/ffmpeg).
- anything else raises.

``mapInPandas`` (not a scalar UDF) because media decode wants batch
amortization and per-batch state; batch shape is controlled by
``spark.sql.execution.arrow.maxRecordsPerBatch``.

``synthetic_media`` generates REAL WAV/BMP/Y4M bytes (sine tones, gradient
bitmaps, moving-gradient clips — pure index arithmetic, no RNG) so decode,
resize, and frame-sampling run end-to-end on genuine payloads in tests and
benchmarks.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, payload binary, kind string, declared_width int, declared_height int"
)
FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, content_sha256 string, "
    "width int, height int, sample_rate int, n_frames long, mean_value double, "
    "decode_ok boolean, feature_hash long"
)


# ---------------------------------------------------------------- encoders
# (deterministic REAL container bytes for the synthetic media table)


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Mono PCM16 RIFF/WAVE bytes from an int16 sample array."""
    data = samples.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Uncompressed 24-bit BMP from an (h, w, 3) uint8 RGB array
    (bottom-up rows, BGR byte order, 4-byte row padding — the format)."""
    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) // 4 * 4
    img_size = row_size * h
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info_hdr = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = []
    pad = b"\x00" * (row_size - w * 3)
    bgr = pixels[:, :, ::-1]
    for y in range(h - 1, -1, -1):  # bottom-up
        rows.append(bgr[y].tobytes() + pad)
    return file_hdr + info_hdr + b"".join(rows)


def encode_y4m(frames: np.ndarray) -> bytes:
    """YUV4MPEG2 4:2:0 clip from an (n, h, w) uint8 luma array (chroma
    planes filled with 128 = grey)."""
    n, h, w = frames.shape
    out = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode()]
    chroma = np.full((h // 2) * (w // 2), 128, dtype=np.uint8).tobytes()
    for i in range(n):
        out.append(b"FRAME\n")
        out.append(frames[i].tobytes() + chroma + chroma)
    return b"".join(out)


# ---------------------------------------------------------------- decoders


def decode_wav(payload: bytes) -> dict | None:
    """RIFF/WAVE PCM16 → (sample_rate, n_samples, mean |amplitude|)."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, rate, channels, samples = 12, None, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and size >= 16:
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1 or bits != 16:
                return None
        elif cid == b"data":
            samples = np.frombuffer(body[: len(body) // 2 * 2], dtype="<i2")
        pos += 8 + size + (size & 1)
    if rate is None or samples is None or channels in (None, 0):
        return None
    n = len(samples) // channels
    return {
        "sample_rate": int(rate),
        "n_frames": int(n),
        "mean_value": float(np.abs(samples.astype(np.float64)).mean()) if n else 0.0,
        "width": None,
        "height": None,
    }


def decode_bmp(payload: bytes) -> dict | None:
    """Uncompressed 24-bit BMP → (width, height, mean RGB value) with the
    actual pixel array decoded (bottom-up rows, BGR, row padding)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    offset = struct.unpack("<I", payload[10:14])[0]
    hdr_size, w, h = struct.unpack("<Iii", payload[14:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    compression = struct.unpack("<I", payload[30:34])[0]
    if hdr_size < 40 or bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    bottom_up, h = h > 0, abs(h)
    row_size = (w * 3 + 3) // 4 * 4
    if offset + row_size * h > len(payload):
        return None
    raw = np.frombuffer(payload, dtype=np.uint8, count=row_size * h, offset=offset)
    rows = raw.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    pixels = rows[::-1, :, ::-1] if bottom_up else rows[:, :, ::-1]  # → top-down RGB
    return {
        "width": int(w),
        "height": int(h),
        "mean_value": float(pixels.astype(np.float64).mean()),
        "sample_rate": None,
        "n_frames": None,
        "pixels": pixels,
    }


def decode_y4m_probe(payload: bytes) -> dict | None:
    """YUV4MPEG2 → (width, height, frame count, mean luma of first frame).
    A probe, not a full decode — frame extraction is :func:`frame_sample`."""
    if not payload.startswith(b"YUV4MPEG2"):
        return None
    nl = payload.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    for tok in payload[10:nl].split(b" "):
        if tok.startswith(b"W"):
            w = int(tok[1:])
        elif tok.startswith(b"H"):
            h = int(tok[1:])
    if not w or not h:
        return None
    frame_bytes = w * h + 2 * ((h // 2) * (w // 2))
    n_frames, pos, first_luma = 0, nl + 1, None
    while pos < len(payload):
        if not payload.startswith(b"FRAME", pos):
            return None
        fnl = payload.find(b"\n", pos)
        body = payload[fnl + 1 : fnl + 1 + frame_bytes]
        if len(body) < frame_bytes:
            return None
        if first_luma is None:
            first_luma = np.frombuffer(body[: w * h], dtype=np.uint8)
        n_frames += 1
        pos = fnl + 1 + frame_bytes
    return {
        "width": int(w),
        "height": int(h),
        "n_frames": int(n_frames),
        "mean_value": float(first_luma.astype(np.float64).mean()) if n_frames else 0.0,
        "sample_rate": None,
    }


_DECODERS = {"audio": decode_wav, "image": decode_bmp, "video": decode_y4m_probe}


# ------------------------------------------------------------ feature UDFs


def _row_features(media_id, payload, kind, real: bool, dw=None, dh=None) -> dict:
    b = bytes(payload)
    sha = hashlib.sha256(b).hexdigest()
    out = {
        "media_id": media_id,
        "kind": kind,
        "n_bytes": len(b),
        "content_sha256": sha,
        "width": dw,
        "height": dh,
        "sample_rate": None,
        "n_frames": None,
        "mean_value": None,
        "decode_ok": False,
        "feature_hash": int(sha[:15], 16),
    }
    if real:
        dec = _DECODERS.get(kind)
        parsed = dec(b) if dec else None
        if parsed is not None:
            parsed.pop("pixels", None)
            out.update({k: v for k, v in parsed.items() if k in out})
            out["decode_ok"] = True
    else:
        out["decode_ok"] = True  # pseudo-decode always "succeeds"
    return out


def extract_media_features(media: DataFrame, decoder: str = "fake") -> DataFrame:
    """Arrow-batched feature extraction over the media table.

    ``decoder="real"`` parses WAV/BMP/Y4M payloads byte-for-byte; unparseable
    rows get ``decode_ok = false`` and null media fields (tolerant scan).
    ``decoder="fake"`` derives deterministic features from the raw bytes for
    formats outside the library-free set."""
    if decoder not in ("real", "fake"):
        raise ValueError(f"unknown decoder {decoder!r} (use 'real' or 'fake')")
    real = decoder == "real"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            rows = [
                _row_features(
                    r.media_id, r.payload, r.kind, real,
                    dw=None if real else r.declared_width,
                    dh=None if real else r.declared_height,
                )
                for r in batch.itertuples()
            ]
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


# ------------------------------------------------ real transforms (BMP/Y4M)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL nearest-neighbor resize for BMP image rows: decode the pixel
    array, resample with numpy index maps, re-encode BMP bytes.  Non-image
    and unparseable rows pass through unchanged."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            out = batch.copy()
            for i, r in enumerate(batch.itertuples()):
                if r.kind != "image":
                    continue
                parsed = decode_bmp(bytes(r.payload))
                if parsed is None:
                    continue
                px = parsed["pixels"]
                ys = (np.arange(height) * parsed["height"] // height).clip(0, parsed["height"] - 1)
                xs = (np.arange(width) * parsed["width"] // width).clip(0, parsed["width"] - 1)
                resized = px[ys][:, xs]
                out.iat[i, out.columns.get_loc("payload")] = encode_bmp(resized)
                out.iat[i, out.columns.get_loc("declared_width")] = width
                out.iat[i, out.columns.get_loc("declared_height")] = height
            yield out

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


FRAME_SCHEMA = "media_id long, kind string, frame_no int, frame_payload binary"


def frame_sample(media: DataFrame, every_n: int = 2, max_frames: int = 10) -> DataFrame:
    """REAL frame sampling for Y4M video rows: walks the FRAME markers and
    emits every ``every_n``-th luma plane as ``frame_payload``.  Non-video
    and unparseable rows emit a single frame_no=0 row with a 64-byte payload
    prefix (the generic-binary fallback)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for r in batch.itertuples():
                b = bytes(r.payload)
                probe = decode_y4m_probe(b) if r.kind == "video" else None
                if probe is None:
                    rows.append((r.media_id, r.kind, 0, b[:64]))
                    continue
                w, h = probe["width"], probe["height"]
                frame_bytes = w * h + 2 * ((h // 2) * (w // 2))
                pos, idx, taken = b.find(b"\n") + 1, 0, 0
                while pos < len(b) and taken < max_frames:
                    fnl = b.find(b"\n", pos)
                    if idx % every_n == 0:
                        rows.append((r.media_id, r.kind, idx, b[fnl + 1 : fnl + 1 + w * h]))
                        taken += 1
                    idx += 1
                    pos = fnl + 1 + frame_bytes
            if rows:
                yield pd.DataFrame(rows, columns=["media_id", "kind", "frame_no", "frame_payload"])

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


# -------------------------------------------------------------- generators


def _gen_media_rows(ids: np.ndarray) -> pd.DataFrame:
    rows = []
    for mid in ids:
        mid = int(mid)
        kind = ("image", "audio", "video")[mid % 3]
        if kind == "audio":
            n, rate = 2000 + (mid % 5) * 500, 8000
            t = np.arange(n, dtype=np.float64)
            freq = 110.0 * (1 + mid % 8)
            samples = (10000 * np.sin(2 * np.pi * freq * t / rate)).astype(np.int16)
            payload, w, h = encode_wav(samples, rate), None, None
        elif kind == "image":
            w, h = 8 + mid % 9, 6 + mid % 7
            yy, xx = np.mgrid[0:h, 0:w]
            px = np.stack(
                [(xx * 255 // max(w - 1, 1)), (yy * 255 // max(h - 1, 1)),
                 np.full((h, w), mid % 256)], axis=-1
            ).astype(np.uint8)
            payload = encode_bmp(px)
        else:
            w, h, nf = 8 + mid % 5 * 2, 6 + mid % 3 * 2, 3 + mid % 4
            f, yy, xx = np.mgrid[0:nf, 0:h, 0:w]
            frames = ((xx * 17 + yy * 31 + f * 53 + mid) % 256).astype(np.uint8)
            payload = encode_y4m(frames)
        rows.append((mid, payload, kind, w, h))
    return pd.DataFrame(
        rows, columns=["media_id", "payload", "kind", "declared_width", "declared_height"]
    )


def synthetic_media(spark: SparkSession, n: int = 300, partitions: int | None = None) -> DataFrame:
    """Deterministic media table with REAL WAV/BMP/Y4M payload bytes —
    distributed generation (mapInPandas over spark.range), no RNG."""
    parts = partitions or max(2, n // 10_000)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _gen_media_rows(b["id"].to_numpy())

    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, schema=MEDIA_SCHEMA)


def documents_as_media(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Wrap a text table as a media table (payload = utf-8 bytes) — the
    generic-binary stand-in used by the driver oracle query (text payloads
    are not WAV/BMP/Y4M, so they exercise the ``fake`` pseudo-decode path)."""
    return documents.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        (F.when(F.col(id_col) % 3 == 0, "image").when(F.col(id_col) % 3 == 1, "audio").otherwise("video")).alias("kind"),
        (F.col(id_col) % 640 + 1).cast("int").alias("declared_width"),
        (F.col(id_col) % 480 + 1).cast("int").alias("declared_height"),
    )
