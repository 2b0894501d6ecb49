"""Multimodal (image/audio/video) columns: opaque ``binary`` payloads with a
typed metadata struct, decoded/feature-extracted via ``mapInPandas``
(Arrow-batched; never per-row Python).

Codec layer (no external media libraries needed):

- **PPM (P6)** and **BMP (24-bit uncompressed)** images and **WAV (PCM)**
  audio are decoded by REAL pure-Python parsers of the published formats —
  exercised end to end in this container and golden-tested against an
  independent reimplementation (tools/gen_media_golden.py, ``media_decode``
  / ``media_audio`` driver queries).
- **AVI (RIFF container, uncompressed 24-bit DIB frames)** video is decoded
  by a real pure-Python parser of the published RIFF/AVI layout (the WAV
  parser's sibling): frame sampling + per-frame intensity via
  :func:`decode_video`, golden-tested against an independent parser
  (``media_video`` driver query).
- PIL, when importable, extends :func:`decode_image` to compressed formats
  (JPEG/PNG/...).
- The 16-byte 'FAKE' synthetic header remains as the plumbing-test format.

Undecodable payloads raise by default (``on_undecodable='error'``) — silent
row drops are data loss; pass ``'skip'`` explicitly for lossy ingest.
"""

from __future__ import annotations

import importlib.util
import struct
from typing import Iterator


def _pil_available() -> bool:
    return importlib.util.find_spec("PIL") is not None

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ..sources.session import evict_zip_finders

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),       # image | audio | video
    StructField("mime", StringType()),
    StructField("data", BinaryType()),
    StructField("meta", StructType([
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ])),
])

_MAGIC = b"FAKE"


def make_fake_media(spark: SparkSession, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table matching MEDIA_SCHEMA."""
    rows = []
    for i in range(n):
        w = 8 + (i * 7 + seed) % 24
        h = 8 + (i * 13 + seed) % 24
        c = 1 + i % 3
        payload = _MAGIC + struct.pack("<III", w, h, c) + bytes(
            (i * 31 + j * 7 + seed) % 256 for j in range(w * h * c)
        )
        rows.append((i, "image", "image/fake", payload,
                     {"width": w, "height": h, "channels": c, "duration_ms": None}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


DECODED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("mean_intensity", FloatType()),
    StructField("features", ArrayType(FloatType())),
])

AUDIO_DECODED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("n_samples", IntegerType()),
    StructField("duration_ms", IntegerType()),
    StructField("rms", FloatType()),
])


# --- pure-Python codecs for uncompressed formats -----------------------------

def decode_ppm(data: bytes) -> tuple[int, int, int, np.ndarray] | None:
    """Binary PPM (P6, maxval 255): header tokens may be separated by any
    whitespace and '#' comments; pixel payload is w*h*3 raw bytes."""
    if data[:2] != b"P6":
        return None
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if i < len(data) and data[i] == ord("#"):
            while i < len(data) and data[i] != ord("\n"):
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        if j == i:
            return None
        tokens.append(int(data[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255 or w <= 0 or h <= 0:
        return None
    px = np.frombuffer(data[i : i + w * h * 3], dtype=np.uint8)
    if px.size != w * h * 3:
        return None
    return w, h, 3, px


def decode_bmp(data: bytes) -> tuple[int, int, int, np.ndarray] | None:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER): bottom-up BGR rows padded
    to 4 bytes; returned top-down as RGB."""
    if data[:2] != b"BM" or len(data) < 54:
        return None
    (offset,) = struct.unpack_from("<I", data, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", data, 14)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        return None
    if w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(data[offset : offset + stride * h], dtype=np.uint8)
    if raw.size != stride * h:
        return None
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return w, h, 3, np.ascontiguousarray(rows[:, :, ::-1]).ravel()  # BGR->RGB


def decode_wav_pcm(data: bytes) -> tuple[int, int, np.ndarray] | None:
    """RIFF/WAVE with PCM fmt (8- or 16-bit) -> (sample_rate, channels,
    int samples interleaved)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    i = 12
    fmt = None
    while i + 8 <= len(data):
        cid = data[i : i + 4]
        (size,) = struct.unpack_from("<I", data, i + 4)
        body = data[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:  # truncated fmt chunk: undecodable, not a crash
                return None
            audio_fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if audio_fmt != 1 or bits not in (8, 16) or channels < 1:
                return None
            fmt = (rate, channels, bits)
        elif cid == b"data":
            if fmt is None:
                return None
            rate, channels, bits = fmt
            dtype = np.uint8 if bits == 8 else np.dtype("<i2")
            usable = size - size % ((bits // 8) * channels)
            samples = np.frombuffer(body[:usable], dtype=dtype)
            return rate, channels, samples
        i += 8 + size + (size & 1)  # chunks are word-aligned
    return None


def _dib_frame_to_rgb(body: bytes, w: int, h: int) -> np.ndarray | None:
    """One uncompressed 24-bit DIB frame (bottom-up BGR, 4-byte-padded rows)
    -> flat top-down RGB uint8, or None on a short chunk."""
    stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(body[: stride * h], dtype=np.uint8)
    if raw.size != stride * h:
        return None
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[::-1]
    return np.ascontiguousarray(rows[:, :, ::-1]).ravel()  # BGR->RGB


def decode_avi(data: bytes) -> tuple[int, int, int, list[np.ndarray]] | None:
    """RIFF/AVI with uncompressed 24-bit DIB video frames ->
    ``(width, height, usec_per_frame, frames)`` (frames flat top-down RGB).

    Parses the published RIFF layout only (the WAV parser's sibling): the
    ``hdrl`` LIST's ``avih`` (frame timing + dimensions), the ``strh``
    stream headers (streams are numbered by strh order; the VIDEO stream is
    the one whose fccType is ``vids``, and its ``strf`` BITMAPINFOHEADER
    must be 24-bit uncompressed), then every ``{NN}db``/``{NN}dc`` chunk
    inside the ``movi`` LIST whose two-digit prefix NN matches the video
    stream's index — a multi-stream file (e.g. audio + video) decodes its
    video frames only. A video frame chunk appearing before ``avih`` is a
    malformed file (None), not a silent skip. Anything else -> None.
    """
    if data[:4] != b"RIFF" or len(data) < 12 or data[8:12] != b"AVI ":
        return None
    w = h = None
    usec = 0
    bpp_ok = False
    n_streams = 0          # strh chunks seen so far = next stream index
    vid_stream = None      # index of the 'vids' stream
    last_strh_vids = False  # does the pending strf belong to the video stream?
    frames: list[np.ndarray] = []

    def walk(lo: int, hi: int, in_movi: bool) -> bool:
        nonlocal w, h, usec, bpp_ok, n_streams, vid_stream, last_strh_vids
        i = lo
        while i + 8 <= hi:
            cid = data[i : i + 4]
            (size,) = struct.unpack_from("<I", data, i + 4)
            body_lo, body_hi = i + 8, min(i + 8 + size, hi)
            if cid == b"LIST":
                ltype = data[body_lo : body_lo + 4]
                if not walk(body_lo + 4, body_hi, in_movi or ltype == b"movi"):
                    return False
            elif cid == b"avih":
                if size < 40:
                    return False
                usec, _, _, _, _, _, _, _, aw, ah = struct.unpack_from(
                    "<10I", data, body_lo
                )
                w, h = aw, ah
            elif cid == b"strh":
                if size < 4:
                    return False
                if data[body_lo : body_lo + 4] == b"vids":
                    if vid_stream is not None:
                        return False  # two video streams: unsupported
                    vid_stream = n_streams
                    last_strh_vids = True
                else:
                    last_strh_vids = False
                n_streams += 1
            elif cid == b"strf":
                # only the VIDEO stream's format chunk gates bpp_ok; an
                # audio strf (fmt-like body) is ignored
                if last_strh_vids and size >= 40:
                    _, bw, bh, planes, bpp, comp = struct.unpack_from(
                        "<IiiHHI", data, body_lo
                    )
                    if bpp == 24 and comp == 0:
                        bpp_ok = True
                last_strh_vids = False
            elif in_movi and len(cid) == 4 and cid[2:] in (b"db", b"dc"):
                if vid_stream is None or cid[:2] != b"%02d" % vid_stream:
                    i += 8 + size + (size & 1)
                    continue  # another stream's payload (e.g. audio '01wb')
                if not (w and h):
                    return False  # video frame before avih: malformed
                frame = _dib_frame_to_rgb(data[body_lo:body_hi], w, h)
                if frame is None:
                    return False
                frames.append(frame)
            i += 8 + size + (size & 1)  # chunks are word-aligned
        return True

    if not walk(12, len(data), False):
        return None
    if not (w and h and bpp_ok and frames):
        return None
    return w, h, usec, frames


def decode_pixels(data: bytes, use_pil: bool = False) -> tuple[int, int, int, np.ndarray] | None:
    """(width, height, channels, flat uint8 pixels) or None.

    Codec chain: FAKE synthetic header -> PPM (P6) -> BMP (24-bit) ->
    optionally PIL for compressed formats.
    """
    if data[:4] == _MAGIC:
        w, h, c = struct.unpack("<III", data[4:16])
        return w, h, c, np.frombuffer(data[16:16 + w * h * c], dtype=np.uint8)
    decoded = decode_ppm(data) or decode_bmp(data)
    if decoded is not None:
        return decoded
    if use_pil:
        import io

        try:
            from PIL import Image
        except ImportError as exc:  # driver had PIL, executor doesn't
            raise RuntimeError(
                "PIL importable on the driver but not on executors — "
                "ship it via --py-files/conda env"
            ) from exc

        try:
            img = Image.open(io.BytesIO(data))
            arr = np.asarray(img)
        except Exception:
            return None
        c = 1 if arr.ndim == 2 else arr.shape[2]
        return img.width, img.height, c, arr.astype(np.uint8).ravel()
    return None


def decode_image(
    df: DataFrame,
    fake: bool = False,  # kept for API compatibility; FAKE is always handled
    feature_bins: int = 8,
    on_undecodable: str = "error",
) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow-batched).

    PPM/BMP/FAKE decode with the built-in pure-Python codecs on any executor;
    PIL (when importable) extends coverage to compressed formats. A payload
    no codec accepts raises (default) — silent row drops are data loss — or
    is skipped with ``on_undecodable='skip'``.
    """
    del fake
    if on_undecodable not in ("error", "skip"):
        raise ValueError("on_undecodable must be 'error' or 'skip'")
    use_pil = _pil_available()
    strict = on_undecodable == "error"

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        evict_zip_finders()
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                decoded = decode_pixels(bytes(data), use_pil)
                if decoded is None:
                    if strict:
                        raise ValueError(
                            f"media_id={mid}: no codec accepts this payload "
                            f"(head={bytes(data)[:8]!r}); pass "
                            "on_undecodable='skip' to drop such rows"
                        )
                    continue
                w, h, c, px = decoded
                hist = np.histogram(px, bins=feature_bins, range=(0, 256))[0]
                feats = (hist / max(px.size, 1)).astype(np.float32)
                out.append((mid, w, h, c, float(px.mean()) if px.size else 0.0,
                            feats.tolist()))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "channels",
                              "mean_intensity", "features"],
            )

    return df.select("media_id", "data").mapInPandas(_decode, DECODED_SCHEMA)


def decode_audio(df: DataFrame, on_undecodable: str = "error") -> DataFrame:
    """WAV/PCM decode + amplitude stats via mapInPandas (Arrow-batched)."""
    if on_undecodable not in ("error", "skip"):
        raise ValueError("on_undecodable must be 'error' or 'skip'")
    strict = on_undecodable == "error"

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        evict_zip_finders()
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                decoded = decode_wav_pcm(bytes(data))
                if decoded is None:
                    if strict:
                        raise ValueError(
                            f"media_id={mid}: not a PCM WAV payload "
                            f"(head={bytes(data)[:8]!r}); pass "
                            "on_undecodable='skip' to drop such rows"
                        )
                    continue
                rate, channels, samples = decoded
                n = samples.size // channels
                # int64 squares stay exact in float64 (|s| <= 32768, n bounded
                # by payload size), so rms is engine-independent
                sq = samples.astype(np.int64)
                rms = float(np.sqrt(float((sq * sq).sum()) / max(samples.size, 1)))
                out.append((mid, rate, channels, n,
                            int(n * 1000 // max(rate, 1)), rms))
            yield pd.DataFrame(
                out, columns=["media_id", "sample_rate", "channels",
                              "n_samples", "duration_ms", "rms"],
            )

    return df.select("media_id", "data").mapInPandas(_decode, AUDIO_DECODED_SCHEMA)


VIDEO_DECODED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("duration_ms", IntegerType()),
    StructField("mean_intensity", FloatType()),
])


def decode_video(
    df: DataFrame, frame_stride: int = 2, on_undecodable: str = "error"
) -> DataFrame:
    """AVI decode + frame sampling via mapInPandas (Arrow-batched).

    Emits one row per SAMPLED frame (every ``frame_stride``-th, always
    including frame 0) with per-frame mean intensity plus the container's
    frame count and duration — the classic video feature-extraction shape
    (decode -> sample -> per-frame features) with the heavy pixel payload
    never leaving the executor.
    """
    if on_undecodable not in ("error", "skip"):
        raise ValueError("on_undecodable must be 'error' or 'skip'")
    if frame_stride < 1:
        raise ValueError("frame_stride must be >= 1")
    strict = on_undecodable == "error"

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        evict_zip_finders()
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                decoded = decode_avi(bytes(data))
                if decoded is None:
                    if strict:
                        raise ValueError(
                            f"media_id={mid}: not an uncompressed-DIB AVI "
                            f"payload (head={bytes(data)[:8]!r}); pass "
                            "on_undecodable='skip' to drop such rows"
                        )
                    continue
                w, h, usec, frames = decoded
                n = len(frames)
                dur_ms = int(n * usec // 1000)
                for fi in range(0, n, frame_stride):
                    px = frames[fi]
                    out.append((mid, fi, n, w, h, dur_ms,
                                float(px.mean()) if px.size else 0.0))
            yield pd.DataFrame(
                out, columns=["media_id", "frame_idx", "n_frames", "width",
                              "height", "duration_ms", "mean_intensity"],
            )

    return df.select("media_id", "data").mapInPandas(_decode, VIDEO_DECODED_SCHEMA)


# --- encoders (synth + resize output) ----------------------------------------

def encode_ppm(w: int, h: int, px: np.ndarray) -> bytes:
    return b"P6\n%d %d\n255\n" % (w, h) + px.astype(np.uint8).tobytes()


def encode_bmp(w: int, h: int, px: np.ndarray) -> bytes:
    """24-bit uncompressed BMP from top-down RGB flat pixels."""
    stride = (w * 3 + 3) & ~3
    img = px.astype(np.uint8).reshape(h, w, 3)[:, :, ::-1]  # RGB->BGR
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img.reshape(h, w * 3)
    body = rows[::-1].tobytes()  # bottom-up
    header = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


def encode_wav(rate: int, channels: int, samples: np.ndarray) -> bytes:
    """PCM 16-bit WAV from interleaved int16 samples."""
    body = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )


def encode_avi(w: int, h: int, fps: int, frames: list[np.ndarray]) -> bytes:
    """RIFF/AVI container with uncompressed 24-bit DIB '00db' frames from
    flat top-down RGB arrays (the write side of :func:`decode_avi`)."""
    stride = (w * 3 + 3) & ~3
    frame_size = stride * h

    def dib(px: np.ndarray) -> bytes:
        img = px.astype(np.uint8).reshape(h, w, 3)[:, :, ::-1]  # RGB->BGR
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = img.reshape(h, w * 3)
        return rows[::-1].tobytes()  # bottom-up

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def list_chunk(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<10I16x", 1_000_000 // fps, frame_size * fps, 0, 0,
        len(frames), 0, 1, frame_size, w, h,
    )
    strh = (
        b"vids" + b"DIB "
        + struct.pack("<IHHIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(frames), frame_size, 0)
        + struct.pack("<I4H", 0, 0, 0, w, h)  # dwSampleSize + rcFrame
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0)
    hdrl = list_chunk(
        b"hdrl", chunk(b"avih", avih)
        + list_chunk(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    )
    movi = list_chunk(b"movi", b"".join(chunk(b"00db", dib(px)) for px in frames))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def synth_video_rows(n: int = 20, seed: int = 7) -> list[tuple]:
    """Deterministic REAL AVI video rows, pure Python — the golden generator
    builds the identical bytes without Spark. Matches MEDIA_SCHEMA."""
    rows = []
    for i in range(n):
        w = 6 + (i * 5 + seed) % 10
        h = 4 + (i * 3 + seed) % 8
        n_frames = 3 + i % 5
        fps = 10
        frames = [
            np.array(
                [(i * 37 + f * 11 + j * 7 + seed) % 256 for j in range(w * h * 3)],
                dtype=np.uint8,
            )
            for f in range(n_frames)
        ]
        rows.append((i, "video", "video/x-msvideo", encode_avi(w, h, fps, frames),
                     {"width": w, "height": h, "channels": 3,
                      "duration_ms": n_frames * 1000 // fps}))
    return rows


def make_real_video(spark: SparkSession, n: int = 20, seed: int = 7) -> DataFrame:
    return spark.createDataFrame(synth_video_rows(n, seed), MEDIA_SCHEMA)


def synth_media_rows(n: int = 60, seed: int = 7) -> list[tuple]:
    """Deterministic REAL-format media rows (PPM / BMP / WAV round-robin),
    pure Python — the golden generator builds the identical bytes without
    Spark. Matches MEDIA_SCHEMA."""
    rows = []
    for i in range(n):
        kind = i % 3
        if kind < 2:
            w = 5 + (i * 7 + seed) % 12
            h = 4 + (i * 11 + seed) % 10
            px = np.array(
                [(i * 31 + j * 7 + seed) % 256 for j in range(w * h * 3)],
                dtype=np.uint8,
            )
            data = encode_ppm(w, h, px) if kind == 0 else encode_bmp(w, h, px)
            rows.append((i, "image", "image/x-portable-pixmap" if kind == 0 else "image/bmp",
                         data, {"width": w, "height": h, "channels": 3, "duration_ms": None}))
        else:
            rate = 8000
            ns = 64 + (i % 32) * 8
            samples = np.array(
                [((i * 131 + j * 17 + seed) % 4001) - 2000 for j in range(ns)],
                dtype=np.int16,
            )
            rows.append((i, "audio", "audio/wav", encode_wav(rate, 1, samples),
                         {"width": None, "height": None, "channels": 1,
                          "duration_ms": ns * 1000 // rate}))
    return rows


def make_real_media(spark: SparkSession, n: int = 60, seed: int = 7) -> DataFrame:
    return spark.createDataFrame(synth_media_rows(n, seed), MEDIA_SCHEMA)


def resize_image(
    df: DataFrame, target: tuple[int, int], on_undecodable: str = "error"
) -> DataFrame:
    """Real nearest-neighbor resize via mapInPandas (no external libs).

    Decodes with the same codec chain as :func:`decode_image`, resamples by
    integer index mapping, re-encodes: FAKE stays FAKE, anything 3-channel
    becomes PPM (the canonical uncompressed output), other channel counts
    stay FAKE-framed.
    """
    if on_undecodable not in ("error", "skip"):
        raise ValueError("on_undecodable must be 'error' or 'skip'")
    strict = on_undecodable == "error"
    use_pil = _pil_available()
    tw, th = target

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        evict_zip_finders()
        for pdf in batches:
            keep = []
            datas = []
            metas = []
            for k, (data, mid) in enumerate(zip(pdf["data"], pdf["media_id"])):
                raw = bytes(data)
                decoded = decode_pixels(raw, use_pil)
                if decoded is None:
                    if strict:
                        raise ValueError(
                            f"media_id={mid}: no codec accepts this payload; "
                            "pass on_undecodable='skip' to drop such rows"
                        )
                    continue
                w, h, c, px = decoded
                grid = px.reshape(h, w, c)
                yi = (np.arange(th) * h) // th
                xi = (np.arange(tw) * w) // tw
                out = grid[yi][:, xi].ravel()
                if raw[:4] == _MAGIC or c != 3:
                    new = _MAGIC + struct.pack("<III", tw, th, c) + out.tobytes()
                else:
                    new = encode_ppm(tw, th, out)
                keep.append(k)
                datas.append(new)
                metas.append({"width": tw, "height": th, "channels": c,
                              "duration_ms": None})
            pdf = pdf.iloc[keep].assign(data=datas, meta=metas)
            yield pdf

    return df.mapInPandas(_resize, df.schema)
