"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed by Arrow-batched mapInPandas stages.

The decode step is REAL for codec-free container formats — pure-numpy
decoders for PPM (P6), BMP (24-bit uncompressed) and WAV (PCM16) live here,
and ``synthetic_media`` emits valid PPM payloads, so the default
``extract_features`` path decodes actual pixels end to end. Formats that
need codec libraries absent from this container (JPEG/PNG/...) raise
``NotImplementedError`` at the sniffing boundary; ``fake=True`` substitutes
the deterministic fake decoder for such payloads (shape-correct, seeded
from the bytes), keeping the Spark-side plumbing testable for any input.

Reference analog: the typed binary register decoders at reference
lib/__init__.py:30-101 (byte payload -> typed value) — here the payload is
a media container instead of a modbus register bank.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

# ---------------------------------------------------------------------------
# Pure-numpy codecs (no external libraries)
# ---------------------------------------------------------------------------

def encode_ppm(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> binary PPM (P6, maxval 255)."""
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("PPM P6 requires 3 channels")
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        arr, dtype=np.uint8
    ).tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    """Binary PPM (P6) -> (h, w, 3) uint8. Header = 'P6', width, height,
    maxval as whitespace-separated ASCII tokens ('#' comment lines allowed),
    then ONE whitespace byte, then w*h*3 raw RGB bytes."""
    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":  # comment to end of line
            while i < len(data) and data[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        tokens.append(int(data[i:j]))
        i = j
    i += 1  # exactly one whitespace byte separates the header from pixels
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    px = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=i)
    return px.reshape(h, w, 3)


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit uncompressed BMP (bottom-up, BGR,
    4-byte padded rows)."""
    h, w, _ = arr.shape
    row = w * 3
    stride = (row + 3) // 4 * 4
    img_size = stride * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, :row] = arr[::-1, :, ::-1].astype(np.uint8).reshape(h, row)
    return header + info + body.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    """24-bit uncompressed BMP -> (h, w, 3) uint8 RGB (handles top-down
    negative-height images too)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", data, 10)[0]
    _, w, h, _, bpp = struct.unpack_from("<IiiHH", data, 14)
    comp = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only 24-bit BI_RGB BMP (got bpp={bpp}, comp={comp})")
    bottom_up = h > 0
    h = abs(h)
    row = w * 3
    stride = (row + 3) // 4 * 4
    buf = np.frombuffer(data, np.uint8, count=stride * h, offset=off)
    px = buf.reshape(h, stride)[:, :row].reshape(h, w, 3)
    if bottom_up:
        px = px[::-1]
    return px[:, :, ::-1].copy()  # BGR -> RGB


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """float samples in [-1, 1] (shape (n,) mono or (n, ch)) -> RIFF/WAV
    PCM16."""
    s = np.atleast_2d(np.asarray(samples, dtype=np.float64))
    if s.shape[0] == 1 and samples.ndim == 1:
        s = s.T
    n, ch = s.shape
    pcm = (np.clip(s, -1.0, 1.0) * 32767.0).round().astype("<i2").tobytes()
    block = ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * block, block, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAV PCM16 -> (float64 samples in [-1, 1] shape (n, ch), rate).
    Walks RIFF chunks, so extra chunks (LIST/fact/...) are skipped."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, ch, rate, bits, pcm = 12, None, None, None, None
    while i + 8 <= len(data):
        cid, size = data[i : i + 4], struct.unpack_from("<I", data, i + 4)[0]
        body = data[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            audio_fmt, ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if audio_fmt != 1 or bits != 16:
                raise NotImplementedError(
                    f"only PCM16 WAV (got fmt={audio_fmt}, bits={bits})"
                )
        elif cid == b"data":
            pcm = body
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if pcm is None or ch is None:
        raise ValueError("WAV missing fmt/data chunk")
    s = np.frombuffer(pcm, dtype="<i2").astype(np.float64) / 32767.0
    return s.reshape(-1, ch), rate


# ---------------------------------------------------------------------------
# Decode dispatch
# ---------------------------------------------------------------------------

def decode_image(
    payload: bytes, width: int | None = None, height: int | None = None,
    fake: bool = False,
) -> np.ndarray:
    """Sniff the container magic and decode to (h, w, 3) uint8. PPM and BMP
    decode for real (pure numpy); other formats need codec libraries absent
    from this container — they raise NotImplementedError unless ``fake=True``
    substitutes the deterministic fake decoder (seeded from the bytes;
    requires width/height)."""
    payload = bytes(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if not fake:
        raise NotImplementedError(
            "no in-container codec for this payload (PPM/BMP decode is real; "
            "JPEG/PNG need external libraries) — pass fake=True to substitute "
            "the deterministic fake decoder"
        )
    if width is None or height is None:
        raise ValueError("fake decode requires width/height")
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big") % (2**31)
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)


# ---------------------------------------------------------------------------
# Synthetic source (generation is Spark expressions only -> oracle-portable)
# ---------------------------------------------------------------------------

def synthetic_media(spark, n: int = 64, seed: int = 5) -> DataFrame:
    """Deterministic media rows whose payloads are VALID binary PPM images:
    'P6\\n{w} {h}\\n255\\n' + the first w*h*3 bytes of the repeated sha256
    hex digest (hex chars are legal pixel bytes). Every column — including
    the payload bytes — derives from portable hash primitives (md5 family in
    functions/hashing.py, sha256) that DuckDB can recompute exactly, which
    is what lets the q38 gate value-check this pipeline end to end. The
    'video' kind's payload is its poster frame; real audio bytes are covered
    by the WAV codec round-trip tests (WAV headers carry little-endian
    binary length fields no portable SQL can synthesize)."""
    from timeseries_harmonizer_spark.functions.hashing import md5_lower64_masked

    sid = F.col("media_id").cast("string")
    h = lambda tag: md5_lower64_masked(F.concat(F.lit(f"{tag}{seed}:"), sid))
    base = spark.range(n).select(
        F.col("id").alias("media_id"),
    ).select(
        "media_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(h("k"), 3) + 1).cast("int"),
        ).alias("kind"),
        (F.pmod(h("w"), 64) + 16).cast("int").alias("width"),
        (F.pmod(h("h"), 64) + 16).cast("int").alias("height"),
        (F.pmod(h("d"), 300) / 10.0).alias("duration_s"),
        F.sha2(F.concat(F.lit("m"), sid), 256).alias("__hex"),
    )
    return base.withColumn(
        "payload",
        F.encode(
            F.concat(
                F.lit("P6\n"),
                F.col("width").cast("string"),
                F.lit(" "),
                F.col("height").cast("string"),
                F.lit("\n255\n"),
                F.expr(
                    "substring(repeat(__hex, CAST(ceil(width * height * 3 / 64.0)"
                    " AS INT)), 1, width * height * 3)"
                ),
            ),
            "UTF-8",
        ),
    ).drop("__hex")


def extract_features(
    media: DataFrame, fake_decode: bool = False, batch_hint: int = 1024
) -> DataFrame:
    """Decode -> feature-extract per batch: mean per channel (REAL pixel
    decode for PPM/BMP payloads) + a byte histogram entropy sketch of the
    raw payload. Vectorized inside each Arrow batch; output schema is fixed
    and typed. ``fake_decode=True`` only changes what happens to payloads
    with no in-container codec (see decode_image)."""
    out_schema = (
        "media_id long, kind string, mean_r double, mean_g double, mean_b double, "
        "byte_entropy double"
    )

    def fn(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    columns=["media_id", "kind", "mean_r", "mean_g", "mean_b", "byte_entropy"]
                )
                continue
            payloads = [bytes(p) for p in pdf["payload"]]
            # byte entropy, vectorized across the whole batch: one flat
            # buffer, per-item segment ids, a single 2-D bincount
            lens = np.array([len(p) for p in payloads], dtype=np.int64)
            flat = np.frombuffer(b"".join(payloads), dtype=np.uint8).astype(np.int64)
            seg = np.repeat(np.arange(n, dtype=np.int64), lens)
            counts = np.bincount(seg * 256 + flat, minlength=n * 256).reshape(n, 256)
            probs = counts / np.clip(counts.sum(axis=1, keepdims=True), 1, None)
            with np.errstate(divide="ignore", invalid="ignore"):
                ent = -np.where(probs > 0, probs * np.log2(np.where(probs > 0, probs, 1.0)), 0.0).sum(axis=1)
            # decode is the codec boundary — one decode call per item (as a
            # real image decoder would be); the per-channel means reduce each
            # decoded array in numpy
            means = np.stack(
                [
                    decode_image(p, w, h, fake=fake_decode)
                    .reshape(-1, 3)
                    .mean(axis=0)
                    for p, w, h in zip(payloads, pdf["width"], pdf["height"])
                ]
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "mean_r": means[:, 0],
                    "mean_g": means[:, 1],
                    "mean_b": means[:, 2],
                    "byte_entropy": np.round(ent, 6),
                }
            )

    return media.mapInPandas(fn, out_schema)
