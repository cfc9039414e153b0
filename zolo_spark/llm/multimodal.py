"""Multimodal columns: opaque binary media + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` operators so media bytes never round-trip
through Python row-by-row.

Codecs: PNG (grayscale 8-bit) is implemented for real in pure
Python/stdlib — :func:`png_encode` / :func:`png_decode` speak the
actual PNG container (signature, CRC-checked chunks, zlib-inflated
IDAT, all five scanline filters) — as is baseline JPEG (ITU T.81
grayscale: DCT, quantization, canonical Huffman, JFIF markers;
:func:`jpeg_encode` / :func:`jpeg_decode`), covering the lossy-codec
shape, GIF89a (palette + variable-width LZW, interlacing;
:func:`gif_encode` / :func:`gif_decode`), and PCM16 WAV.
``mode='real'`` genuinely decodes pixels.
Video/ffmpeg-class formats still stub at the same seam:
``mode='fake'`` produces deterministic md5-derived pseudo features
(schema/batching/partitioning fully exercised) and the ffmpeg-class
codecs raise ``NotImplementedError`` where they'd plug in.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..ops.partitioning import fan_out

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("content", T.BinaryType(), True),
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]), True),
])

FEATURES_SCHEMA = (
    "media_id long, mime string, n_bytes int, sha string, "
    "feat array<float>"
)
N_FEATURES = 8


def synthetic_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic media table: content is a GENUINE grayscale PNG
    (seeded pixels) so both the fake feature path and the real decode
    path run against it."""
    rows = []
    for i in range(n):
        w, h = 32 + i % 8, 32 + i % 4
        j = np.arange(w * h, dtype=np.int64)
        px = ((i * 11 + j * 5) % 256).astype(np.uint8).reshape(h, w)
        rows.append((
            i, bytearray(png_encode(px)), ("image/png", w, h, None),
        ))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _fake_decode(content: bytes) -> np.ndarray:
    """Deterministic pseudo-decode: md5-chain over the bytes →
    N_FEATURES floats in [0,1). Stands in for a real pixel decode."""
    h = hashlib.md5(content).digest()
    vals = []
    for i in range(N_FEATURES):
        h = hashlib.md5(h + bytes([i])).digest()
        vals.append(int.from_bytes(h[:4], "big") / 2**32)
    return np.array(vals, dtype=np.float32)


def extract_features(media: DataFrame, mode: str = "fake") -> DataFrame:
    """Decode + feature-extract via ``mapInPandas`` (Arrow batches).

    The per-batch kernel is where a real implementation calls
    PIL/torchvision/ffmpeg; batch shape, schema, and null handling
    are identical for the real path.
    """
    if mode not in ("fake", "real"):
        raise ValueError(mode)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, shas, sizes = [], [], []
            for content, meta in zip(pdf["content"], pdf["meta"]):
                b = bytes(content) if content is not None else b""
                sizes.append(len(b))
                if mode == "fake":
                    shas.append(hashlib.sha1(b).hexdigest())
                    feats.append(_fake_decode(b).tolist())
                    continue
                # real path: PNG and baseline JPEG decode for real
                # (pure numpy/stdlib); ffmpeg-class formats still stub
                # at this seam
                mime = meta["mime"] if meta is not None else None
                if mime == "image/png":
                    img = png_decode(b)
                elif mime == "image/jpeg":
                    d = jpeg_decode(b)
                    img = {"width": d["width"], "height": d["height"],
                           "bit_depth": 8, "pixels": d["pixels"]}
                elif mime == "image/gif":
                    d = gif_decode(b)
                    img = {"width": d["width"], "height": d["height"],
                           "bit_depth": 8, "pixels": d["pixels"]}
                else:
                    raise NotImplementedError(
                        f"codec for {mime!r} unavailable in this "
                        "environment; plug PIL/ffmpeg decode here"
                    )
                p = img["pixels"].reshape(-1).astype(np.int64)
                shas.append(hashlib.sha1(p.tobytes()).hexdigest())
                feats.append(np.array([
                    img["width"], img["height"], img["bit_depth"],
                    p.size, p.mean(), p.min(), p.max(),
                    int((np.arange(p.size) * p).sum()) % 9973,
                ], dtype=np.float32).tolist())
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "mime": pdf["meta"].map(
                    lambda m: m["mime"] if m is not None else None
                ),
                "n_bytes": pd.Series(sizes, dtype="int32"),
                "sha": shas,
                "feat": feats,
            })

    return media.mapInPandas(kernel, schema=FEATURES_SCHEMA)


# ------------------------------------------------------------ PNG codec
#
# Pure-stdlib grayscale 8-bit PNG (RFC 2083). The encoder cycles
# through all five scanline filter types so round-trip tests exercise
# every defilter path; the decoder is a strict real decoder: signature
# + per-chunk CRC32 verification, IHDR parse, multi-IDAT zlib inflate,
# full None/Sub/Up/Average/Paeth reconstruction.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray) -> bytes:
    """Encode an (H, W) uint8 array as a grayscale 8-bit PNG.

    Scanline ``r`` uses filter type ``r % 5`` — deliberately cycling
    None/Sub/Up/Average/Paeth so any consumer must implement the whole
    filter spec (and our round-trip tests prove the decoder does)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError("png_encode expects an (H, W) grayscale array")
    h, w = px.shape
    # All five filters computed for the WHOLE image in ~a dozen numpy
    # ops, then each scanline picks its r % 5 variant: the per-row
    # numpy loop cost ~10 tiny-array ops per scanline, which dominated
    # wall time on the kilobyte-sized gate images (filter math itself
    # is exact int32 either way, so the emitted bytes are identical).
    rows = px.astype(np.int32)
    left = np.zeros_like(rows)
    left[:, 1:] = rows[:, :-1]
    prior = np.zeros_like(rows)
    prior[1:] = rows[:-1]
    ul = np.zeros_like(rows)
    ul[1:, 1:] = rows[:-1, :-1]
    variants = (rows, rows - left, rows - prior,
                rows - (left + prior) // 2, rows - _paeth(left, prior, ul))
    ftypes = np.arange(h, dtype=np.int64) % 5
    filtered = np.empty((h, w), dtype=np.int32)
    for t in range(5):
        sel = ftypes == t
        if sel.any():
            filtered[sel] = variants[t][sel]
    lines = np.empty((h, w + 1), dtype=np.uint8)
    lines[:, 0] = ftypes
    lines[:, 1:] = filtered % 256
    raw = lines.tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def png_decode(data: bytes) -> dict:
    """Decode a grayscale 8-bit PNG produced by any conformant encoder.

    Returns ``{"width", "height", "bit_depth", "color_type",
    "pixels"}`` with pixels an (H, W) uint8 array. Raises ``ValueError``
    on bad signature, CRC mismatch, truncation, or an unsupported
    pixel format (only what :func:`png_encode` emits is in scope)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, idat = 8, None, bytearray()
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", data[pos: pos + 4])
        tag = data[pos + 4: pos + 8]
        body = data[pos + 8: pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError("truncated chunk body")
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length: pos + 12 + length]
        )
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, bit_depth, color_type, comp, filt, interlace = ihdr
    if (bit_depth, color_type, comp, filt, interlace) != (8, 0, 0, 0, 0):
        raise ValueError(
            f"unsupported PNG format: depth={bit_depth} color={color_type} "
            f"interlace={interlace}"
        )
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (w + 1):
        raise ValueError("IDAT length does not match dimensions")
    lines = np.frombuffer(raw, np.uint8).reshape(h, w + 1)
    ftypes = lines[:, 0]
    fs = lines[:, 1:].astype(np.int32)
    out = np.empty((h, w), dtype=np.int32)
    prior = np.zeros(w, dtype=np.int32)
    for r in range(h):
        ftype, f = int(ftypes[r]), fs[r]
        if ftype == 0:
            row = f
        elif ftype == 2:
            row = (f + prior) % 256
        elif ftype == 1:
            # Sub is a prefix sum: row[x] = (Σ f[0..x]) % 256 — the
            # mod distributes, so one cumsum replaces the per-pixel
            # recurrence (int64 accumulator: no wrap before the mod).
            row = (np.cumsum(f, dtype=np.int64) % 256).astype(np.int32)
        elif ftype in (3, 4):
            # Average/Paeth recurrences stay sequential, but run on
            # plain Python ints: the old per-pixel numpy scalar
            # indexing + 3 array constructions per Paeth step cost
            # ~100x the arithmetic on the gate's ≤16px scanlines.
            fl = f.tolist()
            pl = prior.tolist()
            rl = [0] * w
            left = 0
            if ftype == 3:
                for x in range(w):
                    left = (fl[x] + (left + pl[x]) // 2) % 256
                    rl[x] = left
            else:
                ulv = 0
                for x in range(w):
                    b = pl[x]
                    p = left + b - ulv
                    pa, pb, pc = abs(p - left), abs(p - b), abs(p - ulv)
                    pred = (left if pa <= pb and pa <= pc
                            else (b if pb <= pc else ulv))
                    left = (fl[x] + pred) % 256
                    rl[x] = left
                    ulv = b
            row = np.array(rl, dtype=np.int32)
        else:
            raise ValueError(f"bad filter type {ftype}")
        out[r] = row
        prior = row
    return {
        "width": w, "height": h, "bit_depth": bit_depth,
        "color_type": color_type, "pixels": out.astype(np.uint8),
    }


def documents_png(documents: DataFrame) -> DataFrame:
    """Derive a REAL image column from the ``documents`` table: each
    doc gets a grayscale PNG whose dimensions and pixels are a fixed
    integer function of ``doc_id`` (w = 8 + id%9, h = 8 + id%5,
    p_j = (id*7 + j*13) % 256). Deterministic and closed-form, so the
    decoded statistics carry an exact DuckDB oracle while the bytes
    travel through a genuine PNG encode."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, metas = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 8 + i % 9, 8 + i % 5
                j = np.arange(w * h, dtype=np.int64)
                px = ((i * 7 + j * 13) % 256).astype(np.uint8).reshape(h, w)
                contents.append(png_encode(px))
                metas.append(
                    {"mime": "image/png", "width": w, "height": h,
                     "duration_ms": None}
                )
            yield pd.DataFrame({
                "media_id": pdf["doc_id"],
                "content": contents,
                "meta": metas,
            })

    return fan_out(documents.select("doc_id")).mapInPandas(
        kernel, schema=MEDIA_SCHEMA)


IMAGE_STATS_SCHEMA = (
    "media_id long, width long, height long, n_pixels long, "
    "sum_px long, mean_px double, min_px long, max_px long, checksum long"
)


def image_stats(media: DataFrame) -> DataFrame:
    """REAL decode path: parse each PNG (CRC-verified, inflated,
    defiltered) and emit exact integer/double pixel statistics.
    ``checksum`` is the order-sensitive Σ j·p_j mod 9973, so a decoder
    that permutes or mis-reconstructs even one pixel fails the value
    hash. All sums are exact int64 arithmetic → bit-stable doubles."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                img = png_decode(bytes(content))
                p = img["pixels"].reshape(-1).astype(np.int64)
                n = int(p.size)
                total = int(p.sum())
                rows.append({
                    "media_id": int(media_id),
                    "width": img["width"],
                    "height": img["height"],
                    "n_pixels": n,
                    "sum_px": total,
                    "mean_px": total / n,
                    "min_px": int(p.min()),
                    "max_px": int(p.max()),
                    "checksum": int((np.arange(n) * p).sum()) % 9973,
                })
            yield pd.DataFrame(rows)

    return media.mapInPandas(kernel, schema=IMAGE_STATS_SCHEMA)


def resize_area(media: DataFrame, fx: int = 2, fy: int = 2) -> DataFrame:
    """REAL image resize: decode each PNG, area-downsample by integer
    box-averaging (every ``fy``×``fx`` block → floor of its mean),
    re-encode as PNG. Trailing rows/cols that don't fill a block are
    cropped — the standard thumbnail-pipeline semantics. Runs as an
    Arrow-batched ``mapInPandas`` kernel: bytes → pixels → bytes
    inside one partition, never through the driver.

    Floor-of-mean over non-negative ints is exact integer arithmetic,
    so a resize→decode→stats pipeline carries a closed-form value
    oracle (see ``llm_image_resize``)."""
    if fx < 1 or fy < 1:
        raise ValueError(f"resize factors must be >= 1 (got {fx}x{fy})")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, metas = [], []
            for content, meta in zip(pdf["content"], pdf["meta"]):
                img = png_decode(bytes(content))
                px = img["pixels"]
                h2, w2 = px.shape[0] // fy, px.shape[1] // fx
                if h2 == 0 or w2 == 0:
                    raise ValueError(
                        f"image {px.shape[1]}x{px.shape[0]} smaller than "
                        f"one {fx}x{fy} block"
                    )
                blocks = px[: h2 * fy, : w2 * fx].astype(np.int64)
                small = (
                    blocks.reshape(h2, fy, w2, fx).sum(axis=(1, 3))
                    // (fx * fy)
                ).astype(np.uint8)
                contents.append(png_encode(small))
                metas.append({
                    "mime": "image/png", "width": w2, "height": h2,
                    "duration_ms": None,
                })
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "content": contents,
                "meta": metas,
            })

    return media.mapInPandas(kernel, schema=MEDIA_SCHEMA)


# ------------------------------------------------------------ WAV codec
#
# Pure-stdlib PCM16 mono WAV (RIFF). Same pattern as the PNG path:
# the container is real (RIFF/fmt/data chunk structure, validated on
# decode), the media derives deterministically from the documents
# table, and the decoded statistics are exact integer math — so the
# audio modality carries a full value oracle too.


def wav_encode(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Encode an int16 sample vector as a mono PCM16 WAV."""
    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    riff_body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def wav_decode(data: bytes) -> dict:
    """Decode a mono PCM16 WAV. Returns ``{"rate", "n_samples",
    "samples"}``; raises ``ValueError`` on a malformed container or an
    unsupported format (only what :func:`wav_encode` emits is in
    scope)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    (riff_len,) = struct.unpack("<I", data[4:8])
    if riff_len + 8 > len(data):
        raise ValueError("truncated RIFF body")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(data):
        tag = data[pos: pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4: pos + 8])
        body = data[pos + 8: pos + 8 + ln]
        if len(body) != ln:
            raise ValueError(f"truncated {tag!r} chunk")
        if tag == b"fmt ":
            audio_fmt, channels, rate, _, _, depth = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if (audio_fmt, channels, depth) != (1, 1, 16):
                raise ValueError(
                    f"unsupported WAV format: fmt={audio_fmt} "
                    f"channels={channels} depth={depth}"
                )
        elif tag == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return {"rate": rate, "n_samples": int(samples.size), "samples": samples}


def documents_wav(documents: DataFrame, rate: int = 8000) -> DataFrame:
    """Derive a REAL audio column from ``documents``: doc_id seeds a
    deterministic int16 sample vector (s_j = ((id*31 + j*17) % 2048)
    - 1024, n = 400 + (id%5)*100) carried through a genuine WAV
    encode, so decoded statistics have a closed-form oracle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, metas = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                n = 400 + (i % 5) * 100
                j = np.arange(n, dtype=np.int64)
                s = ((i * 31 + j * 17) % 2048) - 1024
                contents.append(wav_encode(s.astype(np.int16), rate))
                metas.append({
                    "mime": "audio/wav", "width": None, "height": None,
                    "duration_ms": n * 1000 // rate,
                })
            yield pd.DataFrame({
                "media_id": pdf["doc_id"], "content": contents, "meta": metas,
            })

    return fan_out(documents.select("doc_id")).mapInPandas(
        kernel, schema=MEDIA_SCHEMA)


AUDIO_STATS_SCHEMA = (
    "media_id long, sample_rate long, n_samples long, duration_ms double, "
    "rms double, peak long, zero_crossings long"
)


def audio_stats(media: DataFrame) -> DataFrame:
    """REAL audio decode path: parse each WAV and emit exact
    statistics — RMS (integer square sum → bit-stable double), peak
    |amplitude|, and the zero-crossing count (sign-product test, the
    classic cheap pitch/voicedness signal)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                wav = wav_decode(bytes(content))
                s = wav["samples"].astype(np.int64)
                n = wav["n_samples"]
                rows.append({
                    "media_id": int(media_id),
                    "sample_rate": wav["rate"],
                    "n_samples": n,
                    "duration_ms": n * 1000 / wav["rate"],
                    "rms": float(np.sqrt(int((s * s).sum()) / n)),
                    "peak": int(np.abs(s).max()),
                    "zero_crossings": int((s[:-1] * s[1:] < 0).sum()),
                })
            yield pd.DataFrame(rows)

    return media.mapInPandas(kernel, schema=AUDIO_STATS_SCHEMA)


# ----------------------------------------------------------- JPEG codec
#
# Pure numpy/stdlib BASELINE JPEG (ITU T.81), grayscale, single scan:
# real JFIF container (SOI/APP0/DQT/SOF0/DHT/SOS/EOI), real 8x8
# orthonormal DCT + quantization (IJG quality scaling of the Annex K
# luminance table), real canonical Huffman entropy coding (Annex K DC
# and AC tables, DC differential, AC run-length with ZRL/EOB, 0xFF
# byte stuffing).  This is the LOSSY-codec shape the PNG path can't
# exercise; the decoder is strict (marker walk, table rebuild from the
# bitstream, bounds-checked entropy decode).

_JPEG_QTABLE = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)  # Annex K.1 luminance

_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))  # K.3.3.1 luminance DC
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [  # K.3.3.2 luminance AC
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _zigzag_order() -> np.ndarray:
    """Generated (not hardcoded) 8x8 zigzag permutation: index k of the
    scan → flat row-major position."""
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1],
                        rc[1] if (rc[0] + rc[1]) % 2 else rc[0]),
    )
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


_ZIGZAG = _zigzag_order()

_DCT_M = np.array([
    [np.sqrt((1 if k == 0 else 2) / 8)
     * np.cos((2 * n + 1) * k * np.pi / 16) for n in range(8)]
    for k in range(8)
])


def _jpeg_qtable(quality: int) -> np.ndarray:
    """IJG quality scaling: 50 → the Annex K table verbatim."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (_JPEG_QTABLE * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): symbol → (code, length)."""
    codes, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s
        return bytes(self.out)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _encode_block(bw: "_BitWriter", blk: np.ndarray, q: np.ndarray,
                  dc_codes: dict, ac_codes: dict, prev_dc: int) -> int:
    """Forward DCT + quantize + Huffman-code ONE 8×8 block (T.81
    F.1.2); returns the new DC predictor. Shared by the grayscale and
    color encoders — the color scan just calls this per component with
    the component's tables and predictor."""
    s = blk.astype(np.float64) - 128.0
    coef = _DCT_M @ s @ _DCT_M.T
    zz = np.round(coef / q).astype(np.int64).reshape(-1)[_ZIGZAG]
    # DC: differential, category + offset bits
    diff = int(zz[0] - prev_dc)
    size = _category(diff)
    bw.write(*dc_codes[size])
    if size:
        bw.write(diff if diff > 0 else diff + (1 << size) - 1, size)
    # AC: (run, size) symbols with ZRL / EOB
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = int(nz[-1]) + 1 if nz.size else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*ac_codes[0xF0])  # ZRL
            run -= 16
        size = _category(v)
        bw.write(*ac_codes[(run << 4) | size])
        bw.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last < 63:
        bw.write(*ac_codes[0x00])  # EOB
    return int(zz[0])


def jpeg_encode(pixels: np.ndarray, quality: int = 50) -> bytes:
    """Encode an (H, W) uint8 array as a baseline grayscale JFIF JPEG.
    Non-multiple-of-8 dimensions are edge-padded (the standard MCU
    completion rule); SOF0 records the true dimensions."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError("jpeg_encode expects an (H, W) grayscale array")
    h, w = px.shape
    q = _jpeg_qtable(quality)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(px, ((0, ph - h), (0, pw - w)), mode="edge")

    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _BitWriter()
    prev_dc = 0
    for by in range(ph // 8):
        for bx in range(pw // 8):
            blk = padded[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
            prev_dc = _encode_block(bw, blk, q, dc_codes, ac_codes, prev_dc)
    entropy = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0]) + bytes(
        int(q.reshape(-1)[_ZIGZAG][k]) for k in range(64)
    ))
    sof0 = seg(0xC0, struct.pack(">BHHB", 8, h, w, 1)
               + bytes([1, 0x11, 0]))
    dht = (seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
               + bytes(_JPEG_DC_VALS))
           + seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS)
                 + bytes(_JPEG_AC_VALS)))
    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1)
               + bytes([0, 0]))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (b"\xff\xd8" + app0 + dqt + sof0 + dht + sos
            + entropy + b"\xff\xd9")


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy-coded data")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                raise ValueError("unexpected marker in entropy-coded data")
            self.pos += 1  # skip stuffed 0x00
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read(1)
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    return v - (1 << size) + 1 if v < (1 << (size - 1)) else v


def _decode_block(br: "_BitReader", dc_tbl: dict, ac_tbl: dict,
                  q: np.ndarray, prev_dc: int) -> tuple[np.ndarray, int]:
    """Entropy-decode + dequantize + IDCT ONE 8×8 block; returns the
    spatial block (float, centered at 0… i.e. pre-+128) and the new DC
    predictor. Shared by the grayscale and color decoders."""
    zz = np.zeros(64, dtype=np.int64)
    size = br.read_symbol(dc_tbl)
    diff = _extend(br.read(size), size) if size else 0
    prev_dc += diff
    zz[0] = prev_dc
    k = 1
    while k < 64:
        sym = br.read_symbol(ac_tbl)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        run, size = sym >> 4, sym & 0xF
        k += run
        if k > 63:
            raise ValueError("AC coefficient index out of range")
        zz[k] = _extend(br.read(size), size)
        k += 1
    coef = np.zeros(64, dtype=np.float64)
    coef[_ZIGZAG] = zz
    return _DCT_M.T @ (coef.reshape(8, 8) * q) @ _DCT_M, prev_dc


def jpeg_decode(data: bytes) -> dict:
    """Decode a baseline grayscale JPEG produced by any conformant
    encoder (single component, one DC + one AC table).  Returns
    ``{"width", "height", "pixels", "quality_table"}``; raises
    ``ValueError`` on bad markers, truncation, or unsupported modes
    (progressive, multi-component)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos, qtables, dc_tbl, ac_tbl, sof = 2, {}, None, None, None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        (ln,) = struct.unpack(">H", data[pos + 2: pos + 4])
        body = data[pos + 4: pos + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:
            while body:
                pq_tq, body = body[0], body[1:]
                if pq_tq >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                t = np.zeros(64, dtype=np.int32)
                t[_ZIGZAG] = np.frombuffer(body[:64], np.uint8)
                qtables[pq_tq & 0xF] = t.reshape(8, 8)
                body = body[64:]
        elif marker == 0xC0:
            prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8 or ncomp != 1:
                raise ValueError("only 8-bit single-component baseline")
            if body[7] != 0x11:
                raise ValueError("subsampling unsupported for grayscale")
            sof = (h, w, body[8])  # true dims + quant table id
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xC4:
            while body:
                tc_th = body[0]
                bits = list(body[1:17])
                n = sum(bits)
                vals = list(body[17:17 + n])
                decode = {
                    (ln2, code): sym
                    for sym, (code, ln2) in _huff_codes(bits, vals).items()
                }
                if tc_th >> 4 == 0:
                    dc_tbl = decode
                else:
                    ac_tbl = decode
                body = body[17 + n:]
        elif marker == 0xDA:
            pos += 2 + ln
            break
        pos += 2 + ln
    if sof is None or dc_tbl is None or ac_tbl is None or not qtables:
        raise ValueError("missing SOF0/DHT/DQT before SOS")
    h, w, tq = sof
    q = qtables[tq]
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    br = _BitReader(data[pos: data.rfind(b"\xff\xd9")])
    out = np.empty((ph, pw), dtype=np.float64)
    prev_dc = 0
    for by in range(ph // 8):
        for bx in range(pw // 8):
            blk, prev_dc = _decode_block(br, dc_tbl, ac_tbl, q, prev_dc)
            out[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = blk
    px = np.clip(np.round(out + 128.0), 0, 255).astype(np.uint8)
    return {"width": w, "height": h, "pixels": px[:h, :w],
            "quality_table": q}


def documents_jpeg(documents: DataFrame, quality: int = 50) -> DataFrame:
    """Derive a REAL lossy-codec image column from ``documents``:
    8x8-block-constant grayscale images (w = 8*(2 + id%3),
    h = 8*(2 + id%2), block b's value v_b = 2*((id*7 + b*13) % 128)).
    Even-valued constant blocks quantize losslessly at quality 50
    (only the DC coefficient survives, q00 = 16, 8s/16 exact for even
    s), so the decoded statistics carry an exact DuckDB oracle even
    though the codec is genuinely lossy — while pytest covers the
    general (non-flat) path with error bounds."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, metas = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                wb, hb = 2 + i % 3, 2 + i % 2
                b = np.arange(hb * wb, dtype=np.int64)
                vals = (2 * ((i * 7 + b * 13) % 128)).reshape(hb, wb)
                px = np.kron(vals, np.ones((8, 8), dtype=np.int64))
                contents.append(jpeg_encode(px.astype(np.uint8), quality))
                metas.append({"mime": "image/jpeg", "width": wb * 8,
                              "height": hb * 8, "duration_ms": None})
            yield pd.DataFrame({
                "media_id": pdf["doc_id"], "content": contents, "meta": metas,
            })

    return fan_out(documents.select("doc_id")).mapInPandas(
        kernel, schema=MEDIA_SCHEMA)


JPEG_STATS_SCHEMA = (
    "media_id long, width long, height long, n_pixels long, "
    "sum_px long, min_px long, max_px long, block_checksum long, "
    "max_blockdev long, n_bytes long"
)


def jpeg_stats(media: DataFrame) -> DataFrame:
    """REAL lossy decode path: parse each JPEG (marker walk, Huffman
    tables rebuilt from the stream, entropy decode, dequantize, IDCT)
    and emit exact integer statistics over the reconstructed pixels.
    ``block_checksum`` is the order-sensitive Σ b·mean(block_b) mod
    9973; ``max_blockdev`` is the max within-block (max-min) spread —
    exactly 0 when the decoder reconstructs the flat blocks perfectly,
    making mis-decodes loud."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                img = jpeg_decode(b)
                px = img["pixels"].astype(np.int64)
                h, w = px.shape
                hb, wb = h // 8, w // 8
                blocks = px.reshape(hb, 8, wb, 8).transpose(0, 2, 1, 3)
                flat = blocks.reshape(hb * wb, 64)
                means = flat.sum(axis=1) // 64
                dev = int((flat.max(axis=1) - flat.min(axis=1)).max())
                rows.append({
                    "media_id": int(media_id),
                    "width": w, "height": h, "n_pixels": h * w,
                    "sum_px": int(px.sum()),
                    "min_px": int(px.min()), "max_px": int(px.max()),
                    "block_checksum":
                        int((np.arange(hb * wb) * means).sum()) % 9973,
                    "max_blockdev": dev,
                    "n_bytes": len(b),
                })
            yield pd.DataFrame(rows)

    return media.mapInPandas(kernel, schema=JPEG_STATS_SCHEMA)


# ------------------------------------------------- color JPEG (YCbCr 4:2:0)
#
# The other half of ITU T.81 baseline: three components, BT.601-style
# color transform, 2×2 chroma subsampling, interleaved MCU scan with
# per-component quantization/Huffman tables (Annex K.1+K.2 / K.3).
# The color transform is INTEGER fixed-point (8-bit coefficients,
# round-half-up via +128 >> 8) — JFIF does not mandate a bit-exact
# RGB↔YCbCr, and integer math is what makes the round-trip gate's
# DuckDB oracle replayable term for term.

_JPEG_QTABLE_C = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)  # Annex K.2 chrominance

_JPEG_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_JPEG_DC_VALS_C = list(range(12))  # K.3.3.1 chrominance DC
_JPEG_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_JPEG_AC_VALS_C = [  # K.3.3.2 chrominance AC
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _jpeg_qtable_c(quality: int) -> np.ndarray:
    """IJG quality scaling over the Annex K.2 chrominance table."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (_JPEG_QTABLE_C * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def rgb_to_ycbcr(r: np.ndarray, g: np.ndarray, b: np.ndarray):
    """Integer fixed-point BT.601 forward transform (the codec's
    spec): Y = (77R+150G+29B+128)>>8, chroma offset-128. The
    coefficient rows sum to 256 / 0 / 0, so gray maps to chroma-128
    exactly. >> is an arithmetic (floor) shift, as in SQL ``//``
    on the shifted sum — both engines replay this bit-for-bit."""
    r = r.astype(np.int64)
    g = g.astype(np.int64)
    b = b.astype(np.int64)
    y = (77 * r + 150 * g + 29 * b + 128) >> 8
    cb = ((-43 * r - 85 * g + 128 * b + 128) >> 8) + 128
    cr = ((128 * r - 107 * g - 21 * b + 128) >> 8) + 128
    return y, cb, cr


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray):
    """Integer fixed-point inverse (clipped to [0, 255])."""
    y = y.astype(np.int64)
    cb = cb.astype(np.int64) - 128
    cr = cr.astype(np.int64) - 128
    r = y + ((359 * cr + 128) >> 8)
    g = y - ((88 * cb + 183 * cr + 128) >> 8)
    b = y + ((454 * cb + 128) >> 8)
    clip = lambda v: np.clip(v, 0, 255).astype(np.uint8)  # noqa: E731
    return clip(r), clip(g), clip(b)


def jpeg_encode_color(pixels: np.ndarray, quality: int = 50) -> bytes:
    """Encode an (H, W, 3) RGB uint8 array as a baseline YCbCr 4:2:0
    JFIF JPEG: integer color transform, 2×2 box chroma subsample
    (round-half-up), interleaved 16×16 MCUs of 4 Y + 1 Cb + 1 Cr
    blocks with per-component DC predictors and the Annex K
    luminance/chrominance table pairs."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("jpeg_encode_color expects an (H, W, 3) RGB array")
    h, w = px.shape[:2]
    ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
    padded = np.pad(px, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    y, cb, cr = rgb_to_ycbcr(padded[..., 0], padded[..., 1], padded[..., 2])
    # 4:2:0: 2×2 integer box average, round-half-up
    sub = lambda c: (c[0::2, 0::2] + c[0::2, 1::2]  # noqa: E731
                     + c[1::2, 0::2] + c[1::2, 1::2] + 2) >> 2
    cb_s, cr_s = sub(cb), sub(cr)

    ql, qc = _jpeg_qtable(quality), _jpeg_qtable_c(quality)
    dc_l = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_l = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dc_c = _huff_codes(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C)
    ac_c = _huff_codes(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)
    bw = _BitWriter()
    pred = [0, 0, 0]  # Y, Cb, Cr DC predictors
    for my in range(ph // 16):
        for mx in range(pw // 16):
            for dy in range(2):  # 4 luminance blocks, raster order
                for dx in range(2):
                    r0, c0 = my * 16 + dy * 8, mx * 16 + dx * 8
                    pred[0] = _encode_block(
                        bw, y[r0:r0 + 8, c0:c0 + 8], ql, dc_l, ac_l, pred[0])
            pred[1] = _encode_block(
                bw, cb_s[my * 8:(my + 1) * 8, mx * 8:(mx + 1) * 8],
                qc, dc_c, ac_c, pred[1])
            pred[2] = _encode_block(
                bw, cr_s[my * 8:(my + 1) * 8, mx * 8:(mx + 1) * 8],
                qc, dc_c, ac_c, pred[2])
    entropy = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = (seg(0xDB, bytes([0]) + bytes(
               int(ql.reshape(-1)[_ZIGZAG][k]) for k in range(64)))
           + seg(0xDB, bytes([1]) + bytes(
               int(qc.reshape(-1)[_ZIGZAG][k]) for k in range(64))))
    sof0 = seg(0xC0, struct.pack(">BHHB", 8, h, w, 3)
               + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]))
    dht = (seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
               + bytes(_JPEG_DC_VALS))
           + seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS)
                 + bytes(_JPEG_AC_VALS))
           + seg(0xC4, bytes([0x01]) + bytes(_JPEG_DC_BITS_C)
                 + bytes(_JPEG_DC_VALS_C))
           + seg(0xC4, bytes([0x11]) + bytes(_JPEG_AC_BITS_C)
                 + bytes(_JPEG_AC_VALS_C)))
    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1)
               + bytes([0, 0]))
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return (b"\xff\xd8" + app0 + dqt + sof0 + dht + sos
            + entropy + b"\xff\xd9")


def jpeg_decode_color(data: bytes) -> dict:
    """Decode a baseline YCbCr 4:2:0 JPEG (3 components, 2×2/1×1/1×1
    sampling — the layout :func:`jpeg_encode_color` writes and the
    overwhelmingly common web-JPEG shape). Returns ``{"width",
    "height", "pixels"(H,W,3 uint8)}``; raises ``ValueError`` on
    other sampling layouts, progressive scans, or truncation."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos, qtables, sof, scomp = 2, {}, None, None
    dc_tbls: dict[int, dict] = {}
    ac_tbls: dict[int, dict] = {}
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        (ln,) = struct.unpack(">H", data[pos + 2: pos + 4])
        body = data[pos + 4: pos + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:
            while body:
                pq_tq, body = body[0], body[1:]
                if pq_tq >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                t = np.zeros(64, dtype=np.int32)
                t[_ZIGZAG] = np.frombuffer(body[:64], np.uint8)
                qtables[pq_tq & 0xF] = t.reshape(8, 8)
                body = body[64:]
        elif marker == 0xC0:
            prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8 or ncomp != 3:
                raise ValueError("jpeg_decode_color: 8-bit 3-component only")
            comps = {}
            for i in range(3):
                cid, samp, tq = body[6 + 3 * i: 9 + 3 * i]
                comps[cid] = (samp, tq)
            if [comps[c][0] for c in sorted(comps)] != [0x22, 0x11, 0x11]:
                raise ValueError("only 4:2:0 (2x2,1x1,1x1) supported")
            sof = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xC4:
            while body:
                tc_th = body[0]
                bits = list(body[1:17])
                n = sum(bits)
                vals = list(body[17:17 + n])
                decode = {
                    (ln2, code): sym
                    for sym, (code, ln2) in _huff_codes(bits, vals).items()
                }
                if tc_th >> 4 == 0:
                    dc_tbls[tc_th & 0xF] = decode
                else:
                    ac_tbls[tc_th & 0xF] = decode
                body = body[17 + n:]
        elif marker == 0xDA:
            ns = body[0]
            if ns != 3:
                raise ValueError("3-component scan expected")
            scomp = {body[1 + 2 * i]: body[2 + 2 * i] for i in range(3)}
            pos += 2 + ln
            break
        pos += 2 + ln
    if sof is None or scomp is None or not dc_tbls or not qtables:
        raise ValueError("missing SOF0/DHT/DQT before SOS")
    h, w, comps = sof
    ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
    cids = sorted(comps)  # Y, Cb, Cr in component-id order
    q_of = {c: qtables[comps[c][1]] for c in cids}
    dc_of = {c: dc_tbls[scomp[c] >> 4] for c in cids}
    ac_of = {c: ac_tbls[scomp[c] & 0xF] for c in cids}
    br = _BitReader(data[pos: data.rfind(b"\xff\xd9")])
    y = np.empty((ph, pw), dtype=np.float64)
    cb = np.empty((ph // 2, pw // 2), dtype=np.float64)
    cr = np.empty((ph // 2, pw // 2), dtype=np.float64)
    pred = {c: 0 for c in cids}
    cy, ccb, ccr = cids
    for my in range(ph // 16):
        for mx in range(pw // 16):
            for dy in range(2):
                for dx in range(2):
                    blk, pred[cy] = _decode_block(
                        br, dc_of[cy], ac_of[cy], q_of[cy], pred[cy])
                    r0, c0 = my * 16 + dy * 8, mx * 16 + dx * 8
                    y[r0:r0 + 8, c0:c0 + 8] = blk
            blk, pred[ccb] = _decode_block(
                br, dc_of[ccb], ac_of[ccb], q_of[ccb], pred[ccb])
            cb[my * 8:(my + 1) * 8, mx * 8:(mx + 1) * 8] = blk
            blk, pred[ccr] = _decode_block(
                br, dc_of[ccr], ac_of[ccr], q_of[ccr], pred[ccr])
            cr[my * 8:(my + 1) * 8, mx * 8:(mx + 1) * 8] = blk
    yi = np.clip(np.round(y + 128.0), 0, 255).astype(np.int64)
    up = lambda c: np.repeat(  # noqa: E731  nearest-neighbor upsample
        np.repeat(np.clip(np.round(c + 128.0), 0, 255).astype(np.int64),
                  2, axis=0), 2, axis=1)
    r, g, b = ycbcr_to_rgb(yi, up(cb), up(cr))
    px = np.stack([r, g, b], axis=-1)[:h, :w]
    return {"width": w, "height": h, "pixels": px}


# Exact-round-trip RGB triples for the oracle gate: each maps under
# the integer forward transform to (even Y, chroma ≡ 128 mod 17) — so
# at quality 50 (lum q00=16 | 8·(Y−128) for even Y; chroma q00=17 |
# 8·17k) a 16×16-constant MCU survives DC quantization exactly, and
# the integer inverse reproduces the SAME RGB (verified by
# construction: triple = inverse(fwd(triple)); pinned by pytest).
JPEG_RT_TRIPLES = [
    (60, 60, 60), (56, 86, 110), (124, 94, 70), (120, 108, 180),
    (92, 164, 140), (208, 147, 100), (204, 162, 210), (176, 218, 170),
]


def documents_jpeg_color(documents: DataFrame, quality: int = 50) -> DataFrame:
    """Derive a color-JPEG column from ``documents``: each image is a
    grid of (1 + id%3) × (1 + id%2) 16×16-constant MCUs, MCU b colored
    by ``JPEG_RT_TRIPLES[(id*7 + b*13) % 8]`` — the exact-class
    triples, so the full lossy chain (integer color transform, 4:2:0
    subsample, DCT+quant, interleaved Huffman, decode, upsample,
    inverse transform) reconstructs bit-exactly and the statistics
    carry a closed-form DuckDB oracle; pytest bounds the general
    (non-flat) path."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trip = np.array(JPEG_RT_TRIPLES, dtype=np.uint8)
        for pdf in batches:
            contents, metas = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                wm, hm = 1 + i % 3, 1 + i % 2
                b = np.arange(hm * wm, dtype=np.int64)
                cols = trip[(i * 7 + b * 13) % len(trip)].reshape(hm, wm, 3)
                px = np.kron(cols, np.ones((16, 16, 1), dtype=np.uint8))
                contents.append(jpeg_encode_color(px, quality))
                metas.append({"mime": "image/jpeg", "width": wm * 16,
                              "height": hm * 16, "duration_ms": None})
            yield pd.DataFrame({
                "media_id": pdf["doc_id"], "content": contents, "meta": metas,
            })

    return fan_out(documents.select("doc_id")).mapInPandas(
        kernel, schema=MEDIA_SCHEMA)


JPEG_COLOR_STATS_SCHEMA = (
    "media_id long, width long, height long, n_pixels long, "
    "sum_r long, sum_g long, sum_b long, mcu_checksum long, "
    "max_mcudev long, n_bytes long"
)


def jpeg_color_stats(media: DataFrame) -> DataFrame:
    """Decode each color JPEG and emit exact integer per-channel
    statistics.  ``mcu_checksum`` = Σ_b b·(r_b + 2g_b + 3b_b) mod 9973
    over per-MCU means in raster order; ``max_mcudev`` is the max
    within-MCU (max−min) spread across all channels — exactly 0 when
    the interleaved scan, chroma upsample, and inverse transform all
    reconstruct the flat MCUs perfectly, so any mis-decode is loud."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                raw = bytes(content)
                img = jpeg_decode_color(raw)
                px = img["pixels"].astype(np.int64)
                h, w = px.shape[:2]
                hm, wm = h // 16, w // 16
                mcus = px.reshape(hm, 16, wm, 16, 3).transpose(0, 2, 1, 3, 4)
                flat = mcus.reshape(hm * wm, 256, 3)
                means = flat.sum(axis=1) // 256  # (n_mcu, 3)
                dev = int((flat.max(axis=1) - flat.min(axis=1)).max())
                idx = np.arange(hm * wm)
                rows.append({
                    "media_id": int(media_id),
                    "width": w, "height": h, "n_pixels": h * w,
                    "sum_r": int(px[..., 0].sum()),
                    "sum_g": int(px[..., 1].sum()),
                    "sum_b": int(px[..., 2].sum()),
                    "mcu_checksum": int(
                        (idx * (means[:, 0] + 2 * means[:, 1]
                                + 3 * means[:, 2])).sum()) % 9973,
                    "max_mcudev": dev,
                    "n_bytes": len(raw),
                })
            yield pd.DataFrame(rows)

    return media.mapInPandas(kernel, schema=JPEG_COLOR_STATS_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per
    sampled timestamp (real decoder stubbed the same way). Media with
    no duration (images) yield a single frame at t=0."""
    frames = F.when(
        F.col("meta.duration_ms").isNotNull(),
        F.sequence(F.lit(0), F.col("meta.duration_ms"), F.lit(every_ms)),
    ).otherwise(F.array(F.lit(0).cast("long")))
    return media.select(
        "media_id", F.explode(frames).alias("frame_ms"), "meta.mime"
    )


# ----------------------------------------------------------- ZVID video
#
# Minimal REAL video container so the video modality gets an actual
# parse→frame-decode path, not just timestamp plumbing: "ZVID" magic,
# fixed-size header (frame count, frame interval, dims), then one
# length-prefixed PNG per frame, closed by a CRC32 trailer over every
# frame payload. Strict decode: magic/version/bounds/CRC verified,
# every frame PNG-decoded (itself CRC-checked), dims cross-checked
# against the header. ffmpeg-class codecs (H.264/VP9 in MP4/WebM)
# still plug in at the extract_features seam.

_ZVID_MAGIC = b"ZVID"
_ZVID_VERSION = 1


def zvid_encode(frames: np.ndarray, interval_ms: int = 40) -> bytes:
    """Encode an (n_frames, h, w) uint8 stack as a ZVID container."""
    if frames.ndim != 3 or frames.dtype != np.uint8:
        raise ValueError("frames must be a (n, h, w) uint8 array")
    n, h, w = frames.shape
    out = bytearray()
    out += _ZVID_MAGIC
    out += struct.pack(">BIIHH", _ZVID_VERSION, n, interval_ms, w, h)
    crc = 0
    for f in range(n):
        payload = png_encode(frames[f])
        out += struct.pack(">I", len(payload))
        out += payload
        crc = zlib.crc32(payload, crc)
    out += struct.pack(">I", crc)
    return bytes(out)


def zvid_decode(data: bytes) -> dict:
    """Strict ZVID parse: returns ``{"n_frames", "interval_ms",
    "width", "height", "frames"}`` with frames as (n, h, w) uint8."""
    if data[:4] != _ZVID_MAGIC:
        raise ValueError("bad ZVID signature")
    if len(data) < 17:
        raise ValueError("truncated ZVID header")
    ver, n, interval_ms, w, h = struct.unpack(">BIIHH", data[4:17])
    if ver != _ZVID_VERSION:
        raise ValueError(f"unsupported ZVID version {ver}")
    pos, crc, frames = 17, 0, []
    for f in range(n):
        if pos + 4 > len(data):
            raise ValueError(f"truncated at frame {f} length")
        (flen,) = struct.unpack(">I", data[pos:pos + 4])
        pos += 4
        if pos + flen > len(data):
            raise ValueError(f"truncated at frame {f} payload")
        payload = data[pos:pos + flen]
        pos += flen
        crc = zlib.crc32(payload, crc)
        img = png_decode(payload)
        if (img["width"], img["height"]) != (w, h):
            raise ValueError(
                f"frame {f} is {img['width']}x{img['height']}, "
                f"header says {w}x{h}"
            )
        frames.append(img["pixels"])
    if pos + 4 > len(data):
        raise ValueError("missing CRC trailer")
    (want,) = struct.unpack(">I", data[pos:pos + 4])
    if crc != want:
        raise ValueError("ZVID CRC mismatch")
    return {"n_frames": n, "interval_ms": interval_ms, "width": w,
            "height": h,
            "frames": np.stack(frames) if n else
            np.empty((0, h, w), np.uint8)}


_ZVID_INTERVAL_MS = 40  # 25 fps


def documents_zvid(documents: DataFrame) -> DataFrame:
    """Derive a REAL video column from ``documents``: doc ``i`` becomes
    a ZVID of ``2 + i%4`` frames of ``(8+i%5)``x``(8+i%3)`` pixels,
    frame ``f`` pixel ``j`` = ``(i*7 + f*31 + j*13) % 256`` — closed
    form, so frame-extraction statistics carry an exact DuckDB oracle
    while the bytes travel through the genuine container + PNG codec."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, metas = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                n, w, h = 2 + i % 4, 8 + i % 5, 8 + i % 3
                j = np.arange(w * h, dtype=np.int64)
                stack = np.stack([
                    ((i * 7 + f * 31 + j * 13) % 256)
                    .astype(np.uint8).reshape(h, w)
                    for f in range(n)
                ])
                contents.append(zvid_encode(stack, _ZVID_INTERVAL_MS))
                metas.append({
                    "mime": "video/zvid", "width": w, "height": h,
                    "duration_ms": n * _ZVID_INTERVAL_MS,
                })
            yield pd.DataFrame({
                "media_id": pdf["doc_id"],
                "content": contents,
                "meta": metas,
            })

    return fan_out(documents.select("doc_id")).mapInPandas(
        kernel, schema=MEDIA_SCHEMA)


VIDEO_FRAME_STATS_SCHEMA = (
    "media_id long, frame_idx long, t_ms long, width long, height long, "
    "sum_px long, min_px long, max_px long, checksum long"
)


def video_frame_stats(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling: parse the ZVID container, keep every
    ``every_n``-th frame (0, n, 2n, …), PNG-decode each kept frame and
    emit exact integer statistics. One output row per sampled frame;
    all decode work stays inside the Arrow batch — embarrassingly
    parallel across media rows, no driver involvement."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1 (got {every_n})")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                vid = zvid_decode(bytes(content))
                for f in range(0, vid["n_frames"], every_n):
                    p = vid["frames"][f].reshape(-1).astype(np.int64)
                    rows.append({
                        "media_id": int(media_id),
                        "frame_idx": f,
                        "t_ms": f * vid["interval_ms"],
                        "width": vid["width"],
                        "height": vid["height"],
                        "sum_px": int(p.sum()),
                        "min_px": int(p.min()),
                        "max_px": int(p.max()),
                        "checksum": int((np.arange(p.size) * p).sum()) % 9973,
                    })
            yield pd.DataFrame(
                rows, columns=[
                    "media_id", "frame_idx", "t_ms", "width", "height",
                    "sum_px", "min_px", "max_px", "checksum",
                ],
            )

    return media.mapInPandas(kernel, schema=VIDEO_FRAME_STATS_SCHEMA)


# ------------------------------------------------------------ GIF codec
#
# Pure-stdlib GIF89a (CompuServe spec): logical screen descriptor,
# global 256-entry grayscale color table, optional interlacing (the
# 8/8/4/2 four-pass row order), and REAL variable-code-width LZW —
# clear/EOI codes, code width growth 9→12 bits, table reset at 4096 —
# with the compressed stream carried in ≤255-byte sub-blocks. Retires
# the last image-format 'fake' seam: with PNG (lossless filter+zlib),
# JPEG (lossy DCT) and GIF (palette+LZW) the three classic compression
# families are all decoded for real. Reference parity note: the
# reference engine has no codecs at all (it stores URLs); this family
# exists for the multimodal training-data pipeline (SURVEY §6).

_GIF_SIG = (b"GIF87a", b"GIF89a")
_GIF_MAX_CODE = 1 << 12  # LZW table hard cap, per spec

# interlace passes: (first row, row step)
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_interlace_rows(height: int) -> list[int]:
    rows: list[int] = []
    for start, step in _GIF_PASSES:
        rows.extend(range(start, height, step))
    return rows


def _lzw_encode(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW: emits CLEAR first, grows the code width when
    the next free code exceeds the current width's range, resets the
    table at 4096 (emitting CLEAR), ends with EOI. LSB-first bit
    packing, as the spec requires."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    buf = nbits = 0

    def emit(code: int, size: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    def fresh() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(clear)}

    code_size = min_code_size + 1
    table = fresh()
    next_code = eoi + 1
    emit(clear, code_size)
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w], code_size)
        if next_code < _GIF_MAX_CODE:
            table[wc] = next_code
            next_code += 1
            if next_code > (1 << code_size) and code_size < 12:
                code_size += 1
        else:  # table full: reset, as real encoders do
            emit(clear, code_size)
            table = fresh()
            next_code = eoi + 1
            code_size = min_code_size + 1
        w = wc[-1:]
    if w:
        emit(table[w], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> bytes:
    """Strict GIF LZW decoder: honors CLEAR/EOI, the one-step-behind
    table build (KwKwK case), and the decoder-side width growth rule;
    rejects codes beyond the table frontier."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = nbits = buf = 0

    def read(size: int) -> int:
        nonlocal pos, nbits, buf
        while nbits < size:
            if pos >= len(data):
                raise ValueError("GIF: LZW stream truncated")
            buf |= data[pos] << nbits
            pos += 1
            nbits += 8
        v = buf & ((1 << size) - 1)
        buf >>= size
        nbits -= size
        return v

    out = bytearray()
    table: list[bytes] = []
    code_size = min_code_size + 1
    prev: bytes | None = None
    while True:
        code = read(code_size)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if not table:
            raise ValueError("GIF: data before first CLEAR code")
        if code < len(table) and code != clear and code != eoi:
            entry = table[code]
        elif code == len(table) and prev is not None:  # KwKwK
            entry = prev + prev[:1]
        else:
            raise ValueError(f"GIF: LZW code {code} beyond table frontier")
        out.extend(entry)
        if prev is not None and len(table) < _GIF_MAX_CODE:
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
        if len(out) > n_expected:
            raise ValueError("GIF: LZW output exceeds image size")
    return bytes(out)


def gif_encode(pixels: np.ndarray, interlace: bool = False) -> bytes:
    """Grayscale uint8 image → GIF89a with a 256-entry gray palette
    (index i → RGB (i,i,i)), optionally interlaced."""
    h, w = pixels.shape
    out = bytearray(b"GIF89a")
    # logical screen descriptor: global table, 8 bits/color, 256 entries
    out += struct.pack("<HHBBB", w, h, 0b11110111, 0, 0)
    for i in range(256):  # global grayscale color table
        out += bytes((i, i, i))
    # image descriptor (no local table; interlace bit as requested)
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h,
                                 0b01000000 if interlace else 0)
    rows = _gif_interlace_rows(h) if interlace else range(h)
    raw = b"".join(pixels[r].astype(np.uint8).tobytes() for r in rows)
    out.append(8)  # LZW minimum code size
    lzw = _lzw_encode(raw, 8)
    for i in range(0, len(lzw), 255):  # ≤255-byte sub-blocks
        block = lzw[i:i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3B"  # block terminator + trailer
    return bytes(out)


def gif_decode(data: bytes) -> dict:
    """Strict GIF decoder (87a/89a): validates the signature, parses
    the screen + image descriptors, reads global/local color tables,
    skips 89a extension blocks, LZW-decompresses, de-interlaces, and
    verifies the pixel count. Returns grayscale pixels via the
    palette's red channel plus the raw index array and palette."""
    if data[:6] not in _GIF_SIG:
        raise ValueError("not a GIF: bad signature")
    if len(data) < 13:
        raise ValueError("GIF: truncated header")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    palette = None
    if flags & 0x80:  # global color table
        size = 2 << (flags & 0x07)
        if pos + 3 * size > len(data):
            raise ValueError("GIF: truncated global color table")
        palette = np.frombuffer(
            data[pos:pos + 3 * size], dtype=np.uint8).reshape(size, 3)
        pos += 3 * size
    while True:
        if pos >= len(data):
            raise ValueError("GIF: missing image descriptor")
        b = data[pos]
        pos += 1
        if b == 0x21:  # extension: label + sub-blocks, skipped
            pos += 1
            # bounds-check BEFORE each length-byte read: a stream cut
            # exactly at a sub-block length byte must surface as the
            # decoder's documented ValueError, not IndexError
            while True:
                if pos >= len(data):
                    raise ValueError("GIF: truncated extension")
                if data[pos] == 0:
                    break
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            break
        elif b == 0x3B:
            raise ValueError("GIF: trailer before any image")
        else:
            raise ValueError(f"GIF: unexpected block 0x{b:02x}")
    if pos + 9 > len(data):
        raise ValueError("GIF: truncated image descriptor")
    left, top, w, h, iflags = struct.unpack("<HHHHB", data[pos:pos + 9])
    pos += 9
    if iflags & 0x80:  # local color table overrides
        size = 2 << (iflags & 0x07)
        if pos + 3 * size > len(data):
            raise ValueError("GIF: truncated local color table")
        palette = np.frombuffer(
            data[pos:pos + 3 * size], dtype=np.uint8).reshape(size, 3)
        pos += 3 * size
    if palette is None:
        raise ValueError("GIF: no color table")
    if pos >= len(data):
        raise ValueError("GIF: truncated image data")
    min_code_size = data[pos]
    pos += 1
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"GIF: bad LZW minimum code size {min_code_size}")
    lzw = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("GIF: truncated image data")
        n = data[pos]
        pos += 1
        if n == 0:
            break
        lzw += data[pos:pos + n]
        pos += n
    idx = np.frombuffer(
        _lzw_decode(bytes(lzw), min_code_size, w * h), dtype=np.uint8)
    if idx.size != w * h:
        raise ValueError(
            f"GIF: decoded {idx.size} pixels, expected {w * h}")
    if idx.size and int(idx.max()) >= palette.shape[0]:
        raise ValueError("GIF: pixel index outside color table")
    grid = idx.reshape(h, w)
    if iflags & 0x40:  # de-interlace
        un = np.empty_like(grid)
        un[_gif_interlace_rows(h)] = grid
        grid = un
    return {
        "width": w, "height": h, "interlaced": bool(iflags & 0x40),
        "indices": grid,
        "palette": palette,
        "pixels": palette[grid.reshape(-1), 0].reshape(h, w),
    }


def documents_gif(documents: DataFrame) -> DataFrame:
    """Derive a REAL GIF column from the documents table (the
    ``documents_png`` pattern): w = 8 + id%7, h = 8 + id%6,
    p_j = (id*11 + j*17) % 256, and every odd id INTERLACED — both
    row orders travel through genuine LZW on every gate run."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, metas = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 8 + i % 7, 8 + i % 6
                j = np.arange(w * h, dtype=np.int64)
                px = ((i * 11 + j * 17) % 256).astype(np.uint8).reshape(h, w)
                contents.append(gif_encode(px, interlace=bool(i % 2)))
                metas.append({"mime": "image/gif", "width": w,
                              "height": h, "duration_ms": None})
            yield pd.DataFrame({
                "media_id": pdf["doc_id"],
                "content": contents,
                "meta": metas,
            })

    return fan_out(documents.select("doc_id")).mapInPandas(
        kernel, schema=MEDIA_SCHEMA)


def gif_stats(media: DataFrame) -> DataFrame:
    """REAL GIF decode path → the exact integer statistics of
    :func:`image_stats`, plus the interlace flag the container
    carried (so the oracle checks the de-interlacer ran, not just
    that bytes round-tripped)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                img = gif_decode(bytes(content))
                p = img["pixels"].reshape(-1).astype(np.int64)
                n = int(p.size)
                rows.append({
                    "media_id": int(media_id),
                    "width": img["width"],
                    "height": img["height"],
                    "interlaced": img["interlaced"],
                    "n_pixels": n,
                    "sum_px": int(p.sum()),
                    "min_px": int(p.min()),
                    "max_px": int(p.max()),
                    "checksum": int((np.arange(n) * p).sum()) % 9973,
                })
            yield pd.DataFrame(rows)

    return media.mapInPandas(kernel, schema=(
        "media_id long, width long, height long, interlaced boolean, "
        "n_pixels long, sum_px long, min_px long, max_px long, "
        "checksum long"))
