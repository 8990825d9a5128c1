"""Multimodal columns: opaque binary payloads, typed metadata, REAL decode.

Image/audio/video payloads are carried as ``binary`` columns with a typed
metadata struct and decoded inside Arrow-batched ``mapInPandas`` passes —
the payload is consumed on the scan side and never shuffles (same rule as
the text pipeline). Mirrors the role of the reference's payload→pixels
boundary (``work_order_extractor.py:1121-1146`` pdf2image render).

This module is the engine's one raster decoder: :func:`decode_lumas`
turns any supported image payload into an integer luma raster, and every
image consumer (the feature pass here, the perceptual hashes in
:mod:`.imagehash`) reads pixels through it. The decoders are numpy plus
the stdlib and cover exactly the formats the builders emit (the same
EMIT==PARSE philosophy as ``core/pdfparse.py``):

- image: uncompressed 24-bit BI_RGB BMP (bottom-up, row-padded), binary
  P6 PPM, 8-bit RGB and paletted PNG, sequential or Adam7-interlaced
  (zlib inflate + all five scanline filters per pass; the interlaced
  builder lives in :mod:`.adam7`), and JPEG — baseline-sequential
  (grayscale, YCbCr 4:4:4 / 4:2:2 / 4:2:0 / 4:1:1, restart intervals)
  AND progressive SOF2 (spectral selection + successive approximation)
  — real Huffman entropy decode + dequant + IDCT + chroma upsampling +
  JFIF YCbCr→RGB, ``core/jpegcodec.py``. Sampling factor 3,
  lossless/hierarchical and arithmetic-coded JPEGs are the documented
  :class:`NotImplementedError` boundary.
- audio: RIFF/WAVE PCM16 or G.711 μ-law header + sample parse.
- video: :func:`frame_sample_plan` is pure plan arithmetic (the per-frame
  decode would be the image path above).

Untrusted bytes: every header is checked against the payload before a
raster is allocated, and a corrupt payload raises ``ValueError``,
``IndexError`` or ``KeyError`` (``NotImplementedError`` outside the
subset) — which the feature passes turn into status='decode_failed' rows.

Features are integer-exact where the DuckDB oracle checks them
(width/height/n_px/sum_luma/pos_sum; n_samples/sum_abs/peak) so a
value-hash compare against the oracle never depends on float rounding.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.jpegcodec import decode_gray_array
from .common import ensure_parallelism

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),       # image | audio | video
        T.StructField("payload", T.BinaryType()),     # opaque bytes
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_px", T.IntegerType()),
        T.StructField("sum_luma", T.LongType()),
        T.StructField("pos_sum", T.LongType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("status", T.StringType()),  # ok | decode_failed
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("status", T.StringType()),  # ok | decode_failed
    ]
)


# ---------------------------------------------------------------------------
# Builders (the subset the decoders parse is exactly the subset these emit)
# ---------------------------------------------------------------------------

def build_bmp(width: int, height: int, pixel_fn) -> bytes:
    """Serialize a 24-bit uncompressed (BI_RGB) bottom-up BMP.

    ``pixel_fn(x, y) -> (r, g, b)`` with (0, 0) the TOP-left pixel (the
    builder handles BMP's bottom-up row order and 4-byte row padding)."""
    row_stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (row_stride - width * 3)
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            r, g, b = pixel_fn(x, y)
            row += bytes((b, g, r))  # BGR on disk
        rows.append(bytes(row) + pad)
    pixel_data = b"".join(rows)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixel_data), 0, 0, 54)
    return header + dib + pixel_data


def build_ppm(width: int, height: int, pixel_fn) -> bytes:
    """Serialize a binary P6 PPM (maxval 255), row-major top-down."""
    body = bytearray()
    for y in range(height):
        for x in range(width):
            body += bytes(pixel_fn(x, y))
    return f"P6\n{width} {height}\n255\n".encode("ascii") + bytes(body)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def build_png(width: int, height: int, pixel_fn) -> bytes:
    """Serialize a non-interlaced 8-bit RGB (color type 2) PNG with
    filter 0 scanlines and one zlib-compressed IDAT — a REAL compressed
    payload (the decoder must inflate + unfilter to read it)."""
    raw = bytearray()
    for y in range(height):
        raw.append(0)  # filter type 0 (None) per scanline
        for x in range(width):
            raw += bytes(pixel_fn(x, y))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def build_png_palette(
    width: int, height: int, palette: list[tuple[int, int, int]], index_fn
) -> bytes:
    """Serialize a non-interlaced 8-bit PALETTED (color type 3) PNG:
    a PLTE chunk of RGB entries plus one index byte per pixel in the
    zlib-compressed IDAT — the common crawled-web PNG shape for logos,
    icons and screenshots."""
    raw = bytearray()
    for y in range(height):
        raw.append(0)  # filter type 0 per scanline
        for x in range(width):
            raw.append(index_fn(x, y))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 3, 0, 0, 0)
    plte = b"".join(bytes(rgb) for rgb in palette)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def build_wav(samples: list[int], sample_rate: int = 8000) -> bytes:
    """Serialize PCM16 mono RIFF/WAVE."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


_MULAW_BIAS = 0x84  # 132, the G.711 bias


def mulaw_encode(s: int) -> int:
    """Linear int16 → one G.711 μ-law byte (CCITT encode: bias, find the
    exponent segment, keep a 4-bit mantissa, complement)."""
    sign = 0x80 if s < 0 else 0
    mag = min(abs(s), 32635) + _MULAW_BIAS
    exp = 7
    for e in range(8):
        if mag < (1 << (e + 8)):
            exp = e
            break
    mant = (mag >> (exp + 3)) & 0x0F
    return ~(sign | (exp << 4) | mant) & 0xFF


def mulaw_decode(u: int) -> int:
    """One μ-law byte → linear (the audioop-compatible ±32124 scale)."""
    u = ~u & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) + _MULAW_BIAS) << exp) - _MULAW_BIAS
    return -mag if sign else mag


def build_wav_mulaw(samples: list[int], sample_rate: int = 8000) -> bytes:
    """Serialize G.711 μ-law mono RIFF/WAVE (format tag 7, 8 bits per
    sample) from LINEAR int16 samples — the telephony/call-corpus codec;
    the encoder quantizes, so decode(encode(s)) is the deterministic
    companded value, not s."""
    data = bytes(mulaw_encode(s) for s in samples)
    fmt = struct.pack("<HHIIHH", 7, 1, sample_rate, sample_rate, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        body += b"\x00"  # RIFF chunks are word-aligned
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# Decoders (stdlib + numpy): payload bytes -> (width, height, int64 lumas)
# ---------------------------------------------------------------------------

def _luma(r, g, b):
    """Integer BT.601 luma — exact, so sums are cross-engine-checkable.
    Works elementwise on int64 arrays as well as on ints."""
    return (299 * r + 587 * g + 114 * b) // 1000


def _rgb_lumas(px):
    """(..., 3) uint8 RGB samples → (...) int64 lumas."""
    px = px.astype(np.int64)
    return _luma(px[..., 0], px[..., 1], px[..., 2])


def _bmp_header(payload: bytes) -> tuple[int, int, int, int]:
    """(pixel offset, width, signed height, row stride) of an uncompressed
    24-bit BI_RGB BMP. Checks that every row the header claims is in the
    payload before anything is allocated for them."""
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    (offset,) = struct.unpack_from("<I", payload, 10)
    dib_size, width, height, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if dib_size < 40 or bpp != 24 or compression != 0:
        raise NotImplementedError(
            "only uncompressed 24-bit BI_RGB BMP is supported"
        )
    stride = (width * 3 + 3) & ~3
    if width <= 0 or height == 0:
        raise ValueError("empty BMP raster")
    # the last row needs its pixels, not its padding
    if offset + (abs(height) - 1) * stride + 3 * width > len(payload):
        raise ValueError("BMP raster runs past the payload")
    return offset, width, height, stride


def _bmp_lumas(
    payloads: list, offset: int, width: int, height: int, stride: int
):
    """Same-geometry 24-bit BMP payloads → (n, |height|, width) int64
    top-down lumas (rows are BGR on disk, bottom-up when height > 0)."""
    h = abs(height)
    rows = np.stack(
        [
            np.ndarray((h, 3 * width), np.uint8, p, offset, (stride, 1))
            for p in payloads
        ]
    )
    lum = _rgb_lumas(rows.reshape(len(payloads), h, width, 3)[..., ::-1])
    return lum[:, ::-1] if height > 0 else lum


def _decode_bmp(payload: bytes) -> tuple[int, int, np.ndarray]:
    offset, width, height, stride = _bmp_header(payload)
    lum = _bmp_lumas([payload], offset, width, height, stride)
    return width, abs(height), lum.ravel()


def _bmp24_batch_lumas(payloads: list):
    """One batch of uncompressed 24-bit BMPs sharing one header → an
    (n, h, w) int64 top-down luma array, or ``None`` when the batch is
    not uniform (mixed formats or geometry: the caller then decodes image
    by image). Identical header bytes and payload length mean identical
    geometry, so the first payload's header parse covers the batch."""
    if not payloads or payloads[0][:2] != b"BM":
        return None
    first = payloads[0]
    try:
        geometry = _bmp_header(first)
    except (ValueError, NotImplementedError):
        return None
    n_bytes, header = len(first), first[:54]
    if any(len(p) != n_bytes or p[:54] != header for p in payloads):
        return None
    return _bmp_lumas(payloads, *geometry)


def _decode_ppm(payload: bytes) -> tuple[int, int, np.ndarray]:
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> data
    fields, pos, end = [], 2, len(payload)
    while len(fields) < 3:
        while payload[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < end and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))  # b"" at the end: ValueError
    pos += 1  # the single whitespace before the raster
    width, height, maxval = fields
    if maxval != 255:
        raise NotImplementedError("only maxval=255 P6 PPM is supported")
    if width <= 0 or height <= 0:
        raise ValueError("empty PPM raster")
    n = width * height
    if pos + 3 * n > end:
        raise ValueError("PPM raster runs past the payload")
    return width, height, _rgb_lumas(
        np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# (x0, y0, dx, dy) per interlace pass: one pass over the whole raster, or
# the seven Adam7 passes of PNG spec §8.2
_SEQUENTIAL = [(0, 0, 1, 1)]
ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _pass_dims(
    width: int, height: int, x0: int, y0: int, dx: int, dy: int
) -> tuple[int, int]:
    """(width, height) of one interlace pass's sub-image; 0 when empty."""
    pw = (width - x0 + dx - 1) // dx if width > x0 else 0
    ph = (height - y0 + dy - 1) // dy if height > y0 else 0
    return pw, ph


def _decode_png(payload: bytes) -> tuple[int, int, np.ndarray]:
    """8-bit RGB (color type 2) or PALETTED (color type 3) PNG, sequential
    or Adam7-interlaced: walk chunks, inflate IDAT, check the raster
    length against every pass, reconstruct all five scanline filters
    (None/Sub/Up/Average/Paeth) per the PNG spec — the filter byte offset
    is the pixel width (3 for RGB, 1 for indices) and ``prev`` is the
    previous line of the same pass — map indices through the PLTE table
    for type 3, then place each pass's pixels at their raster positions.
    A real decoder for any conforming image of these types, not only the
    builders' output."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("bad PNG signature")
    pos, width, idat, plte = 8, None, bytearray(), None
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + clen]
        if ctype == b"IHDR":
            if len(data) != 13:
                raise ValueError("bad IHDR length")
            width, height, bit_depth, color_type, _c, _f, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if bit_depth != 8 or color_type not in (2, 3) or interlace > 1:
                raise NotImplementedError(
                    "only 8-bit RGB/paletted PNG (sequential or Adam7) is "
                    "supported"
                )
        elif ctype == b"PLTE":
            if len(data) % 3 or len(data) > 256 * 3:
                raise ValueError("bad PLTE length")
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if color_type == 3 and plte is None:
        raise ValueError("paletted PNG without PLTE")
    if not width or not height:
        raise ValueError("empty PNG raster")
    passes = ADAM7 if interlace else _SEQUENTIAL
    dims = [_pass_dims(width, height, *p) for p in passes]
    bpp = 3 if color_type == 2 else 1
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt IDAT stream: {e}") from e
    # an empty pass has no scanlines, not even filter bytes
    if len(raw) != sum(ph * (1 + pw * bpp) for pw, ph in dims if pw):
        raise ValueError("bad raster length")
    samples, off = bytearray(), 0
    for pw, ph in dims:
        stride = pw * bpp
        prev = bytearray(stride)
        for _ in range(ph if pw else 0):
            ftype = raw[off]
            line = bytearray(raw[off + 1 : off + 1 + stride])
            off += 1 + stride
            if ftype == 1:  # Sub
                for i in range(bpp, stride):
                    line[i] = (line[i] + line[i - bpp]) & 0xFF
            elif ftype == 2:  # Up
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 0xFF
            elif ftype == 3:  # Average
                for i in range(stride):
                    left = line[i - bpp] if i >= bpp else 0
                    line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
            elif ftype == 4:  # Paeth
                for i in range(stride):
                    left = line[i - bpp] if i >= bpp else 0
                    ul = prev[i - bpp] if i >= bpp else 0
                    line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
            elif ftype != 0:
                raise ValueError(f"unknown PNG filter {ftype}")
            samples += line
            prev = line
    if color_type == 2:
        lum = _rgb_lumas(np.frombuffer(samples, np.uint8).reshape(-1, 3))
    else:
        idx = np.frombuffer(samples, np.uint8)
        if idx.max() >= len(plte) // 3:
            raise ValueError("palette index out of range")
        lum = _rgb_lumas(np.frombuffer(plte, np.uint8).reshape(-1, 3))[idx]
    raster = np.empty((height, width), np.int64)
    k = 0
    for (x0, y0, dx, dy), (pw, ph) in zip(passes, dims):
        raster[y0::dy, x0::dx] = lum[k : k + pw * ph].reshape(ph, pw)
        k += pw * ph
    return width, height, raster.ravel()


_RASTER_CODECS = (
    (b"BM", _decode_bmp),
    (b"P6", _decode_ppm),
    (_PNG_SIG, _decode_png),
    (b"\xff\xd8", decode_gray_array),
)
RASTER_MAGIC = tuple(magic for magic, _ in _RASTER_CODECS)


def decode_lumas(payload: bytes) -> tuple[int, int, np.ndarray]:
    """The one raster decoder: a BMP / P6 PPM / PNG / JPEG payload →
    ``(width, height, lumas)``, lumas a flat int64 array in top-down
    raster order (for JPEG the BT.601 luma of the decoded RGB; for
    grayscale that IS the decoded sample). Unknown leading bytes raise
    ``NotImplementedError``; a corrupt payload raises ``ValueError``,
    ``IndexError`` or ``KeyError``, and a header is checked against the
    payload before any raster is allocated."""
    for magic, decode in _RASTER_CODECS:
        if payload.startswith(magic):
            return decode(payload)
    raise NotImplementedError(
        "only BMP/PPM/PNG/JPEG payloads are decodable without image "
        "libraries"
    )


def _pos_sum(lumas: np.ndarray) -> int:
    """Σ luma · (raster index + 1), exact in int64: a decoder that lands
    the right pixels in the wrong places keeps ``sum_luma`` but changes
    this. Raises rather than wrap once the worst case 255·n(n+1)/2
    could reach 2⁶³."""
    n = lumas.size
    if 255 * n * (n + 1) // 2 >= 1 << 63:
        raise ValueError(f"pos_sum over {n} pixels could overflow int64")
    return int(np.dot(lumas, np.arange(1, n + 1, dtype=np.int64)))


def decode_image(payload: bytes) -> dict:
    """Decode a BMP / P6 PPM / PNG / JPEG payload into exact features.

    ``sum_luma``/``n_px``/``pos_sum`` are integers (oracle-exact);
    ``mean_luma`` and the 16-dim 4×4 block-mean ``embedding`` are the
    float conveniences derived from them. JPEG covers baseline
    (gray/4:4:4/4:2:2/4:2:0/4:1:1, restart intervals) AND progressive
    SOF2 (``core/jpegcodec.py``)."""
    width, height, arr = decode_lumas(payload)
    n_px = width * height
    sum_luma = int(arr.sum())
    grid = arr.reshape(height, width)
    emb = []
    for gy in range(4):
        y0, y1 = gy * height // 4, (gy + 1) * height // 4
        for gx in range(4):
            x0, x1 = gx * width // 4, (gx + 1) * width // 4
            cell = grid[y0:y1, x0:x1]
            emb.append(
                round(int(cell.sum()) / cell.size / 255.0, 6)
                if cell.size
                else 0.0
            )
    return {
        "sha256": hashlib.sha256(payload).hexdigest(),
        "width": width,
        "height": height,
        "n_px": n_px,
        "sum_luma": sum_luma,
        "pos_sum": _pos_sum(arr),
        "mean_luma": round(sum_luma / n_px / 255.0, 6),
        "embedding": emb,
    }


def decode_audio(payload: bytes) -> dict:
    """Decode a RIFF/WAVE PCM16 or G.711 μ-law payload into exact
    features."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("only RIFF/WAVE audio is supported")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt ":
            if pos + 24 > len(payload):
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, rate, _br, _ba, bits = fmt
    if not channels:
        raise ValueError("zero-channel WAV")
    if audio_format == 1 and bits == 16:
        samples = struct.unpack(f"<{len(data) // 2}h", data[: len(data) & ~1])
    elif audio_format == 7 and bits == 8:
        # G.711 μ-law: one companded byte per sample, expanded to linear
        samples = tuple(mulaw_decode(b) for b in data)
    else:
        raise NotImplementedError("only PCM16 or G.711 mu-law WAV is supported")
    return {
        "sha256": hashlib.sha256(payload).hexdigest(),
        "channels": channels,
        "sample_rate": rate,
        "n_samples": len(samples) // channels,
        "sum_abs": sum(abs(s) for s in samples),
        "peak": max((abs(s) for s in samples), default=0),
    }


# ---------------------------------------------------------------------------
# Distributed passes
# ---------------------------------------------------------------------------

def _features_pass(df: DataFrame, decode, schema: T.StructType) -> DataFrame:
    """media rows → one ``schema`` row per payload via one Arrow-batched
    pass. The payload column is consumed inside the pass and dropped from
    the output (same no-payload-shuffle rule as the text pipeline). A
    corrupt or unsupported payload becomes a null-feature row with
    status='decode_failed' — a bad payload must become data, never a
    task failure that kills a 100 TB job (the same rule as the text
    pipeline's status='extraction_failed' rows)."""
    cols = schema.fieldNames()[1:]
    null_row = dict.fromkeys(cols)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for p in b["payload"]:
                p = bytes(p)
                try:
                    rows.append(dict(decode(p), status="ok"))
                except Exception:
                    rows.append(
                        dict(
                            null_row,
                            sha256=hashlib.sha256(p).hexdigest(),
                            status="decode_failed",
                        )
                    )
            # dtype=object keeps int features as Python ints when a
            # failed row introduces None (float64+NaN would force an
            # unsafe float->int Arrow cast)
            out = pd.DataFrame(rows, columns=cols, dtype=object)
            out.insert(0, "media_id", b["media_id"].values)
            yield out

    return df.select("media_id", "payload").mapInPandas(fn, schema=schema)


def image_features(df: DataFrame) -> DataFrame:
    """media rows → per-image features (:func:`decode_image`);
    undecodable payloads become status='decode_failed' rows."""
    return _features_pass(df, decode_image, IMAGE_FEATURES_SCHEMA)


def audio_features(df: DataFrame) -> DataFrame:
    """media rows → per-clip audio features (:func:`decode_audio`);
    undecodable payloads become status='decode_failed' rows."""
    return _features_pass(df, decode_audio, AUDIO_FEATURES_SCHEMA)


def frame_sample_plan(
    df: DataFrame, every_n: int = 30, bytes_per_frame: int = 1024
) -> DataFrame:
    """Video frame-sampling PLAN: emits (media_id, frame_no) rows for every
    n-th frame from the metadata frame count — pure plan arithmetic
    (sequence+explode); each sampled frame's decode is the image path.
    Demonstrates the 1→N fan-out shape for video at scale. The frame count
    is a stand-in derived from payload size (``n_bytes/bytes_per_frame``)."""
    n_frames = (F.col("n_bytes") / bytes_per_frame).cast("int") + 1
    return df.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
        ).alias("frame_no"),
    )


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Adapter for tests/benches: build a media table from the documents
    fixture (text bytes as the opaque payload)."""
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.octet_length(payload).cast("int").alias("n_bytes"),
    )


def _doc_image_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic synthetic image dims per doc — shared with the DuckDB
    oracle (which reproduces the same arithmetic in SQL)."""
    return 4 + doc_id % 13, 4 + (doc_id // 13) % 11


def _doc_pixel(doc_id: int):
    def px(x: int, y: int) -> tuple[int, int, int]:
        v = (x + 3 * y + doc_id) % 256
        return (v, v, v)

    return px


def media_from_doc_ids(
    docs: DataFrame, kind: str, mime: str, payloads_of
) -> DataFrame:
    """One synthesized media row per document, built in one Arrow-batched
    pass over ``doc_id``: ``payloads_of(doc_ids)`` maps one batch's ids
    (a list of ints) to their payload bytes in the same order. Every
    fixture generator below is this pass plus its payload formula, so
    the binary column genuinely round-trips through a real encoder
    before the real decoder sees it."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = payloads_of(b["doc_id"].tolist())
            yield pd.DataFrame(
                {
                    "media_id": b["doc_id"].values,
                    "kind": kind,
                    "payload": payloads,
                    "mime": mime,
                    "n_bytes": pd.array(
                        [len(p) for p in payloads], dtype="int32"
                    ),
                }
            )

    return ensure_parallelism(docs.select("doc_id")).mapInPandas(
        fn, schema=MEDIA_SCHEMA
    )


def media_bmp_from_documents(docs: DataFrame) -> DataFrame:
    """A deterministic gray BMP per document (pixel (x,y) =
    (x + 3y + doc_id) mod 256)."""
    return media_from_doc_ids(
        docs, "image", "image/bmp",
        lambda ids: [
            build_bmp(*_doc_image_dims(d), _doc_pixel(d)) for d in ids
        ],
    )


def _doc_png_pixel(doc_id: int):
    """Distinct formula from the BMP fixture ((2x + y + doc_id) mod 256)
    so a PNG result can never be a silent replay of the BMP path."""

    def px(x: int, y: int) -> tuple[int, int, int]:
        v = (2 * x + y + doc_id) % 256
        return (v, v, v)

    return px


def media_png_from_documents(docs: DataFrame) -> DataFrame:
    """A deterministic gray PNG per document (same dims formula as the
    BMP fixture, pixel (x,y) = (2x + y + doc_id) mod 256) — a genuinely
    COMPRESSED payload: the decoder must inflate the IDAT and
    reconstruct scanline filters to recover the raster."""
    return media_from_doc_ids(
        docs, "image", "image/png",
        lambda ids: [
            build_png(*_doc_image_dims(d), _doc_png_pixel(d)) for d in ids
        ],
    )


PNG_PALETTE_N = 16


def _doc_palette(did: int) -> list[tuple[int, int, int]]:
    """Deterministic per-document 16-entry palette (mirrored by the SQL
    oracle): entry i = ((7i+3+did) mod 256, (5i+11) mod 256,
    (3i+29) mod 256)."""
    return [
        ((7 * i + 3 + did) % 256, (5 * i + 11) % 256, (3 * i + 29) % 256)
        for i in range(PNG_PALETTE_N)
    ]


def media_png_palette_from_documents(docs: DataFrame) -> DataFrame:
    """A deterministic PALETTED (color type 3) PNG per document — the
    icon/screenshot shape of crawled-web images: same dims formula as the
    gray PNG fixture, a per-doc 16-entry PLTE, pixel index (x, y) =
    (x + 2y + doc_id) mod 16. Still a genuinely compressed payload:
    inflate + unfilter + palette lookup to read."""
    return media_from_doc_ids(
        docs, "image", "image/png",
        lambda ids: [
            build_png_palette(
                *_doc_image_dims(d), _doc_palette(d),
                lambda x, y, d=d: (x + 2 * y + d) % PNG_PALETTE_N,
            )
            for d in ids
        ],
    )


def _grid_samples(
    w: int, h: int, xdiv: int, ydiv: int, xmul: int, ymul: int, base: int
):
    """Block-constant fixture raster ``(xmul·(x//xdiv) + ymul·(y//ydiv)
    + base) mod 256`` as a flat int64 array (the encoders take any
    array-like plane)."""
    xs = xmul * (np.arange(w, dtype=np.int64) // xdiv)
    ys = ymul * (np.arange(h, dtype=np.int64) // ydiv)
    return ((xs[None, :] + ys[:, None] + base) % 256).ravel()


def _jpeg_gray(did: int) -> bytes:
    from ..core.jpegcodec import encode_baseline

    w, h = 8 * (1 + did % 4), 8 * (1 + (did // 4) % 3)
    return encode_baseline(w, h, [_grid_samples(w, h, 8, 8, 1, 2, did)])


def media_jpeg_from_documents(docs: DataFrame) -> DataFrame:
    """A deterministic baseline-sequential grayscale JPEG per document:
    dims ``(8·(1 + doc_id mod 4), 8·(1 + (doc_id//4) mod 3))``, every 8×8
    block constant at ``(bx + 2·by + doc_id) mod 256`` — a real
    entropy-coded DCT payload (Huffman + FDCT under a flat quant table)
    that round-trips bit-exactly BECAUSE the blocks are constant (AC
    coefficients are analytically zero), so the DuckDB oracle can predict
    ``sum_luma = 64·Σ block_value`` while the decoder does the full
    huffman→dequant→IDCT pipeline."""
    return media_from_doc_ids(
        docs, "image", "image/jpeg", lambda ids: [_jpeg_gray(d) for d in ids]
    )


def _jpeg_color444(did: int) -> bytes:
    from ..core.jpegcodec import encode_baseline

    w, h = 8 * (1 + did % 3), 8 * (1 + (did // 3) % 4)
    neutral = [128] * (w * h)
    return encode_baseline(
        w, h, [_grid_samples(w, h, 8, 8, 2, 1, did), neutral, neutral]
    )


def media_color_jpeg_from_documents(docs: DataFrame) -> DataFrame:
    """A deterministic COLOR (YCbCr 4:4:4) baseline JPEG per document:
    dims ``(8·(1 + doc_id mod 3), 8·(1 + (doc_id//3) mod 4))``, Y plane
    8×8-block-constant at ``(2·bx + by + doc_id) mod 256``, neutral
    chroma (Cb=Cr=128). The 3-component interleaved scan is fully
    exercised (separate chroma quant/Huffman tables, per-component DC
    predictors) while neutral chroma keeps the round trip bit-exact —
    JFIF YCbCr→RGB of (Y, 0-offset, 0-offset) is (Y, Y, Y), so
    ``sum_luma = 64·Σ block_value`` stays analytically predictable."""
    return media_from_doc_ids(
        docs, "image", "image/jpeg",
        lambda ids: [_jpeg_color444(d) for d in ids],
    )


def _jpeg_subsampled(
    did: int, w: int, h: int, sampling: tuple[int, int],
    cb0: int, cr0: int, progressive: bool = False,
) -> bytes:
    """Y constant per MCU-sized region at ``(2·rx + ry + doc_id) mod
    256`` (every 8×8 block stays constant across the edge-replicated pad
    → bit-exact round trip under the flat quant table) and constant
    chroma ``cb0``/``cr0`` at the luma ``sampling`` factor."""
    from ..core.jpegcodec import encode_baseline, encode_progressive

    sh, sv = sampling
    y = _grid_samples(w, h, 8 * sh, 8 * sv, 2, 1, did)
    n_chroma = -(-w // sh) * -(-h // sv)
    planes = [y, [cb0] * n_chroma, [cr0] * n_chroma]
    encode = encode_progressive if progressive else encode_baseline
    return encode(w, h, planes, sampling)


def media_jpeg420_from_documents(docs: DataFrame) -> DataFrame:
    """A deterministic 4:2:0 chroma-subsampled baseline JPEG per document
    — the most common JPEG variant in crawled corpora. Dims
    ``(16 + 4·(doc_id mod 3), 16 + 4·((doc_id//3) mod 4))`` (NOT
    multiples of 16, so MCU padding + crop are exercised); Y constant per
    16×16 region at ``(2·rx + ry + doc_id) mod 256``; chroma constant
    per doc at ``cb = 128 + 3·(doc_id mod 5) − 6``, ``cr = 128 +
    4·((doc_id//5) mod 5) − 8`` — NON-neutral, so the chroma path and
    upsampling do real work, with offsets chosen so no YCbCr→RGB product
    lands on an exact .5 (numpy half-even and SQL half-away rounding
    provably agree; validated for every offset in the set)."""
    return media_from_doc_ids(
        docs, "image", "image/jpeg",
        lambda ids: [
            _jpeg_subsampled(
                d, 16 + 4 * (d % 3), 16 + 4 * ((d // 3) % 4), (2, 2),
                128 + 3 * (d % 5) - 6, 128 + 4 * ((d // 5) % 5) - 8,
            )
            for d in ids
        ],
    )


def media_jpeg411_from_documents(docs: DataFrame) -> DataFrame:
    """A deterministic 4:1:1 chroma-subsampled baseline JPEG per document
    — the sampling-factor-4 variant (DV lineage). Dims
    ``(32 + 4·(doc_id mod 3), 8 + 4·((doc_id//3) mod 4))`` (widths 36/40
    and heights 12/20 are NOT multiples of the 32×8 MCU, so padding +
    crop are exercised); Y constant per 32×8 region at
    ``(2·rx + ry + doc_id) mod 256``; chroma constant per doc at the SAME
    rounding-safe offsets as the 4:2:0 fixture
    (``cb = 128 + 3·(doc_id mod 5) − 6``,
    ``cr = 128 + 4·((doc_id//5) mod 5) − 8``)."""
    return media_from_doc_ids(
        docs, "image", "image/jpeg",
        lambda ids: [
            _jpeg_subsampled(
                d, 32 + 4 * (d % 3), 8 + 4 * ((d // 3) % 4), (4, 1),
                128 + 3 * (d % 5) - 6, 128 + 4 * ((d // 5) % 5) - 8,
            )
            for d in ids
        ],
    )


def media_progressive_jpeg_from_documents(docs: DataFrame) -> DataFrame:
    """A PROGRESSIVE (SOF2) 4:2:0 color JPEG per document — the other
    half of crawled-web JPEGs (multi-scan spectral selection + successive
    approximation, per-scan optimized Huffman tables; see
    ``core/jpegcodec.py``). Same analytic-oracle construction as the
    baseline 4:2:0 fixture but with shifted per-doc constants: dims
    ``(16 + 4·((doc_id+1) mod 3), 16 + 4·((doc_id//3 + 1) mod 4))``
    (non-MCU-aligned, so padding + crop run), Y constant per 16×16
    region at ``(2·rx + ry + doc_id) mod 256``, chroma constant at
    ``cb = 128 + 3·((doc_id+1) mod 5) − 6``, ``cr = 128 +
    4·((doc_id//5 + 2) mod 5) − 8`` (offsets from the same
    rounding-safe set the 4:2:0 fixture validated)."""
    return media_from_doc_ids(
        docs, "image", "image/jpeg",
        lambda ids: [
            _jpeg_subsampled(
                d, 16 + 4 * ((d + 1) % 3), 16 + 4 * ((d // 3 + 1) % 4),
                (2, 2), 128 + 3 * ((d + 1) % 5) - 6,
                128 + 4 * ((d // 5 + 2) % 5) - 8, progressive=True,
            )
            for d in ids
        ],
    )


def _pcm_samples(did: int) -> list[int]:
    """n = 16 + doc_id mod 50 samples, s[i] = (37i + 11·doc_id) mod 4096
    − 2048."""
    return [(37 * i + 11 * did) % 4096 - 2048 for i in range(16 + did % 50)]


def media_mulaw_from_documents(docs: DataFrame) -> DataFrame:
    """A deterministic G.711 μ-law WAV per document — the telephony/
    call-recording codec: the SAME linear samples as the PCM16 fixture
    passed through the real μ-law encoder, so the decoder's companding
    expansion does genuine work and the oracle reproduces the
    quantization in closed form."""
    return media_from_doc_ids(
        docs, "audio", "audio/basic",
        lambda ids: [build_wav_mulaw(_pcm_samples(d)) for d in ids],
    )


def media_wav_from_documents(docs: DataFrame) -> DataFrame:
    """A deterministic PCM16 WAV per document (:func:`_pcm_samples`)."""
    return media_from_doc_ids(
        docs, "audio", "audio/wav",
        lambda ids: [build_wav(_pcm_samples(d)) for d in ids],
    )
