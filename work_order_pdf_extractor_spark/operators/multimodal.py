"""Multimodal columns: opaque binary payloads, typed metadata, REAL decode.

Image/audio/video payloads are carried as ``binary`` columns with a typed
metadata struct and decoded inside Arrow-batched ``mapInPandas`` passes —
the payload is consumed on the scan side and never shuffles (same rule as
the text pipeline). Mirrors the role of the reference's payload→pixels
boundary (``work_order_extractor.py:1121-1146`` pdf2image render).

Decoders are stdlib-only and cover exactly the formats the builders emit
(the same EMIT==PARSE philosophy as ``core/pdfparse.py``):

- image: uncompressed 24-bit BI_RGB BMP (bottom-up, row-padded), binary
  P6 PPM, non-interlaced 8-bit RGB PNG (zlib inflate + full filter
  reconstruction), and JPEG — baseline-sequential (grayscale, YCbCr
  4:4:4 / 4:2:2 / 4:2:0 / 4:1:1, restart intervals) AND progressive
  SOF2 (spectral selection + successive approximation) — real Huffman
  entropy decode + dequant + IDCT + chroma upsampling + JFIF YCbCr→RGB,
  ``core/jpegcodec.py``. Sampling factor 3, lossless/hierarchical and
  arithmetic-coded JPEGs are the documented
  :class:`NotImplementedError` boundary.
- audio: RIFF/WAVE PCM16 mono/stereo header + sample parse.
- video: :func:`frame_sample_plan` is pure plan arithmetic (the per-frame
  decode would be the image path above).

Features are integer-exact where the DuckDB oracle checks them
(width/height/n_px/sum_luma; n_samples/sum_abs/peak) so the driver's
value-hash compare is never at the mercy of float rounding.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
# Decoders (stdlib-only)
# ---------------------------------------------------------------------------

def _luma(r: int, g: int, b: int) -> int:
    """Integer BT.601 luma — exact, so sums are cross-engine-checkable."""
    return (299 * r + 587 * g + 114 * b) // 1000


def _decode_bmp(payload: bytes) -> tuple[int, int, list[int]]:
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    _, _size, _, _, offset = struct.unpack_from("<2sIHHI", payload, 0)
    (
        dib_size, width, height, _planes, bpp, compression,
        *_rest,
    ) = struct.unpack_from("<IiiHHI", payload, 14)
    if dib_size < 40 or bpp != 24 or compression != 0:
        raise NotImplementedError(
            "only uncompressed 24-bit BI_RGB BMP is supported"
        )
    bottom_up = height > 0
    height = abs(height)
    row_stride = (width * 3 + 3) & ~3
    lumas = [0] * (width * height)
    for row in range(height):
        y = (height - 1 - row) if bottom_up else row  # to top-down
        base = offset + row * row_stride
        for x in range(width):
            b, g, r = payload[base + 3 * x : base + 3 * x + 3]
            lumas[y * width + x] = _luma(r, g, b)
    return width, height, lumas


def _decode_ppm(payload: bytes) -> tuple[int, int, list[int]]:
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> data
    fields, pos = [], 2
    while len(fields) < 3:
        while payload[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace before the raster
    width, height, maxval = fields
    if maxval != 255:
        raise NotImplementedError("only maxval=255 P6 PPM is supported")
    lumas = [0] * (width * height)
    for i in range(width * height):
        r, g, b = payload[pos + 3 * i : pos + 3 * i + 3]
        lumas[i] = _luma(r, g, b)
    return width, height, lumas


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _decode_png(payload: bytes) -> tuple[int, int, list[int]]:
    """Non-interlaced 8-bit RGB (color type 2) or PALETTED (color type 3)
    PNG: walk chunks, inflate IDAT, reconstruct all five scanline filters
    (None/Sub/Up/Average/Paeth) per the PNG spec — the filter byte offset
    is the pixel width (3 for RGB, 1 for indices) — then map indices
    through the PLTE table for type 3. A real decoder for any conforming
    image of these types, not only the builders' filter-0 output."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos, width, height, idat = 8, None, None, bytearray()
    color_type, plte = None, None
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + clen]
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _c, _f, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if bit_depth != 8 or color_type not in (2, 3) or interlace != 0:
                raise NotImplementedError(
                    "only non-interlaced 8-bit RGB/paletted PNG is supported"
                )
        elif ctype == b"PLTE":
            if len(data) % 3 or len(data) > 256 * 3:
                raise ValueError("bad PLTE length")
            plte = [
                (data[i], data[i + 1], data[i + 2])
                for i in range(0, len(data), 3)
            ]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if color_type == 3 and plte is None:
        raise ValueError("paletted PNG without PLTE")
    raw = zlib.decompress(bytes(idat))
    bpp = 3 if color_type == 2 else 1
    stride = width * bpp
    if len(raw) != height * (stride + 1):
        raise ValueError("bad raster length")
    lumas = [0] * (width * height)
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
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
        if color_type == 2:
            for x in range(width):
                lumas[y * width + x] = _luma(
                    line[3 * x], line[3 * x + 1], line[3 * x + 2]
                )
        else:
            for x in range(width):
                idx = line[x]
                if idx >= len(plte):
                    raise ValueError("palette index out of range")
                lumas[y * width + x] = _luma(*plte[idx])
        prev = line
    return width, height, lumas


def decode_image(payload: bytes) -> dict:
    """Decode a BMP / P6 PPM / PNG / JPEG payload into exact features.

    ``sum_luma``/``n_px`` are integers (oracle-exact); ``mean_luma`` and the
    16-dim 4×4 block-mean ``embedding`` are the float conveniences derived
    from them. JPEG covers baseline (gray/4:4:4/4:2:2/4:2:0/4:1:1,
    restart intervals) AND progressive SOF2 (``core/jpegcodec.py``)."""
    import numpy as np

    if payload[:2] == b"BM":
        width, height, lumas = _decode_bmp(payload)
        arr = np.asarray(lumas, dtype=np.int64)
    elif payload[:2] == b"P6":
        width, height, lumas = _decode_ppm(payload)
        arr = np.asarray(lumas, dtype=np.int64)
    elif payload[:8] == b"\x89PNG\r\n\x1a\n":
        width, height, lumas = _decode_png(payload)
        arr = np.asarray(lumas, dtype=np.int64)
    elif payload[:2] == b"\xff\xd8":
        from ..core.jpegcodec import decode_gray_array

        # BT.601 luma straight from the decoded arrays (for grayscale
        # the decoded sample IS the luma)
        width, height, arr = decode_gray_array(payload)
    else:
        raise NotImplementedError(
            "only BMP/PPM/PNG/JPEG payloads are decodable without image "
            "libraries"
        )
    n_px = width * height
    # r7: integer feature reductions vectorized (identical values — the
    # sums are exact int64 arithmetic either way)
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
        "mean_luma": round(sum_luma / n_px / 255.0, 6),
        "embedding": emb,
    }


def decode_audio(payload: bytes) -> dict:
    """Decode a RIFF/WAVE PCM16 payload into exact features."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("only RIFF/WAVE audio is supported")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, rate, _br, _ba, bits = fmt
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

def _feature_rows(payloads, decoder, null_template: dict) -> list[dict]:
    """Decode each payload, degrading corrupt/unsupported ones into a
    null-feature row with status='decode_failed' — a bad payload must
    become data, never a task failure that kills a 100 TB job (the same
    rule as the text pipeline's status='extraction_failed' rows)."""
    rows = []
    for p in payloads:
        try:
            d = decoder(bytes(p))
            d["status"] = "ok"
        except Exception:
            d = dict(null_template)
            d["sha256"] = hashlib.sha256(bytes(p)).hexdigest()
            d["status"] = "decode_failed"
        rows.append(d)
    return rows


_IMG_NULL = {
    "sha256": None, "width": None, "height": None, "n_px": None,
    "sum_luma": None, "mean_luma": None, "embedding": None,
}
_AUD_NULL = {
    "sha256": None, "channels": None, "sample_rate": None,
    "n_samples": None, "sum_abs": None, "peak": None,
}


def image_features(df: DataFrame) -> DataFrame:
    """media rows → per-image features via one Arrow-batched pass.

    The payload column is consumed inside the pass and dropped from the
    output (same no-payload-shuffle rule as the text pipeline); decode
    failures degrade to status='decode_failed' rows."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            feats = _feature_rows(b["payload"], decode_image, _IMG_NULL)
            # dtype=object keeps int features as Python ints when a
            # failed row introduces None (float64+NaN would force an
            # unsafe float->int Arrow cast)
            out = pd.DataFrame(
                feats,
                columns=[f.name for f in IMAGE_FEATURES_SCHEMA][1:],
                dtype=object,
            )
            out.insert(0, "media_id", b["media_id"].values)
            yield out

    return df.select("media_id", "payload").mapInPandas(
        fn, schema=IMAGE_FEATURES_SCHEMA
    )


def audio_features(df: DataFrame) -> DataFrame:
    """media rows → per-clip audio features via one Arrow-batched pass;
    decode failures degrade to status='decode_failed' rows."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            feats = _feature_rows(b["payload"], decode_audio, _AUD_NULL)
            out = pd.DataFrame(
                feats,
                columns=[f.name for f in AUDIO_FEATURES_SCHEMA][1:],
                dtype=object,
            )
            out.insert(0, "media_id", b["media_id"].values)
            yield out

    return df.select("media_id", "payload").mapInPandas(
        fn, schema=AUDIO_FEATURES_SCHEMA
    )


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
    import numpy as np

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
