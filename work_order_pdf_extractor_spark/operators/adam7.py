"""Adam7 INTERLACED PNG: encoder fixture + real deinterlacing decoder.

Interlaced PNGs are the last PNG shape a crawled-web corpus hits that the
non-interlaced decoder in :mod:`.multimodal` rejects (its IHDR check
raises ``NotImplementedError`` on ``interlace != 0``). Mirrors the role of
the reference's render-anything boundary (``work_order_extractor.py:
1121-1146`` pdf2image/poppler). Same EMIT==PARSE philosophy as the other
codecs: the builder emits spec-conformant Adam7 streams (seven passes,
each pass an independently-filtered sub-image, one zlib stream across all
passes, per PNG spec §8.2) and the decoder reconstructs ANY conforming
8-bit RGB Adam7 stream — all five scanline filters per pass, empty-pass
handling for tiny dimensions — not just the builder's output.

The feature pass adds ``pos_sum`` = Σ luma(x,y) · (y·width + x + 1) on top
of the usual integer features: a deinterlacing bug that lands the right
pixels in the wrong places keeps ``sum_luma`` but breaks ``pos_sum``, so
the DuckDB oracle checks pixel PLACEMENT, not only pixel values.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .multimodal import (
    _feature_rows,
    _luma,
    _paeth,
    _png_chunk,
    media_from_doc_ids,
)

# (x0, y0, dx, dy) per pass, PNG spec §8.2
ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]

_BPP = 3  # 8-bit RGB


def _pass_dims(width: int, height: int, p: int) -> tuple[int, int]:
    x0, y0, dx, dy = ADAM7[p]
    pw = (width - x0 + dx - 1) // dx if width > x0 else 0
    ph = (height - y0 + dy - 1) // dy if height > y0 else 0
    return pw, ph


def _filter_line(ftype: int, line: bytes, prev: bytes) -> bytearray:
    """Forward-apply PNG filter ``ftype`` to an unfiltered scanline."""
    stride = len(line)
    out = bytearray(stride)
    for i in range(stride):
        left = line[i - _BPP] if i >= _BPP else 0
        up = prev[i]
        ul = prev[i - _BPP] if i >= _BPP else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) // 2
        else:
            pred = _paeth(left, up, ul)
        out[i] = (line[i] - pred) & 0xFF
    return out


def build_png_adam7(width: int, height: int, pixel_fn) -> bytes:
    """Serialize an 8-bit RGB PNG with Adam7 interlacing (IHDR interlace
    method 1). Scanline filters CYCLE through all five types within each
    pass (``(row_in_pass + pass_no) % 5``) so a decoder must genuinely
    defilter every pass, with the filter's ``prev`` line being the
    previous line of the SAME pass (passes are independent sub-images)."""
    raw = bytearray()
    for p, (x0, y0, dx, dy) in enumerate(ADAM7):
        pw, ph = _pass_dims(width, height, p)
        if pw <= 0 or ph <= 0:
            continue
        prev = bytes(pw * _BPP)
        for j in range(ph):
            line = bytearray()
            for i in range(pw):
                line += bytes(pixel_fn(x0 + i * dx, y0 + j * dy))
            ftype = (j + p) % 5
            raw.append(ftype)
            raw += _filter_line(ftype, bytes(line), prev)
            prev = bytes(line)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_adam7(payload: bytes) -> tuple[int, int, list[int]]:
    """Decode an 8-bit RGB Adam7-interlaced PNG: walk chunks, inflate the
    single IDAT stream, then for each of the seven passes defilter its
    scanlines (all five filter types, ``prev`` scoped to the pass) and
    scatter the recovered pixels to their full-raster positions."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos, width, height, idat = 8, None, None, bytearray()
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + clen]
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _c, _f, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if bit_depth != 8 or color_type != 2 or interlace != 1:
                raise NotImplementedError(
                    "only Adam7-interlaced 8-bit RGB PNG is supported here"
                )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    lumas = [0] * (width * height)
    off = 0
    for p, (x0, y0, dx, dy) in enumerate(ADAM7):
        pw, ph = _pass_dims(width, height, p)
        if pw <= 0 or ph <= 0:
            continue
        stride = pw * _BPP
        prev = bytearray(stride)
        for j in range(ph):
            if off + 1 + stride > len(raw):
                raise ValueError("truncated Adam7 raster")
            ftype = raw[off]
            line = bytearray(raw[off + 1 : off + 1 + stride])
            off += 1 + stride
            if ftype == 1:  # Sub
                for i in range(_BPP, stride):
                    line[i] = (line[i] + line[i - _BPP]) & 0xFF
            elif ftype == 2:  # Up
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 0xFF
            elif ftype == 3:  # Average
                for i in range(stride):
                    left = line[i - _BPP] if i >= _BPP else 0
                    line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
            elif ftype == 4:  # Paeth
                for i in range(stride):
                    left = line[i - _BPP] if i >= _BPP else 0
                    ul = prev[i - _BPP] if i >= _BPP else 0
                    line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
            elif ftype != 0:
                raise ValueError(f"unknown PNG filter {ftype}")
            for i in range(pw):
                y = y0 + j * dy
                x = x0 + i * dx
                lumas[y * width + x] = _luma(
                    line[3 * i], line[3 * i + 1], line[3 * i + 2]
                )
            prev = line
    if off != len(raw):
        raise ValueError("trailing Adam7 raster bytes")
    return width, height, lumas


def decode_image_adam7(payload: bytes) -> dict:
    """Adam7 payload → exact integer features. ``pos_sum`` weights each
    luma by its raster position so pixel misplacement (the failure mode
    unique to deinterlacing) changes the value."""
    width, height, lumas = decode_png_adam7(payload)
    return {
        "width": width,
        "height": height,
        "n_px": width * height,
        "sum_luma": sum(lumas),
        "pos_sum": sum(v * (k + 1) for k, v in enumerate(lumas)),
    }


ADAM7_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_px", T.IntegerType()),
        T.StructField("sum_luma", T.LongType()),
        T.StructField("pos_sum", T.LongType()),
        T.StructField("status", T.StringType()),  # ok | decode_failed
    ]
)

_ADAM7_NULL = {
    "width": None, "height": None, "n_px": None,
    "sum_luma": None, "pos_sum": None,
}


def image_features_adam7(df: DataFrame) -> DataFrame:
    """media rows → per-image Adam7 features in one Arrow-batched pass;
    the payload is consumed inside the pass and never shuffles, corrupt
    payloads degrade to status='decode_failed' rows (same contract as
    :func:`.multimodal.image_features`)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            feats = _feature_rows(b["payload"], decode_image_adam7, _ADAM7_NULL)
            # (_feature_rows stamps sha256 onto failure rows; the explicit
            # columns= selection below drops it from this narrower schema)
            out = pd.DataFrame(
                feats,
                columns=[f.name for f in ADAM7_FEATURES_SCHEMA][1:],
                dtype=object,
            )
            out.insert(0, "media_id", b["media_id"].values)
            yield out

    return df.select("media_id", "payload").mapInPandas(
        fn, schema=ADAM7_FEATURES_SCHEMA
    )


def _doc_adam7_dims(doc_id: int) -> tuple[int, int]:
    """5..16 × 5..13 — ≥5 on both axes keeps all seven passes non-empty
    at fixture scale (empty passes are covered by unit tests instead)."""
    return 5 + doc_id % 12, 5 + (doc_id // 12) % 9


def _doc_adam7_pixel(doc_id: int):
    """Distinct formula from the non-interlaced PNG fixture ((2x+y+id))
    so an Adam7 result can never be a silent replay of that path."""

    def px(x: int, y: int) -> tuple[int, int, int]:
        v = (3 * x + 2 * y + doc_id) % 256
        return (v, v, v)

    return px


def media_png_adam7_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize a deterministic Adam7-interlaced gray PNG per document
    (pixel (x,y) = (3x + 2y + doc_id) mod 256)."""
    return media_from_doc_ids(
        docs, "image", "image/png",
        lambda ids: [
            build_png_adam7(*_doc_adam7_dims(d), _doc_adam7_pixel(d))
            for d in ids
        ],
    )
