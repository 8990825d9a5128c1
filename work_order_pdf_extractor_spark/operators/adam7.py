"""Adam7 INTERLACED PNG: the encoder and its media fixture.

Interlaced PNGs are a shape a crawled-web corpus hits that a sequential
decoder would reject. The one PNG decoder, :func:`.multimodal._decode_png`,
reads both interlace modes; this module only EMITS spec-conformant Adam7
streams (seven passes, each pass an independently-filtered sub-image,
one zlib stream across all passes, per PNG spec §8.2) for it to read.
Mirrors the role of the reference's render-anything boundary
(``work_order_extractor.py:1121-1146`` pdf2image/poppler).

The ``png_adam7_decode`` query checks :func:`.multimodal.image_features`'
``pos_sum`` = Σ luma(x,y) · (y·width + x + 1) on top of the usual integer
features: a deinterlacing bug that lands the right pixels in the wrong
places keeps ``sum_luma`` but breaks ``pos_sum``, so the DuckDB oracle
checks pixel PLACEMENT, not only pixel values.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame

from .multimodal import (
    ADAM7,
    _paeth,
    _pass_dims,
    _png_chunk,
    media_from_doc_ids,
)

_BPP = 3  # 8-bit RGB


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
        pw, ph = _pass_dims(width, height, x0, y0, dx, dy)
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
