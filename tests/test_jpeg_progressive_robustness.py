"""Corrupt-stream behavior of the JPEG decoder, for progressive and
baseline (gray, 4:4:4, 4:2:0, 4:1:1, 4:2:2) streams alike.

A bad payload must become a clean exception (which image_features turns
into a status='decode_failed' row), never a hang, a wrong answer, or an
unbounded loop — the same degradation contract as every other codec in
the engine.
"""

import struct

import pytest

from work_order_pdf_extractor_spark.core import jpegcodec as J

_CORRUPT = (ValueError, IndexError, KeyError, NotImplementedError)


def _prog():
    return J.encode_progressive(16, 16, [list(range(256))])


def _streams():
    """One progressive and five baseline encodings of a 16×16 raster."""
    y = list(range(256))
    out = {"progressive_gray": _prog(), "baseline_gray": J.encode_baseline(16, 16, [y])}
    for name, (sh, sv) in (
        ("444", (1, 1)), ("420", (2, 2)), ("411", (4, 1)), ("422", (2, 1))
    ):
        n = -(-16 // sh) * -(-16 // sv)
        cb = [(7 * i) % 256 for i in range(n)]
        out[f"baseline_{name}"] = J.encode_baseline(
            16, 16, [y, cb, cb[::-1]], (sh, sv)
        )
    return out


def test_truncated_streams_raise():
    for name, p in _streams().items():
        for cut in (len(p) // 4, len(p) // 2, len(p) - 3):
            with pytest.raises(_CORRUPT):
                J.decode_rgb_arrays(p[:cut])
                pytest.fail(f"{name} cut at {cut} decoded")


def test_flipped_entropy_bytes_never_hang():
    # flipping bytes inside scan data either still decodes (different
    # pixels) or raises — both acceptable; what must not happen is a
    # hang or a non-exception crash
    for p in _streams().values():
        sos = p.find(b"\xff\xda")
        for off in (sos + 20, sos + 25, len(p) - 10):
            q = bytearray(p)
            q[off] ^= 0x5A
            try:
                J.decode_rgb_arrays(bytes(q))
            except _CORRUPT:
                pass


def test_missing_sof_raises():
    for p in _streams().values():
        p = bytearray(p)
        i = max(p.find(b"\xff\xc0"), p.find(b"\xff\xc2"))
        p[i + 1] = 0xC3  # lossless SOF: out of subset
        with pytest.raises(NotImplementedError):
            J.decode_rgb_arrays(bytes(p))


def test_scan_before_frame_raises():
    # strip the SOF segment entirely: SOS then arrives before any frame
    for p in _streams().values():
        i = max(p.find(b"\xff\xc0"), p.find(b"\xff\xc2"))
        (seglen,) = struct.unpack_from(">H", p, i + 2)
        stripped = p[:i] + p[i + 2 + seglen :]
        with pytest.raises(ValueError):
            J.decode_rgb_arrays(stripped)


def test_decode_failed_rows_not_task_failures(spark):
    # end-to-end: a corrupt progressive payload flows through
    # image_features as a status row, exactly like other codecs
    import pandas as pd

    from work_order_pdf_extractor_spark.operators import multimodal

    good = _prog()
    bad = good[: len(good) // 2]
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": pd.array([1, 2], dtype="int64"),
                "kind": ["image", "image"],
                "payload": [good, bad],
                "mime": ["image/jpeg"] * 2,
                "n_bytes": pd.array([len(good), len(bad)], dtype="int32"),
            }
        )
    )
    rows = {r.media_id: r.status for r in multimodal.image_features(media).collect()}
    assert rows[1] == "ok"
    assert rows[2] == "decode_failed"
