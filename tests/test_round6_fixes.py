"""Round-6 hardening (r5 ADVICE items): JPEG 0xFF fill-byte tolerance,
PDF stream bodies containing the bytes ``endobj``, and the
``persisted_out`` cache-lifecycle escape hatch on the bigram LM."""

from __future__ import annotations

from work_order_pdf_extractor_spark.core import jpegcodec, pdfparse


def _decode(payload: bytes):
    """(width, height, [(r, g, b), ...]) from the JPEG decoder."""
    w, h, rgb = jpegcodec.decode_rgb_arrays(payload)
    return w, h, list(zip(*(c.tolist() for c in rgb)))


def _with_fill_bytes(payload: bytes) -> bytes:
    """Insert T.81 B.1.1.2 fill bytes (extra 0xFF pads before a marker
    code) after SOI and before the final EOI — both legal placements a
    conforming external encoder may emit."""
    assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
    return b"\xff\xd8" + b"\xff\xff" + payload[2:-2] + b"\xff\xff" + b"\xff\xd9"


def test_baseline_decode_skips_fill_bytes():
    samples = [(i * 7 + 13) % 256 for i in range(16 * 16)]
    clean = jpegcodec.encode_baseline(16, 16, [samples])
    w0, h0, px0 = _decode(clean)
    w1, h1, px1 = _decode(_with_fill_bytes(clean))
    assert (w0, h0) == (w1, h1) == (16, 16)
    assert px0 == px1


def test_progressive_decode_skips_fill_bytes():
    samples = [(i * 11 + 5) % 256 for i in range(16 * 16)]
    clean = jpegcodec.encode_progressive(16, 16, [samples])
    w0, h0, px0 = _decode(clean)
    w1, h1, px1 = _decode(_with_fill_bytes(clean))
    assert (w0, h0) == (w1, h1) == (16, 16)
    assert px0 == px1


def test_obj_at_skips_stream_containing_endobj_bytes():
    """Flate output is arbitrary binary — if it happens to contain the
    byte sequence ``endobj`` the object body must NOT truncate there
    (the /Length skip mirrors _stream_bytes)."""
    stream = b"AAAAendobjBBBBCCCCDD"  # 20 bytes, fake terminator inside
    data = (
        b"5 0 obj\n<< /Length 20 /Type /XObject >>\nstream\n"
        + stream
        + b"\nendstream\nendobj\nTRAILING"
    )
    num, body = pdfparse._obj_at(data, 0)
    assert num == 5
    assert b"endstream" in body  # body reaches past the embedded bytes
    assert b"AAAAendobjBBBB" in body
    assert b"TRAILING" not in body


def test_obj_at_without_stream_unchanged():
    data = b"7 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    num, body = pdfparse._obj_at(data, 0)
    assert num == 7
    assert b"/Catalog" in body and b"endobj" not in body


def test_bigram_lm_persisted_out_contract(spark):
    """persisted_out collects the two cached tables (same contract as
    plans.ingest.incremental_ingest) so a long-lived caller can
    unpersist them after consuming the result."""
    from work_order_pdf_extractor_spark.operators import lm

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the log")],
        "doc_id long, text string",
    )
    out: list = []
    res = lm.bigram_lm_score(df, persisted_out=out)
    assert res.count() == 2
    assert len(out) == 2
    for cached in out:
        assert cached.is_cached
        cached.unpersist()
        assert not cached.is_cached


def test_split_objects_skips_stream_containing_endobj_bytes():
    """Same hole as _obj_at, on the CLASSIC-xref scan path: the /Length
    skip must protect _split_objects too (review finding, r6)."""
    stream = b"AAAAendobjBBBBCCCCDD"  # 20 bytes, fake terminator inside
    data = (
        b"5 0 obj\n<< /Length 20 >>\nstream\n" + stream
        + b"\nendstream\nendobj\n"
        b"6 0 obj\n<< /Type /Catalog >>\nendobj\n"
    )
    objs = pdfparse._split_objects(data)
    assert set(objs) == {5, 6}
    assert b"AAAAendobjBBBB" in objs[5] and b"endstream" in objs[5]
    assert b"/Catalog" in objs[6]


def test_split_objects_ignores_obj_shaped_bytes_inside_stream():
    """An ``N 0 obj`` byte run inside stream data must not shadow a real
    object: the scan advances past each object's true end."""
    stream = b"xx 7 0 obj << /Fake true >> endobj yy"
    data = (
        b"5 0 obj\n<< /Length " + str(len(stream)).encode()
        + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n"
        b"7 0 obj\n<< /Real true >>\nendobj\n"
    )
    objs = pdfparse._split_objects(data)
    assert set(objs) == {5, 7}
    assert b"/Real" in objs[7] and b"/Fake" not in objs[7]


def test_classic_pdf_with_endobj_text_parses_end_to_end():
    """A valid classic-xref PDF whose (uncompressed) content stream
    contains the literal word 'endobj' must parse — the old scan
    truncated the body and reported a truncated content stream."""
    data = pdfparse.build_pdf(
        [[("text", 40, 760, 10, "note: endobj appears in prose")]]
    )
    assert b"endobj appears" in data  # the hazard is actually present
    pages = pdfparse.parse_pdf(data)
    texts = " ".join(t[0] for t in pages[0]["tokens"])
    assert "endobj appears in prose" in texts


# ---- 4:1:1 JPEG (sampling factor 4): closes the 'factors > 2' boundary ----

import numpy as np


def _rgb_411(w, h, yfn, dcb, dcr):
    cw = (w + 3) // 4
    y = [yfn(x, yy) for yy in range(h) for x in range(w)]
    cb = [128 + dcb] * (cw * h)
    cr = [128 + dcr] * (cw * h)
    return _decode(
        jpegcodec.encode_baseline(w, h, [y, cb, cr], (4, 1))
    )


def test_jpeg411_region_constant_round_trip_is_analytic():
    """32x8-region-constant Y + constant chroma under the flat quant
    table decode to the closed-form RGB — the same exactness contract
    the 4:2:0 path has, now at sampling factor 4 with non-MCU-aligned
    dims (pad + crop exercised)."""
    w, h, dcb, dcr = 36, 20, 3, -8
    yfn = lambda x, yy: (2 * (x // 32) + (yy // 8) + 7) % 256
    dw, dh, px = _rgb_411(w, h, yfn, dcb, dcr)
    assert (dw, dh) == (w, h)
    for yy in range(h):
        for x in range(w):
            yv = yfn(x, yy)
            exp = (
                int(np.clip(round(yv + 1.402 * dcr), 0, 255)),
                int(np.clip(round(yv - 0.344136 * dcb - 0.714136 * dcr), 0, 255)),
                int(np.clip(round(yv + 1.772 * dcb), 0, 255)),
            )
            assert px[yy * w + x] == exp, (x, yy)


def test_jpeg411_neutral_chroma_matches_444():
    """With NEUTRAL chroma the 4:1:1 and 4:4:4 encodings of the same
    block-constant luma must decode identically (replicating a constant
    chroma plane is lossless)."""
    w, h = 32, 8
    y = [(3 * (x // 8) + (yy // 8) + 5) % 256 for yy in range(h) for x in range(w)]
    neutral_full = [128] * (w * h)
    neutral_q = [128] * (((w + 3) // 4) * h)
    a = _decode(
        jpegcodec.encode_baseline(w, h, [y, neutral_full, neutral_full])
    )
    b = _decode(
        jpegcodec.encode_baseline(w, h, [y, neutral_q, neutral_q], (4, 1))
    )
    assert a == b


def test_jpeg_sampling_factor_3_still_rejected():
    """Factor 3 gives a non-integer upsampling ratio vs hmax=4 — the
    boundary stays a documented NotImplementedError, not a wrong image."""
    w, h = 32, 8
    y = [100] * (w * h)
    cq = [128] * (((w + 3) // 4) * h)
    payload = bytearray(jpegcodec.encode_baseline(w, h, [y, cq, cq], (4, 1)))
    i = payload.index(bytes([2, 0x11, 1]))  # Cb component spec in SOF
    payload[i + 1] = 0x31  # hi=3, vi=1
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        jpegcodec.decode_rgb_arrays(bytes(payload))
