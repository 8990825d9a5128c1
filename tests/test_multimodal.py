"""Multimodal: real stdlib BMP/PPM/WAV decode, binary payload schema,
Arrow batch path, frame-sample fan-out."""

from __future__ import annotations

import hashlib

import pytest

from work_order_pdf_extractor_spark.operators import multimodal as M


def _decode_jpeg(payload: bytes):
    """(width, height, [(r, g, b), ...]) from the JPEG decoder."""
    from work_order_pdf_extractor_spark.core import jpegcodec as J

    w, h, rgb = J.decode_rgb_arrays(payload)
    return w, h, list(zip(*(c.tolist() for c in rgb)))


@pytest.fixture(scope="module")
def media_df(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return M.media_bmp_from_documents(docs)


def test_media_schema(media_df):
    assert [f.name for f in media_df.schema.fields] == [
        "media_id", "kind", "payload", "mime", "n_bytes",
    ]
    assert media_df.schema["payload"].dataType.typeName() == "binary"


def test_bmp_roundtrip_exact():
    """decode(build(img)) recovers dims and every pixel's luma, including
    non-multiple-of-4 widths (row padding) and bottom-up order."""
    for w, h in [(1, 1), (3, 2), (5, 7), (8, 4)]:
        px = lambda x, y: ((x * 50) % 256, (y * 80) % 256, (x + y) % 256)
        d = M.decode_image(M.build_bmp(w, h, px))
        assert (d["width"], d["height"], d["n_px"]) == (w, h, w * h)
        expect = sum(
            M._luma(*px(x, y)) for x in range(w) for y in range(h)
        )
        assert d["sum_luma"] == expect


def test_ppm_matches_bmp_features():
    px = lambda x, y: ((x + 3 * y + 7) % 256,) * 3
    bmp = M.decode_image(M.build_bmp(6, 5, px))
    ppm = M.decode_image(M.build_ppm(6, 5, px))
    for k in ("width", "height", "n_px", "sum_luma", "mean_luma", "embedding"):
        assert bmp[k] == ppm[k], k


def test_wav_roundtrip_exact():
    samples = [0, 100, -100, 32767, -32768, 5]
    d = M.decode_audio(M.build_wav(samples, sample_rate=16000))
    assert d["channels"] == 1
    assert d["sample_rate"] == 16000
    assert d["n_samples"] == len(samples)
    assert d["sum_abs"] == sum(abs(s) for s in samples)
    assert d["peak"] == 32768
    assert d["sha256"] == hashlib.sha256(
        M.build_wav(samples, sample_rate=16000)
    ).hexdigest()


def test_remaining_codec_boundary_is_explicit():
    """Baseline AND progressive JPEG are now decodable
    (core/jpegcodec.py); the remaining documented boundaries — lossless/
    hierarchical SOFs, perceptual audio (MP3) — reject explicitly rather
    than mis-decoding."""
    from work_order_pdf_extractor_spark.core import jpegcodec as J

    flat = J.encode_baseline(8, 8, [[7] * 64])
    # SOF0 -> SOF3 marker: lossless sequential, out of subset
    lossless = flat.replace(b"\xff\xc0", b"\xff\xc3", 1)
    with pytest.raises(NotImplementedError):
        M.decode_image(lossless)
    # truncated garbage after SOI is corrupt, not "unsupported"
    with pytest.raises((ValueError, IndexError, KeyError)):
        M.decode_image(b"\xff\xd8\xff\xe0rest-of-jpeg")
    with pytest.raises(NotImplementedError):
        M.decode_audio(b"ID3\x03rest")


def test_jpeg_block_constant_roundtrip_bit_exact():
    """An 8x8-block-constant raster under the flat quant table round-trips
    BIT-EXACTLY through the full FDCT->Huffman->decode pipeline (AC
    coefficients are analytically zero) — the property the integer-exact
    jpeg_decode oracle relies on."""
    from work_order_pdf_extractor_spark.core import jpegcodec as J

    w, h = 32, 24
    img = [
        ((x // 8) + 2 * (y // 8) + 5) % 256 for y in range(h) for x in range(w)
    ]
    dw, dh, lumas = J.decode_gray_array(J.encode_baseline(w, h, [img]))
    assert (dw, dh) == (w, h)
    assert lumas.tolist() == img


def test_jpeg_flat_quant_near_lossless_and_std_quant_lossy():
    """Arbitrary content: flat quant table is near-lossless (|err| <= 1
    per pixel, float FDCT/IDCT rounding only); the Annex K table is
    genuinely lossy yet compresses smaller and preserves the mean."""
    import random

    from work_order_pdf_extractor_spark.core import jpegcodec as J

    rng = random.Random(7)
    w, h = 19, 13  # non-multiple-of-8: exercises pad + crop
    img = [rng.randrange(256) for _ in range(w * h)]
    p_flat = J.encode_baseline(w, h, [img])
    dw, dh, flat = J.decode_gray_array(p_flat)
    assert (dw, dh) == (w, h)
    assert max(abs(a - b) for a, b in zip(flat, img)) <= 1
    p_std = J.encode_baseline(w, h, [img], luma_quant=J.STD_LUMA_QUANT)
    _, _, lossy = J.decode_gray_array(p_std)
    assert len(p_std) < len(p_flat)
    assert abs(sum(lossy) / len(lossy) - sum(img) / len(img)) < 10


def test_jpeg_rejects_subsampling_16bit_quant_and_truncated_sof():
    from work_order_pdf_extractor_spark.core import jpegcodec as J

    flat = J.encode_baseline(8, 8, [list(range(64))])
    dqt_at = flat.index(b"\xff\xdb")
    wide = flat[: dqt_at + 4] + b"\x10" + flat[dqt_at + 5 :]
    with pytest.raises(NotImplementedError):
        J.decode_rgb_arrays(wide)
    # a gray SOF0 claiming 3 components is corrupt (too short), not merely
    # unsupported — color itself is now decodable
    sof_at = flat.index(b"\xff\xc0")
    ncomp_at = sof_at + 4 + 5  # marker(2) + len(2) + precision(1) + dims(4)
    truncated = flat[:ncomp_at] + b"\x03" + flat[ncomp_at + 1 :]
    with pytest.raises(ValueError):
        J.decode_rgb_arrays(truncated)
    # sampling factor 3 -> explicit boundary (r6 moved the line: 1/2/4
    # with integer upsampling ratios are all decodable, incl. 4:1:1)
    color = J.encode_baseline(8, 8, [[7] * 64, [128] * 64, [128] * 64])
    csof = color.index(b"\xff\xc0")
    # SOF0: marker(2) len(2) precision(1) dims(4) ncomp(1) id(1) -> sampling
    sampled = color[: csof + 11] + b"\x31" + color[csof + 12 :]
    with pytest.raises(NotImplementedError):
        J.decode_rgb_arrays(sampled)


def test_jpeg420_region_constant_bit_exact():
    """4:2:0: 16x16-region-constant Y + per-image constant chroma
    round-trips bit-exactly through the subsampled MCU structure (four Y
    blocks + half-res chroma per MCU), including non-MCU-aligned dims
    (pad + crop) — the property the jpeg420 oracle relies on."""
    import numpy as np

    from work_order_pdf_extractor_spark.core import jpegcodec as J

    for (w, h, cb0, cr0) in [(16, 16, 128, 128), (20, 28, 140, 120),
                             (24, 20, 122, 136)]:
        y = [
            (2 * (x // 16) + (yy // 16) + 5) % 256
            for yy in range(h)
            for x in range(w)
        ]
        cw, ch = (w + 1) // 2, (h + 1) // 2
        p = J.encode_baseline(
            w, h, [y, [cb0] * (cw * ch), [cr0] * (cw * ch)], (2, 2)
        )
        dw, dh, rgb = _decode_jpeg(p)
        assert (dw, dh) == (w, h)
        yp = np.array(y, dtype=np.float64).reshape(h, w)
        dcb, dcr = cb0 - 128.0, cr0 - 128.0
        exp = np.stack(
            [
                np.clip(np.round(yp + 1.402 * dcr), 0, 255),
                np.clip(
                    np.round(yp - 0.344136 * dcb - 0.714136 * dcr), 0, 255
                ),
                np.clip(np.round(yp + 1.772 * dcb), 0, 255),
            ],
            axis=-1,
        ).astype(int)
        assert (np.array(rgb).reshape(h, w, 3) == exp).all(), (w, h, cb0, cr0)


def test_jpeg420_matches_444_on_constant_chroma():
    """On a constant-chroma fixture, 4:2:0 and 4:4:4 encodings of the
    same planes must decode identically (subsampling loses nothing when
    chroma is constant) — a differential check of the whole MCU walk."""
    from work_order_pdf_extractor_spark.core import jpegcodec as J

    w, h = 20, 12
    y = [(32 + 8 * ((x // 16) + (yy // 16) * 3)) % 256
         for yy in range(h) for x in range(w)]
    cw, ch = (w + 1) // 2, (h + 1) // 2
    p420 = J.encode_baseline(
        w, h, [y, [140] * (cw * ch), [120] * (cw * ch)], (2, 2)
    )
    p444 = J.encode_baseline(w, h, [y, [140] * (w * h), [120] * (w * h)])
    assert _decode_jpeg(p420) == _decode_jpeg(p444)
    assert len(p420) < len(p444), "4:2:0 must be smaller (2 vs 6 chroma blocks per 16x16)"


def test_jpeg_color_neutral_chroma_bit_exact():
    """Block-constant Y with neutral chroma (Cb=Cr=128) through the full
    3-component interleaved scan round-trips bit-exactly: chroma planes
    reconstruct to exactly zero offset, so JFIF YCbCr->RGB returns
    (Y, Y, Y) — the property the color-decode oracle relies on."""
    from work_order_pdf_extractor_spark.core import jpegcodec as J

    w, h = 24, 16
    y = [((x // 8) + 2 * (yy // 8) + 9) % 256 for yy in range(h) for x in range(w)]
    p = J.encode_baseline(w, h, [y, [128] * (w * h), [128] * (w * h)])
    dw, dh, rgb = _decode_jpeg(p)
    assert (dw, dh) == (w, h)
    assert all(r == g == b for r, g, b in rgb)
    assert [r for r, _, _ in rgb] == y


def test_jpeg_color_content_roundtrip_close():
    """Arbitrary YCbCr content under flat quant: decoded RGB within a few
    counts of the direct float conversion of the original planes (FDCT/
    IDCT rounding only), and the lossy Annex-K tables compress smaller."""
    import random

    from work_order_pdf_extractor_spark.core import jpegcodec as J

    rng = random.Random(3)
    w, h = 16, 16
    yv = [rng.randrange(256) for _ in range(w * h)]
    cbv = [rng.randrange(64, 192) for _ in range(w * h)]
    crv = [rng.randrange(64, 192) for _ in range(w * h)]
    p = J.encode_baseline(w, h, [yv, cbv, crv])
    _, _, rgb = _decode_jpeg(p)

    def conv(yy, cbb, crr):
        r = min(255, max(0, round(yy + 1.402 * (crr - 128))))
        g = min(255, max(0, round(yy - 0.344136 * (cbb - 128) - 0.714136 * (crr - 128))))
        b = min(255, max(0, round(yy + 1.772 * (cbb - 128))))
        return r, g, b

    worst = max(
        max(abs(a - b) for a, b in zip(got, conv(yy, cbb, crr)))
        for got, yy, cbb, crr in zip(rgb, yv, cbv, crv)
    )
    assert worst <= 4
    p_std = J.encode_baseline(
        w, h, [yv, cbv, crv], (1, 1), J.STD_LUMA_QUANT, J.STD_CHROMA_QUANT
    )
    assert len(p_std) < len(p)


def test_png_roundtrip_exact():
    """decode(build(img)) through a genuinely COMPRESSED payload (zlib
    IDAT) recovers dims and every pixel's luma."""
    for w, h in [(1, 1), (3, 2), (5, 7), (16, 16)]:
        px = lambda x, y: ((x * 50) % 256, (y * 80) % 256, (x + y) % 256)
        payload = M.build_png(w, h, px)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        d = M.decode_image(payload)
        assert (d["width"], d["height"], d["n_px"]) == (w, h, w * h)
        expect = sum(M._luma(*px(x, y)) for x in range(w) for y in range(h))
        assert d["sum_luma"] == expect


def test_png_matches_bmp_features():
    px = lambda x, y: ((x + 3 * y + 7) % 256,) * 3
    bmp = M.decode_image(M.build_bmp(6, 5, px))
    png = M.decode_image(M.build_png(6, 5, px))
    for k in ("width", "height", "n_px", "sum_luma", "mean_luma", "embedding"):
        assert bmp[k] == png[k], k


def _png_with_filters(w, h, px, filters):
    """Hand-encode a PNG applying the given filter type per scanline
    (forward-filtering per the PNG spec) — exercises the decoder's
    reconstruction of Sub/Up/Average/Paeth, which build_png never emits."""
    import struct as _struct
    import zlib as _zlib

    stride = w * 3
    prev = bytearray(stride)
    out = bytearray()
    for y in range(h):
        raw = bytearray()
        for x in range(w):
            raw += bytes(px(x, y))
        f = filters[y % len(filters)]
        out.append(f)
        for i in range(stride):
            left = raw[i - 3] if i >= 3 else 0
            up = prev[i]
            ul = prev[i - 3] if i >= 3 else 0
            if f == 0:
                v = raw[i]
            elif f == 1:
                v = raw[i] - left
            elif f == 2:
                v = raw[i] - up
            elif f == 3:
                v = raw[i] - (left + up) // 2
            else:
                v = raw[i] - M._paeth(left, up, ul)
            out.append(v & 0xFF)
        prev = raw
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", _zlib.compress(bytes(out)))
        + M._png_chunk(b"IEND", b"")
    )


def test_png_all_filter_types_reconstruct():
    w, h = 7, 10
    px = lambda x, y: ((13 * x + 29 * y) % 256, (x * y) % 256, (x + 5 * y) % 256)
    want = M.decode_image(M.build_png(w, h, px))
    for filters in ([1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = M.decode_image(_png_with_filters(w, h, px, filters))
        assert got["sum_luma"] == want["sum_luma"], filters
        assert got["embedding"] == want["embedding"], filters


def test_image_features_distributed_match_local(spark, media_df):
    feats = M.image_features(media_df).toPandas()
    rows = media_df.select("media_id", "payload").toPandas()
    assert len(feats) == len(rows)
    local = {
        int(r.media_id): M.decode_image(bytes(r.payload))
        for r in rows.itertuples()
    }
    for r in feats.itertuples():
        exp = local[int(r.media_id)]
        assert r.sha256 == exp["sha256"]
        assert (r.width, r.height) == (exp["width"], exp["height"])
        assert (r.n_px, r.sum_luma) == (exp["n_px"], exp["sum_luma"])
        assert list(r.embedding) == pytest.approx(exp["embedding"], abs=1e-6)


def test_audio_features_distributed_match_local(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wav = M.media_wav_from_documents(docs)
    feats = M.audio_features(wav).toPandas()
    rows = wav.select("media_id", "payload").toPandas()
    local = {
        int(r.media_id): M.decode_audio(bytes(r.payload))
        for r in rows.itertuples()
    }
    assert len(feats) == len(rows)
    for r in feats.itertuples():
        exp = local[int(r.media_id)]
        assert (r.n_samples, r.sum_abs, r.peak) == (
            exp["n_samples"], exp["sum_abs"], exp["peak"],
        )


def test_payload_dropped_from_features(spark, media_df):
    feats = M.image_features(media_df)
    assert "payload" not in feats.columns


def test_frame_sample_plan(spark, media_df):
    plan = M.frame_sample_plan(media_df, every_n=10).toPandas()
    one = plan[plan.media_id == plan.media_id.iloc[0]]
    assert (one.frame_no.values % 10 == 0).all()
    assert one.frame_no.is_monotonic_increasing


# ---------------------------------------------------------------------------
# Property tests: decode(build(x)) recovers x exactly, for arbitrary shapes
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 16),
    h=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_roundtrip_property(w, h, seed):
    px = lambda x, y: (
        (x * 31 + seed) % 256, (y * 17 + seed) % 256, (x + y + seed) % 256
    )
    d = M.decode_image(M.build_bmp(w, h, px))
    assert (d["width"], d["height"]) == (w, h)
    assert d["sum_luma"] == sum(
        M._luma(*px(x, y)) for y in range(h) for x in range(w)
    )


@settings(max_examples=40, deadline=None)
@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=0, max_size=200),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(samples, rate):
    d = M.decode_audio(M.build_wav(samples, sample_rate=rate))
    assert d["n_samples"] == len(samples)
    assert d["sample_rate"] == rate
    assert d["sum_abs"] == sum(abs(s) for s in samples)
    assert d["peak"] == max((abs(s) for s in samples), default=0)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 10), h=st.integers(1, 10), seed=st.integers(0, 10**6)
)
def test_ppm_bmp_agree_property(w, h, seed):
    px = lambda x, y: ((x * 7 + y * 13 + seed) % 256,) * 3
    a = M.decode_image(M.build_bmp(w, h, px))
    b = M.decode_image(M.build_ppm(w, h, px))
    assert a["sum_luma"] == b["sum_luma"]
    assert a["embedding"] == b["embedding"]


def test_corrupt_payload_degrades_not_crashes(spark):
    """A corrupt/unsupported payload becomes a status='decode_failed' row
    with null features — never a task failure."""
    import pandas as pd

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": pd.array([1, 2], dtype="int64"),
                "kind": "image",
                "payload": [
                    M.build_bmp(3, 3, lambda x, y: (x, y, 0)),
                    b"\x89PNG not decodable",
                ],
                "mime": "image/bmp",
                "n_bytes": pd.array([99, 18], dtype="int32"),
            }
        )
    )
    feats = M.image_features(media).toPandas().set_index("media_id")
    assert feats.loc[1, "status"] == "ok"
    assert feats.loc[1, "n_px"] == 9
    assert feats.loc[2, "status"] == "decode_failed"
    assert pd.isna(feats.loc[2, "width"])
    assert feats.loc[2, "sha256"]  # checksum still recorded for triage


def test_mulaw_closed_form_and_wav_roundtrip():
    """decode(encode(s)) must equal the closed-form quantization the SQL
    oracle uses (bias, threshold-ladder exponent, mantissa truncation +
    half step) for every int16 value, and survive the RIFF container."""
    def closed_form(s):
        b = min(abs(s), 32635) + 132
        e = next(i for i in range(8) if b < (1 << (i + 8)))
        mag = ((b >> (e + 3)) << (e + 3)) + (1 << (e + 2)) - 132
        return -mag if s < 0 else mag

    for s in list(range(-300, 300)) + [-32768, -32635, -2048, 2047, 32635, 32767]:
        assert M.mulaw_decode(M.mulaw_encode(s)) == closed_form(s), s
    samples = [(37 * i + 77) % 4096 - 2048 for i in range(23)]
    d = M.decode_audio(M.build_wav_mulaw(samples))
    assert d["n_samples"] == 23
    assert d["sum_abs"] == sum(abs(closed_form(s)) for s in samples)
    assert d["peak"] == max(abs(closed_form(s)) for s in samples)


def test_png_palette_roundtrip_and_bounds():
    did = 9
    w, h = M._doc_image_dims(did)
    pal = M._doc_palette(did)
    p = M.build_png_palette(w, h, pal, lambda x, y: (x + 2 * y + did) % 16)
    W, H, lumas = M._decode_png(p)
    assert (W, H) == (w, h)
    assert lumas.tolist() == [
        M._luma(*pal[(x + 2 * y + did) % 16])
        for y in range(h)
        for x in range(w)
    ]
    # an index past the palette is corrupt data, not a crash elsewhere
    bad = M.build_png_palette(2, 2, pal[:2], lambda x, y: 3)
    with pytest.raises(ValueError):
        M._decode_png(bad)


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn restart intervals (the error-resilience structure most
    camera/web JPEGs carry): decode must byte-align at each marker,
    check its modulo-8 sequence number, and reset DC predictors —
    producing output identical to the unrestarted stream; a wrong
    sequence number is corrupt data (ValueError)."""
    import random

    from work_order_pdf_extractor_spark.core import jpegcodec as J

    rng = random.Random(5)
    for (w, h, ri) in [(32, 24, 1), (19, 13, 2), (40, 8, 5), (16, 16, 100)]:
        img = [rng.randrange(256) for _ in range(w * h)]
        assert _decode_jpeg(
            J.encode_baseline(w, h, [img], restart_interval=ri)
        ) == _decode_jpeg(J.encode_baseline(w, h, [img])), (w, h, ri)
    w, h = 24, 16
    y = [rng.randrange(256) for _ in range(w * h)]
    cb = [rng.randrange(256) for _ in range(w * h)]
    cr = [rng.randrange(256) for _ in range(w * h)]
    p_ri = J.encode_baseline(w, h, [y, cb, cr], restart_interval=2)
    assert _decode_jpeg(p_ri) == _decode_jpeg(
        J.encode_baseline(w, h, [y, cb, cr])
    )
    # subsampled MCUs (four Y blocks + Cb + Cr at 4:2:0) restart the same way
    c420 = [cb[:96], cr[:96]]
    assert _decode_jpeg(
        J.encode_baseline(w, h, [y, *c420], (2, 2), restart_interval=1)
    ) == _decode_jpeg(J.encode_baseline(w, h, [y, *c420], (2, 2)))
    bad = bytearray(p_ri)
    idx = bytes(bad).find(b"\xff\xd0")
    bad[idx + 1] = 0xD4
    with pytest.raises(ValueError):
        J.decode_rgb_arrays(bytes(bad))


from hypothesis import given as _given, settings as _settings  # noqa: E402
from hypothesis import strategies as _st  # noqa: E402


@_settings(max_examples=200, deadline=None)
@_given(_st.integers(min_value=-32768, max_value=32767))
def test_mulaw_quantization_error_bound(s):
    """G.711 property: the companding error is bounded by half the
    segment step — |decode(encode(s)) − s| ≤ 2^(e+2) with e the segment
    exponent of |s|+bias (plus the clamp region at full scale)."""
    d = M.mulaw_decode(M.mulaw_encode(s))
    mag = min(abs(s), 32635) + 132
    e = next(i for i in range(8) if mag < (1 << (i + 8)))
    bound = 1 << (e + 2)
    clamp_loss = max(0, abs(s) - 32635)
    assert abs(d - s) <= bound + clamp_loss, (s, d, e)
    # sign is always preserved (−0 quantizes to 0)
    assert d == 0 or (d > 0) == (s > 0)


def test_jpeg422_matches_444_on_constant_chroma():
    """4:2:2 (two Y blocks + half-width chroma per 16x8 MCU) decodes
    identically to 4:4:4 on constant-chroma fixtures, including odd
    dims — the decoder's general sampling-factor MCU walk covers the
    2x1 layout with no special-casing."""
    from work_order_pdf_extractor_spark.core import jpegcodec as J

    for (w, h) in [(16, 8), (20, 12), (18, 9)]:
        y = [(32 + 8 * ((x // 16) + (yy // 16) * 3)) % 256
             for yy in range(h) for x in range(w)]
        cw = (w + 1) // 2
        p422 = J.encode_baseline(
            w, h, [y, [140] * (cw * h), [120] * (cw * h)], (2, 1)
        )
        p444 = J.encode_baseline(w, h, [y, [140] * (w * h), [120] * (w * h)])
        assert _decode_jpeg(p422) == _decode_jpeg(p444), (w, h)
        assert len(p422) < len(p444)
