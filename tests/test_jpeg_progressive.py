"""Progressive JPEG (SOF2) — differential vs the baseline codec.

The invariant under test: a progressive stream transmits the SAME
quantized coefficients as the baseline encoding of the same samples
(spectral selection + successive approximation merely reorder the bits
across scans), so ``decode(encode_progressive(img)) ==
decode(encode_baseline(img))`` must hold BIT-EXACTLY for any content and
any quant table. That differential pins the whole scan machinery — EOBRUN
accumulation, ZRL inside refinement windows, the BE/BR correction-bit
split, per-scan optimized Huffman tables — against the already
golden-tested baseline decoder.

Reference analog: poppler decodes progressive transparently
(``work_order_extractor.py:1121-1146``); this closes the codec boundary
that r4 left as an explicit ``NotImplementedError``.
"""

import numpy as np
import pytest

from work_order_pdf_extractor_spark.core import jpegcodec as J


def _decode(payload):
    """(width, height, [(r, g, b), ...]) from the one decoder."""
    w, h, rgb = J.decode_rgb_arrays(payload)
    return w, h, list(zip(*(c.tolist() for c in rgb)))


def _pair(w, h, planes, sampling=(1, 1), quant=None, chroma_quant=None):
    """Decoded baseline and progressive encodings of the same planes."""
    base = _decode(J.encode_baseline(w, h, planes, sampling, quant, chroma_quant))
    prog = _decode(
        J.encode_progressive(w, h, planes, sampling, quant, chroma_quant)
    )
    return base, prog


def _gray_pair(w, h, samples, quant=None):
    return _pair(w, h, [samples], quant=quant)


@pytest.mark.parametrize("w,h", [(8, 8), (16, 8), (24, 16), (17, 13), (40, 33)])
@pytest.mark.parametrize("quant", [None, J.STD_LUMA_QUANT])
def test_gray_progressive_equals_baseline(w, h, quant):
    rng = np.random.RandomState(w * 100 + h)
    samples = rng.randint(0, 256, size=w * h).tolist()
    base, prog = _gray_pair(w, h, samples, quant)
    assert base == prog


@pytest.mark.parametrize("w,h", [(8, 8), (24, 16), (17, 13)])
@pytest.mark.parametrize("quant", [None, J.STD_LUMA_QUANT])
def test_color444_progressive_equals_baseline(w, h, quant):
    rng = np.random.RandomState(w + h)
    y = rng.randint(0, 256, size=w * h).tolist()
    cb = rng.randint(0, 256, size=w * h).tolist()
    cr = rng.randint(0, 256, size=w * h).tolist()
    cq = J.STD_CHROMA_QUANT if quant else None
    base, prog = _pair(w, h, [y, cb, cr], (1, 1), quant, cq)
    assert base == prog


@pytest.mark.parametrize("w,h", [(16, 16), (20, 24), (17, 13), (34, 29)])
def test_color420_progressive_equals_baseline(w, h):
    # 4:2:0 exercises the non-interleaved AC scans over a component grid
    # SMALLER than the padded interleaved MCU grid (own-dims walk)
    rng = np.random.RandomState(w * h)
    cw, ch = (w + 1) // 2, (h + 1) // 2
    y = rng.randint(0, 256, size=w * h).tolist()
    cb = rng.randint(0, 256, size=cw * ch).tolist()
    cr = rng.randint(0, 256, size=cw * ch).tolist()
    base, prog = _pair(w, h, [y, cb, cr], (2, 2))
    assert base == prog


def _samples_from_zz(coef_zz: dict[int, float]) -> list[int]:
    """8×8 sample block whose flat-quant coefficients approximate the
    given zigzag spectrum (IDCT then clamp; the re-derived coefficients
    keep the crafted sparsity structure)."""
    c2 = np.zeros(64)
    for k, v in coef_zz.items():
        c2[J.ZIGZAG[k]] = v
    block = J._C.T @ c2.reshape(8, 8) @ J._C + 128.0
    return np.clip(np.round(block), 0, 255).astype(int).ravel().tolist()


@pytest.mark.parametrize(
    "coef_zz",
    [
        # late lone coefficient: >16-zero run -> ZRL in first pass AND
        # ZRL windows in the refinement pass
        {0: 80, 30: 16, 55: 2, 10: 3},
        # already-significant coefficient INSIDE the zero run before a
        # newly-significant one: its correction bit must ride inside the
        # ZRL window (the BE/BR decoder-order interleave)
        {0: 80, 20: 9, 55: 2},
        {0: -40, 5: 9, 21: 9, 56: 3, 62: 2},
        # significant at the very last band position (no EOB event)
        {0: 0, 63: 2},
        # DC-only block (every AC scan sees an empty band)
        {0: 5},
    ],
)
def test_crafted_sparse_spectra(coef_zz):
    samples = _samples_from_zz(coef_zz)
    base, prog = _gray_pair(8, 8, samples)
    assert base == prog


def test_eob_runs_span_blocks():
    # flat background + sparse spikes under the lossy std table: most
    # blocks' AC bands are empty -> EOBn symbols with r > 0 (runs of
    # all-zero blocks), plus refinement correction bits across the run
    rng = np.random.RandomState(3)
    w, h = 64, 48
    img = np.full((h, w), 128, dtype=int)
    for _ in range(30):
        img[rng.randint(0, h), rng.randint(0, w)] = rng.randint(0, 256)
    samples = img.ravel().tolist()
    base, prog = _gray_pair(w, h, samples, J.STD_LUMA_QUANT)
    assert base == prog


def test_constant_blocks_bit_exact_round_trip():
    # the oracle fixture shape: constant 8x8 blocks + flat quant -> the
    # decoded samples equal the input exactly (DC-only, near-lossless)
    w, h = 24, 16
    samples = [((x // 8) + 2 * (y // 8) + 7) % 256 for y in range(h) for x in range(w)]
    _, _, rgb = _decode(J.encode_progressive(w, h, [samples]))
    assert [r for r, _g, _b in rgb] == samples


def test_progressive_stream_structure():
    # SOF2 marker present; multiple SOS scans; per-scan DHT segments
    payload = J.encode_progressive(16, 16, [list(range(256))])
    assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
    markers = []
    i = 2
    while i + 1 < len(payload):
        if payload[i] == 0xFF and payload[i + 1] not in (0x00,):
            markers.append(payload[i + 1])
        i += 1
    assert 0xC2 in markers and 0xC0 not in markers
    assert markers.count(0xDA) == len(J._SCRIPT_GRAY)


def test_progressive_rejects_restart_intervals():
    # DRI inside a progressive stream is outside the documented subset
    prog = bytearray(J.encode_progressive(8, 8, [[7] * 64]))
    # splice a DRI segment right after APP0 (SOI + APP0 header = 2 + 18)
    dri = b"\xff\xdd\x00\x04\x00\x04"
    idx = 2 + 2 + 16 + 2  # SOI + APP0(len 16) + next marker start
    spliced = bytes(prog[: idx - 2]) + dri + bytes(prog[idx - 2 :])
    with pytest.raises(NotImplementedError):
        J.decode_rgb_arrays(spliced)


def test_optimal_huffman_tables_are_canonical():
    # generated tables must decode their own encodes: single-symbol and
    # many-symbol frequency maps round-trip through build/decode tables
    for freq in ({0: 10}, {i: i + 1 for i in range(40)}, {0: 1, 0xF0: 1000}):
        bits, vals = J._gen_optimal_table(freq)
        assert sum(bits) == len(vals) == len(freq)
        codes = J._build_codes(bits, vals)
        assert len(codes) == len(freq)
        # prefix-free: no code is a prefix of another
        cl = sorted((ln, code) for code, ln in codes.values())
        for (l1, c1) in cl:
            for (l2, c2) in cl:
                if (l1, c1) < (l2, c2):
                    assert (c2 >> (l2 - l1)) != c1
        # the all-ones code of the longest length stays reserved
        maxlen = max(ln for _c, ln in codes.values())
        assert all(
            not (ln == maxlen and code == (1 << ln) - 1)
            for code, ln in codes.values()
        )


# ---------------------------------------------------------------------------
# r6: hypothesis property — ARBITRARY content, dims (incl. non-multiple-of-8
# padding paths), and quant tables. Closes the "fixture-grade encoder"
# asterisk: the same bit-exact differential the parametrized tests pin on a
# few shapes, searched over the whole input space.
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(8, 40),
    h=st.integers(8, 40),
    seed=st.integers(0, 2**31 - 1),
    qkind=st.sampled_from(["flat8", "random", "steep"]),
)
def test_property_gray_progressive_equals_baseline(w, h, seed, qkind):
    rng = np.random.RandomState(seed)
    if qkind == "flat8":
        quant = [8] * 64
    elif qkind == "random":
        quant = rng.randint(1, 48, size=64).tolist()
    else:  # steep: strong low-freq bias like a real table
        quant = [1 + (x + y) * 3 for y in range(8) for x in range(8)]
    samples = rng.randint(0, 256, size=w * h).tolist()
    base, prog = _gray_pair(w, h, samples, quant=quant)
    assert base == prog


@settings(max_examples=10, deadline=None)
@given(
    w=st.sampled_from([16, 24, 31]),
    h=st.sampled_from([16, 23, 32]),
    seed=st.integers(0, 2**31 - 1),
)
def test_property_color420_progressive_equals_baseline(w, h, seed):
    rng = np.random.RandomState(seed)
    cw, ch = (w + 1) // 2, (h + 1) // 2
    y = rng.randint(0, 256, size=w * h).tolist()
    cb = rng.randint(0, 256, size=cw * ch).tolist()
    cr = rng.randint(0, 256, size=cw * ch).tolist()
    base, prog = _pair(w, h, [y, cb, cr], (2, 2))
    assert base == prog


@settings(max_examples=8, deadline=None)
@given(
    w=st.sampled_from([32, 36, 33]),
    h=st.sampled_from([8, 9, 20]),
    seed=st.integers(0, 2**31 - 1),
)
def test_property_color411_progressive_equals_baseline(w, h, seed):
    """r6: the progressive scan machinery is sampling-factor-agnostic —
    4:1:1 (factor 4) streams decode bit-identically to their baseline
    encodings for arbitrary content."""
    rng = np.random.RandomState(seed)
    cw = (w + 3) // 4
    y = rng.randint(0, 256, size=w * h).tolist()
    cb = rng.randint(0, 256, size=cw * h).tolist()
    cr = rng.randint(0, 256, size=cw * h).tolist()
    base, prog = _pair(w, h, [y, cb, cr], (4, 1))
    assert base == prog


@settings(max_examples=8, deadline=None)
@given(
    w=st.sampled_from([16, 20, 17]),
    h=st.sampled_from([8, 9, 12]),
    seed=st.integers(0, 2**31 - 1),
)
def test_property_color422_progressive_equals_baseline(w, h, seed):
    rng = np.random.RandomState(seed)
    cw = (w + 1) // 2
    y = rng.randint(0, 256, size=w * h).tolist()
    cb = rng.randint(0, 256, size=cw * h).tolist()
    cr = rng.randint(0, 256, size=cw * h).tolist()
    base, prog = _pair(w, h, [y, cb, cr], (2, 1))
    assert base == prog
