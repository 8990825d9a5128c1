"""Hypothesis property tests for the pure extraction core (SURVEY §5.3)."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from work_order_pdf_extractor_spark.core import pdfparse, textnorm
from work_order_pdf_extractor_spark.core.fields import strip_markdown_fence

# Latin-1-safe text (the PDF subset emits latin-1 literal strings)
pdf_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=1,
    max_size=60,
)


@settings(max_examples=60, deadline=None)
@given(s=pdf_text, x=st.floats(0, 500), y=st.floats(0, 700), size=st.sampled_from([8, 10, 12]))
def test_pdf_string_roundtrip(s, x, y, size):
    """Any printable string — including parens and backslashes — survives
    build → parse byte-exactly."""
    data = pdfparse.build_pdf([[("text", x, y, size, s)]])
    toks = pdfparse.parse_pdf(data)[0]["tokens"]
    assert [t[0] for t in toks] == [s]


@settings(max_examples=40, deadline=None)
@given(
    parts=st.lists(
        st.one_of(pdf_text, st.integers(-500, 500)), min_size=1, max_size=6
    ).filter(lambda p: any(isinstance(x, str) for x in p))
)
def test_tj_array_roundtrip(parts):
    data = pdfparse.build_pdf([[("textTJ", 50, 600, 10, parts)]])
    toks = pdfparse.parse_pdf(data)[0]["tokens"]
    expected = "".join(p for p in parts if isinstance(p, str))
    assert [t[0] for t in toks] == ([expected] if expected else [])


@settings(max_examples=40, deadline=None)
@given(
    crop=st.tuples(
        st.floats(0, 0.4), st.floats(0, 0.4), st.floats(0.5, 1.0), st.floats(0.5, 1.0)
    ),
    n=st.integers(1, 12),
    seed=st.integers(0, 10_000),
)
def test_region_filter_containment(crop, n, seed):
    """P2/P3 invariant: every kept token's image-space bbox lies fully
    inside the crop box; kept ⊆ all."""
    rng = random.Random(seed)
    toks = [
        (f"t{i}", rng.uniform(0, 560), rng.uniform(0, 740), 0.0, 0.0)
        for i in range(n)
    ]
    toks = [(s, x, y, x + rng.uniform(5, 50), y + 10) for s, x, y, _, _ in toks]
    w, h = 612.0, 792.0
    kept = pdfparse.tokens_in_region(toks, w, h, crop)
    assert set(kept) <= set(toks)
    for _, x0, y0, x1, y1 in kept:
        assert x0 >= crop[0] * w - 1e-9 and x1 <= crop[2] * w + 1e-9
        assert (h - y1) >= crop[1] * h - 1e-9 and (h - y0) <= crop[3] * h + 1e-9


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(1, 20))
def test_line_assembly_order_invariant(seed, n):
    """Shuffled token input produces identical assembled text — the
    determinism the north rule's stable ordering rests on."""
    rng = random.Random(seed)
    toks = [
        (
            f"w{i}",
            rng.uniform(0, 500),
            rng.choice([100.0, 300.0, 500.0]) + rng.uniform(-0.5, 0.5),
            0.0,
            0.0,
        )
        for i in range(n)
    ]
    toks = [(s, x, y, x + 20, y + 10) for s, x, y, _, _ in toks]
    base = textnorm.join_lines(textnorm.assemble_lines(toks))
    for _ in range(3):
        shuffled = toks[:]
        rng.shuffle(shuffled)
        assert textnorm.join_lines(textnorm.assemble_lines(shuffled)) == base


@settings(max_examples=60, deadline=None)
@given(s=st.one_of(st.none(), pdf_text, st.integers(0, 10**10).map(str)))
def test_normalize_key_idempotent(s):
    once = textnorm.normalize_key(s)
    assert textnorm.normalize_key(once) == once


@settings(max_examples=60, deadline=None)
@given(
    body=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126, exclude_characters="`"),
        min_size=1,
        max_size=80,
    ).map(str.strip).filter(bool)
)
def test_fence_strip_inverts_wrap(body):
    assert strip_markdown_fence(f"```json\n{body}\n```") == body
    assert strip_markdown_fence(body) == body


@settings(max_examples=30, deadline=None)
@given(
    texts=st.lists(pdf_text, min_size=1, max_size=4),
    compress=st.booleans(),
)
def test_xref_stream_layout_parse_parity(texts, compress):
    """Property (r5): ANY document emitted in the classic xref-table
    layout and the PDF 1.5 xref-stream/ObjStm layout parses to identical
    positioned tokens — the EMIT==PARSE contract holds across layouts,
    not just on the hand-picked fixtures."""
    pages = [
        [("text", 40 + 7 * i, 700 - 20 * i, 10, t)]
        for i, t in enumerate(texts)
    ]
    classic = pdfparse.build_pdf(pages, compress=compress)
    modern = pdfparse.build_pdf(pages, compress=compress, xref_stream=True)
    assert pdfparse.parse_pdf(classic) == pdfparse.parse_pdf(modern)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(8, 40),
    h=st.integers(8, 32),
    seed=st.integers(0, 2**31 - 1),
    lossy=st.booleans(),
)
def test_progressive_decode_equals_baseline_property(w, h, seed, lossy):
    """Property (r5): progressive (SOF2) and baseline encodings of the
    SAME samples decode to bit-identical pixels for arbitrary content,
    size, and quant table — the scan machinery only reorders coefficient
    bits, never changes them."""
    import numpy as np

    from work_order_pdf_extractor_spark.core import jpegcodec as J

    rng = np.random.RandomState(seed)
    samples = rng.randint(0, 256, size=w * h).tolist()
    quant = J.STD_LUMA_QUANT if lossy else None
    bw, bh, base = J.decode_rgb_arrays(
        J.encode_baseline(w, h, [samples], luma_quant=quant)
    )
    pw, ph, prog = J.decode_rgb_arrays(
        J.encode_progressive(w, h, [samples], luma_quant=quant)
    )
    assert (bw, bh) == (pw, ph) == (w, h)
    assert all(np.array_equal(b, q) for b, q in zip(base, prog))
