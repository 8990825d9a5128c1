"""Unit tests for the PDF builder/tokenizer (SURVEY §7 M2; §5 item 3)."""

from __future__ import annotations

import pytest

from work_order_pdf_extractor_spark.core import pdfparse, textnorm


def _one_page(ops):
    return pdfparse.parse_pdf(pdfparse.build_pdf([ops]))[0]


def test_roundtrip_simple_text():
    page = _one_page([("text", 72, 720, 12, "Hello world")])
    assert [t[0] for t in page["tokens"]] == ["Hello world"]
    t = page["tokens"][0]
    assert (t[1], t[2]) == (72.0, 720.0)
    assert t[3] == 72.0 + 0.5 * 12 * len("Hello world")
    assert t[4] == 732.0


def test_roundtrip_escapes():
    s = r"paren (deep) back\slash"
    page = _one_page([("text", 10, 700, 10, s)])
    assert page["tokens"][0][0] == s


@pytest.mark.parametrize(
    "literal, text",
    [
        (rb"(x\9)", "x9"),                  # not octal: backslash dropped
        (rb"(a\qb)", "aqb"),                # unknown escape keeps the byte
        (b"(a\\\r\nb)", "ab"),              # backslash + CRLF continues the line
        (b"(a\\\rb)", "ab"),                # ... + CR
        (b"(a\\\nb)", "ab"),                # ... + LF
        (rb"(\400)", "\x00"),               # octal taken mod 256
        (rb"(\101\0053\7)", "A\x053\x07"),  # 1-3 octal digits
        (rb"(\n\t\(\)\\)", "\n\t()\\"),
    ],
)
def test_string_escapes_follow_iso_32000(literal, text):
    stream = b"BT /F1 10 Tf 1 0 0 1 100 700 Tm " + literal + b" Tj ET"
    assert [t[0] for t in pdfparse.tokenize_content(stream)] == [text]


@pytest.mark.parametrize(
    "stream",
    [
        b"BT [(a) -10 (b) TJ ET",      # unterminated array
        b"BT (a) ] TJ ET",             # unbalanced ]
        b"BT [(a) /F1] TJ ET",         # name inside an array
        b"BT [(a) Tj] TJ ET",          # operator inside an array
        b"BT [[(a)]] TJ ET",           # nested array
        b"BT (a) Tj \x00 ET",          # byte outside the grammar
        b"BT (abc Tj ET",              # unterminated string
    ],
)
def test_lexer_errors_raise_parse_error(stream):
    with pytest.raises(pdfparse.PdfParseError):
        pdfparse.tokenize_content(stream)


def test_tj_array_concatenates_strings_and_tracks_kerning():
    page = _one_page([("textTJ", 50, 600, 10, ["Wo", -120, "rk", " Order"])])
    assert page["tokens"][0][0] == "Work Order"
    assert page["tokens"][0][1] == 50.0


def test_td_relative_moves():
    stream = b"BT /F1 10 Tf 1 0 0 1 100 700 Tm (a) Tj 0 -20 Td (b) Tj ET"
    toks = pdfparse.tokenize_content(stream)
    assert [(t[0], t[1], t[2]) for t in toks] == [("a", 100, 700), ("b", 100, 680)]


def test_sequential_tj_advances_x():
    stream = b"BT /F1 10 Tf 1 0 0 1 100 700 Tm (ab) Tj (cd) Tj ET"
    toks = pdfparse.tokenize_content(stream)
    assert toks[0][:3] == ("ab", 100, 700)
    assert toks[1][1] == pytest.approx(100 + 0.5 * 10 * 2)


def test_flate_compressed_roundtrip():
    data = pdfparse.build_pdf([[("text", 72, 720, 12, "zipped")]], compress=True)
    page = pdfparse.parse_pdf(data)[0]
    assert page["tokens"][0][0] == "zipped"


def test_multipage_order_follows_kids():
    data = pdfparse.build_pdf(
        [[("text", 10, 700, 10, "p1")], [("text", 10, 700, 10, "p2")]]
    )
    pages = pdfparse.parse_pdf(data)
    assert [p["tokens"][0][0] for p in pages] == ["p1", "p2"]


@pytest.mark.parametrize(
    "mutate",
    [
        lambda d: b"JUNK" + d[4:],          # bad header
        lambda d: d[: len(d) // 2],          # truncation
        lambda d: d.replace(b"stream\n", b"strm\n", 1),  # missing stream kw
    ],
)
def test_malformed_raises(mutate):
    data = pdfparse.build_pdf([[("text", 10, 700, 10, "x")]])
    with pytest.raises(pdfparse.PdfParseError):
        pdfparse.parse_pdf(mutate(data))


def test_region_filter_topleft_quarter():
    # PDF y up: top-left quarter of a 612x792 page = x<=306, pdf y>=396
    toks = [
        ("inside", 40.0, 700.0, 140.0, 710.0),
        ("right_half", 340.0, 700.0, 400.0, 710.0),
        ("bottom", 40.0, 60.0, 100.0, 70.0),
    ]
    kept = pdfparse.tokens_in_region(toks, 612, 792, pdfparse.DEFAULT_CROP)
    assert [t[0] for t in kept] == ["inside"]


def test_region_bbox_containment_property():
    # every kept token's image-space bbox lies inside the crop box (P2/P3)
    crop = (0.1, 0.1, 0.9, 0.6)
    page = _one_page(
        [("text", 20 + 30 * i, 100 + 60 * i, 10, f"tok{i}") for i in range(10)]
    )
    w, h = page["width"], page["height"]
    for _, x0, y0, x1, y1 in pdfparse.tokens_in_region(page["tokens"], w, h, crop):
        assert x0 >= crop[0] * w and x1 <= crop[2] * w
        assert (h - y1) >= crop[1] * h and (h - y0) <= crop[3] * h


def test_line_assembly_canonical_rules():
    toks = [
        ("world", 100.0, 700.0, 130.0, 710.0),
        ("hello", 40.0, 700.5, 70.0, 710.5),   # same line within tolerance
        ("below", 40.0, 650.0, 70.0, 660.0),
    ]
    lines = textnorm.assemble_lines(toks)
    assert [ln["text"] for ln in lines] == ["hello world", "below"]
    assert textnorm.join_lines(lines) == "hello world\nbelow"
