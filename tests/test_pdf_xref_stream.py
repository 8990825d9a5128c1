"""PDF 1.5 cross-reference streams + object streams (ISO 32000 §7.5).

r4 left ``core/pdfparse.py`` parsing only the classic xref-table subset
it emits; most post-2004 PDFs use binary cross-reference STREAMS with
non-stream objects packed into object streams. These tests pin the new
EMIT==PARSE pair: ``build_pdf(..., xref_stream=True)`` emits the 1.5
layout, the parser resolves it through the xref stream's /W columns
(type-1 offsets, type-2 ObjStm membership), and both forms of the same
document parse to IDENTICAL positioned tokens.
"""

import zlib

import pytest

from work_order_pdf_extractor_spark.core import pdfparse as P

OPS1 = [
    ("text", 50, 700, 12, "Work Order No. 12345678"),
    ("textTJ", 60, 650, 10, ["Equip ", -20, "ment: EQ-99"]),
    ("textTd", 5, -15, 10, "line item alpha"),
]
OPS2 = [("text", 40, 720, 14, "page two (with) parens")]


@pytest.mark.parametrize("compress", [False, True])
def test_xref_stream_parses_identically_to_classic(compress):
    classic = P.build_pdf([OPS1, OPS2], compress=compress)
    modern = P.build_pdf([OPS1, OPS2], compress=compress, xref_stream=True)
    assert modern.startswith(b"%PDF-1.5")
    assert b"/Type /ObjStm" in modern and b"/Type /XRef" in modern
    assert b"trailer" not in modern  # the XRef stream dict IS the trailer
    assert P.parse_pdf(classic) == P.parse_pdf(modern)


def test_xref_stream_resolution_is_real():
    # the xref-stream reader alone (no object scan) must resolve every
    # object: packed Catalog/Pages/Page/Font via type-2 entries, content
    # streams + ObjStm + XRef via recorded type-1 byte offsets
    modern = P.build_pdf([OPS1], xref_stream=True)
    objs = P._objects_via_xref_stream(modern, P._InflateBudget())
    assert objs is not None
    assert {1, 2, 3, 4, 5} <= set(objs)  # catalog, pages, page, contents, font
    assert any(b"/Type /Catalog" in b for b in objs.values())
    assert any(b"/Type /Page " in b or b"/Type /Page\n" in b or b"/Type /Page/" in b or b"/Type /Page>" in b for b in objs.values()) or any(b"/Type /Page" in b for b in objs.values())


def test_classic_file_returns_none_from_xref_stream_path():
    assert P._objects_via_xref_stream(P.build_pdf([OPS1]), P._InflateBudget()) is None


def test_recorded_offsets_match_reality():
    # every type-1 entry's byte offset must land exactly on "N 0 obj"
    modern = P.build_pdf([OPS1, OPS2], xref_stream=True)
    import re

    sx = modern.rfind(b"startxref")
    off = int(re.search(rb"startxref\s+(\d+)", modern[sx:]).group(1))
    at = P._obj_at(modern, off)
    assert at is not None and b"/Type /XRef" in at[1]


def test_corrupt_xref_stream_falls_back_to_scan():
    # break the startxref offset: the xref path fails, the scan path
    # still finds the top-level objects and expands the ObjStm, so the
    # document parses anyway (the damaged-xref robustness contract)
    modern = bytearray(P.build_pdf([OPS1], xref_stream=True))
    sx = modern.rfind(b"startxref")
    end = modern.find(b"\n", sx + 10)
    modern[sx : end] = b"startxref\n1"
    pages = P.parse_pdf(bytes(modern))
    assert pages and pages[0]["tokens"]


def test_objstm_expansion_from_scan_path():
    modern = P.build_pdf([OPS1], xref_stream=True)
    objs = P._split_objects(modern)
    # the scan alone cannot see packed objects...
    assert not any(b"/Type /Catalog" in b for b in objs.values())
    # ...until the ObjStm is expanded
    for body in list(objs.values()):
        if b"/Type /ObjStm" in body:
            P._expand_objstm(body, objs, P._InflateBudget())
    assert any(b"/Type /Catalog" in b for b in objs.values())


def test_truncated_objstm_raises():
    modern = bytearray(P.build_pdf([OPS1], xref_stream=True))
    i = modern.find(b"/Type /ObjStm")
    s = modern.find(b"stream", i)
    # corrupt the compressed ObjStm payload
    modern[s + 8 : s + 12] = b"\x00\x00\x00\x00"
    with pytest.raises(P.PdfParseError):
        P.parse_pdf(bytes(modern))


def test_multipage_order_preserved():
    pages = [[("text", 40, 700, 10, f"page {i} body")] for i in range(5)]
    modern = P.parse_pdf(P.build_pdf(pages, xref_stream=True))
    texts = [p["tokens"][0][0] for p in modern]
    assert texts == [f"page {i} body" for i in range(5)]


def test_prev_chain_never_overrides_newer_entries():
    # hand-build a file with an update section: the newer xref stream
    # redefines object 4 (content stream) and chains to the original via
    # /Prev; the parser must take the NEWER offset for object 4
    base = P.build_pdf([[("text", 50, 700, 12, "old text")]])
    # build a modern twin to get a valid layout, then append an update
    modern = P.build_pdf(
        [[("text", 50, 700, 12, "old text")]], xref_stream=True
    )
    import re

    sx = modern.rfind(b"startxref")
    old_off = int(re.search(rb"startxref\s+(\d+)", modern[sx:]).group(1))
    buf = bytearray(modern[:sx])
    new_stream = b"BT\n/F1 12 Tf\n1 0 0 1 50 700 Tm\n(new text) Tj\nET"
    new4_off = len(buf)
    buf += (
        b"4 0 obj\n<< /Length %d >>\nstream\n" % len(new_stream)
        + new_stream
        + b"\nendstream\nendobj\n"
    )
    xref_off = len(buf)
    entries = bytes([1]) + new4_off.to_bytes(4, "big") + (0).to_bytes(2, "big")
    comp = zlib.compress(entries)
    buf += b"8 0 obj\n"
    buf += (
        b"<< /Type /XRef /Size 9 /W [1 4 2] /Index [4 1] /Root 1 0 R "
        b"/Prev %d /Length %d /Filter /FlateDecode >>\nstream\n"
        % (old_off, len(comp))
        + comp
        + b"\nendstream\nendobj\n"
    )
    buf += b"startxref\n%d\n%%%%EOF\n" % xref_off
    pages = P.parse_pdf(bytes(buf))
    assert pages[0]["tokens"][0][0] == "new text"
    assert P.parse_pdf(base)[0]["tokens"][0][0] == "old text"


def test_newer_type2_entry_shadows_older_type1():
    # r5 review finding (confirmed): an incremental update whose NEWEST
    # xref stream maps an object as type-2 into a new ObjStm must shadow
    # the older section's type-1 entry for the same object — the parser
    # must return the NEW body, not the stale one
    import re

    base = P.build_pdf([[("text", 50, 700, 12, "old text")]], xref_stream=True)
    sx = base.rfind(b"startxref")
    old_off = int(re.search(rb"startxref\s+(\d+)", base[sx:]).group(1))
    buf = bytearray(base[:sx])
    # the update packs a REPLACEMENT content stream... content streams
    # can't live in an ObjStm, so replace the PAGE object (3) instead,
    # pointing at a new content stream object 9
    new_stream = b"BT\n/F1 12 Tf\n1 0 0 1 50 700 Tm\n(new text) Tj\nET"
    off9 = len(buf)
    buf += (
        b"9 0 obj\n<< /Length %d >>\nstream\n" % len(new_stream)
        + new_stream
        + b"\nendstream\nendobj\n"
    )
    page_body = (
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 9 0 R /Resources << /Font << /F1 5 0 R >> >> >>"
    )
    header = b"3 0"
    stm_data = header + b"\n" + page_body + b"\n"
    comp = zlib.compress(stm_data)
    off10 = len(buf)
    buf += (
        b"10 0 obj\n<< /Type /ObjStm /N 1 /First %d /Length %d "
        b"/Filter /FlateDecode >>\nstream\n" % (len(header) + 1, len(comp))
        + comp
        + b"\nendstream\nendobj\n"
    )
    xref_off = len(buf)
    rows = [
        (3, bytes([2]) + (10).to_bytes(4, "big") + (0).to_bytes(2, "big")),
        (9, bytes([1]) + off9.to_bytes(4, "big") + (0).to_bytes(2, "big")),
        (10, bytes([1]) + off10.to_bytes(4, "big") + (0).to_bytes(2, "big")),
        (11, bytes([1]) + xref_off.to_bytes(4, "big") + (0).to_bytes(2, "big")),
    ]
    entries = b"".join(r for _n, r in rows)
    xcomp = zlib.compress(entries)
    buf += b"11 0 obj\n"
    buf += (
        b"<< /Type /XRef /Size 12 /W [1 4 2] /Index [3 1 9 3] /Root 1 0 R "
        b"/Prev %d /Length %d /Filter /FlateDecode >>\nstream\n"
        % (old_off, len(xcomp))
        + xcomp
        + b"\nendstream\nendobj\n"
    )
    buf += b"startxref\n%d\n%%%%EOF\n" % xref_off
    pages = P.parse_pdf(bytes(buf))
    assert pages[0]["tokens"][0][0] == "new text"
    # and the original still reads its own text
    assert P.parse_pdf(base)[0]["tokens"][0][0] == "old text"


def test_pipeline_extracts_from_xref_stream_payloads(spark):
    # end-to-end: a transcript whose PDF payload uses the 1.5 layout
    # flows through the extraction pipeline like any classic payload
    import base64

    import pandas as pd

    from work_order_pdf_extractor_spark.plans import pipeline

    data = P.build_pdf(
        [[("text", 40, 738, 10, "Work Order No. : 22809891")]],
        xref_stream=True,
    )
    payload = base64.b64encode(data).decode("ascii")
    tp = pd.DataFrame(
        {
            "conv_id": ["c1"],
            "turn_idx": pd.array([0], dtype="int32"),
            "role": ["assistant"],
            "tool": ["pdf_reader"],
            "text": [payload],
            "ts": pd.Series([pd.Timestamp("2024-01-01")]).astype(
                "datetime64[us]"
            ),
        }
    )
    ref = pd.DataFrame({"Order": ["22809891"]})
    out = pipeline.run_pipeline(
        spark.createDataFrame(tp), spark.createDataFrame(ref)
    ).collect()
    assert len(out) == 1
    assert out[0].matched is True
    assert "22809891" in out[0].extracted_text


def test_each_object_stream_is_parsed_once(monkeypatch):
    """The xref-stream reader parses an /ObjStm to resolve its type-2
    entries; the page tree's expansion of the same stream reuses that
    parse instead of inflating it again."""
    import base64

    from work_order_pdf_extractor_spark import fixtures

    turns = fixtures.gen_transcripts("tiny")
    payloads = (base64.b64decode(t) for t in turns.loc[turns.tool == "pdf_reader", "text"])
    data = next(d for d in payloads if b"/Type /XRef" in d and b"/Type /ObjStm" in d)
    calls = []
    parse = P._parse_objstm
    monkeypatch.setattr(
        P, "_parse_objstm", lambda body, budget: calls.append(1) or parse(body, budget)
    )
    assert P.parse_pdf(data)[0]["tokens"]
    assert len(calls) == data.count(b"/Type /ObjStm") >= 1
