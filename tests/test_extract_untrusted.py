"""Untrusted turn payloads: ``extract_turn`` on a corrupt PDF or HTML page
returns a status row within a deadline and never raises, so one bad turn
cannot kill the extraction task."""

from __future__ import annotations

import base64
import random
import zlib

import pytest

from work_order_pdf_extractor_spark import fixtures
from work_order_pdf_extractor_spark.core import pdfparse
from work_order_pdf_extractor_spark.core.extractor import (
    STATUS_FAILED,
    STATUS_OK,
    extract_turn,
)

from .deadline import deadline

# bytes a mutation writes: mostly PDF/HTML syntax, so the lexers and
# scanners see near-miss structure rather than only noise
_PDF_SYNTAX = b"()[]<>/\\%0123456789 .-+eRTJjfmobjendstream\r\n"
_HTML_SYNTAX = "<>/!-\"'=&; abcdipsty\n#"


def _pdf_seeds() -> list[bytes]:
    """Fixture-shaped PDFs in every layout the parser reads: classic and
    xref-stream, plain and Flate, one and two pages."""
    page1 = [
        ("text", 40, 760, 12, "ACME Maintenance Services"),
        ("text", 40, 738, 10, "Work Order No. : 22809891"),
        ("textTJ", 40, 720, 10, ["Equipment: ", -40, "EQ-1234"]),
        ("text", 40, 702, 10, "Customer: Plant (North) \\ Ops"),
        ("textTd", 8, -18, 9, "Item 1: seal pump valve 4h"),
        ("text", 340, 760, 10, "Ref#123 internal"),
    ]
    page2 = [("text", 40, 760, 10, "Continuation sheet"), ("text", 40, 60, 9, "Page 2 of 2")]
    return [
        pdfparse.build_pdf(pages, compress=compress, xref_stream=xref)
        for pages in ([page1], [page1, page2])
        for compress in (False, True)
        for xref in (False, True)
    ]


def _html_seeds() -> list[str]:
    rng = random.Random(11)
    pages = [fixtures.build_html_payload(rng, "Work Order No. : 22809891 Customer: Acme") for _ in range(4)]
    return pages + [
        "<!DOCTYPE html><!-- c --><P>Upper &amp; case &#x41;<BR/>"
        '<a href="x">one <a>two</a></a> <script>if(a<b){x="<div>"}</script> tail'
    ]


def _mutate(rng: random.Random, payload, syntax):
    """1-3 of truncate / set / flip / insert / delete on bytes or str."""
    b = bytearray(payload) if isinstance(payload, bytes) else list(payload)
    for _ in range(rng.randint(1, 3)):
        if not b:
            break
        i = rng.randrange(len(b))
        unit = rng.choice(syntax) if rng.random() < 0.7 else None
        op = rng.choice(("truncate", "set", "flip", "insert", "delete"))
        if isinstance(payload, bytes):
            unit = unit if unit is not None else rng.randrange(256)
            flipped = b[i] ^ (1 << rng.randrange(8))
        else:
            unit = unit if unit is not None else chr(rng.randrange(1, 0x3000))
            flipped = chr(ord(b[i]) ^ (1 << rng.randrange(7)))
        if op == "truncate":
            del b[i:]
        elif op == "set":
            b[i] = unit
        elif op == "flip":
            b[i] = flipped
        elif op == "insert":
            b[i:i] = [unit] * rng.randint(1, 3)
        else:
            del b[i : i + rng.randint(1, 8)]
    return bytes(b) if isinstance(payload, bytes) else "".join(b)


def test_mutated_payloads_become_status_rows():
    """3,200 mutated PDFs and 2,000 mutated HTML pages: each call returns
    within its deadline, raises nothing, and reports ``ok`` or
    ``extraction_failed``."""
    rng = random.Random(20261)
    cases = [
        (base64.b64encode(_mutate(rng, seed, _PDF_SYNTAX)).decode(), "pdf_reader")
        for seed in _pdf_seeds()
        for _ in range(400)
    ] + [
        (_mutate(rng, seed, _HTML_SYNTAX), "browser")
        for seed in _html_seeds()
        for _ in range(400)
    ]
    statuses = {"pdf_reader": {}, "browser": {}}
    for text, tool in cases:
        with deadline(2.0):
            status = extract_turn(text, tool)["status"]
        statuses[tool][status] = statuses[tool].get(status, 0) + 1
    assert set(statuses["pdf_reader"]) == {STATUS_OK, STATUS_FAILED}, statuses
    assert set(statuses["browser"]) == {STATUS_OK}, statuses


def test_flate_bomb_becomes_status_row():
    """A ~100 KB Flate stream that inflates to 100 MB of blanks is refused
    at the inflation bound: ``parse_pdf`` raises, ``extract_turn`` reports
    ``extraction_failed``, and neither holds the inflated stream."""
    deflate = zlib.compressobj(9)
    bomb = b"".join(deflate.compress(b" " * (1 << 20)) for _ in range(100)) + deflate.flush()
    assert 90_000 < len(bomb) < 110_000
    data = pdfparse.build_pdf([[("text", 40, 760, 10, "Work Order No. : 22809891")]])
    start = data.index(b"stream\n") + len(b"stream\n")
    end = data.index(b"\nendstream", start)
    length = b"/Length %d" % (end - start)
    data = (
        data[:start].replace(length, b"/Length %d /Filter /FlateDecode" % len(bomb))
        + bomb
        + data[end:]
    )
    with pytest.raises(pdfparse.PdfParseError, match="inflates past"):
        pdfparse.parse_pdf(data)
    with deadline(2.0):
        row = extract_turn(base64.b64encode(data).decode(), "pdf_reader")
    assert row["status"] == STATUS_FAILED


def _objstm(num: int, inflated: int) -> bytes:
    """An object stream ``num`` whose Flate data inflates to ``inflated``
    bytes: one object, ``num + 1000``, of non-blank filler."""
    head = b"%d 0 " % (num + 1000)
    comp = zlib.compress(head + b"1" * (inflated - len(head)), 9)
    return (
        b"%d 0 obj\n<< /Type /ObjStm /N 1 /First %d /Length %d /Filter /FlateDecode >>\n"
        b"stream\n" % (num, len(head), len(comp))
        + comp
        + b"\nendstream\nendobj\n"
    )


def test_flate_bound_counts_every_stream_of_a_payload():
    """The inflation bound is one budget per payload: an object stream that
    inflates to exactly the bound parses, but twelve of them (~100 KB of
    payload, ~100 MB inflated) are refused like a single bomb stream."""
    bound = pdfparse.MAX_INFLATED_BYTES
    data = pdfparse.build_pdf([[("text", 40, 760, 10, "Work Order No. : 22809891")]])
    assert pdfparse.parse_pdf(data + _objstm(900, bound))[0]["tokens"]
    bomb = data + b"".join(_objstm(900 + i, bound) for i in range(12))
    assert 90_000 < len(bomb) < 130_000
    with pytest.raises(pdfparse.PdfParseError, match="inflates past"):
        pdfparse.parse_pdf(bomb)
    with deadline(2.0):
        row = extract_turn(base64.b64encode(bomb).decode(), "pdf_reader")
    assert row["status"] == STATUS_FAILED
