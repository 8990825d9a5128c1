"""split_pdf_pages: the reference's 1→N page explode
(`work_order_extractor.py:1390-1445`) as array+posexplode (SURVEY §2.9)."""

from __future__ import annotations

import base64
import math

import pandas as pd
import pytest

from work_order_pdf_extractor_spark.core import pdfparse
from work_order_pdf_extractor_spark.core.extractor import STATUS_OK, extract_turn
from work_order_pdf_extractor_spark.operators.extract import split_pdf_pages


def _pdf_turn(conv, idx, pages):
    """A pdf_reader turn whose payload is ``pages`` (page ops for
    ``build_pdf``, or the PDF bytes themselves)."""
    data = pages if isinstance(pages, bytes) else pdfparse.build_pdf(pages)
    return (conv, idx, "tool", base64.b64encode(data).decode(), "pdf_reader",
            pd.Timestamp("2026-01-01"))


def test_page_split_explodes_in_order(spark):
    rows = [
        _pdf_turn("c1", 0, [[("text", 40, 700, 10, f"page {i} body")] for i in range(1, 4)]),
        _pdf_turn("c1", 1, [[("text", 40, 700, 10, "solo page")]]),
        ("c1", 2, "user", "not a pdf", "", pd.Timestamp("2026-01-01")),
        ("c1", 3, "tool", "garbage-b64!!!", "pdf_reader", pd.Timestamp("2026-01-01")),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    )
    out = split_pdf_pages(df).toPandas().sort_values(
        ["turn_idx", "page_no"], ignore_index=True
    )
    # 3 pages + 1 page; non-PDF and malformed rows contribute nothing
    assert len(out) == 4
    three = out[out.turn_idx == 0]
    assert list(three.page_no) == [1, 2, 3]
    assert list(three.page_text) == [f"page {i} body" for i in range(1, 4)]
    # reference's `_page_%03d` naming (:1421)
    assert list(three.page_name) == [f"c1_0_page_{i:03d}.pdf" for i in range(1, 4)]
    assert out[out.turn_idx == 1].page_text.iloc[0] == "solo page"



def test_extract_turn_reads_page_one_only(spark):
    """A page-2 content stream that does not lex leaves ``extract_turn``
    ``ok`` with page 1's text; ``split_pdf_pages``, which parses every
    page, still gives that turn no page rows."""
    data = pdfparse.build_pdf(
        [
            [("text", 40, 760, 10, "Work Order No. : 22809891")],
            [("text", 40, 760, 10, "BROKEN")],
        ]
    )
    data = data.replace(b"(BROKEN) Tj", b"(BROKEN  Tj")  # unterminated string
    with pytest.raises(pdfparse.PdfParseError, match="unterminated string"):
        pdfparse.parse_pdf(data)
    payload = base64.b64encode(data).decode()
    row = extract_turn(payload, "pdf_reader")
    assert row["status"] == STATUS_OK
    assert row["extracted_text"] == "Work Order No. : 22809891"
    assert row["work_order_number"] == "22809891"
    df = spark.createDataFrame(
        pd.DataFrame(
            [("c1", 0, "tool", payload, "pdf_reader", pd.Timestamp("2026-01-01"))],
            columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
        )
    )
    assert split_pdf_pages(df).count() == 0


def test_page_split_drops_tokens_at_non_finite_coordinates(spark):
    """A token placed at y = inf (``1e999``) or at NaN (inf - inf) gives the
    page no line to put it on. The page keeps its other text, as
    ``extract_turn`` does, and the task does not die."""
    data = pdfparse.build_pdf(
        [[
            ("text", 40, 760, 10, "Work Order No. : 22809891"),
            ("text", 40, 70000, 10, "AT INF"),
            ("textTd", 0, -70000, 10, "AT NAN"),
        ]]
    )
    data = data.replace(b" 70000 Tm", b" 1e999 Tm").replace(b" -70000 Td", b" -1e999 Td")
    ys = [t[2] for t in pdfparse.parse_pdf(data)[0]["tokens"]]
    assert ys[0] == 760 and math.isinf(ys[1]) and math.isnan(ys[2])
    turn = _pdf_turn("c1", 0, data)
    assert extract_turn(turn[3], "pdf_reader")["extracted_text"] == "Work Order No. : 22809891"
    df = spark.createDataFrame(
        pd.DataFrame([turn], columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    )
    out = split_pdf_pages(df).toPandas()
    assert list(out.page_text) == ["Work Order No. : 22809891"]
    assert list(out.n_tokens) == [3]
