"""Per-turn extraction: the single pure function both harnesses call.

``extract_turn(text, tool)`` is invoked by the pandas oracle (``oracle.py``)
and, batched over Arrow record batches, by the Spark pandas UDF
(``operators/extract.py``). One implementation ⇒ per-turn equality between
the distributed job and the goldens is a property of the plumbing, which the
test suite then exercises (ordering, partitioning, skew, resume).

Routing mirrors the fixture payload families (FIXTURES.md §2):

- ``tool == 'pdf_reader'`` → base64 PDF → page tree → page 1's content
  stream tokenized (the reference processes page 1 only,
  ``work_order_extractor.py:1125``; later pages are never read) → region
  filter (the reference's crop, ``:1378-1388``) → canonical line assembly →
  anchored-regex fields with line bboxes.
- ``tool == 'browser'`` → Boilerpipe-style main-content extraction → fields.
- otherwise → plain text: fenced-JSON fields if present (``:1663-1677``),
  else regex fields.
"""

from __future__ import annotations

import base64
import bisect
import datetime as _dt

from . import fields as F
from . import htmlextract, pdfparse, textnorm

STATUS_OK = "ok"
STATUS_FAILED = "extraction_failed"


def _parse_payload(parse, text: str):
    """``parse`` applied to the bytes of a base64-encoded PDF payload, or
    ``None`` when the payload does not decode or parse."""
    try:
        return parse(base64.b64decode(text.strip(), validate=True))
    except ValueError:  # binascii.Error and PdfParseError are ValueErrors
        return None


def parse_pdf_payload(text: str) -> list[dict] | None:
    """Every page of a base64-encoded PDF payload
    (:func:`pdfparse.parse_pdf`), or ``None``."""
    return _parse_payload(pdfparse.parse_pdf, text)


def _with_bboxes(spans: list[dict], lines: list[dict]) -> list[dict]:
    """Attach to each span the bbox of the line holding its start offset,
    ``lines`` joined with '\\n' being the text the spans index; ``None``
    where no line holds it (every span of a turn without lines)."""
    starts = []  # offset of each line in the joined text
    off = 0
    for ln in lines:
        starts.append(off)
        off += len(ln["text"]) + 1  # '\n'
    out = []
    for span in spans:
        box = (None, None, None, None)
        i = bisect.bisect_right(starts, span["start"]) - 1
        if i >= 0 and span["start"] < starts[i] + len(lines[i]["text"]):
            ln = lines[i]
            box = (ln["x0"], ln["y0"], ln["x1"], ln["y1"])
        out.append({**span, "x0": box[0], "y0": box[1], "x1": box[2], "y1": box[3]})
    return out


def _parse_date(s: str | None) -> _dt.date | None:
    if not s:
        return None
    try:
        return _dt.date.fromisoformat(s)
    except ValueError:
        return None


def extract_turn(
    text: str | None,
    tool: str | None,
    crop: tuple[float, float, float, float] = pdfparse.DEFAULT_CROP,
) -> dict:
    """Extract one turn. Never raises; failures become status rows
    (the reference's null-result fallback, ``work_order_extractor.py:1677``)."""
    if text is None:
        return _result(None, [], {}, STATUS_FAILED)
    lines: list[dict] = []
    if tool == "pdf_reader":
        # first-page-only, like the reference (:1125)
        page = _parse_payload(pdfparse.parse_first_page, text)
        if page is None:
            return _result(None, [], {}, STATUS_FAILED)
        toks = pdfparse.tokens_in_region(
            page["tokens"], page["width"], page["height"], crop
        )
        lines = textnorm.assemble_lines(toks)
        extracted = textnorm.join_lines(lines)
    elif tool == "browser":
        extracted = htmlextract.extract_main_text(text)
    else:  # plain text: fenced-JSON fields if present
        extracted = textnorm.normalize_plain_text(text)
        json_fields = F.parse_json_fields(extracted)
        if json_fields is not None:
            return _result(extracted, [], json_fields, STATUS_OK)
    flds, spans = F.extract_fields(extracted)
    return _result(extracted, _with_bboxes(spans, lines), flds, STATUS_OK)


def _result(extracted, spans, flds, status) -> dict:
    return {
        "extracted_text": extracted,
        "spans": spans,
        "work_order_number": flds.get("work_order_number"),
        "equipment_number": flds.get("equipment_number"),
        "customer": flds.get("customer"),
        "order_date": _parse_date(flds.get("order_date")),
        "status": status,
    }
