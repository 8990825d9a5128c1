"""The ``core`` layer without Spark: replay a workload's turns in one process.

Times ``core.extractor.extract_turn`` per payload family and the four core
functions it spends its time in, each over the same turns. Gives the
``core.*`` per-layer metrics, which move ``rows_per_s`` on
``extract_flagship`` strongly and on ``extract_resume`` weakly.
"""

from __future__ import annotations

import base64
import time

import pandas as pd

from work_order_pdf_extractor_spark.core import fields, htmlextract, pdfparse, textnorm
from work_order_pdf_extractor_spark.core.extractor import STATUS_FAILED, extract_turn

FAMILIES = {"pdf": "pdf_reader", "html": "browser", "plain": ""}


def _per_call_us(fn, args: list) -> tuple[float, list]:
    """Mean µs per call of ``fn`` over ``args``, and the results."""
    if not args:
        return 0.0, []
    t0 = time.perf_counter()
    results = [fn(a) for a in args]
    return (time.perf_counter() - t0) / len(args) * 1e6, results


def _parse_or_none(data: bytes):
    try:
        return pdfparse.parse_pdf(data)
    except (ValueError, pdfparse.PdfParseError):
        return None


def replay(turns: pd.DataFrame) -> dict:
    """Per-layer ``core.*`` metrics plus ``core.total_s``, the summed
    single-process extraction time of every turn."""
    crop = pdfparse.DEFAULT_CROP
    out: dict[str, float] = {}
    total_s = 0.0
    n_failed = 0
    extracted: list[str] = []
    for fam, tool in FAMILIES.items():
        if tool:
            texts = turns.loc[turns["tool"] == tool, "text"].tolist()
        else:
            texts = turns.loc[~turns["tool"].isin(["pdf_reader", "browser"]), "text"].tolist()
        t0 = time.perf_counter()
        results = [extract_turn(t, tool, crop) for t in texts]
        dt = time.perf_counter() - t0
        total_s += dt
        out[f"core.extract_turn.us.{fam}"] = dt / max(len(texts), 1) * 1e6
        n_failed += sum(r["status"] == STATUS_FAILED for r in results)
        if fam != "plain":
            extracted += [r["extracted_text"] for r in results if r["extracted_text"] is not None]

    pdf_bytes = []
    for t in turns.loc[turns["tool"] == "pdf_reader", "text"]:
        try:
            pdf_bytes.append(base64.b64decode(t.strip(), validate=True))
        except ValueError:
            pass
    out["core.pdfparse.parse_pdf.us"], parsed = _per_call_us(_parse_or_none, pdf_bytes)
    region_tokens = [
        pdfparse.tokens_in_region(p[0]["tokens"], p[0]["width"], p[0]["height"], crop) for p in parsed if p
    ]
    out["core.textnorm.assemble_lines.us"], _ = _per_call_us(textnorm.assemble_lines, region_tokens)
    html = turns.loc[turns["tool"] == "browser", "text"].tolist()
    out["core.htmlextract.extract_main_text.us"], _ = _per_call_us(htmlextract.extract_main_text, html)
    out["core.fields.extract_fields.us"], _ = _per_call_us(fields.extract_fields, extracted)
    out["core.status_failed"] = n_failed
    out["core.total_s"] = total_s
    return out
