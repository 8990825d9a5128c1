"""The extraction core's output, pinned by sha256.

``oracle.extract_goldens`` calls ``extract_turn`` itself, so the golden
tests cannot see a drift inside the core. These hashes were recorded
before the content-stream lexer was rewritten: any change to what
``tokenize_content`` returns or raises, or to what ``extract_turn``
returns on the ``tiny`` fixture, fails here.
"""

from __future__ import annotations

import base64
import hashlib
import random

from work_order_pdf_extractor_spark import fixtures
from work_order_pdf_extractor_spark.core import pdfparse
from work_order_pdf_extractor_spark.core.extractor import extract_turn

from .test_extract_untrusted import _PDF_SYNTAX, _mutate, _pdf_seeds

# recorded with the generator lexer (one ``re.match`` per lexer token)
STREAMS, FAILED = 903, 2634
DIGEST = "3ef0c7187008073cdcf06e50840f35691bf6dabd3e29725c04fae5ab24cceb82"
EXTRACT_DIGEST = "a057cf6ff81496d6d32839fcfd7e7158573b1116ca93764de5946cd279c153fc"


def _content_streams(data: bytes) -> list[bytes]:
    """The decoded page content streams of a PDF built by ``build_pdf``
    (every stream object that is neither an object stream nor an xref
    stream)."""
    budget = pdfparse._InflateBudget()
    return [
        pdfparse._stream_bytes(body, budget)
        for body in pdfparse._split_objects(data).values()
        if b"stream" in body and b"/ObjStm" not in body and b"/XRef" not in body
    ]


def _outcome(stream: bytes) -> str:
    try:
        return repr(pdfparse.tokenize_content(stream))
    except pdfparse.PdfParseError as e:
        return f"PdfParseError({e})"


def test_tokenize_content_pinned_on_fixture_streams_and_mutants():
    """Tokens, or the error, of every content stream of the ``tiny``
    fixture's PDFs and of the untrusted-payload seeds, and of 6,000
    seeded byte mutants of those streams."""
    turns = fixtures.gen_transcripts("tiny")
    streams = []
    for text in turns.loc[turns["tool"] == "pdf_reader", "text"]:
        try:
            streams += _content_streams(base64.b64decode(text))
        except pdfparse.PdfParseError:  # the fixture's malformed payloads
            pass
    for data in _pdf_seeds():
        streams += _content_streams(data)
    rng = random.Random(16)
    mutants = [_mutate(rng, rng.choice(streams), _PDF_SYNTAX) for _ in range(6000)]
    outcomes = [_outcome(s) for s in streams + mutants]
    n_failed = sum(o.startswith("PdfParseError") for o in outcomes)
    digest = hashlib.sha256("\n".join(outcomes).encode()).hexdigest()
    assert (len(streams), n_failed) == (STREAMS, FAILED)
    assert digest == DIGEST


def test_extract_turn_pinned_on_tiny_fixture():
    """Every field and span of ``extract_turn`` over the ``tiny`` fixture."""
    turns = fixtures.gen_transcripts("tiny")
    rows = [repr(sorted(extract_turn(t, tl).items())) for t, tl in zip(turns["text"], turns["tool"])]
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    assert digest == EXTRACT_DIGEST
