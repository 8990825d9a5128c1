"""Unit tests for the Boilerpipe-style HTML main-content extractor (M3)."""

from __future__ import annotations

import hashlib
import json
import random

from work_order_pdf_extractor_spark import fixtures
from work_order_pdf_extractor_spark.core import htmlextract as H

PAGE = (
    "<html><head><script>var x=1;</script><style>p{}</style></head><body>"
    '<nav><ul><li><a href="/a">home</a></li><li><a href="/b">docs</a></li></ul></nav>'
    "<article><p>This long paragraph carries the actual main content of the "
    "page with plenty of words to pass the density rule.</p>"
    '<p>Short <a href="/x">linky linky linky linky linky linky</a> row</p></article>'
    "<footer>tiny footer</footer></body></html>"
)


def test_script_style_skipped():
    blocks = H.segment_blocks(PAGE)
    assert not any("var x" in b["text"] or "p{}" in b["text"] for b in blocks)


def test_link_density_flags_nav():
    blocks = H.segment_blocks(PAGE)
    nav_blocks = [b for b in blocks if "home" in b["text"] or "docs" in b["text"]]
    assert nav_blocks and all(b["link_density"] > 0.5 for b in nav_blocks)


def test_main_text_recovers_content_only():
    main = H.extract_main_text(PAGE)
    assert main.startswith("This long paragraph carries")
    assert "home" not in main and "footer" not in main
    # the link-heavy paragraph is boilerplate despite its word count
    assert "linky" not in main


def test_short_blocks_dropped():
    assert H.extract_main_text("<p>too short</p>") == ""


def test_whitespace_canonicalized():
    html = "<p>spaced   out\n\n   words here now indeed truly verily and more</p>"
    assert H.extract_main_text(html) == "spaced out words here now indeed truly verily and more"


def test_segment_blocks_pinned_on_fixtures():
    """Blocks and main text of 122 fixture-shaped pages, pinned by sha256
    (recorded when a stdlib-HTMLParser segmenter still agreed with the
    scanner on every one of them)."""
    rng = random.Random(7)
    pages = [
        fixtures.build_html_payload(
            rng, "Work Order No. : 22809891" if i % 3 == 0 else None
        )
        for i in range(120)
    ] + [PAGE, "<p>plain &amp; simple entity test with enough words here</p>"]
    blocks = json.dumps([H.segment_blocks(pg) for pg in pages]).encode()
    main = "\x00".join(H.extract_main_text(pg) for pg in pages).encode()
    assert hashlib.sha256(blocks).hexdigest() == (
        "3207b1525e5fa002a90e760bbaf6296e4145865afe9632275fea6ba6f12a12e5"
    )
    assert hashlib.sha256(main).hexdigest() == (
        "8ad1480e435c63c840496ba62545b798a6e61ec1c4289b33e8be7150b075138b"
    )


def test_markup_forms_segment_literally():
    """Comments and doctype vanish, entities resolve, tag names are
    case-blind, ``<br/>`` breaks a block, nested ``<a>`` counts link
    characters until the outer one closes, and text after the last tag is
    a block."""
    page = (
        "<!DOCTYPE html><!-- a <p> comment --><P>Upper &amp; case &lt;ok&gt;<BR/>"
        'after break <a href="x">one <a>two</a> three</a> four</P>tail text'
    )
    assert H.segment_blocks(page) == [
        {"text": "Upper & case <ok>", "n_words": 4, "link_density": 0.0, "text_density": 4.0},
        {
            "text": "after break one two three four",
            "n_words": 6,
            "link_density": 13 / 30,  # "one two three" of 30 characters
            "text_density": 6.0,
        },
        {"text": "tail text", "n_words": 2, "link_density": 0.0, "text_density": 2.0},
    ]


def test_script_body_is_raw_text():
    """Inside <script>/<style> only the matching end tag is markup: a tag
    written in a script string opens nothing, and a ``<`` in a script
    expression does not split the enclosing block."""
    long_para = " ".join(f"word{i}" for i in range(30))
    page = (
        '<script>document.write("<a href=x>")</script>'
        f"<p>{long_para}</p>"
    )
    assert H.extract_main_text(page) == long_para
    page = (
        "<p>one two three <SCRIPT type=x>if(a<b){x=\"<div>\"}</style></Script >"
        " four five six seven eight</p>"
    )
    assert [b["text"] for b in H.segment_blocks(page)] == [
        "one two three four five six seven eight"
    ]
    # a raw-text element that never closes runs to the end of the page
    assert H.segment_blocks("<p>kept</p><style>p{} <p>dropped</p>") == [
        {"text": "kept", "n_words": 1, "link_density": 0.0, "text_density": 1.0}
    ]


def test_quoted_attribute_may_hold_gt():
    """A ``>`` inside a quoted attribute value does not end the tag, so
    the attribute never becomes page or link text."""
    for q in ('"', "'"):
        page = f"<p>see <a title={q}a>b{q} href={q}/x{q}>the manual</a> now</p>"
        assert [b["text"] for b in H.segment_blocks(page)] == ["see the manual now"]
