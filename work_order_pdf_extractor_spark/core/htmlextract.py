"""Boilerpipe-style main-content extraction for HTML payloads.

The reference has no HTML path; the north rule mandates one (main-content
extraction with boilerplate stripping via text-density + link-density block
classification — the approach published in Kohlschütter et al.,
"Boilerplate Detection using Shallow Text Features", WSDM 2010).

Deterministic, stdlib-only (one regex scanner). Blocks are segmented at
block-level tag boundaries; each block gets

- ``n_words``     — whitespace-token count,
- ``link_density`` — fraction of characters inside ``<a>`` elements,
- ``text_density`` — words per wrapped line of 80 chars (Kohlschütter's
  proxy for visual density).

Classification rule (fixed; the fixture generator in ``fixtures.py``
constructs pages whose ground-truth main content is exactly what this rule
recovers, so golden equality is meaningful):

    content  ⇔  link_density < 0.33  AND  n_words >= 8
"""

from __future__ import annotations

import html as _htmlmod
import re
from itertools import chain

BLOCK_TAGS = {
    "p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6", "td", "th",
    "section", "article", "header", "footer", "nav", "aside", "ul", "ol",
    "table", "tr", "blockquote", "pre", "br", "body", "html",
}
SKIP_TAGS = {"noscript", "template"}

LINK_DENSITY_MAX = 0.33
MIN_CONTENT_WORDS = 8


# One scanner for every piece of markup. Comments and declarations are
# skipped whole. <script>/<style> are raw-text elements: the first
# alternative takes the start tag, the body and the matching end tag (or the
# rest of the page when it never closes) as one match, so nothing inside
# them is read as markup. A tag ends at the first `>` outside a quoted
# attribute value. Every alternative starts with `<`, so the scan skips
# text between tags without trying an alternative at each character.
_MARKUP_RE = re.compile(
    r"<!--.*?-->|<!(?:[^>]*)>"
    r"|<(?i:(?P<raw>script|style))(?=[\s/>])[^>]*>"
    r".*?(?:</(?i:(?P=raw))(?=[\s/>])[^>]*>|\Z)"
    r"|<(?P<end>/?)(?P<tag>[a-zA-Z][a-zA-Z0-9]*)"
    r"(?:\s(?:[^>\"']|\"[^\"]*\"|'[^']*')*?)?/?>",
    re.DOTALL,
)


def segment_blocks(html: str) -> list[dict]:
    """Segment HTML into text blocks with link/word statistics.

    Semantics: block-level tags flush the current block; script/style
    bodies are raw text and skipped up to their end tag; noscript/template
    content is skipped by nesting depth; link characters are counted inside
    ``<a>``; character references are resolved.
    """
    blocks: list[dict] = []
    text_parts: list[str] = []
    link_chars = 0
    total_chars = 0
    a_depth = 0
    skip_depth = 0

    def flush() -> None:
        nonlocal text_parts, link_chars, total_chars
        words = "".join(text_parts).split()
        if words:
            raw = " ".join(words)
            blocks.append(
                {
                    "text": raw,
                    "n_words": len(words),
                    "link_density": link_chars / total_chars,
                    # words per wrapped line of 80 chars
                    "text_density": len(words) / -(-len(raw) // 80),
                }
            )
        text_parts = []
        link_chars = 0
        total_chars = 0

    pos = 0
    n_html = len(html)
    # the page end closes the text after the last tag like one more tag
    for m in chain(_MARKUP_RE.finditer(html), (None,)):
        start = n_html if m is None else m.start()
        if start > pos and not skip_depth:
            data = html[pos:start]
            if "&" in data:
                data = _htmlmod.unescape(data)
            text_parts.append(data)
            n = len(data)
            total_chars += n
            if a_depth:
                link_chars += n
        if m is None:
            break
        pos = m.end()
        tag = m.group("tag")
        if tag is None:  # comment, declaration, raw-text element
            continue
        tag = tag.lower()
        closing = m.group("end") == "/"
        if tag in SKIP_TAGS:
            skip_depth = max(0, skip_depth - 1) if closing else skip_depth + 1
            continue
        if tag in BLOCK_TAGS and text_parts:
            flush()
        if tag == "a":
            a_depth = max(0, a_depth - 1) if closing else a_depth + 1
    flush()
    return blocks


def classify_blocks(blocks: list[dict]) -> list[bool]:
    """Apply the fixed content rule to each block."""
    return [
        b["link_density"] < LINK_DENSITY_MAX and b["n_words"] >= MIN_CONTENT_WORDS
        for b in blocks
    ]


def extract_main_text(html: str) -> str:
    """Canonical main content: content blocks joined with '\\n'."""
    blocks = segment_blocks(html)
    keep = classify_blocks(blocks)
    return "\n".join(b["text"] for b, k in zip(blocks, keep) if k)
