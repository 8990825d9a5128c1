"""Canonical text-assembly rules.

The reference compares extracted values as normalized strings
(``work_order_extractor.py:1752-1767``: try ``str(wo)``, then
``str(int(wo))``). The north rule requires per-turn TEXT equality, so the
joining/whitespace rules are defined exactly once here and imported by both
the oracle and the Spark UDFs — they cannot diverge.
"""

from __future__ import annotations

import re

_ASCII_DIGITS = re.compile(r"[0-9]+")

# Exactly Java's regex \s class ([ \t\n\x0B\f\r]) — the Spark twin trims with
# regexp_replace('^\\s+|\\s+$'), so the Python side must strip the SAME set.
# str.strip() with no args strips unicode whitespace (\xa0,  , …) that
# Java \s does not, which would flip `matched` on exotic-padded keys.
_JAVA_WS = " \t\n\x0b\f\r"

# Tokens whose baselines differ by less than this many PDF units are treated
# as the same text line (rasterized text rarely aligns exactly).
LINE_Y_TOLERANCE = 2.0


def assemble_lines(tokens: list[tuple[str, float, float, float, float]]) -> list[dict]:
    """Group positioned text tokens into reading-order lines.

    ``tokens`` is a list of ``(text, x0, y0, x1, y1)`` in PDF user space
    (y grows upward). Returns a list of line dicts sorted top-to-bottom,
    each with the canonical single-space-joined text and the union bbox::

        {"text": str, "x0": f, "y0": f, "x1": f, "y1": f}

    Rules (fixed forever — per-turn equality depends on them):
      * tokens sort by (-y0 bucketed to LINE_Y_TOLERANCE, x0, text)
      * tokens on one line join with exactly one ASCII space
      * empty-text tokens are dropped
    """
    toks = [t for t in tokens if t[0] != ""]
    if not toks:
        return []
    # Bucket y so near-equal baselines land on one line, then sort.
    keyed = sorted(
        toks, key=lambda t: (-round(t[2] / LINE_Y_TOLERANCE), t[1], t[0])
    )
    lines: list[dict] = []
    cur: list[tuple[str, float, float, float, float]] = []
    cur_bucket: int | None = None
    for t in keyed:
        bucket = -round(t[2] / LINE_Y_TOLERANCE)
        if cur_bucket is None or bucket == cur_bucket:
            cur.append(t)
            cur_bucket = bucket
        else:
            lines.append(_close_line(cur))
            cur = [t]
            cur_bucket = bucket
    lines.append(_close_line(cur))
    return lines


def _close_line(toks: list[tuple[str, float, float, float, float]]) -> dict:
    texts, x0s, y0s, x1s, y1s = zip(*toks)
    return {
        "text": " ".join(texts),
        "x0": min(x0s),
        "y0": min(y0s),
        "x1": max(x1s),
        "y1": max(y1s),
    }


def join_lines(lines: list[dict]) -> str:
    """Canonical document text: lines joined with '\\n', no trailing newline."""
    return "\n".join(ln["text"] for ln in lines)


def normalize_plain_text(text: str) -> str:
    """Canonical form of a plain-text payload: strip outer whitespace only.

    Mirrors the reference's ``response_text.strip()``
    (``work_order_extractor.py:1663``).
    """
    return text.strip()


def normalize_key(value: str | None) -> str | None:
    """Normalize an extracted key for the reference's int probe
    (``work_order_extractor.py:1752-1767``, the ``str(int(wo))`` arm):
    strip whitespace; if ASCII-digits-only, drop leading zeros (keep one).

    ASCII-only by design — ``str.isdigit()`` accepts unicode digits that
    the Spark twin's anchored ``rlike`` rejects, and ``int()`` is
    unbounded where an ANSI ``cast('long')`` overflows; both sides now use
    the same regex + zero-strip so engine and oracle agree on every input.
    The strip set is pinned to Java's ``\\s`` class (not ``str.strip()``'s
    unicode set) so a key padded with '\\xa0' normalizes identically here
    and in :func:`plans.pipeline.normalize_key_col`.
    """
    if value is None:
        return None
    v = value.strip(_JAVA_WS)
    if not v:
        return None
    if _ASCII_DIGITS.fullmatch(v):
        return v.lstrip("0") or "0"
    return v
