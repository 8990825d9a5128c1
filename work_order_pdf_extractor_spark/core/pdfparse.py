"""Minimal-subset PDF builder and content-stream tokenizer.

Replaces the reference's rasterize-then-GPT-Vision stage
(``work_order_extractor.py:1121-1146`` pdf2image/PyMuPDF render,
``:1588-1688`` OpenAI call) with a deterministic, pure-Python parser: the
payload's text is recovered directly from the PDF content stream
(``BT/Tf/Td/TD/Tm/Tj/TJ/ET`` operators) with positions, and the reference's
pixel crop (``crop_image``, ``work_order_extractor.py:1378-1388``; default
top-left quarter ``:65-68``) becomes a bounding-box predicate over token
coordinates.

The subset of PDF this module EMITS is exactly the subset it PARSES
(documented per function). Streams are uncompressed or FlateDecode only.
Everything is deterministic; parse failures raise :class:`PdfParseError`
which the pipeline converts into ``status='extraction_failed'`` rows
(mirroring the reference's null-result fallback ``:1677``).
"""

from __future__ import annotations

import re
import zlib

# Fixed average glyph-width factor used for bbox estimation (both the builder's
# layout intuition and the parser's bbox math use it — a single constant so
# region-containment is self-consistent).
CHAR_WIDTH_FACTOR = 0.5

# Crop box as (x1, y1, x2, y2) fractions of the page in IMAGE space (origin
# top-left). The reference's DEFAULT is the top-left SIXTEENTH — crop_x2=0.25,
# crop_y2=0.25 (work_order_extractor.py:65-68) — and is user-configurable via
# its crop dialog (:1378-1388). This engine's default DELIBERATELY differs:
# the top-left QUARTER, a superset of the reference default, because the
# synthetic transcript fixtures place header fields across that band. Pass
# crop=(0, 0, 0.25, 0.25) to run_pipeline/extract_turns for the reference's
# exact default; the semantics of the predicate are identical at any box.
DEFAULT_CROP = (0.0, 0.0, 0.5, 0.5)


class PdfParseError(ValueError):
    """Raised when a payload is not a parseable member of the emitted subset."""


# Most bytes the FlateDecode streams of one payload may inflate to, all
# together (8 MiB, thousands of times any fixture PDF). Flate compresses a run
# of one byte ~1000:1, so without a bound a 100 KB payload would inflate to
# ~100 MB inside a worker, whether as one stream or as many; past it the
# payload is a parse error like any other.
MAX_INFLATED_BYTES = 8 << 20


class _InflateBudget:
    """What is left of one payload's :data:`MAX_INFLATED_BYTES`. One parse
    makes one and passes it to every :func:`_stream_bytes` call. It also
    holds the payload's object streams parsed so far, keyed by body, so
    each ``/ObjStm`` is inflated, and charged, once (:func:`_objstm`)."""

    __slots__ = ("left", "objstms")

    def __init__(self) -> None:
        self.left = MAX_INFLATED_BYTES
        self.objstms: dict[bytes, dict[int, bytes]] = {}


# ---------------------------------------------------------------------------
# Builder
# ---------------------------------------------------------------------------

def _esc(s: str) -> bytes:
    return (
        s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
    ).encode("latin-1", errors="replace")


def build_content_stream(ops: list[tuple]) -> bytes:
    """Serialize page text ops into one content stream.

    Ops (the only forms emitted, hence the only forms the parser must honor
    beyond robustness):

    - ``("text", x, y, size, s)``     → ``1 0 0 1 x y Tm (s) Tj``
    - ``("textTJ", x, y, size, parts)`` → ``... Tm [ ... ] TJ`` with str/int parts
    - ``("textTd", dx, dy, size, s)`` → ``dx dy Td (s) Tj`` (relative move)
    """
    out: list[bytes] = [b"BT"]
    cur_size: float | None = None
    for op in ops:
        kind = op[0]
        size = op[3]
        if size != cur_size:
            out.append(b"/F1 %g Tf" % size)
            cur_size = size
        if kind == "text":
            _, x, y, _, s = op
            out.append(b"1 0 0 1 %g %g Tm" % (x, y))
            out.append(b"(" + _esc(s) + b") Tj")
        elif kind == "textTJ":
            _, x, y, _, parts = op
            out.append(b"1 0 0 1 %g %g Tm" % (x, y))
            arr = b" ".join(
                (b"(" + _esc(p) + b")") if isinstance(p, str) else (b"%d" % p)
                for p in parts
            )
            out.append(b"[" + arr + b"] TJ")
        elif kind == "textTd":
            _, dx, dy, _, s = op
            out.append(b"%g %g Td" % (dx, dy))
            out.append(b"(" + _esc(s) + b") Tj")
        else:  # pragma: no cover - builder misuse
            raise ValueError(f"unknown op kind {kind!r}")
    out.append(b"ET")
    return b"\n".join(out)


def build_pdf(
    pages: list[list[tuple]],
    page_size: tuple[float, float] = (612.0, 792.0),
    compress: bool = False,
    xref_stream: bool = False,
) -> bytes:
    """Construct a complete PDF with one content stream per page.

    Object layout: 1=Catalog, 2=Pages, then per page i: (3+2i)=Page,
    (4+2i)=Contents stream; last object = Font.

    With ``xref_stream=False`` (default): a classic PDF 1.4 file — text
    cross-reference table + trailer dictionary. With ``xref_stream=True``:
    the PDF 1.5+ form most post-2004 files actually use — every
    non-stream object (Catalog/Pages/Page/Font) is packed into a
    Flate-compressed OBJECT STREAM (``/Type /ObjStm``, ISO 32000 §7.5.7:
    "num offset" pair header + concatenated bodies) and the file ends
    with a CROSS-REFERENCE STREAM (``/Type /XRef``, binary ``/W [1 4 2]``
    columns: type-1 entries carry byte offsets, type-2 entries carry
    (object-stream number, index)); the trailer dictionary lives in the
    XRef stream's own dict. Either form is accepted by any conforming
    reader and by :func:`parse_pdf` (EMIT==PARSE both ways).
    """
    w, h = page_size
    n_pages = len(pages)
    objs: dict[int, bytes] = {}
    stream_objs: set[int] = set()
    font_num = 3 + 2 * n_pages
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for i, ops in enumerate(pages):
        page_num = 3 + 2 * i
        cont_num = 4 + 2 * i
        objs[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w:g} {h:g}] "
            f"/Contents {cont_num} 0 R "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>"
        ).encode()
        stream = build_content_stream(ops)
        filt = b""
        if compress:
            stream = zlib.compress(stream)
            filt = b" /Filter /FlateDecode"
        objs[cont_num] = (
            b"<< /Length %d%s >>\nstream\n" % (len(stream), filt)
            + stream
            + b"\nendstream"
        )
        stream_objs.add(cont_num)
    objs[font_num] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )

    if not xref_stream:
        buf = bytearray(b"%PDF-1.4\n")
        offsets: dict[int, int] = {}
        for num in sorted(objs):
            offsets[num] = len(buf)
            buf += b"%d 0 obj\n" % num
            buf += objs[num]
            buf += b"\nendobj\n"
        xref_off = len(buf)
        n = max(objs) + 1
        buf += b"xref\n0 %d\n" % n
        buf += b"0000000000 65535 f \n"
        for num in range(1, n):
            buf += b"%010d 00000 n \n" % offsets[num]
        buf += (
            b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (n, xref_off)
        )
        return bytes(buf)

    # ---- PDF 1.5 layout: object stream + cross-reference stream ----
    objstm_num = font_num + 1
    xref_num = font_num + 2
    packed = sorted(n for n in objs if n not in stream_objs)
    bodies = [objs[n] for n in packed]
    pair_offsets: list[int] = []
    pos = 0
    for b in bodies:
        pair_offsets.append(pos)
        pos += len(b) + 1  # newline separator
    header = " ".join(
        f"{num} {off}" for num, off in zip(packed, pair_offsets)
    ).encode()
    stm_data = header + b"\n" + b"\n".join(bodies) + b"\n"
    first = len(header) + 1
    comp = zlib.compress(stm_data)
    objstm_body = (
        b"<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode >>"
        b"\nstream\n" % (len(packed), first, len(comp))
        + comp
        + b"\nendstream"
    )

    buf = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for num in sorted(stream_objs):
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    offsets[objstm_num] = len(buf)
    buf += b"%d 0 obj\n" % objstm_num + objstm_body + b"\nendobj\n"
    xref_off = len(buf)

    size = xref_num + 1
    entries = bytearray()
    for num in range(size):
        if num == 0:
            t, f2, f3 = 0, 0, 65535
        elif num in stream_objs or num == objstm_num:
            t, f2, f3 = 1, offsets[num], 0
        elif num == xref_num:
            t, f2, f3 = 1, xref_off, 0
        else:  # packed into the object stream
            t, f2, f3 = 2, objstm_num, packed.index(num)
        entries += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    xcomp = zlib.compress(bytes(entries))
    buf += b"%d 0 obj\n" % xref_num
    buf += (
        b"<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R "
        b"/Length %d /Filter /FlateDecode >>\nstream\n" % (size, len(xcomp))
        + xcomp
        + b"\nendstream\nendobj\n"
    )
    buf += b"startxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(buf)


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj\b", re.S)
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s*\]"
)
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)")


def _body_end(data: bytes, start: int) -> int:
    """Offset of the ``endobj`` that truly terminates the object body
    starting at ``start``. If the object carries a stream, the dict's
    /Length skips the stream payload first (mirroring
    :func:`_stream_bytes`), so Flate-compressed binary that happens to
    contain the byte sequence ``endobj`` cannot truncate the body.
    Returns -1 when no terminator exists."""
    end = data.find(b"endobj", start)
    sidx = data.find(b"stream", start)
    if sidx != -1 and (end == -1 or sidx < end):
        lm = _LENGTH_RE.search(data, start, sidx)
        if lm is not None:
            p = sidx + len(b"stream")
            if data[p : p + 2] == b"\r\n":
                p += 2
            elif data[p : p + 1] == b"\n":
                p += 1
            end = data.find(b"endobj", p + int(lm.group(1)))
    return end


def _split_objects(data: bytes) -> dict[int, bytes]:
    """Locate ``N 0 obj ... endobj`` bodies by scanning (xref-independent,
    robust to files whose xref is damaged — stream extraction still uses
    /Length, so truncation is detected). The scan advances past each
    object's true end (:func:`_body_end`), so neither an embedded
    ``endobj`` nor an ``N 0 obj``-shaped byte run inside stream data can
    truncate or shadow a real object."""
    objs: dict[int, bytes] = {}
    pos = 0
    while True:
        m = _OBJ_RE.search(data, pos)
        if m is None:
            break
        num = int(m.group(1))
        start = m.end()
        end = _body_end(data, start)
        if end == -1:
            raise PdfParseError(f"object {num} missing endobj")
        objs[num] = data[start:end]
        pos = end + len(b"endobj")
    return objs


def _stream_bytes(body: bytes, budget: _InflateBudget) -> bytes:
    lm = _LENGTH_RE.search(body)
    if lm is None:
        raise PdfParseError("content object has no /Length")
    length = int(lm.group(1))
    sidx = body.find(b"stream")
    if sidx == -1:
        raise PdfParseError("content object has no stream")
    p = sidx + len(b"stream")
    if body[p : p + 2] == b"\r\n":
        p += 2
    elif body[p : p + 1] == b"\n":
        p += 1
    raw = body[p : p + length]
    if len(raw) < length:
        raise PdfParseError("truncated content stream")
    if b"/FlateDecode" in body[:sidx]:
        inflate = zlib.decompressobj()
        try:
            raw = inflate.decompress(raw, budget.left + 1)
        except zlib.error as e:
            raise PdfParseError(f"bad Flate stream: {e}") from e
        if len(raw) > budget.left:
            budget.left = 0  # spent: the xref-damage fallback inflates nothing more
            raise PdfParseError(
                f"Flate data inflates past {MAX_INFLATED_BYTES} bytes in one payload"
            )
        if not inflate.eof:
            raise PdfParseError("bad Flate stream: incomplete or truncated stream")
        budget.left -= len(raw)
    return raw


# ---- PDF 1.5 cross-reference streams + object streams (ISO 32000 §7.5) ----

_W_RE = re.compile(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]")
_SIZE_RE = re.compile(rb"/Size\s+(\d+)")
_INDEX_RE = re.compile(rb"/Index\s*\[([^\]]*)\]")
_FIRST_RE = re.compile(rb"/First\s+(\d+)")
_NCOUNT_RE = re.compile(rb"/N\s+(\d+)")
_PREV_RE = re.compile(rb"/Prev\s+(\d+)")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")


def _obj_at(data: bytes, off: int) -> tuple[int, bytes] | None:
    """Read ``N 0 obj ... endobj`` starting exactly at byte ``off``.

    If the object carries a stream, the dict's /Length is used to skip
    the stream payload before searching for ``endobj`` (mirroring
    :func:`_stream_bytes`), so Flate-compressed binary that happens to
    contain the byte sequence ``endobj`` cannot truncate the body."""
    m = _OBJ_RE.match(data, off)
    if m is None:
        return None
    start = m.end()
    end = _body_end(data, start)
    if end == -1:
        raise PdfParseError("object at xref offset missing endobj")
    return int(m.group(1)), data[start:end]


def _parse_objstm(body: bytes, budget: _InflateBudget) -> dict[int, bytes]:
    """Parse a ``/Type /ObjStm`` object stream into ``{num: body}``:
    ``/N`` pairs of ``num offset`` in the header, object bodies
    concatenated after ``/First``."""
    sidx = body.find(b"stream")
    head = body[:sidx] if sidx != -1 else body
    nm = _NCOUNT_RE.search(head)
    fm = _FIRST_RE.search(head)
    if nm is None or fm is None:
        raise PdfParseError("ObjStm missing /N or /First")
    n, first = int(nm.group(1)), int(fm.group(1))
    raw = _stream_bytes(body, budget)
    nums = raw[:first].split()
    if len(nums) < 2 * n:
        raise PdfParseError("ObjStm pair header shorter than /N")
    try:
        pairs = [(int(nums[2 * i]), int(nums[2 * i + 1])) for i in range(n)]
    except ValueError as e:
        raise PdfParseError(f"bad ObjStm pair header: {e}") from e
    out: dict[int, bytes] = {}
    for i, (num, off) in enumerate(pairs):
        end = pairs[i + 1][1] if i + 1 < n else len(raw) - first
        out[num] = raw[first + off : first + end].strip()
    return out


def _objstm(body: bytes, budget: _InflateBudget) -> dict[int, bytes]:
    """:func:`_parse_objstm` of ``body``, parsed once per payload."""
    members = budget.objstms.get(body)
    if members is None:
        members = budget.objstms[body] = _parse_objstm(body, budget)
    return members


def _expand_objstm(body: bytes, objs: dict[int, bytes], budget: _InflateBudget) -> None:
    """Unpack an object stream into ``objs``. Objects already present
    (from a newer xref section) are not overwritten."""
    for num, b in _objstm(body, budget).items():
        objs.setdefault(num, b)


def _objects_via_xref_stream(
    data: bytes, budget: _InflateBudget
) -> dict[int, bytes] | None:
    """Resolve objects through a PDF 1.5 CROSS-REFERENCE STREAM: follow
    ``startxref`` to the ``/Type /XRef`` object, decode the ``/W``-column
    binary entries (type 1 = byte offset, type 2 = (object stream,
    index)), read type-1 objects at their recorded offsets and unpack
    referenced object streams. Follows ``/Prev`` chains (older sections
    never override newer entries). Returns ``None`` for classic files
    (``startxref`` pointing at a text ``xref`` table) so the caller uses
    the scan path instead."""
    sx = data.rfind(b"startxref")
    if sx == -1:
        return None
    m = _STARTXREF_RE.match(data, sx)
    if m is None:
        return None
    off = int(m.group(1))
    if data[off : off + 4] == b"xref":
        return None  # classic cross-reference table
    objs: dict[int, bytes] = {}
    # an entry in a NEWER section shadows every older one, whatever its
    # type: type-1 resolves immediately; type-2 reserves the number as a
    # placeholder into its object stream (resolved after the chain walk,
    # so an older section's type-1 can never claim it); type-0 (free)
    # claims the number as deleted
    claimed: set[int] = set()
    placeholders: dict[int, int] = {}  # num -> objstm num
    seen_sections: set[int] = set()
    while True:
        if off in seen_sections:
            raise PdfParseError("circular /Prev chain in xref streams")
        seen_sections.add(off)
        at = _obj_at(data, off)
        if at is None:
            raise PdfParseError("startxref does not point at an object")
        _num, body = at
        sidx = body.find(b"stream")
        head = body[:sidx] if sidx != -1 else body
        if b"/Type /XRef" not in head and b"/Type/XRef" not in head:
            raise PdfParseError("startxref object is not /Type /XRef")
        wm, zm = _W_RE.search(head), _SIZE_RE.search(head)
        if wm is None or zm is None:
            raise PdfParseError("xref stream missing /W or /Size")
        w1, w2, w3 = (int(wm.group(i)) for i in (1, 2, 3))
        size = int(zm.group(1))
        im = _INDEX_RE.search(head)
        if im:
            try:
                ix = [int(x) for x in im.group(1).split()]
            except ValueError as e:
                raise PdfParseError(f"bad /Index array: {e}") from e
            ranges = list(zip(ix[0::2], ix[1::2]))
        else:
            ranges = [(0, size)]
        raw = _stream_bytes(body, budget)
        rowlen = w1 + w2 + w3
        pos = 0
        for start, count in ranges:
            for j in range(count):
                num = start + j
                row = raw[pos : pos + rowlen]
                pos += rowlen
                if len(row) < rowlen:
                    raise PdfParseError("truncated xref stream data")
                t = int.from_bytes(row[:w1], "big") if w1 else 1
                f2 = int.from_bytes(row[w1 : w1 + w2], "big")
                if num in claimed:
                    continue  # a newer section already decided this num
                claimed.add(num)
                if t == 1:
                    at = _obj_at(data, f2)
                    if at is None:
                        raise PdfParseError(
                            f"xref offset {f2} for object {num} is not an object"
                        )
                    objs[at[0]] = at[1]
                elif t == 2:
                    placeholders[num] = f2
                # t == 0: free — the number stays claimed-but-absent
        pm = _PREV_RE.search(head)
        if pm is None:
            break
        off = int(pm.group(1))
    parsed_stms: dict[int, dict[int, bytes]] = {}
    for num, sn in placeholders.items():
        stm = objs.get(sn)
        if stm is None:
            raise PdfParseError(f"type-2 entry references missing ObjStm {sn}")
        if sn not in parsed_stms:
            parsed_stms[sn] = _objstm(stm, budget)
        if num not in parsed_stms[sn]:
            raise PdfParseError(f"ObjStm {sn} does not contain object {num}")
        objs[num] = parsed_stms[sn][num]
    return objs


# The content-stream token grammar, one compiled alternation scanned once over
# the whole stream by `tokenize_content`. Each match first skips whitespace
# and comments, then takes one token; the alternatives start on disjoint
# bytes, `end` matches trailing blanks and the last alternative takes any
# other byte, so the matches tile the stream. Every repeat is possessive:
# nothing after a run could match what the run gave back, so the engine
# keeps no backtracking state (and a long blank run before a bad byte
# cannot backtrack). A literal string without escapes or nested
# parentheses is matched whole; any other string matches only its opening
# `(` and `_lex_string` reads the body.
_TOKEN_RE = re.compile(
    rb"[ \t\r\n]*+(?:%[^\n]*+[ \t\r\n]*+)*+(?:"
    rb"([+-]?+(?:\d++\.?\d*+|\.\d++)(?:[eE][+-]?\d++)?+)"
    rb"|([A-Za-z*'\"]++)"
    rb"|\(([^\\()]*+)\)"
    rb"|(\()"
    rb"|/([^ \t\r\n()\[\]<>/%]*+)"
    rb"|(\[)"
    rb"|(\])"
    rb"|(\Z)"
    rb"|(.))",
    re.S,
)
# `m.lastindex` of each alternative above
_NUM, _OP, _STR, _ESC_STR, _NAME, _OPEN, _CLOSE, _END, _BAD = range(1, 10)
_KIND_NAMES = {_NAME: "name", _OPEN: "open"}


# Literal-string escapes (ISO 32000-1 §7.3.4.2): an octal code of 1-3
# digits taken mod 256; backslash + EOL (CR, LF or CRLF) continues the line
# and yields nothing; before any other byte the backslash is dropped and the
# byte kept, which covers `\\`, `\(` and `\)`.
_ESCAPES = {b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f"}
_ESCAPE_RE = re.compile(rb"\\(?:([0-7]{1,3})|\r\n?|\n|(.))", re.S)
_PLAIN_RUN_RE = re.compile(rb"[^\\()]+")


def _lex_string(stream: bytes, i: int) -> tuple[str, int]:
    """Parse a PDF literal string whose body starts at ``i``, just past its
    ``(``; supports nesting and the escapes above. Plain character runs are
    consumed with one regex match instead of byte-at-a-time."""
    depth = 1
    out: list[str] = []
    n = len(stream)
    while i < n:
        m = _PLAIN_RUN_RE.match(stream, i)
        if m:
            out.append(m.group().decode("latin-1"))
            i = m.end()
            if i >= n:
                break
        c = stream[i]
        if c == 0x5C:  # backslash
            m = _ESCAPE_RE.match(stream, i)
            if m is None:  # the stream ends after the backslash
                break
            octal, other = m.groups()
            if octal:
                out.append(chr(int(octal, 8) & 0xFF))
            elif other:
                out.append(_ESCAPES.get(other) or other.decode("latin-1"))
            i = m.end()
        elif c == 0x28:  # (
            depth += 1
            out.append("(")
            i += 1
        else:  # )
            depth -= 1
            if depth == 0:
                return "".join(out), i + 1
            out.append(")")
            i += 1
    raise PdfParseError("unterminated string in content stream")


def tokenize_content(stream: bytes) -> list[tuple[str, float, float, float, float]]:
    """Interpret a content stream's text operators into positioned tokens.

    Tracks ``Tf`` (font size), ``Tm`` (absolute line matrix, translation
    part), ``Td``/``TD`` (relative line moves), ``T*``, ``Tj`` (show string)
    and ``TJ`` (show array with kerning). Returns
    ``(text, x0, y0, x1, y1)`` tuples in PDF user space. The bbox is
    estimated with :data:`CHAR_WIDTH_FACTOR` — positions come from the
    stream, widths from the fixed factor, so results are deterministic.

    One scan of :data:`_TOKEN_RE` feeds this loop. Only the last two
    operands are kept, numbers as their match until an operator reads
    them, and every operator, known or not, drops its operands (PDF
    semantics). An array holds only strings and numbers; anything else
    inside one, an unterminated array, a stray ``]``, an unterminated
    string or a byte outside the grammar raises :class:`PdfParseError`.
    """
    tokens: list[tuple[str, float, float, float, float]] = []
    size = 12.0
    lx = ly = 0.0   # text line origin
    cx = 0.0        # current x within line
    in_text = False
    k1 = k2 = 0     # kinds of the last and second-to-last operand (0: none)
    v1 = v2 = None  # their values: a match (number), str, or list (array)
    arr: list | None = None  # the array being collected, if any
    pos: int | None = 0
    while pos is not None:  # a new scan only after an escaped string
        scan, pos = _TOKEN_RE.finditer(stream, pos), None
        for m in scan:
            kind = m.lastindex
            if kind == _NUM:
                if arr is None:
                    k2, v2, k1, v1 = k1, v1, _NUM, m
                else:
                    arr.append((_NUM, m))
                continue
            if kind == _OP:
                if arr is not None:
                    raise PdfParseError("unexpected op token in TJ array")
                op = m.group(_OP)
                if op == b"Tj":
                    if in_text and k1 == _STR and v1:
                        x = lx + cx
                        w = CHAR_WIDTH_FACTOR * size * len(v1)
                        tokens.append((v1, x, ly, x + w, ly + size))
                        cx += w
                elif op == b"Tm":
                    if k1 == _NUM and k2 == _NUM:
                        lx, ly = float(v2.group(_NUM)), float(v1.group(_NUM))
                        cx = 0.0
                elif op == b"Tf":
                    if k1 == _NUM:
                        size = float(v1.group(_NUM))
                elif op == b"TJ":
                    if in_text and k1 == _CLOSE:
                        # numbers in the array are kerning, in thousandths
                        # of text space
                        x = lx + cx
                        buf: list[str] = []
                        for k, v in v1:
                            if k == _NUM:
                                cx -= float(v.group(_NUM)) / 1000.0 * size
                            else:
                                buf.append(v)
                                cx += CHAR_WIDTH_FACTOR * size * len(v)
                        s = "".join(buf)
                        if s:
                            tokens.append(
                                (s, x, ly, x + CHAR_WIDTH_FACTOR * size * len(s), ly + size)
                            )
                elif op == b"BT":
                    in_text = True
                    lx = ly = cx = 0.0
                elif op == b"ET":
                    in_text = False
                elif op == b"Td" or op == b"TD":
                    if k1 == _NUM and k2 == _NUM:
                        lx += float(v2.group(_NUM))
                        ly += float(v1.group(_NUM))
                        cx = 0.0
                elif op == b"T*":
                    ly -= size * 1.2
                    cx = 0.0
                k1 = k2 = 0
                continue
            elif kind == _STR:
                val = m.group(_STR).decode("latin-1")
            elif kind == _ESC_STR:
                val, pos = _lex_string(stream, m.end())
                kind = _STR
            elif kind == _CLOSE:
                if arr is None:
                    raise PdfParseError("unbalanced ] in content stream")
                val, arr = arr, None
            elif kind == _END:
                break
            elif kind == _BAD:
                raise PdfParseError(f"unexpected byte in content stream at {m.start()}")
            elif arr is not None:
                raise PdfParseError(f"unexpected {_KIND_NAMES[kind]} token in TJ array")
            elif kind == _OPEN:
                arr = []
                continue
            else:  # a name: only its kind matters
                val = None
            if arr is None:
                k2, v2, k1, v1 = k1, v1, kind, val
            else:
                arr.append((kind, val))
            if pos is not None:  # resume the scan after the escaped string
                break
    if arr is not None:
        raise PdfParseError("unterminated array in content stream")
    return tokens


def _page_tree(
    data: bytes, budget: _InflateBudget
) -> tuple[dict[int, bytes], list[int]]:
    """The objects of a PDF and its page object numbers in document order
    (the /Kids array order). Raises :class:`PdfParseError` for a payload
    with no pages."""
    if not data.startswith(b"%PDF-"):
        raise PdfParseError("missing %PDF header")
    # PDF 1.5+ files resolve through the cross-reference stream (the form
    # most post-2004 PDFs use); classic files — or files whose xref is
    # damaged — fall back to the xref-independent object scan.
    try:
        objs = _objects_via_xref_stream(data, budget)
    except PdfParseError:
        objs = None
    if objs is None:
        objs = _split_objects(data)
    # Expand any object streams the scan path surfaced directly (packed
    # Catalog/Pages/Page objects live inside them, invisible to _OBJ_RE).
    for body in list(objs.values()):
        if b"/Type /ObjStm" in body or b"/Type/ObjStm" in body:
            _expand_objstm(body, objs, budget)
    # Find the Pages node (has /Kids); fall back to scanning for /Type /Page.
    page_nums: list[int] = []
    for body in objs.values():
        if b"/Type /Pages" in body or b"/Type/Pages" in body:
            km = _KIDS_RE.search(body)
            if km:
                page_nums = [int(r.group(1)) for r in _REF_RE.finditer(km.group(1))]
            break
    if not page_nums:
        page_nums = sorted(
            n for n, b in objs.items()
            if (b"/Type /Page" in b or b"/Type/Page" in b)
            and b"/Type /Pages" not in b and b"/Type/Pages" not in b
        )
    if not page_nums:
        raise PdfParseError("no pages found")
    return objs, page_nums


def _page(objs: dict[int, bytes], pn: int, budget: _InflateBudget) -> dict:
    """Size and positioned tokens of page object ``pn``."""
    body = objs.get(pn)
    if body is None:
        raise PdfParseError(f"missing page object {pn}")
    mb = _MEDIABOX_RE.search(body)
    w, h = (float(mb.group(3)), float(mb.group(4))) if mb else (612.0, 792.0)
    cm = _CONTENTS_RE.search(body)
    if cm is None:
        return {"width": w, "height": h, "tokens": []}
    cont = objs.get(int(cm.group(1)))
    if cont is None:
        raise PdfParseError(f"missing contents object {cm.group(1)!r}")
    tokens = tokenize_content(_stream_bytes(cont, budget))
    return {"width": w, "height": h, "tokens": tokens}


def parse_pdf(data: bytes) -> list[dict]:
    """Parse a PDF of the emitted subset into pages of positioned tokens.

    Returns ``[{"width": w, "height": h, "tokens": [(text,x0,y0,x1,y1),...]}]``
    in document page order (the /Kids array order). Raises
    :class:`PdfParseError` for anything outside the subset or truncated.
    """
    budget = _InflateBudget()
    objs, page_nums = _page_tree(data, budget)
    return [_page(objs, pn, budget) for pn in page_nums]


def parse_first_page(data: bytes) -> dict:
    """Page 1 of :func:`parse_pdf`, without reading any later page: a
    later page's missing objects or unreadable content stream raise
    nothing here."""
    budget = _InflateBudget()
    objs, page_nums = _page_tree(data, budget)
    return _page(objs, page_nums[0], budget)


def tokens_in_region(
    tokens: list[tuple[str, float, float, float, float]],
    width: float,
    height: float,
    crop: tuple[float, float, float, float] = DEFAULT_CROP,
) -> list[tuple[str, float, float, float, float]]:
    """Spatial predicate: keep tokens fully inside the crop box.

    ``crop`` is ``(x1, y1, x2, y2)`` fractions in IMAGE space (origin
    top-left, like the reference's crop UI, ``work_order_extractor.py:
    1287-1291``); PDF user space has origin bottom-left, so y flips:
    a token spanning PDF ys ``[y0, y1]`` occupies image ys
    ``[height - y1, height - y0]``.
    """
    fx1, fy1, fx2, fy2 = crop
    ax1, ay1, ax2, ay2 = fx1 * width, fy1 * height, fx2 * width, fy2 * height
    out = []
    for t in tokens:
        _, x0, y0, x1, y1 = t
        img_top = height - y1
        img_bot = height - y0
        if x0 >= ax1 and x1 <= ax2 and img_top >= ay1 and img_bot <= ay2:
            out.append(t)
    return out
