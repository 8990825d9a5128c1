"""Deterministic synthetic transcripts + reference-order fixtures (M0).

Implements FIXTURES.md §1-§3: an Iceberg-shaped transcripts table
(``sources.transcripts.TRANSCRIPT_SCHEMA``) whose ``text`` cells embed
three payload families — self-constructed minimal PDFs (ground truth known by construction), HTML
with boilerplate, and plain text (some with the reference's markdown-fenced
JSON response shape, ``work_order_extractor.py:1663-1668``) — plus a
``reference_orders`` key table modeled on
``workOrderRef/MCAN_work_inprogress.csv`` (header ``Order`` + 8-digit keys).

Everything is seeded (default 42) and wall-clock free: timestamps are
``2026-01-01 00:00:00 + turn_idx * 7s``. Rows are emitted SHUFFLED so the
pipeline's stable-ordering logic is actually exercised.
"""

from __future__ import annotations

import base64
import datetime as _dt
import os
import random

import pandas as pd

from .core import pdfparse
from .sources.transcripts import REQUIRED_COLUMNS

EPOCH = _dt.datetime(2026, 1, 1, 0, 0, 0)

_WORDS = (
    "pump seal valve motor bearing gasket flange rotor impeller shaft "
    "coupling filter hose clamp sensor relay breaker fuse panel conduit "
    "inspect replace torque align lubricate calibrate measure verify clean "
    "repair overhaul test record schedule dispatch complete pending urgent"
).split()

_CUSTOMERS = (
    "Northwind Traders", "Acme Industrial", "Globex Energy", "Initech Plant",
    "Umbrella Refinery", "Stark Foundry", "Wayne Chemical", "Tyrell Mills",
)

PAGE_W, PAGE_H = 612.0, 792.0

SCALES = {
    # name: (n_convs, [(n_whales, whale_len)])
    "tiny": (200, [(1, 400)]),
    "small": (1500, [(3, 2200)]),
    "bench": (12000, [(6, 2500)]),
}

# Share of PDF payloads emitted in the PDF 1.5 xref-stream form (the rest
# use the classic 1.4 xref table); 0.4 is the production mix.
XREF_STREAM_SHARE = 0.4


def _sentence(rng: random.Random, lo: int = 6, hi: int = 14) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


# ---------------------------------------------------------------------------
# Payload builders
# ---------------------------------------------------------------------------

def build_pdf_payload(
    rng: random.Random,
    wo: str,
    equip: str | None,
    customer: str,
    date: str,
    n_items: int,
    multi_page: bool,
    malformed: str | None,
    compress: bool,
) -> str:
    """Base64 of a minimal PDF whose top-left-quarter region text is known
    by construction. Decoy tokens OUTSIDE the region prove the bbox filter
    works; ``malformed`` in {None, 'truncate', 'header'} exercises the
    ``extraction_failed`` path (FIXTURES.md §2.1)."""
    ops: list[tuple] = [("text", 40, 760, 12, "ACME Maintenance Services")]
    y = 738.0
    ops.append(("text", 40, y, 10, f"Work Order No. : {wo}"))
    y -= 18
    if equip is not None:
        # exercise both Tj and TJ emission forms
        if rng.random() < 0.5:
            ops.append(("textTJ", 40, y, 10, [f"Equipment: ", -40, equip]))
        else:
            ops.append(("text", 40, y, 10, f"Equipment: {equip}"))
        y -= 18
    ops.append(("text", 40, y, 10, f"Customer: {customer}"))
    y -= 18
    if rng.random() < 0.5:
        ops.append(("textTd", 0, 0, 10, f"Date: {date}"))
        # textTd with (0,0) keeps position of previous line — instead place
        # absolutely to keep layout deterministic and inside the region:
        ops[-1] = ("text", 40, y, 10, f"Date: {date}")
    else:
        ops.append(("text", 40, y, 10, f"Date: {date}"))
    y -= 22
    for i in range(n_items):
        item = f"Item {i + 1}: {' '.join(rng.choice(_WORDS) for _ in range(3))} {rng.randint(1, 40)}h"
        ops.append(("text", 48, y, 9, item))
        y -= 14
    # decoys outside the crop region (right half / bottom half of the page)
    ops.append(("text", 340, 760, 10, f"Ref#{rng.randint(100, 999)} internal"))
    ops.append(("text", 40, 60, 9, "Page 1 of 2" if multi_page else "Page 1 of 1"))
    pages = [ops]
    if multi_page:
        pages.append(
            [
                ("text", 40, 760, 10, f"Continuation sheet {_sentence(rng, 3, 6)}"),
                ("text", 40, 60, 9, "Page 2 of 2"),
            ]
        )
    # ~XREF_STREAM_SHARE of payloads use the PDF 1.5 form (cross-reference
    # stream + object streams) — the layout most post-2004 PDFs actually
    # use — so the flagship pipeline and goldens exercise both parser
    # paths. The rng draw is consumed whatever the share, so two shares
    # yield byte-identical corpora except for the xref form.
    data = pdfparse.build_pdf(
        pages, (PAGE_W, PAGE_H), compress=compress,
        xref_stream=rng.random() < XREF_STREAM_SHARE,
    )
    if malformed == "truncate":
        data = data[: len(data) // 2]
    elif malformed == "header":
        data = b"JUNK" + data[4:]
    return base64.b64encode(data).decode("ascii")


def build_html_payload(rng: random.Random, fields_line: str | None) -> str:
    """HTML page: long main paragraphs (ground-truth content per the fixed
    classifier rule) wrapped in nav/header/footer/sidebar boilerplate."""
    nav = "".join(
        f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(_WORDS, 4)
    )
    paras = []
    n_main = rng.randint(1, 4)
    for i in range(n_main):
        body = _sentence(rng, 14, 30)
        if fields_line and i == 0:
            body = f"{fields_line} {body}"
        paras.append(f"<p>{body}</p>")
    sidebar = "".join(
        f'<li><a href="#{w}">{w} {rng.choice(_WORDS)}</a></li>'
        for w in rng.sample(_WORDS, 3)
    )
    return (
        "<html><head><title>wo portal</title>"
        "<script>var x=1;</script><style>p{margin:0}</style></head>"
        f"<body><header><h1>Portal</h1></header><nav><ul>{nav}</ul></nav>"
        f"<aside><ul>{sidebar}</ul></aside>"
        f"<article>{''.join(paras)}</article>"
        f"<footer>© plant ops</footer></body></html>"
    )


def build_plain_payload(rng: random.Random, wo: str | None, equip: str | None) -> str:
    """Plain-text turn: prose, optionally with inline anchored fields or the
    reference's fenced-JSON response shape (valid ~90% / invalid ~10%)."""
    kind = rng.random()
    if wo is not None and kind < 0.4:
        return (
            f"{_sentence(rng)}\nWork Order No. : {wo}\n"
            + (f"Equipment: {equip}\n" if equip else "")
            + _sentence(rng)
        )
    if wo is not None and kind < 0.7:
        if rng.random() < 0.1:
            body = '{"work_order_number": "%s", equipment_number}' % wo  # invalid JSON
        else:
            body = (
                '{"work_order_number": "%s", "equipment_number": %s}'
                % (wo, f'"{equip}"' if equip else "null")
            )
        return f"```json\n{body}\n```"
    return _sentence(rng, 10, 25)


# ---------------------------------------------------------------------------
# Table generators
# ---------------------------------------------------------------------------

def make_work_order_pool(rng: random.Random, n: int = 600) -> list[str]:
    """8-digit keys shaped like the reference CSV's (``22xxxxxx``)."""
    return [f"{rng.randint(22000000, 22999999):08d}" for _ in range(n)]


def gen_reference_orders(seed: int = 42, n_extra: int = 300) -> pd.DataFrame:
    """The semi-join build side: ~70% of fixture work orders + extra keys,
    single string column ``Order`` (FIXTURES.md §3)."""
    rng = random.Random(seed)
    pool = make_work_order_pool(rng)
    members = [w for w in pool if rng.random() < 0.7]
    extras = [f"{rng.randint(23000000, 23999999):08d}" for _ in range(n_extra)]
    orders = sorted(set(members + extras))
    return pd.DataFrame({"Order": pd.array(orders, dtype="string")})


def _conv_lengths(rng: random.Random, n_convs: int, whales: list[tuple[int, int]]) -> list[int]:
    lengths = [rng.randint(2, 20) for _ in range(n_convs)]
    for n_whales, whale_len in whales:
        for i in range(min(n_whales, n_convs)):
            lengths[i] = whale_len + rng.randint(0, whale_len // 10)
    return lengths


def gen_transcripts(scale: str = "tiny", seed: int = 42) -> pd.DataFrame:
    """The primary input table, exactly the mandated shape (FIXTURES.md §1).

    Payload mix per turn: ~30% PDF (10% multi-page, 5% malformed, half
    Flate-compressed), ~25% HTML, rest plain. Rows returned in a seeded
    SHUFFLED order.
    """
    n_convs, whales = SCALES[scale]
    rng = random.Random(seed)
    wo_pool = make_work_order_pool(rng)
    lengths = _conv_lengths(rng, n_convs, whales)
    roles = ("user", "assistant", "tool")

    rows: list[tuple] = []
    for ci, length in enumerate(lengths):
        conv_id = f"conv-{ci:06d}"
        for ti in range(length):
            role = roles[ti % 3]
            r = rng.random()
            wo = rng.choice(wo_pool)
            equip = f"EQ-{rng.randint(1000, 9999)}" if rng.random() > 0.2 else None
            customer = rng.choice(_CUSTOMERS)
            date = (EPOCH + _dt.timedelta(days=rng.randint(0, 364))).date().isoformat()
            if r < 0.30:
                malformed = None
                mr = rng.random()
                if mr < 0.05:
                    malformed = "truncate" if rng.random() < 0.5 else "header"
                text = build_pdf_payload(
                    rng, wo, equip, customer, date,
                    n_items=rng.randint(0, 5),
                    multi_page=rng.random() < 0.10,
                    malformed=malformed,
                    compress=rng.random() < 0.5,
                )
                tool = "pdf_reader"
            elif r < 0.55:
                fields_line = (
                    f"Work Order No. : {wo} Customer: {customer}"
                    if rng.random() < 0.4
                    else None
                )
                text = build_html_payload(rng, fields_line)
                tool = "browser"
            else:
                text = build_plain_payload(rng, wo if rng.random() < 0.6 else None, equip)
                tool = ""
            ts = EPOCH + _dt.timedelta(seconds=7 * ti)
            rows.append((conv_id, ti, role, text, tool, ts))

    rng.shuffle(rows)
    df = pd.DataFrame(rows, columns=REQUIRED_COLUMNS)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # microsecond precision: Spark cannot read parquet TIMESTAMP(NANOS)
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    return df


def write_fixture_parquet(
    out_dir: str, scale: str = "tiny", seed: int = 42, n_files: int = 32
) -> dict[str, str]:
    """Materialize transcripts + reference_orders parquet for Spark reads.

    The transcripts table is written as ``n_files`` parquet files (a
    directory) so Spark's scan parallelism matches the core count without a
    payload shuffle — at real scale the table would arrive as thousands of
    Iceberg data files, so multi-file is the faithful layout.
    Returns {table: path}. Idempotent for a given (out_dir, scale, seed).
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "transcripts": os.path.join(out_dir, f"transcripts_{scale}.parquet"),
        "reference_orders": os.path.join(out_dir, "reference_orders.parquet"),
    }
    tdir = paths["transcripts"]
    if not os.path.exists(tdir):
        df = gen_transcripts(scale, seed)
        tmp = tdir + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        step = -(-len(df) // n_files)
        for i in range(n_files):
            chunk = df.iloc[i * step : (i + 1) * step]
            if len(chunk):
                chunk.to_parquet(
                    os.path.join(tmp, f"part-{i:05d}.parquet"),
                    index=False,
                    row_group_size=2048,
                )
        os.replace(tmp, tdir)
    if not os.path.exists(paths["reference_orders"]):
        gen_reference_orders(seed).to_parquet(paths["reference_orders"], index=False)
    return paths
