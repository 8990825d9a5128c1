"""Arrow-batched extraction UDFs — the engine's only Python hot path.

The reference fuses rasterize→crop→GPT per record across a 5-thread pool
(``work_order_extractor.py:1690-1802, 1861-1868``); here the whole fused
stage is ONE vectorized ``mapInPandas`` pass: Arrow record batches stream
into Python once, ``core.extractor.extract_turn`` (pure, deterministic)
runs per row inside the batch, and results stream back as Arrow — no
per-row Python UDF, no serialization per field. Only page 1 is tokenized,
and the crop predicate keeps page 1's tokens inside the box before line
assembly, in the same Python pass (projection pushdown into the UDF,
SURVEY §4 O1).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.extractor import extract_turn, parse_pdf_payload
from ..core.pdfparse import DEFAULT_CROP
from ..sources.transcripts import REQUIRED_COLUMNS, TRANSCRIPT_SCHEMA

SPAN_TYPE = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
    ]
)

EXTRACT_FIELDS = [
    T.StructField("extracted_text", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN_TYPE)),
    T.StructField("work_order_number", T.StringType()),
    T.StructField("equipment_number", T.StringType()),
    T.StructField("customer", T.StringType()),
    T.StructField("order_date", T.DateType()),
    T.StructField("status", T.StringType()),
]

# the transcript columns an extracted row carries through: all but the payload
TRANSCRIPT_FIELDS = [f for f in TRANSCRIPT_SCHEMA.fields if f.name != "text"]

EXTRACTED_SCHEMA = T.StructType(TRANSCRIPT_FIELDS + EXTRACT_FIELDS)


def _extract_batch(pdf: pd.DataFrame, crop: tuple) -> pd.DataFrame:
    res = [extract_turn(t, tl, crop) for t, tl in zip(pdf["text"], pdf["tool"])]
    out = pd.DataFrame(
        {
            **{f.name: pdf[f.name].values for f in TRANSCRIPT_FIELDS},
            "extracted_text": [r["extracted_text"] for r in res],
            "spans": [
                [
                    (
                        s["field"], s["start"], s["end"],
                        s["x0"], s["y0"], s["x1"], s["y1"],
                    )
                    for s in r["spans"]
                ]
                for r in res
            ],
            "work_order_number": [r["work_order_number"] for r in res],
            "equipment_number": [r["equipment_number"] for r in res],
            "customer": [r["customer"] for r in res],
            "order_date": [r["order_date"] for r in res],
            "status": [r["status"] for r in res],
        }
    )
    return out


def extract_turns(df: DataFrame, crop: tuple = DEFAULT_CROP) -> DataFrame:
    """transcripts → extracted turns (one row in, one row out).

    ``mapInPandas`` (not a scalar pandas UDF) so the wide ``text`` column is
    consumed and DROPPED inside the same Python pass — the shuffled/returned
    rows never carry the payload bytes again (column pruning by
    construction; at 100 TB the payload column dominates, so this is the
    single most important data-volume decision in the plan).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _extract_batch(pdf, crop)

    return df.select(*REQUIRED_COLUMNS).mapInPandas(fn, schema=EXTRACTED_SCHEMA)


PAGES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField(
            "pages",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("page_no", T.IntegerType()),
                        T.StructField("width", T.DoubleType()),
                        T.StructField("height", T.DoubleType()),
                        T.StructField("n_tokens", T.IntegerType()),
                        T.StructField("page_text", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def split_pdf_pages(df: DataFrame) -> DataFrame:
    """1→N page explode, the reference's ``split_pdf_pages``
    (``work_order_extractor.py:1390-1445``) as array+``posexplode``:
    a pandas UDF returns the per-page array, then the built-in explode does
    the fan-out JVM-side (UDTF-shaped per SURVEY §2.9)."""
    from ..core import textnorm

    def page_text(tokens: list[tuple]) -> str:
        # a token at an infinite or NaN coordinate has no line to sit on
        # (and makes assemble_lines raise); extract_turn's crop drops it too
        finite = [t for t in tokens if all(map(math.isfinite, t[1:]))]
        return textnorm.join_lines(textnorm.assemble_lines(finite))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pages_col = []
            for text, tool in zip(pdf["text"], pdf["tool"]):
                pages = parse_pdf_payload(text) if tool == "pdf_reader" else None
                pages_col.append(
                    [
                        (i + 1, p["width"], p["height"], len(p["tokens"]), page_text(p["tokens"]))
                        for i, p in enumerate(pages or ())
                    ]
                )
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].values,
                    "turn_idx": pdf["turn_idx"].values,
                    "pages": pages_col,
                }
            )

    arr = df.select("conv_id", "turn_idx", "text", "tool").mapInPandas(
        fn, schema=PAGES_SCHEMA
    )
    # JVM-side fan-out; page naming mirrors the reference's `_page_%03d`
    # suffix (work_order_extractor.py:1421) as a derived column.
    ex = arr.select(
        "conv_id", "turn_idx", F.posexplode("pages").alias("pos", "page")
    )
    return ex.select(
        "conv_id",
        "turn_idx",
        F.col("page.page_no").alias("page_no"),
        F.format_string("%s_%d_page_%03d.pdf", "conv_id", "turn_idx", "page.page_no").alias("page_name"),
        F.col("page.width").alias("width"),
        F.col("page.height").alias("height"),
        F.col("page.n_tokens").alias("n_tokens"),
        F.col("page.page_text").alias("page_text"),
    )
