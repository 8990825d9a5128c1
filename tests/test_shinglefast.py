"""The Arrow-pass shingle operators (``dedup.word_shingles`` /
``dedup.positioned_shingles``) against JVM formulations kept here as
the reference: ``split`` + ``explode(sequence)`` + ``concat_ws``, the
same semantics the DuckDB oracles of the shingle queries use."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from work_order_pdf_extractor_spark.operators import dedup
from work_order_pdf_extractor_spark.operators.common import ensure_parallelism

SF = "/root/testdata/sf0.01"

EDGE_DOCS = pd.DataFrame(
    {
        "doc_id": [0, 1, 2, 3, 4, 5, 6, 7],
        "text": [
            "a b c d e",
            "a  b   c",        # consecutive spaces -> empty tokens
            "x y",             # fewer than n words
            "",                # empty
            None,              # null text
            " lead and trail ",
            "dup dup dup dup dup",  # repeated shingles collapse
            "one",             # single word: a shingle only at n=1
        ],
    }
)


def _jvm_positioned(df, n=3, text_col="text", id_col="doc_id"):
    """JVM formulation of positioned_shingles: every n-word window of
    ``split(text, ' ')`` with its start position."""
    words = ensure_parallelism(
        df.select(id_col, F.split(text_col, " ").alias("ws"))
    )
    sz = F.size("ws")
    idx = F.sequence(F.lit(0), sz - n)
    sh = words.filter(sz >= n).select(
        id_col, F.explode(idx).alias("pos"), "ws"
    )
    parts = [F.col("ws")[F.col("pos") + k] for k in range(n)]
    return sh.select(id_col, "pos", F.concat_ws(" ", *parts).alias("shingle"))


def _jvm_word_shingles(df, n=3, text_col="text", id_col="doc_id"):
    """JVM formulation of word_shingles: the distinct positioned set."""
    return _jvm_positioned(df, n, text_col, id_col).select(
        id_col, "shingle"
    ).distinct()


def test_word_shingles_fast_matches_on_documents(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    slow = sorted(tuple(r) for r in _jvm_word_shingles(docs, 3).collect())
    fast = sorted(tuple(r) for r in dedup.word_shingles(docs, 3).collect())
    assert fast == slow


def test_word_shingles_fast_matches_on_edge_docs(spark):
    docs = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    for n in (1, 2, 3, 5):
        slow = sorted(tuple(r) for r in _jvm_word_shingles(docs, n).collect())
        fast = sorted(tuple(r) for r in dedup.word_shingles(docs, n).collect())
        assert fast == slow, f"n={n}"
        assert 4 not in {doc for doc, _ in fast}, f"NULL text shingled, n={n}"


def test_positioned_shingles_fast_matches(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    slow = sorted(tuple(r) for r in _jvm_positioned(docs, 3).collect())
    fast = sorted(tuple(r) for r in dedup.positioned_shingles(docs, 3).collect())
    assert fast == slow


def test_positioned_shingles_fast_matches_edge(spark):
    docs = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    for n in (1, 2, 3):
        slow = sorted(tuple(r) for r in _jvm_positioned(docs, n).collect())
        fast = sorted(
            tuple(r) for r in dedup.positioned_shingles(docs, n).collect()
        )
        assert fast == slow, f"n={n}"
        assert 4 not in {doc for doc, _, _ in fast}, f"NULL text shingled, n={n}"
