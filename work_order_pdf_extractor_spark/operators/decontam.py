"""Span-level exact-substring benchmark decontamination (VERDICT r5
ask #5).

``textclean.decontaminate`` answers "is this document contaminated?"
with a per-doc overlap count; the published eval-hygiene recipes
(GPT-3 appendix C, FLAN, PaLM) go further — they locate the VERBATIM
benchmark n-grams inside the document so the matched span can be
excised (or the doc dropped only when the contamination is large).
This module composes :func:`operators.dedup.positioned_shingles` with
the broadcast benchmark shingle set to emit per-document MATCHED SPANS
as token offsets, with overlapping/adjacent n-gram hits merged into
maximal islands.

Reference analog: none — the reference (``work_order_extractor.py``)
has no corpus hygiene; this is the training-data surface the north
rule adds (SURVEY §2 addendum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import positioned_shingles, word_shingles


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document verbatim-match spans against a benchmark set.

    Output: ``(id_col, span_start, span_end, n_matched_shingles)`` —
    one row per maximal contaminated span; ``span_start``/``span_end``
    are 0-based inclusive TOKEN offsets, so ``span_end - span_start + 1``
    tokens need excision. Two hits merge when their ``n``-token windows
    overlap or touch (all hit intervals have the same length, so a
    ``lag(pos)`` island test is exact: interval ends are monotone in
    ``pos`` and a new island starts iff ``pos > prev_pos + n``).

    100-TB shape: the benchmark shingle set is tiny by definition →
    broadcast; corpus positions are filtered map-side, so only the HIT
    rows (rare in a clean corpus — ``(doc_id, pos)`` longs, never text)
    reach the per-doc window's Exchange. The island merge is one
    hash-partitioned window per doc plus a groupBy on the same key —
    AQE coalesces them into a single shuffle stage."""
    bench_sh = (
        word_shingles(benchmark, n, text_col, id_col)
        .select("shingle")
        .distinct()
    )
    hits = (
        positioned_shingles(corpus, n, text_col, id_col)
        .join(F.broadcast(bench_sh), "shingle")
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = hits.withColumn(
        "new_island",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + n),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy(id_col, "island_id")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + n - 1).cast("int").alias("span_end"),
            F.count(F.lit(1)).cast("int").alias("n_matched_shingles"),
        )
        .select(id_col, "span_start", "span_end", "n_matched_shingles")
    )


def excise_spans(
    corpus: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply span-level excision: drop the contaminated token ranges and
    keep the rest of the document (the FLAN-style alternative to whole-
    doc removal). Output: ``(id_col, clean_text, n_tokens_removed)``.

    The spans table is the (rare) hit set, aggregated per doc into a
    bounded array and joined back LEFT — clean documents pass through
    untouched with ``n_tokens_removed = 0``; text is re-assembled
    JVM-side (filter on token index against the span array) with no
    Python in the pass."""
    agg = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sp"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("int")
        .alias("n_tokens_removed"),
    )
    joined = corpus.select(id_col, text_col).join(agg, id_col, "left")
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.size(toks) - 1)
    kept = F.filter(
        idx,
        lambda i: ~F.exists(
            F.col("sp"),
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
        ),
    )
    clean = F.when(
        F.col("sp").isNull(), F.col(text_col)
    ).otherwise(
        F.array_join(
            F.transform(kept, lambda i: F.element_at(toks, i + 1)), " "
        )
    )
    return joined.select(
        id_col,
        clean.alias("clean_text"),
        F.coalesce("n_tokens_removed", F.lit(0)).alias("n_tokens_removed"),
    )
