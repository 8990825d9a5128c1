"""Approximate-membership operators: a DETERMINISTIC distributed Bloom
filter, for incremental corpus building at the 100-TB shape.

The question "which of today's new documents are already in the corpus?"
must not cost a join against the full corpus. The Bloom filter answers
it with one tiny aggregate over the corpus (the bitmap: ``m/63`` bigint
words built with ``bit_or`` — map-side combinable, output size fixed at
``m/63`` rows no matter the corpus size) plus a broadcast of that bitmap
to the probe side. Definitely-new docs (any unset bit) skip the exact
check entirely; only the maybe-present minority pays a semi-join.

Unlike Spark's built-in sketches, every bit position here is defined by
:func:`~work_order_pdf_extractor_spark.operators.dedup.stable_hash64`
(an md5-prefix hash identical in Spark and DuckDB), so the whole filter
— including its false positives — is reproducible in the SQL oracle and
across engines, partitionings, and reruns. Standard Bloom analysis
applies: FP rate ≈ (1 - e^{-kn/m})^k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .common import canon_text, stable_hash64

M_BITS_DEFAULT = 1 << 17  # 131072 bits = 2048 bigint words (16 KiB)
K_DEFAULT = 4


def _positions(col: F.Column, m_bits: int, k: int) -> F.Column:
    """Array of the item's k bit positions. stable_hash64 is nonnegative
    (32-bit md5 prefix) so plain ``%`` is already a nonnegative mod in
    both engines."""
    return F.array(*[stable_hash64(col, seed=i) % m_bits for i in range(k)])


def bloom_build(
    df: DataFrame,
    col: str = "canon",
    m_bits: int = M_BITS_DEFAULT,
    k: int = K_DEFAULT,
) -> DataFrame:
    """Aggregate a Bloom bitmap over ``df[col]`` as ``(word_idx, word)``
    rows: ``word_idx = position div 63``, ``word = bit_or(1 << bit)``.
    63 bits per word — never the sign bit: DuckDB raises on
    ``1::BIGINT << 63`` while Spark wraps, so bits 0..62 is the largest
    packing with identical two-engine semantics. ``bit_or`` is map-side
    combinable, so the shuffle carries at most ``m/63`` rows per
    partition regardless of input size."""
    pos = df.select(F.explode(_positions(F.col(col), m_bits, k)).alias("p"))
    return pos.groupBy(F.expr("p DIV 63").alias("word_idx")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT)))")
        .alias("word")
    )


def bloom_probe(
    items: DataFrame,
    bloom: DataFrame,
    col: str = "canon",
    id_col: str = "doc_id",
    m_bits: int = M_BITS_DEFAULT,
    k: int = K_DEFAULT,
) -> DataFrame:
    """Probe each item against a built bitmap: ``bloom_maybe`` is true iff
    all k bits are set (no false negatives; false positives at the
    standard Bloom rate, deterministically reproducible). The bitmap is
    broadcast — the probe never shuffles item payloads, only the k
    position rows per item."""
    ppos = items.select(
        id_col, F.explode(_positions(F.col(col), m_bits, k)).alias("p")
    )
    joined = ppos.join(F.broadcast(bloom), F.expr("p DIV 63") == F.col("word_idx"), "left")
    hit = F.expr(
        "CASE WHEN word IS NOT NULL AND"
        " (shiftright(word, CAST(p % 63 AS INT)) & 1) = 1 THEN 1 ELSE 0 END"
    )
    return (
        joined.groupBy(id_col)
        .agg(F.sum(hit).alias("n_hits"))
        .select(id_col, (F.col("n_hits") == k).alias("bloom_maybe"))
    )


def bloom_dedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = M_BITS_DEFAULT,
    k: int = K_DEFAULT,
) -> DataFrame:
    """Incremental-ingest dedup: flag which ``batch`` docs already exist
    in ``corpus`` (by canonicalized content), Bloom-first.

    Per batch doc: ``bloom_maybe`` (bitmap verdict), ``exact_dup``
    (ground truth — the semi-join the filter lets 100-TB runs skip for
    every definitely-new doc), ``false_positive`` (= maybe ∧ ¬dup). The
    exact check is computed for ALL batch rows here so the oracle can
    audit the FP behavior; production composition would filter to
    ``bloom_maybe`` first."""
    corp = corpus.select(canon_text(text_col).alias("canon"))
    bat = batch.select(id_col, canon_text(text_col).alias("canon"))
    bloom = bloom_build(corp, "canon", m_bits, k)
    maybe = bloom_probe(bat, bloom, "canon", id_col, m_bits, k)
    exact = (
        bat.join(corp.distinct(), "canon", "left_semi")
        .select(id_col)
        .withColumn("exact_dup", F.lit(True))
    )
    return (
        maybe.join(exact, id_col, "left")
        .select(
            id_col,
            "bloom_maybe",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            (
                F.col("bloom_maybe")
                & ~F.coalesce("exact_dup", F.lit(False))
            ).alias("false_positive"),
        )
    )
