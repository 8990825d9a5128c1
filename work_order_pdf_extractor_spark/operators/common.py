"""Shared leaf helpers for the operator families.

Deliberately a LEAF module (imports nothing package-internal): half the
operator modules need the fan-out gate, the cross-engine-stable hash, or
word shingling, and keeping them here means none of those modules has to
import the whole dedup family to get them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

FANOUT_CONF = "spark.workorder.dedup.fanout.enabled"


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Fan a narrow input out to cluster parallelism before explode-heavy
    work. A single small parquet file scans as 1 task, and everything
    downstream of an explode inherits that parallelism until the first
    shuffle. Gated by the session conf ``spark.workorder.dedup.fanout.
    enabled`` (default true) — a per-session, runtime-settable switch
    rather than a mutable module global (ADVICE r2): at real scale, where
    the scan is already wider than the cluster, ``spark.conf.set(...,
    'false')`` removes the round-robin shuffle from every dedup/text
    operator at once and they run shuffle-free up to their aggregation.
    The gate avoids probing ``df.rdd.getNumPartitions()``, which forces a
    driver-side conversion of the analyzed plan on every call; what it
    shuffles when on is the pre-explode rows (id + text), one pass."""
    spark = df.sparkSession
    if spark.conf.get(FANOUT_CONF, "true").lower() != "true":
        return df
    target = min_parts or spark.sparkContext.defaultParallelism
    return df.repartition(target)


def stable_hash64(col: F.Column, seed: int | None = None) -> F.Column:
    """First 8 md5 hex chars → bigint; identical in Spark and DuckDB."""
    src = F.concat(F.lit(f"{seed}#"), col) if seed is not None else col
    return F.conv(F.substring(F.md5(src), 1, 8), 16, 10).cast("long")


def word_grams(text: str | None, n: int) -> list[str]:
    """Every n-word window of ``text.split(' ')``, space-joined, in order —
    Spark's ``concat_ws(' ', split(text, ' ')[i:i+n])``. Consecutive
    spaces yield empty tokens; NULL text or fewer than ``n`` tokens
    yields nothing."""
    if text is None:
        return []
    words = text.split(" ")
    return list(map(" ".join, zip(*(words[k:] for k in range(n)))))


def word_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct n-word shingles per document (the unit of near-dup
    comparison). Output: ``(id_col, shingle)``.

    One Arrow pass emits each document's :func:`word_grams` as a SET:
    per-document distinctness needs no shuffle, because shingles of
    different documents are distinct rows by definition."""
    import pandas as _pd
    from collections.abc import Iterator as _It

    def fn(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for b in batches:
            out_ids: list = []
            out_sh: list = []
            for i, t in zip(b[id_col].values, b[text_col]):
                sh = set(word_grams(t, n))
                out_ids.extend([i] * len(sh))
                out_sh.extend(sh)
            yield _pd.DataFrame({id_col: out_ids, "shingle": out_sh})

    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        fn, schema=f"{id_col} long, shingle string"
    )
