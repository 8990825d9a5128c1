"""Shared leaf helpers for the operator families.

Deliberately a LEAF module (imports nothing package-internal): half the
operator modules need the fan-out, the cross-engine-stable hash,
the canonical-content expression, word shingling or the sorted-id pair
expander, and keeping them here means none of those modules has to
import the whole dedup family to get them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Fan a narrow input out to cluster parallelism before explode-heavy
    work: a round-robin repartition to ``defaultParallelism``. A single
    small parquet file scans as 1 task, and everything downstream of an
    explode inherits that parallelism until the first shuffle. It never
    probes ``df.rdd.getNumPartitions()``, which forces a driver-side
    conversion of the analyzed plan on every call; what it shuffles is the
    pre-explode rows (id + text), one pass."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def stable_hash64(col: F.Column, seed: int | None = None) -> F.Column:
    """First 8 md5 hex chars → bigint; identical in Spark and DuckDB."""
    src = F.concat(F.lit(f"{seed}#"), col) if seed is not None else col
    return F.conv(F.substring(F.md5(src), 1, 8), 16, 10).cast("long")


def canon_text(text_col: str) -> F.Column:
    """Canonical content of a text column, ``lower(trim(text))`` — the
    key of exact-duplicate membership (Bloom bits, exact verify, content
    fingerprints). DuckDB's ``lower(trim(text))`` is the oracle twin."""
    return F.lower(F.trim(F.col(text_col)))


def sorted_id_pairs(lists: DataFrame, chunk: int) -> DataFrame:
    """``(doc1, doc2)`` for every pair doc1 < doc2 within each row's
    ``ids`` array (sorted ascending, distinct) — the posting-list pair
    expander of the near-dup families (shingle posting lists, image-hash
    classes). Arrays longer than ``chunk`` split into ≤``chunk``-member
    slices, and every slice pair k1 ≤ k2 is generated ROW-LOCALLY from
    the array row (kk = k1·nch + k2 index arithmetic — no self-join),
    then round-robin repartitioned, so one hot array expands across many
    tasks instead of serializing its pairs in one (guide §2.5). Sorted
    slices make cross-slice expansion ordered without a filter: every
    member of slice k1 precedes every member of slice k2."""
    par = lists.sparkSession.sparkContext.defaultParallelism
    nch = F.ceil(F.size("ids") / chunk).cast("int")
    cp = (
        lists.filter(F.size("ids") > 1)
        .select(
            "ids",
            nch.alias("nch"),
            F.explode(F.sequence(F.lit(0), nch * nch - 1)).alias("kk"),
        )
        .select(
            "ids",
            F.expr("kk div nch").cast("int").alias("k1"),
            F.pmod(F.col("kk"), F.col("nch")).cast("int").alias("k2"),
        )
        .filter(F.col("k1") <= F.col("k2"))
        .select(
            F.slice("ids", F.col("k1") * chunk + 1, chunk).alias("sub1"),
            F.slice("ids", F.col("k2") * chunk + 1, chunk).alias("sub2"),
            (F.col("k1") == F.col("k2")).alias("same"),
        )
        .repartition(par)
    )
    tri = (
        cp.filter("same")
        .select(F.posexplode("sub1").alias("i", "doc1"), "sub1")
        .select(
            "doc1",
            F.explode(
                F.slice("sub1", F.col("i") + 2, F.size("sub1"))
            ).alias("doc2"),
        )
    )
    cross = (
        cp.filter(~F.col("same"))
        .select(F.explode("sub1").alias("doc1"), "sub2")
        .select("doc1", F.explode("sub2").alias("doc2"))
    )
    return tri.unionByName(cross)


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
