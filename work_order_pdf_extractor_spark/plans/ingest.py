"""Incremental corpus ingest — the composed nightly job a 100-TB corpus
operator actually runs: new batch → Bloom prefilter → exact verify for
the maybes only → near-dup check against the corpus → disposition.

This is the scale-grade twin of the reference's destructive-rename
idempotence (``work_order_extractor.py:1769-1797``): there, a processed
file is renamed away so a rerun skips it; here, a batch document's fate
is decided against the standing corpus with no full-corpus join in the
common path.

Every stage is a shared operator: the Bloom bitmap and probe
(``membership.bloom_build`` / ``bloom_probe``) over the canonical
content (``common.canon_text``), and the near-dup stage
``dedup._lsh_verified_pairs`` with the batch survivors as the left side
and the corpus as the right — the same shingle → band-bucket candidate
join → overlap-verify kernels the in-corpus near-dup queries run. The
only plan decision made here is that the exact verify joins ONLY the
``bloom_maybe`` minority against the corpus canon (no false negatives ⇒
skipping definite-news is exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup
from ..operators.common import canon_text
from ..operators.membership import bloom_build, bloom_probe


def incremental_ingest(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Disposition of every batch document against the corpus:
    ``(id, bloom_maybe, disposition)`` with disposition in
    ``exact_dup`` (canonicalized content already present), ``near_dup``
    (3-gram Jaccard ≥ 0.6 vs some corpus doc via LSH candidates), or
    ``new``. Fully deterministic — the DuckDB oracle replays every stage
    including the Bloom false positives.

    The near-dup stage persists its two shingle tables for the life of
    the session; each registry query calls this once per run."""
    corp_canon = corpus.select(canon_text(text_col).alias("canon"))
    bat = batch.select(id_col, text_col, canon_text(text_col).alias("canon"))

    bloom = bloom_build(corp_canon, "canon")
    probed = bloom_probe(bat, bloom, "canon", id_col)

    # exact verify ONLY for the bloom maybes: no false negatives means
    # a definite-new never needed the join; the oracle mirrors this as a
    # plain membership test (equivalent by that property)
    maybes = bat.join(
        probed.filter(F.col("bloom_maybe")).select(id_col), id_col, "left_semi"
    )
    exact = (
        maybes.join(corp_canon.distinct(), "canon", "left_semi")
        .select(id_col)
        .withColumn("exact_dup", F.lit(True))
    )
    flagged = probed.join(exact, id_col, "left").withColumn(
        "exact_dup", F.coalesce("exact_dup", F.lit(False))
    )

    # near-dup check for the non-exact survivors, batch-vs-corpus
    survivors = bat.join(
        flagged.filter(~F.col("exact_dup")).select(id_col), id_col, "left_semi"
    ).select(id_col, text_col)
    near_ids = (
        dedup._lsh_verified_pairs(survivors, corpus, text_col=text_col, id_col=id_col)
        .select(F.col("doc1").alias(id_col))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )

    return flagged.join(near_ids, id_col, "left").select(
        id_col,
        "bloom_maybe",
        F.when(F.col("exact_dup"), F.lit("exact_dup"))
        .when(F.coalesce(F.col("near_dup"), F.lit(False)), F.lit("near_dup"))
        .otherwise(F.lit("new"))
        .alias("disposition"),
    )
