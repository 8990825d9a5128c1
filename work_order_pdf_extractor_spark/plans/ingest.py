"""Incremental corpus ingest — the composed nightly job a 100-TB corpus
operator actually runs: new batch → Bloom prefilter → exact verify for
the maybes only → near-dup check against the corpus → disposition, plus
a bucket-committed, crash-resumable variant reusing the lineage layout.

This is the scale-grade twin of the reference's destructive-rename
idempotence (``work_order_extractor.py:1769-1797``): there, a processed
file is renamed away so a rerun skips it; here, a batch document's fate
is decided against the standing corpus with no full-corpus join in the
common path and committed per bucket so any crash resumes without
reprocessing.

Plan shape at scale:

- the Bloom bitmap is ONE tiny aggregate over the corpus (``m/63``
  bigint words, map-side combinable) broadcast to the batch — the only
  full-corpus read, and it moves hashes, never text;
- the exact verify joins ONLY the ``bloom_maybe`` minority against the
  corpus canon (no false negatives ⇒ skipping definite-news is exact);
- the near-dup stage is batch-vs-corpus banded MinHash-LSH: both sides
  shuffle constant-size band hashes, candidates are verified by Jaccard
  on candidate pairs only — never an all-pairs product, and the batch
  (small) side drives the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from ..operators.membership import K_DEFAULT, M_BITS_DEFAULT, bloom_build, bloom_probe
from .lineage import run_bucketed


def incremental_ingest(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    n_hashes: int = dedup.N_MINHASH,
    bands: int = dedup.LSH_BANDS,
    m_bits: int = M_BITS_DEFAULT,
    k: int = K_DEFAULT,
    persisted_out: list | None = None,
) -> DataFrame:
    """Disposition of every batch document against the corpus:
    ``(id, bloom_maybe, disposition)`` with disposition in
    ``exact_dup`` (canonicalized content already present), ``near_dup``
    (Jaccard ≥ threshold vs some corpus doc via LSH candidates), or
    ``new``. Fully deterministic — the DuckDB oracle replays every stage
    including the Bloom false positives.

    The plan persists its two shingle tables (each feeds both a signature
    aggregate and the Jaccard-verify join). Callers that run this
    repeatedly — the streaming foreachBatch twin above all — must pass
    ``persisted_out`` (a list the persisted DataFrames are appended to)
    and unpersist them once the returned plan has been consumed;
    otherwise each invocation leaves cached shingle blocks behind for the
    life of the session (LRU eviction masks the leak, but it is one)."""
    canon = F.lower(F.trim(F.col(text_col)))
    corp_canon = corpus.select(canon.alias("canon"))
    bat = batch.select(id_col, text_col, canon.alias("canon"))

    bloom = bloom_build(corp_canon, "canon", m_bits, k)
    probed = bloom_probe(bat, bloom, "canon", id_col, m_bits, k)

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
    # each shingle table feeds BOTH its signature aggregate and the
    # Jaccard-verify join — persist so the explode runs once per side
    # (same shared-shingles shape dedup_near_materialize plan-tests)
    sh_b = dedup.word_shingles(survivors, n, text_col, id_col).persist()
    sh_c = dedup.word_shingles(corpus, n, text_col, id_col).persist()
    if persisted_out is not None:
        persisted_out.extend([sh_b, sh_c])
    sig_b = dedup.minhash_signatures(
        survivors, n_hashes, n, text_col, id_col, shingles=sh_b
    )
    sig_c = dedup.minhash_signatures(
        corpus, n_hashes, n, text_col, id_col, shingles=sh_c
    )
    bb = dedup.band_buckets(sig_b, n_hashes, bands, id_col).withColumnRenamed(
        id_col, "bid"
    )
    bc = dedup.band_buckets(sig_c, n_hashes, bands, id_col).withColumnRenamed(
        id_col, "cid"
    )
    zb = (
        sh_b.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n1"))
        .withColumnRenamed(id_col, "bid")
    )
    zc = sh_c.groupBy(id_col).agg(F.count(F.lit(1)).alias("n2")).withColumnRenamed(
        id_col, "cid"
    )
    # r7 length-ratio prefilter (same as ngram_jaccard_pairs): J ≥ t
    # needs min(n1,n2) ≥ t·max(n1,n2); a candidate failing that can
    # never verify, so it is dropped BEFORE the candidate × shingle
    # expansion join (1e-9 slack = over-keep on float rounding only;
    # the closing jaccard filter is unchanged → identical output).
    cand = (
        bb.join(bc, ["band", "bucket"]).select("bid", "cid").distinct()
        .join(zb, "bid")
        .join(zc, "cid")
        .filter(
            F.least("n1", "n2")
            >= (F.lit(threshold) - F.lit(1e-9)) * F.greatest("n1", "n2")
        )
    )
    s1 = sh_b.select(F.col(id_col).alias("bid"), "shingle")
    s2 = sh_c.select(F.col(id_col).alias("cid"), "shingle")
    # n1/n2 ride the aggregation keys (functionally determined by the
    # pair), so the verify tail needs no size re-joins
    common = (
        cand.join(s1, "bid")
        .join(s2, ["cid", "shingle"])
        .groupBy("bid", "cid", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    near_ids = (
        common.filter(
            F.round(
                F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")),
                6,
            )
            >= threshold
        )
        .select(F.col("bid").alias(id_col))
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


def ingest_with_checkpoint(
    spark: SparkSession,
    corpus: DataFrame,
    batch: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    run_id: str | None = None,
    **ingest_kwargs,
) -> dict:
    """Crash-resumable ingest commit through the bucket-commit protocol of
    ``plans.lineage`` (:func:`~.lineage.run_bucketed`): batch docs hash into
    ``n_buckets`` stable buckets; one job dispositions every
    not-yet-committed bucket; each bucket directory is atomically renamed
    into the final layout, then its lineage row is appended. A fully
    committed output makes rerun a no-op — the batch is never
    re-dispositioned (the scale-grade version of the reference's
    destructive-rename skip)."""
    persisted: list = []
    try:
        return run_bucketed(
            spark,
            batch,
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets)).cast("int"),
            out_dir,
            n_buckets,
            run_id,
            lambda todo: incremental_ingest(
                corpus, todo, id_col=id_col, persisted_out=persisted, **ingest_kwargs
            ),
            # one disposition row per batch document, so the output count is
            # the true input count. Duplicates are a disposition, not a
            # failure: they get their own field, and n_failed stays an honest 0.
            {"n_dups": F.sum(F.when(F.col("disposition") == "new", 0).otherwise(1))},
        )
    finally:
        for df in persisted:
            df.unpersist()
