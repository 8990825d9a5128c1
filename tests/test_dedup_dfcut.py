"""Document-frequency shingle cut (stop-phrase MinHashLSH hygiene).

The hazard being tested is SCALE.md's top-frequency-shingle scenario: a
boilerplate phrase shared by every document dominates MinHash signatures
and funnels unrelated documents into the same LSH buckets, making the
verify stage's candidate fan-out quadratic in the corpus. The ``max_df``
knob (``operators/dedup.py:df_cut_shingles``) drops those shingles before
banding; this file pins both the hygiene effect (bounded fan-out on a
hot-bucket fixture) and no-op equivalence when the knob is off.
"""

import pytest
from pyspark.sql import functions as F

from work_order_pdf_extractor_spark.operators import dedup

N_DOCS = 40
BOILER = "please review the attached work order form and confirm receipt"


@pytest.fixture(scope="module")
def hot_corpus(spark):
    # every doc = the same 10-word boilerplate + a unique 3-word tail:
    # boilerplate shingles have df == N_DOCS, tail shingles df == 1
    rows = [
        (i, f"{BOILER} unique tail number{i} token{i} mark{i}")
        for i in range(N_DOCS)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_bucket_candidates_quadratic_without_cut(spark, hot_corpus):
    pairs = dedup.minhash_lsh_pairs(hot_corpus).count()
    # shared boilerplate dominates the signatures: nearly every pair of
    # the 40 docs becomes a candidate (the quadratic hazard, measured)
    assert pairs > N_DOCS * (N_DOCS - 1) // 4, pairs


def test_df_cut_bounds_verify_fanout(spark, hot_corpus):
    pairs_cut = dedup.minhash_lsh_pairs(hot_corpus, max_df=5).count()
    # with boilerplate shingles (df=40 > 5) cut, signatures come from the
    # unique tails only — candidate fan-out collapses from O(N^2) to O(N)
    assert pairs_cut < N_DOCS, pairs_cut


def test_df_cut_keeps_true_near_dups(spark):
    # two genuinely near-identical docs must SURVIVE the cut: their
    # shared shingles have df == 2 <= max_df, so the pair is still found
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "completely different words here nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc1, r.doc2)
        for r in dedup.minhash_lsh_pairs(df, max_df=3).collect()
    }
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_df_cut_off_is_identity(spark, hot_corpus):
    base = {
        (r.doc1, r.doc2) for r in dedup.minhash_lsh_pairs(hot_corpus).collect()
    }
    nocut = {
        (r.doc1, r.doc2)
        for r in dedup.minhash_lsh_pairs(hot_corpus, max_df=None).collect()
    }
    assert base == nocut


def test_jaccard_over_rare_shingles(spark, hot_corpus):
    # with the boilerplate cut, all-pairs Jaccard over surviving shingles
    # finds NO pair >= 0.6 (tails are disjoint); without the cut every
    # pair scores high on shared boilerplate
    hot = dedup.ngram_jaccard_pairs(hot_corpus, threshold=0.6).count()
    cut = dedup.ngram_jaccard_pairs(
        hot_corpus,
        threshold=0.6,
        shingles=dedup.df_cut_shingles(dedup.word_shingles(hot_corpus), 5),
    ).count()
    assert hot > 0
    assert cut == 0


def test_all_hot_docs_drop_out(spark):
    # documents that are PURE boilerplate lose every shingle to the cut
    # and produce no signature rows at all (no self-pairs, no crash)
    rows = [(i, BOILER) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.minhash_lsh_pairs(df, max_df=3).count() == 0
