"""The chunked sorted-id pair expander (``common.sorted_id_pairs``) across
a chunk boundary, through both of its callers: the shingle posting lists
of ``dedup._shingle_overlap`` (1024-member chunks) and the hash classes
of ``imagehash.ahash_near_pairs`` (512-member chunks). Each fixture
holds one list longer than its caller's chunk, so the cross-chunk
(k1 < k2) branch runs, and the result is compared against a brute-force
pure-Python pairing."""

from __future__ import annotations

import itertools
import random

import pytest

from work_order_pdf_extractor_spark.operators import dedup
from work_order_pdf_extractor_spark.operators import imagehash as IH
from work_order_pdf_extractor_spark.operators.common import word_grams


def _shingle_case(spark):
    """1,030 docs all sharing one 3-gram (a 1,030-member posting list:
    two 1024-chunks); docs with equal ``i % 7`` share three more."""
    rng = random.Random(5)
    ids = rng.sample(range(10_000), 1030)
    rows = [
        (d, f"alpha beta gamma g{d % 7} h{d % 7} k{d % 7} u{d}") for d in ids
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.word_shingles(df, 3)
    got = dedup._shingle_overlap(sh, sh, "doc_id").toPandas()
    sets = {d: set(word_grams(t, 3)) for d, t in rows}
    want = []
    for a, b in itertools.combinations(sorted(sets), 2):
        common = len(sets[a] & sets[b])
        if common:
            want.append((a, b, len(sets[a]), len(sets[b]), common))
    cols = ["doc1", "doc2", "n1", "n2", "n_common"]
    return sorted(map(tuple, got[cols].values.tolist())), sorted(want)


def _hash_case(spark):
    """605 images in five hash classes, one of 520 members (two
    512-chunks), at Hamming distances 1-4 and 16+ from each other."""
    classes = [
        ((0, 0, 0, 0), 520),
        ((1, 0, 0, 0), 40),
        ((0b111, 0, 0, 0), 30),
        ((0xF, 0, 0, 0), 10),
        ((0, 0xFFFF, 0, 0), 5),
    ]
    bands = [b for b, size in classes for _ in range(size)]
    ids = random.Random(9).sample(range(100_000), len(bands))
    rows = [(m, *b) for m, b in zip(ids, bands)]
    hashes = spark.createDataFrame(
        rows, "media_id long, b0 int, b1 int, b2 int, b3 int"
    )
    got = IH.ahash_near_pairs(hashes, max_hamming=3).toPandas()
    want = []
    for (m1, *h1), (m2, *h2) in itertools.combinations(sorted(rows), 2):
        ham = sum(bin(x ^ y).count("1") for x, y in zip(h1, h2))
        if ham <= 3:
            want.append((m1, m2, ham))
    cols = ["doc1", "doc2", "hamming"]
    return sorted(map(tuple, got[cols].values.tolist())), sorted(want)


@pytest.mark.parametrize("case", [_shingle_case, _hash_case], ids=["dedup", "imagehash"])
def test_pairs_across_chunk_boundary_match_brute_force(spark, case):
    got, want = case(spark)
    assert len(got) == len(set(got)), "a pair was expanded twice"
    assert got == want
