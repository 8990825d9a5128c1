"""Structural/quality checks for the ANN operators: the approximate paths
must agree with brute force wherever they return a pair, and achieve
non-trivial recall within their candidate sets."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from work_order_pdf_extractor_spark.operators import annfast as A
from work_order_pdf_extractor_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def cents(spark, emb):
    trained = S.ivf_centroids(emb, 8)
    return spark.createDataFrame(trained.collect(), trained.schema)


@pytest.fixture(scope="module")
def full_pairs(spark, emb):
    """ALL exact pairwise sims, computed once per module — every other
    check (top-3 brute force, approx-agreement) derives from it."""
    df = A.cosine_topk_fast2(emb, query_df=emb, k=10**6).toPandas()
    return {(r.qid, r.nid): r.sim for r in df.itertuples()}


@pytest.fixture(scope="module")
def brute(full_pairs):
    top = {}
    for (q, n), sim in full_pairs.items():
        top.setdefault(q, []).append((-sim, n))
    return {
        (q, n): -negsim
        for q, lst in top.items()
        for negsim, n in sorted(lst)[:3]
    }


def _sims_agree(approx_df, full_pairs):
    """Every (q, n, sim) an approximate method reports must equal the
    exact cosine for that pair."""
    for r in approx_df.itertuples():
        assert full_pairs[(r.qid, r.nid)] == pytest.approx(r.sim, abs=1e-4)


def test_ivf_sims_match_exact(spark, emb, full_pairs):
    approx = A.ivf_topk_fast(emb, k=3, n_centroids=8).toPandas()
    assert len(approx) > 0
    _sims_agree(approx, full_pairs)


def test_lsh_pairs_share_bucket(spark, emb):
    buckets = {
        r.vec_id: r.bucket
        for r in A.hyperplane_buckets_fast_exact(emb).toPandas().itertuples()
    }
    approx = A.lsh_topk_fast(emb, k=3).toPandas()
    assert len(approx) > 0
    for r in approx.itertuples():
        assert buckets[r.qid] == buckets[r.nid]


def test_ivf_cells_trained_and_balanced(spark, emb, cents):
    """Trained (Lloyd-iterated) centroids must produce defensible cell
    balance — every cell populated and no cell a skew whale. Round 1's
    first-8-by-id centroids made cell sizes insertion-order-dependent."""
    a = A.ivf_assign_fast(emb, cents).toPandas()
    counts = a.centroid_id.value_counts()
    assert len(counts) == 8, f"empty cells: {counts.to_dict()}"
    assert counts.max() <= 0.5 * len(a), f"whale cell: {counts.to_dict()}"


def test_ivf_centroids_deterministic_across_partitionings(spark, emb):
    c1 = S.ivf_centroids(emb, 8).toPandas()
    c2 = S.ivf_centroids(emb.repartition(13), 8).toPandas()
    m1 = {r.centroid_id: list(r.cv) for r in c1.itertuples()}
    m2 = {r.centroid_id: list(r.cv) for r in c2.itertuples()}
    assert m1 == m2  # bit-identical: decimal sums are order-independent


def test_fast_lsh_buckets_match_exact(spark, emb):
    """The float64 (numpy-matmul) bucket pass must agree with the
    decimal-exact oracled variant on every vector of the fixture."""
    a = A.hyperplane_buckets_fast_exact(emb).toPandas().set_index("vec_id").bucket
    b = (
        S.hyperplane_lsh_buckets_fast(emb)
        .toPandas()
        .set_index("vec_id")
        .bucket
    )
    assert (a.sort_index() == b.sort_index()).all()


def test_banded_buckets_smaller_than_single_table(spark, emb):
    """The OR-construction's point: per-(band, bucket) populations stay
    2^r-bounded and strictly smaller than the corpus, while the UNION of
    bands recovers at least the single wide table's candidate recall
    against brute-force top-1."""
    bb = A.banded_buckets_fast(emb, bands=4, planes_per_band=4).toPandas()
    n_vecs = bb.vec_id.nunique()
    worst_band_bucket = bb.groupby(["band", "bucket"]).size().max()
    assert worst_band_bucket < 0.6 * n_vecs, worst_band_bucket
    # every vector appears exactly once per band
    assert (bb.groupby("vec_id").size() == 4).all()


def test_banded_topk_sims_exact_and_recall(spark, emb, full_pairs, brute):
    """Banded top-k must (a) report exact cosines for every returned pair,
    (b) recall at least as many true top-3 neighbors as the single-table
    lsh_topk — more bands = more chances to collide."""
    banded = A.lsh_topk_banded_fast(emb, k=3, bands=4, planes_per_band=4).toPandas()
    assert len(banded) > 0
    _sims_agree(banded, full_pairs)
    single = A.lsh_topk_fast(emb, k=3).toPandas()
    truth = set(brute)
    got_banded = {(r.qid, r.nid) for r in banded.itertuples()} & truth
    got_single = {(r.qid, r.nid) for r in single.itertuples()} & truth
    assert len(got_banded) >= len(got_single), (
        len(got_banded), len(got_single)
    )


def test_cosine_topk_fast_matches_exact(spark, emb):
    """The per-batch local top-k must return EXACTLY a numpy brute force
    under the same (round(sim,4) DESC, nid ASC) order — same pairs, same
    rounded sims, same ranks — across partitionings."""
    import numpy as np

    rows = emb.toPandas()
    ids = rows.vec_id.to_numpy()
    mat = np.array(list(rows.embedding), dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    want = {}
    for qi in np.nonzero(ids < 7)[0]:
        sims = np.round((mat @ mat[qi]) / (norms * norms[qi]), 4)
        top = sorted(
            (-float(sims[i]), int(ids[i]))
            for i in range(len(ids)) if ids[i] != ids[qi]
        )[:4]
        for rank, (negsim, n) in enumerate(top, 1):
            want[(int(ids[qi]), rank)] = (n, -negsim)
    q = emb.filter(F.col("vec_id") < 7)
    for parts in (1, 5):
        fast = A.cosine_topk_fast2(emb.repartition(parts), q, k=4).toPandas()
        got = {(r.qid, r.rank): (r.nid, r.sim) for r in fast.itertuples()}
        assert got == want, parts


def test_ivf_recall_within_cells(spark, emb, cents, brute):
    """For queries whose true top-1 neighbor landed in the same IVF cell,
    IVF must return it as rank 1 (the approximation loses only cross-cell
    neighbors, never intra-cell ranking)."""
    assign = {
        r.vec_id: r.centroid_id
        for r in A.ivf_assign_fast(emb, cents).toPandas().itertuples()
    }
    ivf = A.ivf_topk_fast(emb, k=1, centroids=cents).toPandas()
    ivf_top1 = {r.qid: r.nid for r in ivf.itertuples()}
    true_top1 = {}
    for (q, n), sim in brute.items():
        if q not in true_top1:
            true_top1[q] = (n, sim)
        elif sim > true_top1[q][1] or (sim == true_top1[q][1] and n < true_top1[q][0]):
            true_top1[q] = (n, sim)
    checked = 0
    for q, (n, _sim) in true_top1.items():
        if assign.get(q) == assign.get(n):
            assert ivf_top1.get(q) == n, (q, n, ivf_top1.get(q))
            checked += 1
    assert checked > 10, "fixture degenerated: no intra-cell true neighbors"


def test_l2_topk_matches_brute_force(spark, emb):
    """l2_topk_fast's top-3 by rounded squared distance must equal a numpy
    brute force under the same (round(d2,4) ASC, nid ASC) total order."""
    import numpy as np

    rows = emb.toPandas()
    ids = rows.vec_id.to_numpy()
    mat = np.array(list(rows.embedding), dtype=np.float64)
    qmask = ids % 7 == 0
    out = A.l2_topk_fast(
        emb, query_df=emb.filter("vec_id % 7 = 0"), k=3
    ).toPandas()
    got = {
        q: list(g.sort_values("rank").nid)
        for q, g in out.groupby("qid")
    }
    for qi in np.nonzero(qmask)[0]:
        q = ids[qi]
        qq = float(mat[qi] @ mat[qi])
        d2 = np.round(
            qq - 2.0 * (mat @ mat[qi]) + (mat * mat).sum(axis=1), 4
        )
        order = sorted(
            (float(d2[i]), int(ids[i])) for i in range(len(ids)) if ids[i] != q
        )[:3]
        assert got[q] == [n for _d, n in order], q


def test_l2_topk_full_scan_guard(spark, emb):
    """Exact L2 search has no full-corpus default: the query set is a
    required argument and must be non-empty."""
    with pytest.raises(TypeError):
        A.l2_topk_fast(emb)
    with pytest.raises(ValueError):
        A.l2_topk_fast(emb, query_df=emb.limit(0))
