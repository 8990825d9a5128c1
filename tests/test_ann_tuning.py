"""IVF multi-cell probing (``annfast.ivf_topk_nprobe_fast``).

Pins the nprobe lever's contracts: rank-1 probing reproduces
``annfast.ivf_topk_fast`` exactly; raising nprobe only ever ADDS candidate
cells (recall is monotone non-decreasing against exact cosine); and the
roles-aware cell scorer handles degenerate cells (no visiting queries /
no corpus members) without emitting garbage.
"""

import pytest
from pyspark.sql import functions as F

from work_order_pdf_extractor_spark.operators import annfast, similarity


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.fixture(scope="module")
def cents(spark, emb):
    trained = similarity.ivf_centroids(emb, 8, 2)
    return spark.createDataFrame(trained.collect(), trained.schema)


def test_nprobe1_equals_ivf_topk(emb, cents):
    base = {
        tuple(r)
        for r in annfast.ivf_topk_fast(emb, k=3, centroids=cents).collect()
    }
    one = {
        tuple(r)
        for r in annfast.ivf_topk_nprobe_fast(
            emb, k=3, nprobe=1, centroids=cents
        ).collect()
    }
    assert base and base == one


def test_recall_monotone_in_nprobe(emb, cents):
    q = emb.filter(F.col("vec_id") < 30)
    exact = annfast.cosine_topk_fast2(emb, query_df=q, k=3).select(
        "qid", "nid"
    )
    hits = []
    for nprobe in (1, 2, 4):
        ap = annfast.ivf_topk_nprobe_fast(
            emb, k=3, nprobe=nprobe, centroids=cents
        ).select("qid", "nid")
        hits.append(exact.join(ap, ["qid", "nid"], "left_semi").count())
    assert hits[0] <= hits[1] <= hits[2]
    # probing every cell = exact search restricted to qid != nid
    n_cells = cents.count()
    full = annfast.ivf_topk_nprobe_fast(
        emb, k=3, nprobe=n_cells, centroids=cents
    ).select("qid", "nid")
    assert exact.join(full, ["qid", "nid"], "left_semi").count() == exact.count()


def test_probe_cells_rank1_is_assignment(emb, cents):
    probes = annfast.ivf_probe_cells_fast(emb, cents, nprobe=1)
    assign = annfast.ivf_assign_fast(emb, cents)
    a = {(r.vec_id, r.centroid_id) for r in probes.collect()}
    b = {(r.vec_id, r.centroid_id) for r in assign.collect()}
    assert a == b


def test_no_duplicate_pairs(emb, cents):
    res = annfast.ivf_topk_nprobe_fast(emb, k=3, nprobe=3, centroids=cents)
    pairs = res.select("qid", "nid")
    assert pairs.count() == pairs.distinct().count()


def test_requires_materialized_model(emb):
    with pytest.raises(ValueError):
        annfast.ivf_topk_nprobe_fast(emb, k=3, nprobe=2, centroids=None)
