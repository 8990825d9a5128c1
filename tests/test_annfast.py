"""operators/annfast.py against independent references: the DuckDB oracle
SQL of the registry queries (or SQL built the same way), and
self-consistency between a full search and its query-restricted form.
Plus adversarial unit checks on the selection kernels and the decimal
projection semantics."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from work_order_pdf_extractor_spark import queries as Q
from work_order_pdf_extractor_spark.operators import annfast, similarity

from .duck_compare import compare, duck_run

SF = "/root/testdata/sf0.01"


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _matches_oracle(sdf, sql, sf=SF):
    got = sdf.toPandas()
    ok, msg = compare(got, duck_run(sql, sf))
    assert ok, msg
    assert len(got) > 0, "empty result weakens the check"


def _buckets_sql(table: str, bands: int, planes_per_band: int) -> str:
    """(vec_id, band, bucket) from per-term DECIMAL(28,9) projection sums
    — the bucket CTE of the LSH oracles, for any (bands, planes)."""
    return f"""
WITH e AS (
  SELECT vec_id, d - 1 AS d, CAST(x AS DOUBLE) AS x
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS d
        FROM {table})),
ed AS (
  SELECT vec_id, d, x, j
  FROM e, LATERAL (SELECT unnest(generate_series(0, {bands * planes_per_band - 1})) AS j)),
proj AS (
  SELECT vec_id, j,
         SUM(CAST(x * CAST({Q._plane_val_sql('j', 'd')} AS DOUBLE) AS DECIMAL(28,9))) AS proj
  FROM ed GROUP BY vec_id, j)
SELECT vec_id, CAST(j // {planes_per_band} AS INTEGER) AS band,
       CAST(SUM(CASE WHEN proj > 0 THEN (1 << (j % {planes_per_band})) ELSE 0 END) AS INTEGER) AS bucket
FROM proj GROUP BY vec_id, (j // {planes_per_band})
"""


def _exact_sql(where: str, k: int, metric: str) -> str:
    """Brute-force top-k over embeddings for the queries selected by
    ``where``: ``metric`` is 'sim' (round-4 cosine, DESC) or 'd2'
    (round-4 squared L2, ASC); ids break ties."""
    if metric == "sim":
        score = """ROUND(list_dot_product(qv::DOUBLE[], nv::DOUBLE[]) /
               (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) *
                sqrt(list_dot_product(nv::DOUBLE[], nv::DOUBLE[]))), 4)"""
        order = "sim DESC"
    else:
        score = """ROUND(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])
               - 2.0 * list_dot_product(qv::DOUBLE[], nv::DOUBLE[])
               + list_dot_product(nv::DOUBLE[], nv::DOUBLE[]), 4)"""
        order = "d2 ASC"
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE {where}),
c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
pairs AS (SELECT qid, nid, {score} AS {metric} FROM q, c WHERE qid <> nid)
SELECT qid, nid, {metric}, CAST(rank AS INTEGER) AS rank FROM (
  SELECT qid, nid, {metric},
         row_number() OVER (PARTITION BY qid ORDER BY {order}, nid) AS rank
  FROM pairs)
WHERE rank <= {k}
"""


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def cents(spark, emb):
    trained = similarity.ivf_centroids(emb, Q.IVF_K, Q.IVF_ITERS)
    return spark.createDataFrame(trained.collect(), trained.schema)


def test_select_topk_matches_lexsort_with_ties():
    rng = np.random.default_rng(7)
    ids = rng.permutation(500).astype(np.int64)
    # heavy ties: sims drawn from a tiny rounded set
    sims = np.round(rng.integers(0, 5, size=(20, 500)) / 4.0 - 0.5, 4)
    take = 7
    idx = annfast._select_topk(ids, sims, take)
    for qi in range(sims.shape[0]):
        ref = np.lexsort((ids, -sims[qi]))[:take]
        assert list(ids[idx[qi]]) == list(ids[ref])
        assert list(sims[qi][idx[qi]]) == list(sims[qi][ref])


def test_select_bottomk_matches_lexsort_with_ties():
    rng = np.random.default_rng(11)
    ids = rng.permutation(300).astype(np.int64)
    vals = np.round(rng.integers(0, 4, size=(10, 300)) / 8.0, 4)
    take = 5
    idx = annfast._select_bottomk(ids, vals, take)
    for qi in range(vals.shape[0]):
        ref = np.lexsort((ids, vals[qi]))[:take]
        assert list(ids[idx[qi]]) == list(ids[ref])


def _decimal_sums_reference(mat, planes):
    """SUM(CAST(x*plane AS DECIMAL(28,9))) * 10^9 per (row, plane), term
    by term in Python ``decimal``: the double's shortest decimal string
    rounded HALF_UP to scale 9 (Spark's double->decimal cast)."""
    from decimal import ROUND_HALF_UP, Decimal

    q9 = Decimal("1.000000000")
    return np.array(
        [
            [
                sum(
                    int(
                        Decimal(repr(float(x) * float(p))).quantize(
                            q9, rounding=ROUND_HALF_UP
                        )
                        * 10**9
                    )
                    for x, p in zip(row, plane)
                )
                for plane in planes
            ]
            for row in mat
        ],
        dtype=object,
    )


@pytest.mark.parametrize("scale", [1e1, 1e2, 1e3, 1e4, 1e5])
def test_proj_decimal_sums_exact_at_large_magnitudes(scale):
    """Past |x*plane| ~ 10^4 the float64 error of x*plane*10^9 exceeds a
    fixed 10^-3 guard band; the band must widen with the magnitude so
    every term still rounds like the engine's decimal cast."""
    rng = np.random.default_rng(int(scale))
    mat = rng.uniform(-scale, scale, (40, 16)).astype(np.float32)
    mat = mat.astype(np.float64)
    planes = similarity._planes_matrix(16, 6)
    got = annfast._proj_decimal_sums(mat, planes)
    want = _decimal_sums_reference(mat, planes)
    assert got.dtype == np.int64
    assert (got.astype(object) == want).all()


def test_proj_decimal_sums_raise_past_int64():
    mat = np.full((2, 16), 1e9, dtype=np.float64)
    planes = similarity._planes_matrix(16, 2)
    with pytest.raises(OverflowError):
        annfast._proj_decimal_sums(mat, planes)


def test_banded_buckets_fast_exact_equality(spark, emb):
    _matches_oracle(annfast.banded_buckets_fast(emb, 8, 3), _buckets_sql("embeddings", 8, 3))


def test_banded_buckets_fast_random_float32(spark):
    # adversarial: random float32 vectors incl. tiny magnitudes, where the
    # decimal-rounding boundary cases are most likely
    for seed in (42, 1, 2, 3):
        rng = np.random.default_rng(seed)
        rows = []
        for i in range(400):
            scale = 10.0 ** rng.integers(-6, 1)
            rows.append(
                (i, [float(np.float32(x)) for x in rng.normal(0, scale, 16)])
            )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        con = duckdb.connect()
        try:
            con.register("vecs", pd.DataFrame(rows, columns=["vec_id", "embedding"]))
            want = con.execute(_buckets_sql("vecs", 4, 4)).fetchdf()
        finally:
            con.close()
        got = annfast.banded_buckets_fast(df, 4, 4).toPandas()
        assert len(got) == 400 * 4
        ok, msg = compare(got, want)
        assert ok, f"seed {seed}: {msg}"


def test_hyperplane_buckets_fast_exact_equality(spark, emb):
    _matches_oracle(
        annfast.hyperplane_buckets_fast_exact(emb, Q.N_PLANES), Q.SQL_ANN_LSH
    )


def test_lsh_topk_banded_fast_equality(spark, emb):
    got = annfast.lsh_topk_banded_fast(
        emb, k=3, bands=Q.LSH_TOPK_BANDS, planes_per_band=Q.LSH_PLANES_PER_BAND
    )
    _matches_oracle(got, Q.SQL_LSH_TOPK_BANDED)


def test_lsh_topk_banded_fast_query_restricted(spark, emb):
    cols = ["qid", "nid", "sim", "rank"]
    q = emb.filter(F.col("vec_id") < 40)
    full = annfast.lsh_topk_banded_fast(emb, k=3, bands=8, planes_per_band=3)
    expected = _rows(full.filter(F.col("qid") < 40), cols)
    got = _rows(
        annfast.lsh_topk_banded_fast(
            emb, k=3, bands=8, planes_per_band=3, query_df=q
        ),
        cols,
    )
    assert got and got == expected


def test_lsh_topk_fast_equality(spark, emb):
    _matches_oracle(
        annfast.lsh_topk_fast(emb, k=3, n_planes=Q.N_PLANES), Q.SQL_LSH_TOPK
    )


def test_lsh_topk_fast_query_restricted(spark, emb):
    cols = ["qid", "nid", "sim", "rank"]
    q = emb.filter(F.col("vec_id") < 40)
    expected = _rows(
        annfast.lsh_topk_fast(emb, k=3, n_planes=8).filter(F.col("qid") < 40),
        cols,
    )
    got = _rows(annfast.lsh_topk_fast(emb, k=3, n_planes=8, query_df=q), cols)
    assert got and got == expected


def test_ivf_assign_fast_equality(spark, emb, cents):
    _matches_oracle(annfast.ivf_assign_fast(emb, cents), Q.SQL_IVF_ASSIGN)


def test_ivf_probe_cells_fast_equality(spark, emb, cents):
    sql = f"""WITH {Q._SQL_IVF_ASSIGN_CTE}
SELECT vec_id, centroid_id, CAST(probe_rank AS INTEGER) AS probe_rank FROM (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY centroid_sim DESC, centroid_id) AS probe_rank
  FROM scored)
WHERE probe_rank <= 6"""
    _matches_oracle(annfast.ivf_probe_cells_fast(emb, cents, 6), sql)


def test_ivf_assign_key_takes_any_centroid_ids(spark, emb, cents):
    """The ordering key's pad comes from the model, so centroid ids of any
    size and spread still rank by (sim DESC, id ASC): relabelled models
    give the original assignment with ids mapped. Negative ids are
    refused."""
    assign_cols = ["vec_id", "centroid_id", "centroid_sim"]
    probe_cols = ["vec_id", "centroid_id", "probe_rank"]
    base = _rows(annfast.ivf_assign_fast(emb, cents), assign_cols)
    base_probes = _rows(annfast.ivf_probe_cells_fast(emb, cents, 3), probe_cols)
    # ids above 2^16, then ids spread over more than 2^16 (same order)
    for step in (1, 10_000_000):
        def relabel(c):
            return 70000 + c * step

        model = cents.withColumn(
            "centroid_id", relabel(F.col("centroid_id")).cast("int")
        )
        got = _rows(annfast.ivf_assign_fast(emb, model), assign_cols)
        assert got == [(v, relabel(c), s) for v, c, s in base], step
        probes = _rows(annfast.ivf_probe_cells_fast(emb, model, 3), probe_cols)
        assert probes == [(v, relabel(c), r) for v, c, r in base_probes], step
    negative = cents.withColumn(
        "centroid_id", (F.col("centroid_id") - 1).cast("int")
    )
    with pytest.raises(ValueError):
        annfast.ivf_assign_fast(emb, negative)


def test_ivf_topk_fast_equality(spark, emb, cents):
    got = annfast.ivf_topk_fast(emb, k=3, n_centroids=Q.IVF_K, centroids=cents)
    _matches_oracle(got, Q.SQL_IVF_TOPK)


def test_ivf_topk_nprobe_fast_equality(spark, emb, cents):
    got = annfast.ivf_topk_nprobe_fast(
        emb, k=3, nprobe=Q.IVF_NPROBE, centroids=cents
    )
    _matches_oracle(got, Q.SQL_IVF_TOPK_NPROBE)


def test_ivf_topk_nprobe_fast_query_restricted(spark, emb, cents):
    cols = ["qid", "nid", "sim", "rank"]
    q = emb.filter(F.col("vec_id") < 40)
    expected = _rows(
        annfast.ivf_topk_nprobe_fast(emb, k=3, nprobe=6, centroids=cents).filter(
            F.col("qid") < 40
        ),
        cols,
    )
    got = _rows(
        annfast.ivf_topk_nprobe_fast(
            emb, k=3, nprobe=6, centroids=cents, query_df=q
        ),
        cols,
    )
    assert got and got == expected


def test_cosine_topk_fast2_equality(spark, emb):
    q = emb.filter(F.col("vec_id") < 40)
    _matches_oracle(
        annfast.cosine_topk_fast2(emb, query_df=q, k=3),
        _exact_sql("vec_id < 40", 3, "sim"),
    )


def test_l2_topk_fast_equality(spark, emb):
    q = emb.filter(F.col("vec_id") % 100 == 0)
    _matches_oracle(
        annfast.l2_topk_fast(emb, query_df=q, k=3),
        _exact_sql("vec_id % 100 = 0", 3, "d2"),
    )
