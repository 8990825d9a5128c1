"""Product quantization: training determinism, encode completeness,
codes-only search (the storage-win path) against the registry's DuckDB
ADC oracle, and ADC neighbor quality on a clustered synthetic dataset."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from work_order_pdf_extractor_spark import queries as Q
from work_order_pdf_extractor_spark.operators import pq

from .duck_compare import compare


@pytest.fixture(scope="module")
def vector_rows():
    """8 tight clusters of 64-dim vectors: cluster c centered at
    one-hot-ish pattern c, members jittered deterministically. Values are
    float32-exact so Spark's ``array<float>`` and DuckDB see the same
    numbers."""
    rows = []
    for vid in range(80):
        c = vid % 8
        vec = [
            float(np.float32(
                float(10.0 if d // 8 == c else 0.0) + ((vid * 7 + d) % 5) * 0.1
            ))
            for d in range(64)
        ]
        rows.append((vid, vec))
    return rows


@pytest.fixture(scope="module")
def vectors(spark, vector_rows):
    return spark.createDataFrame(
        vector_rows, "vec_id long, embedding array<float>"
    )


def test_codebooks_deterministic(vectors):
    a = sorted(map(str, pq.pq_codebooks(vectors).collect()))
    b = sorted(map(str, pq.pq_codebooks(vectors).collect()))
    assert a == b
    got = pq.pq_codebooks(vectors).collect()
    assert all(len(r["cv"]) == 8 for r in got)
    assert all(0 <= r["code_id"] < pq.PQ_KSUB for r in got)


def test_encode_every_vector_all_subspaces(vectors):
    cbs = pq.pq_codebooks(vectors)
    out = pq.pq_encode(vectors, cbs).collect()
    assert len(out) == 80
    assert all(len(r["code_str"].split("-")) == pq.PQ_M for r in out)


def test_adc_prefers_same_cluster(vectors):
    """With well-separated clusters, every ADC neighbor of a query must
    come from the query's own cluster — the PQ recall sanity check."""
    cbs = pq.pq_codebooks(vectors)
    queries = vectors.filter(F.col("vec_id") < 8)  # one per cluster
    codes = pq.pq_codes(vectors, cbs)
    res = pq.pq_topk_fast(cbs, queries, k=3, codes=codes).collect()
    assert len(res) == 8 * 3
    for r in res:
        assert r["nid"] % 8 == r["qid"] % 8, f"cross-cluster neighbor: {r}"


def test_codes_only_search_matches_inline_encode(vectors, vector_rows):
    """Searching precomputed codes must equal the inline-encode ADC
    reference: the registry's DuckDB oracle, which trains the codebooks,
    encodes the corpus from the embeddings and sums the LUT terms as
    DECIMAL(18,4) — proof the corpus embeddings are not needed at search
    time."""
    cbs = pq.pq_codebooks(vectors)
    queries = vectors.filter(F.col("vec_id") < 4)
    got = pq.pq_topk_fast(
        cbs, queries, k=3, codes=pq.pq_codes(vectors, cbs)
    ).toPandas()
    sql = Q.SQL_PQ_TOPK.replace("WHERE sid % 100 = 0", "WHERE sid < 4")
    assert sql != Q.SQL_PQ_TOPK
    con = duckdb.connect()
    try:
        con.register(
            "embeddings",
            pd.DataFrame(vector_rows, columns=["vec_id", "embedding"]),
        )
        want = con.execute(sql).fetchdf()
    finally:
        con.close()
    assert len(got) == 4 * 3
    ok, msg = compare(got, want)
    assert ok, msg


def test_codes_only_search_never_scans_corpus_vectors(spark):
    """With materialized codes, the search plan reads no embeddings
    parquet at all: the query vectors are consumed while the LUT is built
    and collected, and the corpus is represented only by its codes — the
    PQ storage win, visible in the physical plan's file scans."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cbs = spark.createDataFrame(
        pq.pq_codebooks(emb).collect(), "j int, code_id int, cv array<double>"
    )
    codes = spark.createDataFrame(
        pq.pq_codes(emb, cbs).collect(), "sid long, j int, code long"
    )
    queries = emb.filter(F.col("vec_id") < 3)
    plan = (
        pq.pq_topk_fast(cbs, queries, k=2, codes=codes)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "embeddings.parquet" not in plan, plan[:2000]
    assert plan.count("FileScan") == 0, plan[:2000]


def test_compression_ratio_docstringed():
    """The claimed storage win: 64 float32 = 256 bytes vs 8 small codes."""
    assert 256 / pq.PQ_M >= 30
