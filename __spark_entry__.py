"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction pipeline; ``queries``/``oracle_sql``
expose the SURVEY §2 operator inventory (126 queries, all DuckDB-oracled)
from ``work_order_pdf_extractor_spark.queries.REGISTRY``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the end-to-end work-order
    extraction pipeline — the same ``run_pipeline`` plan every entry point
    ships (mapInPandas payload parse → anchored-regex fields → salted
    repartition → dual broadcast probe vs reference orders → disposition),
    run over the documents table mapped into the transcripts shape."""
    from work_order_pdf_extractor_spark import fixtures
    from work_order_pdf_extractor_spark.plans import pipeline

    import random

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # a deterministic PDF payload (seeded builder) so the flagship exercises
    # the content-stream tokenizer + bbox filter, not just the plain path
    pdf_b64 = fixtures.build_pdf_payload(
        random.Random(42), "22809891", "EQ-7", "Northwind Traders",
        "2026-03-01", n_items=2, multi_page=False, malformed=None,
        compress=True,
    )
    is_pdf = F.pmod(F.col("doc_id"), F.lit(10)) == 0
    transcripts = docs.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.when(is_pdf, F.lit(pdf_b64)).otherwise(F.col("text")).alias("text"),
        F.when(is_pdf, F.lit("pdf_reader")).otherwise(F.lit("")).alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )
    ref = spark.createDataFrame(fixtures.gen_reference_orders())
    res = pipeline.run_pipeline(transcripts, ref)
    return res.drop("spans")  # keep the smoke-check schema simple/stable


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    training-data ops: dedup / similarity / text-analysis families)."""
    from work_order_pdf_extractor_spark.queries import REGISTRY

    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for every query (all entries oracled)."""
    from work_order_pdf_extractor_spark.queries import REGISTRY

    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}
