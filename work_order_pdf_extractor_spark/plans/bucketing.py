"""Bucketed table layout — the co-located-join story at 100 TB.

A fact table that is repeatedly joined or aggregated on the same key
(conversations by ``conv_id``, documents by ``doc_id``, dedup
signatures by band hash) should be WRITTEN bucketed on that key: Spark
records the hash-bucket layout in the table metadata, and every later
equi-join or groupBy on the key consumes the existing layout instead of
shuffling — at 15 TB of extracted rows that is the difference between a
free join and a full-fabric exchange per query. The sandbox twin of the
production Iceberg bucket-partition transform (SURVEY §7): the parquet
``bucketBy`` metastore tables here carry exactly the same plan property,
asserted by `tests/test_bucketing.py` (two co-bucketed tables join with
ZERO Exchange in the physical plan).

``sortBy`` within buckets additionally lets sort-merge joins skip the
per-task sort when files-per-bucket is 1. The writer always sorts: every
table written here is overwritten whole, never appended to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_col: str, n_buckets: int) -> None:
    """Persist ``df`` as a parquet metastore table bucketed and sorted by
    ``bucket_col``. ``n_buckets`` should be sized so a bucket is a few
    hundred MB at the target scale and MUST match across tables that will
    be co-joined."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table; the bucket layout rides along in the plan
    (`.explain()` shows `Bucketed: true` and no Exchange on the bucket
    key for joins/aggregations against an equal layout)."""
    return spark.table(table)
