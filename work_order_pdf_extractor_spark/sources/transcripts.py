"""Transcripts source — the engine's S1 (SURVEY §2.1).

The production shape is an Iceberg table of :data:`TRANSCRIPT_SCHEMA`;
the sandbox fallback is a parquet directory of the same schema. Both go
through one reader so the pipeline code is catalog-agnostic (SURVEY §7
guiding decision): Iceberg when the runtime jar is on the classpath,
parquet otherwise — never a code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# the one definition of the transcripts schema; every other copy derives from it
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
REQUIRED_COLUMNS = TRANSCRIPT_SCHEMA.fieldNames()


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """JSONL (one JSON object per line) scan with an EXPLICIT schema —
    never ``inferSchema``, which would read the whole corpus once just to
    guess types before reading it again. Spark's json source splits and
    parallelizes line-delimited files natively; in PERMISSIVE mode (the
    default) a corrupt line becomes an all-null row (or lands in
    ``_corrupt_record`` if the schema declares that column) instead of
    failing the scan — the 'failures degrade, never crash' rule at the
    connector layer (tested)."""
    return spark.read.schema(schema).json(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """CSV scan of files with a header line, with an explicit schema (same
    no-inference rule). Quoting/escaping follow Spark's writer defaults,
    so Spark-written CSV round-trips exactly."""
    return spark.read.option("header", True).schema(schema).csv(path)


def read_orc(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """ORC scan with an explicit schema — the columnar big-data format
    beside parquet that ships in Spark itself (vectorized reader,
    predicate pushdown, column pruning all apply, same as parquet)."""
    return spark.read.schema(schema).orc(path)


def read_transcripts(spark: SparkSession, location: str) -> DataFrame:
    """``location`` is an Iceberg table identifier (``catalog.db.t``), a
    parquet directory, a ``.jsonl``/``.json`` path, or a ``.csv`` path
    (real transcript corpora commonly arrive as JSONL dumps; the
    reference's own ingest is CSV, ``work_order_extractor.py:976-996``).
    Validates the mandated schema either way."""
    if location.endswith((".jsonl", ".json")) or location.endswith(".jsonl/"):
        df = read_jsonl(spark, location, TRANSCRIPT_SCHEMA)
    elif location.endswith(".csv"):
        df = read_csv(spark, location, TRANSCRIPT_SCHEMA)
    elif "/" not in location and iceberg_available(spark):
        df = spark.read.format("iceberg").table(location)
    else:
        df = spark.read.parquet(location)
    missing = [c for c in REQUIRED_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(f"transcripts source missing columns: {missing}")
    return df.select(*REQUIRED_COLUMNS)


def read_reference_orders(spark: SparkSession, location: str) -> DataFrame:
    """The reference key set — S2 (SURVEY §2.1): the reference reads a CSV
    with header ``Order`` and collects a set
    (``work_order_extractor.py:976-996``); here it is a CSV or parquet scan
    whose distinct keys become the broadcast build side."""
    if location.endswith(".csv"):
        df = spark.read.option("header", True).csv(location)
    else:
        df = spark.read.parquet(location)
    if "Order" not in df.columns:
        raise ValueError("reference orders source must expose column 'Order'")
    return df.select("Order")
