"""Incremental (micro-batch) execution of the extraction pipeline.

The reference's execution loop is micro-batch-shaped: an ``as_completed``
loop that updates running aggregates per finished task, honors a stop flag,
and logs progress every ``batch_size=10`` files
(``work_order_extractor.py:1875-1933``). Structured Streaming is the Spark
rendition:

- ``readStream`` over the transcripts directory (new parquet files = new
  micro-batch; on a real deployment this is the Iceberg/queue source),
- ``foreachBatch`` running the SAME batch pipeline per micro-batch (code
  reuse — streaming and batch share one implementation),
- ``trigger(availableNow=True)`` = process the backlog then stop
  (the reference's one-shot "Start Processing" run),
- ``StreamingQueryListener`` progress events = the every-N-files logging,
- ``query.stop()`` = the reference's graceful stop flag (:1876-1882),
- checkpointLocation = resume-where-you-left-off across restarts.

Watermarks/event-time windows are intentionally absent: the ordering key is
``(conv_id, turn_idx)``, not ``ts`` (SURVEY §2.8 table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.pdfparse import DEFAULT_CROP
from ..plans.pipeline import run_pipeline
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def _run_available_now(
    spark: SparkSession,
    schema,
    input_dir: str,
    checkpoint_dir: str,
    max_files_per_batch: int | None,
    sink,
    plan=lambda stream: stream,
):
    """The one streaming harness: ``readStream`` of parquet arrivals in
    ``input_dir`` with ``schema`` (at most ``max_files_per_batch`` files
    per micro-batch when set) → ``plan`` → ``sink``, checkpointed in
    ``checkpoint_dir``, run as ``trigger(availableNow=True)`` (process
    the backlog, then stop) and awaited. ``sink`` is a foreachBatch
    function ``(batch_df, batch_id)`` or a parquet output directory
    (append mode). Returns the finished StreamingQuery."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_batch:
        reader = reader.option("maxFilesPerTrigger", max_files_per_batch)
    w = plan(reader.load(input_dir)).writeStream
    if callable(sink):
        w = w.foreachBatch(sink)
    else:
        w = w.format("parquet").outputMode("append").option("path", sink)
    q = (
        w.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_incremental(
    spark: SparkSession,
    input_dir: str,
    reference_orders: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    crop: tuple = DEFAULT_CROP,
    max_files_per_batch: int | None = None,
):
    """Process the current backlog of transcript parquet files incrementally
    and stop (``availableNow``). Returns the finished StreamingQuery.

    ``max_files_per_batch`` caps micro-batch size (the reference's
    batch_size knob :100); the checkpoint makes reruns skip completed
    batches — kill it mid-run and rerun to resume.

    Exactly-once OUTPUT despite foreachBatch's at-least-once execution: a
    crash after the write but before the checkpoint commit replays the
    micro-batch, so the sink must be idempotent per batch. Each batch
    dynamically OVERWRITES its own ``batch_id=<id>`` partitions (dynamic
    partition overwrite replaces only partitions present in the batch) —
    a replay rewrites identical data in place instead of appending
    duplicates.
    """
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        result = run_pipeline(batch_df, reference_orders, crop=crop).withColumn(
            "batch_id", F.lit(batch_id)
        )
        (
            result.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "disposition")
            .parquet(out_dir)
        )

    return _run_available_now(
        spark, TRANSCRIPT_SCHEMA, input_dir, checkpoint_dir,
        max_files_per_batch, process_batch,
    )


DOC_SCHEMA = "doc_id bigint, text string"


def run_stream_ingest(
    spark: SparkSession,
    corpus: DataFrame,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_batch: int | None = None,
):
    """Streaming twin of ``plans.ingest.incremental_ingest``: document
    batches arriving as parquet files are dispositioned against the
    standing corpus per micro-batch (Bloom prefilter → exact verify for
    maybes → near-dup check), with the same exactly-once sink discipline
    as :func:`run_incremental` — each batch dynamically overwrites its
    own ``batch_id`` partition, so a foreachBatch replay rewrites
    identical rows instead of appending duplicates. This is the
    continuous deployment shape of the nightly ingest job."""
    from ..plans.ingest import incremental_ingest

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # collect the plan's persisted shingle tables and release them
        # after the batch write — a long-lived stream must not accumulate
        # one pair of cached DataFrames per micro-batch
        persisted: list = []
        result = incremental_ingest(
            corpus, batch_df, persisted_out=persisted
        ).withColumn("batch_id", F.lit(batch_id))
        try:
            (
                result.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out_dir)
            )
        finally:
            for df in persisted:
                df.unpersist()

    return _run_available_now(
        spark, DOC_SCHEMA, input_dir, checkpoint_dir,
        max_files_per_batch, process_batch,
    )
