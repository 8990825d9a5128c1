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

This is the package's one streaming job (``main.py --incremental``), and
``foreachBatch`` is its one sink. Watermarks, event-time windows and keyed
streaming state are absent: the ordering key is ``(conv_id, turn_idx)``,
not ``ts`` (SURVEY §2.8 table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.pdfparse import DEFAULT_CROP
from ..plans.pipeline import run_pipeline
from ..sources.transcripts import TRANSCRIPT_SCHEMA


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

    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA).format("parquet")
    if max_files_per_batch:
        reader = reader.option("maxFilesPerTrigger", max_files_per_batch)
    q = (
        reader.load(input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
