"""Event-time windowed aggregation with a watermark (late-data handling).

The extraction pipeline itself orders by ``(conv_id, turn_idx)`` and needs
no watermark (SURVEY §2.8) — but a transcript DEPLOYMENT also wants
operational aggregates over arrival streams (turns/minute per role, error
rates), and those are the classic watermark + tumbling-window shape:

- ``withWatermark("ts", delay)`` bounds how late an event may arrive and
  lets Spark DROP state for closed windows (without it, window state grows
  forever on an unbounded stream — the 100 TB-stream failure mode),
- tumbling ``window(ts, size)`` + count/sum aggregates,
- ``outputMode("append")`` emits each window exactly once, when the
  watermark passes its end — events later than the delay are discarded,
  which the test asserts explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.transcripts import TRANSCRIPT_SCHEMA
from .incremental import _run_available_now


def turns_per_window(
    stream: DataFrame,
    window_size: str = "10 minutes",
    late_threshold: str = "10 minutes",
) -> DataFrame:
    """turns-per-(window, role) with event-time semantics. Late rows beyond
    ``late_threshold`` are dropped by the watermark; output columns are
    (window_start, window_end, role, n_turns)."""
    return (
        stream.withWatermark("ts", late_threshold)
        .groupBy(F.window("ts", window_size).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
        )
    )


def run_windowed(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_size: str = "10 minutes",
    late_threshold: str = "10 minutes",
    max_files_per_batch: int | None = None,
):
    """availableNow run of the windowed aggregate over parquet arrivals.
    Append mode: a window row is emitted only once its window is closed by
    the watermark (final batch flushes remaining state on availableNow
    termination only for windows the watermark passed)."""
    return _run_available_now(
        spark, TRANSCRIPT_SCHEMA, input_dir, checkpoint_dir,
        max_files_per_batch, out_dir,
        lambda stream: turns_per_window(stream, window_size, late_threshold),
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: tuple = ("conv_id", "turn_idx"),
    late_threshold: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup with BOUNDED state: `dropDuplicatesWithinWatermark`
    emits the first arrival of each key immediately and drops re-arrivals
    while the key's state lives; the watermark evicts state for keys older
    than ``late_threshold``, so memory is O(keys per watermark window) on
    an unbounded stream — the streaming twin of the batch Bloom/exact
    ingest dedup (a plain `dropDuplicates` on a stream would grow state
    forever, the 100 TB-stream failure mode). The contract is dedup
    GUARANTEED within the watermark only: a duplicate arriving after its
    key was evicted is re-emitted, which the test asserts explicitly."""
    return stream.withWatermark("ts", late_threshold).dropDuplicatesWithinWatermark(
        list(keys)
    )


def run_stream_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    late_threshold: str = "10 minutes",
    max_files_per_batch: int | None = None,
):
    """availableNow run of the watermarked stream dedup over parquet
    arrivals (append sink; same harness shape as :func:`run_windowed`)."""
    return _run_available_now(
        spark, TRANSCRIPT_SCHEMA, input_dir, checkpoint_dir,
        max_files_per_batch, out_dir,
        lambda stream: dedup_within_watermark(stream, late_threshold=late_threshold),
    )
