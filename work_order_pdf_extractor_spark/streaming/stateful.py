"""Custom stateful streaming operator: cross-batch turn dedup.

The reference processes each file exactly once per session because its
worklist is an in-memory dict keyed by path (``work_order_extractor.py:
1842-1875``); re-queued files are skipped. The streaming rendition of that
guarantee across micro-batches is keyed state: for every ``conv_id`` we
remember which ``turn_idx`` values have been emitted and suppress
re-arrivals (late duplicates, upstream replays, at-least-once sources).

Implemented with ``applyInPandasWithState`` — Spark's Arrow-batched
stateful grouped-map (SURVEY §2.8's "custom stateful operator" slot):

- group key: ``conv_id`` (state is per-conversation, co-partitioned with
  the stream by the state-store shuffle),
- state: the sorted list of seen ``turn_idx`` (bounded by conversation
  length; at 10^12-turn scale you would bound it further to a
  (max_turn_idx, bitmap-of-recent) pair — duplicates arrive near their
  original in practice),
- output: only never-seen turns, in (conv_id, turn_idx) order.

Determinism: for a fixed sequence of micro-batches the emitted set is
exactly the first arrival of each (conv_id, turn_idx) — asserted in
``tests/test_streaming_stateful.py`` against a replayed second batch.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

import pyspark.sql.types as T

from ..sources.transcripts import TRANSCRIPT_SCHEMA
from .incremental import _run_available_now

OUTPUT_SCHEMA = T.StructType([f for f in TRANSCRIPT_SCHEMA.fields if f.name != "ts"])

STATE_SCHEMA = T.StructType(
    [T.StructField("seen", T.ArrayType(T.IntegerType()))]
)


def _dedup_group(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    (conv_id,) = key
    seen: set[int] = set(state.get[0]) if state.exists else set()
    for pdf in pdfs:
        pdf = pdf.sort_values("turn_idx")
        fresh = pdf[~pdf["turn_idx"].isin(seen) & ~pdf["turn_idx"].duplicated()]
        seen.update(int(t) for t in fresh["turn_idx"])
        if len(fresh):
            yield fresh[OUTPUT_SCHEMA.fieldNames()]
    state.update((sorted(seen),))


def dedup_turns_stateful(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_batch: int | None = None,
):
    """Stream transcript parquet arrivals, emit each (conv_id, turn_idx)
    exactly once across ALL micro-batches (keyed state survives batches
    and — via the checkpoint — restarts). availableNow semantics like
    :func:`..incremental.run_incremental`."""
    return _run_available_now(
        spark, TRANSCRIPT_SCHEMA, input_dir, checkpoint_dir,
        max_files_per_batch, out_dir,
        lambda stream: stream.groupBy("conv_id").applyInPandasWithState(
            _dedup_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
    )
