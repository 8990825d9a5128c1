"""Custom stateful streaming operator (applyInPandasWithState): duplicate
turns are suppressed across micro-batches and across restarts."""

from __future__ import annotations

import pytest

from work_order_pdf_extractor_spark.streaming import stateful


@pytest.fixture()
def arrivals(tmp_path, tiny_transcripts_pd):
    """Three arrival files: the third REPLAYS half of the first (an
    at-least-once upstream), so naive append would duplicate."""
    d = tmp_path / "in"
    d.mkdir()
    n = len(tiny_transcripts_pd)
    first = tiny_transcripts_pd.iloc[: n // 2]
    second = tiny_transcripts_pd.iloc[n // 2 :]
    first.to_parquet(d / "arrival-0.parquet", index=False)
    second.to_parquet(d / "arrival-1.parquet", index=False)
    first.head(100).to_parquet(d / "arrival-2-replay.parquet", index=False)
    return str(d)


def test_duplicates_suppressed_across_batches(spark, arrivals, tiny_transcripts_pd, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stateful.dedup_turns_stateful(
        spark, arrivals, out, ckpt, max_files_per_batch=1
    )
    res = spark.read.parquet(out).toPandas()
    # exactly one row per (conv_id, turn_idx), despite the replayed file
    assert len(res) == len(tiny_transcripts_pd)
    assert not res.duplicated(["conv_id", "turn_idx"]).any()


def test_state_survives_restart(spark, arrivals, tiny_transcripts_pd, tmp_path):
    import os

    import pandas as pd

    out, ckpt = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    stateful.dedup_turns_stateful(spark, arrivals, out, ckpt)
    n1 = len(spark.read.parquet(out).toPandas())
    # a NEW file arrives replaying old turns plus 5 genuinely new ones
    old = tiny_transcripts_pd.head(50)
    new = tiny_transcripts_pd.head(5).copy()
    new["conv_id"] = "conv-new-" + new["conv_id"]
    pd.concat([old, new]).to_parquet(
        os.path.join(arrivals, "arrival-3.parquet"), index=False
    )
    stateful.dedup_turns_stateful(spark, arrivals, out, ckpt)
    res = spark.read.parquet(out).toPandas()
    assert len(res) == n1 + 5
    assert res.conv_id.str.startswith("conv-new-").sum() == 5
