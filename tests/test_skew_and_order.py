"""Salted repartition + stable turn ordering (north rule; SURVEY §2.5 W2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from work_order_pdf_extractor_spark.plans import skew


@pytest.fixture
def salting(monkeypatch):
    """16 fixed partitions (AQE does not coalesce a repartition to a set
    number) and a 100-turn whale threshold, so the tiny fixture's one
    ~400-turn conversation is a whale."""
    monkeypatch.setattr(skew, "N_PARTITIONS", 16)
    monkeypatch.setattr(skew, "DEFAULT_WHALE_THRESHOLD", 100)


def test_salted_repartition_preserves_rows(salting, transcripts_df, tiny_transcripts_pd):
    out = skew.repartition_salted(transcripts_df)
    assert out.count() == len(tiny_transcripts_pd)
    assert set(out.columns) == set(transcripts_df.columns)


def test_whale_spreads_over_partitions(salting, monkeypatch, transcripts_df, tiny_transcripts_pd):
    # the tiny fixture has one whale conversation (~400 turns)
    whale = tiny_transcripts_pd.conv_id.value_counts().idxmax()
    monkeypatch.setattr(skew, "DEFAULT_N_SALTS", 8)
    out = skew.repartition_salted(transcripts_df)
    parts = (
        out.withColumn("pid", F.spark_partition_id())
        .filter(F.col("conv_id") == whale)
        .select("pid").distinct().count()
    )
    assert parts > 1, "whale conversation not spread by salting"


def test_small_conversations_stay_colocated(salting, transcripts_df, tiny_transcripts_pd):
    whale = tiny_transcripts_pd.conv_id.value_counts().idxmax()
    out = skew.repartition_salted(transcripts_df)
    multi = (
        out.withColumn("pid", F.spark_partition_id())
        .filter(F.col("conv_id") != whale)
        .groupBy("conv_id")
        .agg(F.countDistinct("pid").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert multi == 0


def test_with_turn_order_is_stable(transcripts_df):
    out = skew.with_turn_order(transcripts_df)
    bad = out.filter(F.col("turn_order") != F.col("turn_idx") + 1).count()
    assert bad == 0  # turn_idx is 0-based and dense in the fixture
