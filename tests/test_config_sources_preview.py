"""Sources readers (S1/S2) and the preview entry point (SURVEY §3.2)."""

from __future__ import annotations

import pytest

from work_order_pdf_extractor_spark import fixtures
from work_order_pdf_extractor_spark.plans import pipeline
from work_order_pdf_extractor_spark.sources import transcripts as S


def test_read_transcripts_parquet_fallback(spark, tmp_path, tiny_transcripts_pd):
    paths = fixtures.write_fixture_parquet(str(tmp_path), "tiny")
    df = S.read_transcripts(spark, paths["transcripts"])
    assert df.columns == S.REQUIRED_COLUMNS
    assert df.count() == len(tiny_transcripts_pd)


def test_read_transcripts_validates_schema(spark, tmp_path):
    bad = spark.range(3).toDF("conv_id")
    p = str(tmp_path / "bad.parquet")
    bad.write.parquet(p)
    with pytest.raises(ValueError, match="missing columns"):
        S.read_transcripts(spark, p)


def test_read_reference_orders_csv(spark, tmp_path):
    p = str(tmp_path / "ref.csv")
    with open(p, "w") as f:
        f.write("Order\n22809891\n22809892\n")
    df = S.read_reference_orders(spark, p)
    assert df.columns == ["Order"]
    assert df.count() == 2


def test_preview_returns_first_turn(spark, transcripts_df, ref_orders_df, golden_pd):
    rows = pipeline.preview(transcripts_df, ref_orders_df, n=1)
    assert len(rows) == 1
    g = golden_pd.sort_values(["conv_id", "turn_idx"]).iloc[0]
    assert rows[0]["conv_id"] == g.conv_id
    assert rows[0]["turn_idx"] == g.turn_idx
    assert (rows[0]["extracted_text"] or "") == (g.extracted_text or "")


def test_read_transcripts_jsonl(spark, tmp_path, tiny_transcripts_pd):
    """JSONL transcript ingestion: write the tiny fixture as line-delimited
    JSON, read through read_transcripts, per-row equality incl. text with
    newlines/quotes surviving JSON escaping."""
    import os

    d = str(tmp_path / "t.jsonl")
    os.makedirs(d)
    tiny_transcripts_pd.to_json(
        os.path.join(d, "part-0.jsonl"), orient="records", lines=True,
        date_format="iso",
    )
    df = S.read_transcripts(spark, d + "/part-0.jsonl")
    got = df.toPandas().sort_values(["conv_id", "turn_idx"], ignore_index=True)
    exp = tiny_transcripts_pd.sort_values(
        ["conv_id", "turn_idx"], ignore_index=True
    )
    assert len(got) == len(exp)
    assert got.text.fillna("\0").equals(exp.text.fillna("\0"))
    assert list(df.columns) == S.REQUIRED_COLUMNS


def test_read_jsonl_corrupt_line_degrades(spark, tmp_path):
    """A malformed JSONL line must degrade (PERMISSIVE null row), never
    abort the scan — the connector-layer 'failures degrade' rule."""
    p = str(tmp_path / "c.jsonl")
    with open(p, "w") as f:
        f.write('{"conv_id": "a", "turn_idx": 1}\n')
        f.write("{this is not json\n")
        f.write('{"conv_id": "b", "turn_idx": 2}\n')
    df = S.read_jsonl(spark, p, "conv_id string, turn_idx int")
    rows = df.toPandas()
    assert len(rows) == 3
    assert set(rows.conv_id.dropna()) == {"a", "b"}
    assert rows.conv_id.isna().sum() == 1  # the corrupt line, as nulls
