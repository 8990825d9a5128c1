"""The north-rule correctness gate: per-turn text equality vs goldens via a
full-outer-join comparison on (conv_id, turn_idx) (SURVEY §5 item 1)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from work_order_pdf_extractor_spark.core import fields
from work_order_pdf_extractor_spark.plans import pipeline

COMPARE_COLS = [
    "extracted_text", "work_order_number", "equipment_number", "customer",
    "status",
]


@pytest.fixture(scope="module")
def result_pd(transcripts_df, ref_orders_df):
    res = pipeline.run_pipeline(transcripts_df, ref_orders_df)
    return res.toPandas()


def _join(golden_pd: pd.DataFrame, result_pd: pd.DataFrame) -> pd.DataFrame:
    return golden_pd.merge(
        result_pd, on=["conv_id", "turn_idx"], how="outer",
        suffixes=("_g", "_s"), indicator=True,
    )


def test_row_coverage_exact(golden_pd, result_pd):
    j = _join(golden_pd, result_pd)
    assert (j["_merge"] == "both").all(), "rows missing or invented by Spark"
    assert len(j) == len(golden_pd)


def test_per_turn_text_equality(golden_pd, result_pd):
    j = _join(golden_pd, result_pd)
    mism = j[j["extracted_text_g"].fillna("\0") != j["extracted_text_s"].fillna("\0")]
    assert len(mism) == 0, mism[["conv_id", "turn_idx"]].head()


@pytest.mark.parametrize("col", ["work_order_number", "equipment_number", "customer", "status"])
def test_field_equality(golden_pd, result_pd, col):
    j = _join(golden_pd, result_pd)
    assert (j[f"{col}_g"].fillna("\0") == j[f"{col}_s"].fillna("\0")).all()


def test_matched_and_date_equality(golden_pd, result_pd):
    j = _join(golden_pd, result_pd)
    assert (j["matched_g"] == j["matched_s"]).all()
    assert (j["order_date_g"].astype(str) == j["order_date_s"].astype(str)).all()


def test_spans_equality(golden_pd, result_pd):
    g = golden_pd.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    s = result_pd.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    for gs, ss in zip(g["spans"], s["spans"]):
        got = [
            (d["field"], d["start"], d["end"], d["x0"], d["y0"], d["x1"], d["y1"])
            for d in gs
        ]
        exp = [
            (
                (d["field"], d["start"], d["end"], d["x0"], d["y0"], d["x1"], d["y1"])
                if isinstance(d, dict)
                else tuple(d)
            )
            for d in ss
        ]
        assert got == exp


def test_out_name_noequip_rule(result_pd):
    # rename-on-match only: the reference renames matched files and moves
    # unmatched ones under their original name (work_order_extractor.py
    # :1769-1797) — unmatched rows must keep out_name null. The Spark
    # column must follow the one definition of the rule, fields.output_name.
    renamed = result_pd[result_pd.work_order_number.notna() & result_pd.matched]
    assert len(renamed) > 0
    expected = [
        fields.output_name(wo, eq)
        for wo, eq in zip(renamed.work_order_number, renamed.equipment_number)
    ]
    assert list(renamed.out_name) == expected
    not_renamed = result_pd[
        result_pd.work_order_number.isna() | ~result_pd.matched
    ]
    assert not_renamed.out_name.isna().all()


def test_reference_default_crop_parity(
    spark, tiny_transcripts_pd, transcripts_df, ref_orders_df, ref_orders_pd
):
    """Per-turn equality also holds at the REFERENCE's exact default crop
    (0, 0, 0.25, 0.25) — the engine's wider default is a documented
    deviation, not a capability gap (core/pdfparse.py DEFAULT_CROP)."""
    from work_order_pdf_extractor_spark import oracle as O

    crop = (0.0, 0.0, 0.25, 0.25)
    golden = O.extract_goldens(tiny_transcripts_pd, ref_orders_pd, crop=crop)
    res = pipeline.run_pipeline(
        transcripts_df, ref_orders_df, crop=crop
    ).toPandas()
    j = _join(golden, res)
    assert (j["_merge"] == "both").all()
    assert (
        j["extracted_text_g"].fillna("\0") == j["extracted_text_s"].fillna("\0")
    ).all()
    # the tighter crop must actually change something vs the wide default
    # on this fixture (otherwise the test proves nothing)
    wide = O.extract_goldens(tiny_transcripts_pd, ref_orders_pd)
    assert not golden.extracted_text.fillna("\0").equals(
        wide.extracted_text.fillna("\0")
    )


def test_normalize_key_col_matches_python_and_survives_ansi(spark):
    """Spark/Python key normalization must agree on every input, and the
    Spark side must be total under ANSI mode — a 25-digit key used to throw
    CAST_INVALID_INPUT through cast('long') and abort the job."""
    from work_order_pdf_extractor_spark.core.textnorm import normalize_key

    cases = [
        "0012", "9" * 25, "0" * 7, " 42 ", "EQ-1", "", "  ",
        "١٢٣",  # unicode digits: NOT normalized (ASCII-only rule)
        "²", "00100", "22809891", "022809891",
        # non-space whitespace padding (ADVICE r2): Java \s set must be
        # trimmed identically on both sides, and '00123\n' must count as
        # digits-only NOWHERE or EVERYWHERE — \A..\z anchoring + trim_ws
        # make it digits-only everywhere
        "00123\n", "42\t", "\r\n007\r\n", "5\x0b", "12\f",
        "\xa055",  # unicode NBSP: NOT in Java \s — stays on both sides
    ]
    df = spark.createDataFrame([(c,) for c in cases], "v string")
    got = [
        r.n
        for r in df.select(
            pipeline.normalize_key_col(F.col("v")).alias("n")
        ).collect()
    ]
    assert got == [normalize_key(c) for c in cases]


def test_dual_probe_matches_reference_semantics(spark, ref_orders_df):
    """The reference probes raw-then-int against the RAW CSV set: an
    unpadded extracted key must NOT match a zero-padded-only ref key, but
    a padded extracted key MUST match an unpadded ref key (via the int
    probe). prepare_reference_orders therefore keeps keys raw."""
    ref = spark.createDataFrame([("022809891",), ("555",)], ["Order"])
    prepared = {
        r.ref_order
        for r in pipeline.prepare_reference_orders(ref).collect()
    }
    assert prepared == {"022809891", "555"}  # raw, not normalized


def test_observe_metrics_match_oracle(transcripts_df, ref_orders_df, golden_pd):
    obs = Observation("m")
    res = pipeline.run_pipeline(transcripts_df, ref_orders_df, observation=obs)
    res.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["files_processed"] == len(golden_pd)
    assert m["failed"] == int((golden_pd.status != "ok").sum())
    assert m["matched"] == int(golden_pd.matched.sum())


def test_shuffled_input_same_output(spark, tiny_transcripts_pd, ref_orders_df, golden_pd):
    reshuffled = tiny_transcripts_pd.sample(frac=1.0, random_state=7, ignore_index=True)
    df = spark.createDataFrame(reshuffled).repartition(13)
    res = pipeline.run_pipeline(df, ref_orders_df).toPandas()
    j = _join(golden_pd, res)
    assert (j["_merge"] == "both").all()
    assert (
        j["extracted_text_g"].fillna("\0") == j["extracted_text_s"].fillna("\0")
    ).all()
