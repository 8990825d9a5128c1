"""Checkpoint / lineage / idempotent-resume property tests (SURVEY §7 risk 4)."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest

from work_order_pdf_extractor_spark.plans import lineage


def _run(spark, transcripts_df, ref_orders_df, out_dir, **kw):
    return lineage.run_with_checkpoint(
        spark, transcripts_df, ref_orders_df, str(out_dir), n_buckets=8, **kw
    )


def test_full_run_then_noop_rerun(spark, transcripts_df, ref_orders_df, golden_pd, tmp_path):
    out = tmp_path / "ckpt"
    s1 = _run(spark, transcripts_df, ref_orders_df, out, run_id="r1")
    assert s1["buckets_done"] > 0 and s1["buckets_skipped"] == 0

    df1 = lineage.read_output(spark, str(out)).toPandas()
    assert len(df1) == len(golden_pd)

    # a fully committed rerun (and the done-set listing) launches no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("noop-rerun", "fully committed rerun")
    try:
        assert lineage.completed_buckets(spark, str(out)) == set(range(8))
        s2 = _run(spark, transcripts_df, ref_orders_df, out, run_id="r2")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("noop-rerun")) == []
    assert s2["buckets_done"] == 0, "rerun reprocessed committed buckets"
    assert s2["buckets_skipped"] == s1["buckets_done"]
    assert s2["metrics"] == dict.fromkeys(s1["metrics"], 0)

    df2 = lineage.read_output(spark, str(out)).toPandas()
    a = df1.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    b = df2.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    assert a["extracted_text"].fillna("\0").equals(b["extracted_text"].fillna("\0"))


def test_resume_after_partial_crash(spark, transcripts_df, ref_orders_df, golden_pd, tmp_path):
    out = tmp_path / "ckpt2"
    _run(spark, transcripts_df, ref_orders_df, out, run_id="r1")
    # simulate a crash that lost two buckets (data + lineage rows)
    dd = os.path.join(out, "data")
    lost = sorted(os.listdir(dd))[:2]
    for name in lost:
        shutil.rmtree(os.path.join(dd, name))
    for f in os.listdir(os.path.join(out, "_lineage")):
        if any(f.startswith(f"bucket-{int(n.split('=')[1]):05d}") for n in lost):
            os.remove(os.path.join(out, "_lineage", f))

    s2 = _run(spark, transcripts_df, ref_orders_df, out, run_id="r2")
    assert s2["buckets_done"] == len(lost)

    df = lineage.read_output(spark, str(out)).toPandas()
    assert len(df) == len(golden_pd)


def test_crash_between_rename_and_lineage_repairs(spark, transcripts_df, ref_orders_df, tmp_path):
    out = tmp_path / "ckpt3"
    _run(spark, transcripts_df, ref_orders_df, out, run_id="r1")
    # bucket dir exists but its lineage row vanished (the crash window)
    victim = sorted(os.listdir(os.path.join(out, "data")))[0]
    b = int(victim.split("=")[1])
    lost = os.path.join(out, "_lineage", f"bucket-{b:05d}-r1.json")
    with open(lost) as f:
        first = json.load(f)
    os.remove(lost)

    s2 = _run(spark, transcripts_df, ref_orders_df, out, run_id="r2")
    assert s2["buckets_done"] == 0, "visible bucket was reprocessed"
    # the repair recorded the row the first run lost, from the committed data
    with open(os.path.join(out, "_lineage", f"bucket-{b:05d}-r2.json")) as f:
        assert json.load(f) == {**first, "run_id": "r2"}
    assert len(os.listdir(os.path.join(out, "_lineage"))) == len(
        os.listdir(os.path.join(out, "data"))
    )


def test_lineage_rows_have_failure_counts(spark, transcripts_df, ref_orders_df, golden_pd, tmp_path):
    out = tmp_path / "ckpt4"
    s = _run(spark, transcripts_df, ref_orders_df, out, run_id="r1")
    lin = pd.DataFrame([json.loads(p.read_text()) for p in out.glob("_lineage/bucket-*.json")])
    assert int(lin.rows_out.sum()) == len(golden_pd)
    assert int(lin.n_failed.sum()) == int((golden_pd.status != "ok").sum())
    # the run's own counters, from observe() on the write job
    assert s["metrics"] == {
        "files_processed": len(golden_pd),
        "successful": int((golden_pd.status == "ok").sum()),
        "failed": int((golden_pd.status != "ok").sum()),
        "matched": int(golden_pd.matched.sum()),
        "not_matched": int((~golden_pd.matched).sum()),
    }
    assert int(lin.n_failed.sum()) == s["metrics"]["failed"]


@pytest.mark.parametrize("first, second", [(8, 4), (4, 8)])
def test_resume_with_another_bucket_count_raises(
    spark, transcripts_df, ref_orders_df, golden_pd, tmp_path, first, second
):
    """A bucket id means something only under the modulus that wrote it.
    Committed buckets 0-3 of 8 would count as all 4 buckets of 4, so a
    resume with 4 would never write the rest (8 → 4 loses rows); committed
    buckets 0-1 of 4 would count as buckets 0-1 of 8, so a resume with 8
    would rewrite the rows of buckets 4-5 of 8 (4 → 8 duplicates rows).
    Either resume raises, naming both counts, before any Spark job."""
    out = str(tmp_path / "ckpt6")
    half = transcripts_df.where(lineage.bucket_col(first) < first // 2)
    lineage.run_with_checkpoint(spark, half, ref_orders_df, out, n_buckets=first, run_id="r1")

    sc = spark.sparkContext
    sc.setJobGroup("mismatch", "resume with another bucket count")
    try:
        with pytest.raises(ValueError, match=f"n_buckets={first}.*n_buckets={second}"):
            lineage.run_with_checkpoint(
                spark, transcripts_df, ref_orders_df, out, n_buckets=second, run_id="r2"
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("mismatch")) == []

    # the recorded count resumes the other half, once
    s = lineage.run_with_checkpoint(
        spark, transcripts_df, ref_orders_df, out, n_buckets=first, run_id="r3"
    )
    assert (s["buckets_skipped"], s["buckets_done"]) == (first // 2, first // 2)
    df = lineage.read_output(spark, out).toPandas()
    assert len(df) == len(golden_pd)
    assert not df.duplicated(["conv_id", "turn_idx"]).any()

    # an output written before the record existed is accepted and gets one
    os.remove(os.path.join(out, "_n_buckets"))
    assert lineage.run_with_checkpoint(
        spark, transcripts_df, ref_orders_df, out, n_buckets=first, run_id="r4"
    )["buckets_done"] == 0
    with open(os.path.join(out, "_n_buckets")) as f:
        assert int(f.read()) == first


def test_lineage_leftovers_never_break_resume(spark, transcripts_df, ref_orders_df, tmp_path):
    """Only lineage FILE NAMES written by the commit protocol and data dirs
    mark a bucket done: a crashed append's ``.tmp``, a stray file and an
    empty lineage file must not make resume raise or miscount."""
    out = tmp_path / "ckpt5"
    _run(spark, transcripts_df, ref_orders_df, out, run_id="r1")
    ld, dd = os.path.join(out, "_lineage"), os.path.join(out, "data")
    for b in (3, 5):  # lose both buckets, data and lineage
        shutil.rmtree(os.path.join(dd, f"bucket={b}"), ignore_errors=True)
        for f in os.listdir(ld):
            if f.startswith(f"bucket-{b:05d}-"):
                os.remove(os.path.join(ld, f))
    with open(os.path.join(ld, "bucket-00003-x.json.tmp"), "w") as f:
        f.write('{"bucket": 3')
    with open(os.path.join(ld, "notes.json"), "w") as f:
        f.write('{"note": "not a lineage row"}\n')
    open(os.path.join(ld, "bucket-00005-x.json"), "w").close()

    done = {int(n.split("=")[1]) for n in os.listdir(dd)} | {5}
    assert lineage.completed_buckets(spark, str(out)) == done
    s2 = _run(spark, transcripts_df, ref_orders_df, out, run_id="r2")
    assert s2["buckets_skipped"] == len(done) and s2["buckets_done"] == 1
    assert os.path.isdir(os.path.join(dd, "bucket=3"))
    assert not os.path.exists(os.path.join(dd, "bucket=5"))
