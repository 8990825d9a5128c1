"""Every entry point runs the one extraction plan: the executed plans of the
driver contract's ``entry``, ``preview`` and a streaming micro-batch each
carry the salted ``(conv_id, salt)`` exchange of ``skew.repartition_salted``."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as E
from work_order_pdf_extractor_spark.plans import pipeline
from work_order_pdf_extractor_spark.streaming import incremental

SALTED = re.compile(r"hashpartitioning\(conv_id#\d+, salt#\d+")


def _executed_plans(spark, action) -> list[str]:
    """Run ``action``; the physical plans of the SQL executions it started,
    as the SQL status store recorded them."""
    listener_bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> dict:
        listener_bus.waitUntilEmpty()
        it = store.executionsList().iterator()
        out = {}
        while it.hasNext():
            e = it.next()
            out[e.executionId()] = e
        return out

    before = set(executions())
    action()
    return [e.physicalPlanDescription() for i, e in executions().items() if i not in before]


@pytest.mark.parametrize("entry_point", ["entry", "preview", "run_incremental"])
def test_every_entry_point_runs_the_salted_plan(
    spark, transcripts_df, ref_orders_df, tiny_transcripts_pd, tmp_path, entry_point
):
    if entry_point == "entry":
        def action():
            E.entry(spark).write.format("noop").mode("overwrite").save()
    elif entry_point == "preview":
        def action():
            pipeline.preview(transcripts_df, ref_orders_df, n=3)
    else:
        src = tmp_path / "in"
        src.mkdir()
        tiny_transcripts_pd.head(300).to_parquet(src / "arrival-0.parquet", index=False)

        def action():
            incremental.run_incremental(
                spark, str(src), ref_orders_df, str(tmp_path / "out"), str(tmp_path / "ckpt")
            )

    plans = _executed_plans(spark, action)
    assert any(SALTED.search(p) for p in plans), plans
