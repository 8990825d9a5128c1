"""Round-3 hardening: zero-length quality guards, as-of tiebreak
determinism, conf-gated dedup fan-out, whitespace-key probe parity."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from work_order_pdf_extractor_spark.operators import dedup, temporal, textstats


def test_quality_scores_empty_text_degrades_not_crashes(spark):
    """An empty document must yield NULL ratios + too_short=true; under
    ANSI mode an unguarded x/0 would instead abort the whole corpus job."""
    df = spark.createDataFrame(
        [(1, "", 0), (2, "the cat sat", 11)],
        "doc_id long, text string, n_chars long",
    )
    rows = {r.doc_id: r for r in textstats.quality_scores(df, 50).collect()}
    empty = rows[1]
    assert empty.too_short
    assert empty.chars_per_token is None
    assert empty.punct_ratio is None
    assert empty.stop_ratio is None
    ok = rows[2]
    assert ok.n_tokens == 3 and ok.stop_ratio is not None


def test_asof_join_tiebreak_is_deterministic(spark):
    """Several right rows at the SAME (key, ts): the pinned rule is
    lexicographic-max on the value columns — not partitioning luck."""
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    later = datetime.datetime(2024, 1, 1, 13, 0, 0)
    left = spark.createDataFrame(
        pd.DataFrame({"k": [1], "ts": pd.Series([later]).astype("datetime64[us]"), "eid": [10]})
    )
    right_rows = pd.DataFrame(
        {
            "k": [1, 1, 1],
            "ts": pd.Series([ts, ts, ts]).astype("datetime64[us]"),
            "v": [5.0, 99.0, 7.0],
        }
    )
    for n_parts in (1, 3):
        right = spark.createDataFrame(right_rows).repartition(n_parts)
        out = temporal.asof_join(left, right, "k", "ts", ["v"]).collect()
        assert len(out) == 1
        assert out[0].asof_v == 99.0


def test_connected_components_chains_and_singletons(spark):
    """Min-label propagation must assign the min id transitively (a~b~c →
    all labeled a), leave singletons self-labeled, and converge identically
    across partitionings."""
    nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 6), (4, 5)], "doc1 long, doc2 long"
    )
    want = {0: 0, 1: 1, 2: 1, 3: 1, 6: 1, 4: 4, 5: 4}
    for parts in (1, 4):
        comp = dedup.connected_components(
            nodes.repartition(parts), edges.repartition(parts)
        ).toPandas()
        assert dict(zip(comp.doc_id, comp.component_id)) == want


def test_dedup_fanout_is_conf_gated(spark):
    df = spark.range(0, 10, 1, 1).select(
        F.col("id").alias("doc_id"), F.lit("a b c d").alias("text")
    )
    try:
        spark.conf.set(dedup.FANOUT_CONF, "false")
        plan = dedup.word_shingles(df)._jdf.queryExecution().toString()
        assert "Exchange RoundRobinPartitioning" not in plan
    finally:
        spark.conf.unset(dedup.FANOUT_CONF)
    plan_on = dedup.word_shingles(df)._jdf.queryExecution().toString()
    assert "RoundRobinPartitioning" in plan_on


def test_connected_components_long_chain_logarithmic_rounds(spark):
    """A 200-node path (diameter 199) must fully converge — naive
    min-label propagation with the default 30-round cap provably cannot
    (labels travel one hop per round); large-star/small-star flattens it
    in O(log N) rounds. Round count is asserted via the stats hook."""
    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc1 long, doc2 long"
    )
    stats = {}
    comp = dedup.connected_components(nodes, edges, stats=stats).toPandas()
    assert dict(zip(comp.doc_id, comp.component_id)) == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 12, stats  # ~log2(200) + slack, << diameter


def test_connected_components_no_edges(spark):
    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    edges = spark.createDataFrame([], "doc1 long, doc2 long")
    comp = dedup.connected_components(nodes, edges).toPandas()
    assert dict(zip(comp.doc_id, comp.component_id)) == {i: i for i in range(4)}


def test_connected_components_raises_when_rounds_run_out(spark, monkeypatch):
    """Labels short of the star fixpoint may point at non-root nodes, so
    running out of rounds raises instead of returning them."""
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 1)
    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(7)], "doc1 long, doc2 long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        dedup.connected_components(nodes, edges)
