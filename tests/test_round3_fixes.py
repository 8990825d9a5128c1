"""Round-3 hardening: zero-length quality guards, as-of tiebreak
determinism, conf-gated dedup fan-out, whitespace-key probe parity."""

from __future__ import annotations

import datetime
import random

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
    """Components must assign the min id transitively (a~b~c → all
    labeled a), leave singletons self-labeled, and agree across
    partitionings."""
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


def test_word_shingles_fans_out_round_robin(spark):
    """A one-partition input is fanned out (round robin) before the
    shingle explode, so the explode does not run as one task."""
    df = spark.range(0, 10, 1, 1).select(
        F.col("id").alias("doc_id"), F.lit("a b c d").alias("text")
    )
    plan = dedup.word_shingles(df)._jdf.queryExecution().toString()
    assert "RoundRobinPartitioning" in plan


def test_connected_components_permuted_long_chain(spark):
    """A 2,000-node path (diameter 1,999) whose ids are randomly permuted
    along the path: every node must end labelled 0. Naive min-label
    propagation moves a label one hop per round and cannot finish it."""
    n = 2000
    order = random.Random(7).sample(range(n), n)
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(list(zip(order, order[1:])), "doc1 long, doc2 long")
    comp = dedup.connected_components(nodes, edges).toPandas()
    assert dict(zip(comp.doc_id, comp.component_id)) == {i: 0 for i in range(n)}


def test_connected_components_no_edges(spark):
    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    edges = spark.createDataFrame([], "doc1 long, doc2 long")
    comp = dedup.connected_components(nodes, edges).toPandas()
    assert dict(zip(comp.doc_id, comp.component_id)) == {i: i for i in range(4)}


def test_connected_components_raises_over_node_budget(spark, monkeypatch):
    """A graph with more distinct ids than the one-task budget raises,
    naming the count and the budget, instead of running the task out of
    memory."""
    monkeypatch.setattr(dedup, "CC_MAX_NODES", 4)
    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(7)], "doc1 long, doc2 long")
    with pytest.raises(Exception, match="8 nodes exceed the one-task node budget CC_MAX_NODES = 4"):
        dedup.connected_components(nodes, edges).collect()


@pytest.mark.parametrize(
    "ansi, err, match",
    [("true", Exception, "CAST_INVALID_INPUT"), ("false", ValueError, "requires numeric")],
    ids=["ansi", "no_ansi"],
)
def test_connected_components_rejects_non_numeric_ids(spark, ansi, err, match):
    """A string id that does not cast to long fails loudly under both ANSI
    settings: Spark's cast error with ANSI on, the NULL-cast guard with it
    off (the NULL would otherwise drop the edge)."""
    nodes = spark.createDataFrame([("1",), ("x",)], "doc_id string")
    edges = spark.createDataFrame([("1", "x")], "doc1 string, doc2 string")
    was = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        with pytest.raises(err, match=match):
            dedup.connected_components(nodes, edges).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", was)


def _bfs_labels(edges: list) -> dict:
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    label: dict = {}
    for start in sorted(adj):
        if start not in label:
            label[start], todo = start, [start]
            while todo:
                for y in adj[todo.pop()]:
                    if y not in label:
                        label[y] = start
                        todo.append(y)
    return {k: v for k, v in label.items() if k != v}


def test_component_roots_kernel_matches_bfs():
    """The numpy task body, without Spark: random multigraphs with sparse,
    negative and repeated ids arrive as many 3-edge batches with a fold
    floor of 4, so the buffered batches fold into the forest many times;
    the output must be BFS's min-id label of every non-minimum id."""
    rng = random.Random(3)
    for _ in range(200):
        n = rng.randint(1, 60)
        edges = [(rng.randrange(n) * 7 - 50, rng.randrange(n) * 7 - 50) for _ in range(rng.randint(0, 90))]
        edges = [e for e in edges if e[0] != e[1]]
        batches = (
            pd.DataFrame(edges[i : i + 3], columns=["u", "v"], dtype="int64")
            for i in range(0, len(edges), 3)
        )
        out = list(dedup._component_roots(batches, budget=10**6, floor=4))
        got = {u: r for o in out for u, r in zip(o.u, o.component_id)}
        assert got == _bfs_labels(edges)
