"""Physical-plan assertions: the optimizations SURVEY §4 promises must be
visible in `.explain` — pushdown, pruning, broadcast, codegen, and the
no-payload-after-extraction rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from work_order_pdf_extractor_spark import queries as Q
from work_order_pdf_extractor_spark.operators.extract import extract_turns
from work_order_pdf_extractor_spark.plans import pipeline

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet(spark):
    df = Q.q_filter_project(spark, SF)
    plan = _formatted(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual" in plan


def test_column_pruning_in_scan(spark):
    df = Q.q_filter_project(spark, SF)
    plan = _formatted(df)
    # ReadSchema must NOT include untouched wide columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" not in read and "l_partkey" not in read


def test_semi_join_is_broadcast(spark):
    plan = _plan(Q.q_semi_join(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_pipeline_ref_join_is_broadcast(spark, transcripts_df, ref_orders_df):
    res = pipeline.run_pipeline(transcripts_df, ref_orders_df)
    plan = _plan(res)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_payload_never_shuffles(spark, transcripts_df, ref_orders_df):
    """The wide `text` column must not appear in any exchange: extraction
    consumes it on the scan side (the single most important data-movement
    property at 100 TB)."""
    res = pipeline.run_pipeline(transcripts_df, ref_orders_df)
    plan = _plan(res)
    for block in plan.split("Exchange"):
        pass
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange" in ln and "text" in ln
    ]
    assert not exchanges, exchanges


def test_extraction_drops_payload_column(transcripts_df):
    out = extract_turns(transcripts_df)
    assert "text" not in out.columns


def test_pipeline_runs_extraction_exactly_once(spark, transcripts_df, ref_orders_df):
    """The whale census must come from the raw input scan, not from the
    extraction output — otherwise the UDF executes twice per action
    (a 2x regression caught and fixed during bench)."""
    res = pipeline.run_pipeline(transcripts_df, ref_orders_df)
    plan = _plan(res)
    assert plan.count("MapInPandas") == 1, plan


def test_whole_stage_codegen_on_relational_query(spark):
    # codegen stages are tagged `[codegen id : n]` in formatted explain
    plan = _formatted(Q.q_filter_project(spark, SF))
    assert "codegen id" in plan, plan[:500]
    # and the whole scan→filter→project chain is ONE codegen stage
    assert "[codegen id : 1]" in plan


def test_window_has_single_shuffle(spark):
    df = Q.q_turn_order_window(spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_aggregate_is_partial_then_final(spark):
    plan = _plan(Q.q_status_counters(spark, SF))
    # map-side partial aggregation before the shuffle
    assert plan.count("HashAggregate") >= 2


def test_lsh_buckets_plan_is_narrow(spark):
    """The round-1 scale-killer: hyperplane LSH bucketing must be ONE
    narrow pass — no explode (dims×planes row blow-up) and no shuffle.
    At 1024-dim × 10^9 rows the old exploded plan was an 8192× row
    multiplication feeding two exchanges."""
    plan = _plan(Q.q_ann_lsh_buckets(spark, SF))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # Generate = explode/posexplode


def test_rolling_range_window_single_shuffle(spark):
    """A RANGE-frame rolling aggregate needs exactly one hash partition
    on the window key — a second Exchange would mean the frame was
    re-shuffled per aggregate."""
    plan = _plan(Q.q_rolling_range_window(spark, SF))
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan


def test_tfidf_df_join_is_not_a_cross(spark):
    """tf x df combine on the term must stay a hash join (broadcast or
    shuffled) — never a nested-loop scan of the df side."""
    plan = _plan(Q.q_tfidf_terms(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pipeline_dual_probe_joins_are_broadcast(spark, transcripts_df, ref_orders_df):
    """Both arms of the reference's str/int dual probe must be broadcast
    HASH joins — an OR-of-equalities condition would silently degrade to
    BroadcastNestedLoopJoin (per-row scans of the build side)."""
    plan = _plan(pipeline.run_pipeline(transcripts_df, ref_orders_df))
    # 2 probe joins + 1 whale-census join from the salted repartition
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_dedup_near_reuses_persisted_shingles(spark):
    """deduplicate_near shares ONE persisted shingle table across its four
    consumers — the plan must read it via InMemoryRelation scans instead
    of re-deriving the split+explode subtree per consumer."""
    plan = _plan(Q.q_dedup_near_materialize(spark, SF))
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan


def test_ann_search_is_vectorized_grouped(spark):
    """The within-cell/bucket scorers must run as grouped-map Pandas
    stages (one numpy matmul per group) — never a pair-materializing join
    scored by interpreted higher-order folds. IVF assignment against the
    K-row model is a per-batch matmul (MapInPandas), so neither plan has
    a nested-loop join."""
    ivf = _plan(Q.q_ivf_topk(spark, SF))
    assert "FlatMapGroupsInPandas" in ivf
    assert "MapInPandas" in ivf
    assert "BroadcastNestedLoopJoin" not in ivf
    banded = _plan(Q.q_lsh_topk_banded(spark, SF))
    assert "FlatMapGroupsInPandas" in banded
    assert "BroadcastNestedLoopJoin" not in banded


def test_temporal_joins_never_nested_loop(spark):
    """AS-OF is a sort window (no join at all); the range join's
    inequality stays OUT of the join condition (banded equality keys) —
    neither may degrade to a BroadcastNestedLoopJoin."""
    for q in (Q.q_asof_join, Q.q_range_join):
        plan = _plan(q(spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """The co-located-join claim in SCALE.md, proven on a plan: two tables
    bucketed+sorted on the join key join with ZERO Exchange — at 100 TB
    this is the difference between a full network shuffle of both fact
    tables and a local merge per bucket."""
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    for name, df, key in (("t_ord", orders, "o_orderkey"), ("t_li", li, "l_orderkey")):
        (
            df.write.mode("overwrite")
            .option("path", str(tmp_path / name))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so exchange-freedom comes from
        # bucketing, not from broadcasting the smaller side
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_ord").join(
            spark.table("t_li"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_ord")
        spark.sql("DROP TABLE IF EXISTS t_li")


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_dsir_stats_join_is_broadcast(spark):
    """dsir_weights joins every per-doc gram-bucket row against the
    <=1024-row bucket-stats table — that join must be a BroadcastHashJoin
    (a shuffled join there would move the whole gram table on a key with
    only 1024 distinct values: guaranteed skew)."""
    df = Q.REGISTRY["dsir_weights"][0](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_repeated_spans_plan_is_linear(spark):
    """The span audit must never form a pair join: no cartesian/BNLJ
    anywhere, and the only exchanges carry the n-word shingle key or
    doc-level aggregates — the full document text appears in no
    Exchange."""
    from work_order_pdf_extractor_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.repeated_spans(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for ln in plan.splitlines():
        if "Exchange" in ln and "text#" in ln:
            raise AssertionError(f"document text enters a shuffle: {ln}")


def test_ivf_nprobe_plan_shapes(spark):
    """nprobe search: no cartesian product, no nested-loop join and no
    sort-merge join anywhere. Centroid scoring (rank-1 assignment and
    the nprobe probe ranking) is one numpy matmul per Arrow batch
    against the collected K-row model — two MapInPandas stages; the
    id-keyed vector joins are broadcast hash joins; the cell scorer is a
    single grouped-map stage."""
    from work_order_pdf_extractor_spark.operators import annfast, similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    trained = similarity.ivf_centroids(emb, 8, 2)
    cents = spark.createDataFrame(trained.collect(), trained.schema)
    plan = _plan(annfast.ivf_topk_nprobe_fast(emb, k=3, nprobe=2, centroids=cents))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("MapInPandas") >= 2  # assignment + probe ranking
    assert "FlatMapGroupsInPandas" in plan  # the roles scorer
    assert "BroadcastHashJoin" in plan  # id-keyed vector joins


def test_df_cut_reuses_shingle_partitioning(spark):
    """The df-cut's count + semi-join both key on the shingle: the plan
    must not add a cartesian or nested-loop join, and the cut stays a
    hash semi-join."""
    from work_order_pdf_extractor_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.minhash_lsh_pairs(docs, max_df=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
