"""Metric names and units the benchmark prints (mirrored in BENCHMARK.json)."""

END_TO_END = {
    "rows_per_s": "1/s",
    "job_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

_SEARCHES = ("exact_cosine", "lsh_banded", "lsh_salted", "ivf", "ivf_nprobe", "exact_l2", "pq")
_RECALL = ("lsh_banded", "lsh_salted", "ivf", "ivf_nprobe", "pq_adc")

PER_LAYER = {
    # Spark status store, diffed around the workload's traced call
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.driver_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    # session and sources
    "session.get_spark.s": "s",
    "session.warmup_s": "s",
    "sources.read_transcripts.s": "s",
    # core, replayed in one process without Spark
    "core.extract_turn.us.pdf": "us",
    "core.extract_turn.us.html": "us",
    "core.extract_turn.us.plain": "us",
    "core.pdfparse.parse_pdf.us": "us",
    "core.htmlextract.extract_main_text.us": "us",
    "core.textnorm.assemble_lines.us": "us",
    "core.fields.extract_fields.us": "us",
    "core.status_failed": "count",
    # operators.extract (the mapInPandas boundary)
    "operators.extract.extract_turns.s": "s",
    "operators.extract.python_s": "s",
    "operators.extract.overhead_us_per_turn": "us",
    # plans
    "plans.skew.shuffle_bytes": "B",
    "plans.skew.partition_rows_max_over_median": "ratio",
    "plans.skew.whales": "count",
    "plans.pipeline.run_pipeline.s": "s",
    "plans.pipeline.matched": "count",
    "plans.pipeline.not_matched": "count",
    "plans.pipeline.failed": "count",
    "plans.lineage.completed_buckets.s": "s",
    "plans.lineage.run_with_checkpoint.s": "s",
    "plans.lineage.buckets_done": "count",
    "plans.lineage.buckets_skipped": "count",
    "plans.lineage.write_bytes": "B",
    "plans.lineage.post_write_s": "s",
    "plans.lineage.scan_useful_ratio": "ratio",
    # operators.dedup
    "operators.dedup.minhash_lsh_pairs.s": "s",
    "operators.dedup.ngram_jaccard_pairs.s": "s",
    "operators.dedup.candidates": "count",
    "operators.dedup.verified": "count",
    "operators.dedup.verify_ratio": "ratio",
    "operators.dedup.connected_components.s": "s",
    "operators.dedup.connected_components.rounds": "count",
    "operators.dedup.connected_components.stages": "count",
    "operators.dedup.connected_components.executor_run_s": "s",
    "operators.dedup.connected_components.driver_s": "s",
    # operators.similarity / annfast / pq
    **{f"operators.similarity.{s}.s": "s" for s in _SEARCHES},
    **{f"ann.recall_hits.{m}": "count" for m in _RECALL},
    # the traced run itself
    "trace.job_s": "s",
    "trace.overhead_s": "s",
    "scaling_eff_1to4": "ratio",
}
