"""SparkSession factory tuned for this engine.

Local-mode defaults match the sandbox (one JVM, N threads); the same knobs
are what you would set per-executor on a real cluster. AQE is on so skewed
shuffles re-plan at runtime; Arrow is on because every Python-touching
operator here is a pandas UDF (no per-row Python anywhere, per the north
rule's input hint).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """16 g, or half the physical memory on a smaller machine: a local-mode
    heap larger than that lets the JVM grow until the kernel kills it. A
    multiple of 64 MB, because the JVM rounds the heap up to whole regions
    of at most 32 MB."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 21
    return f"{min(16 << 10, half_mb & ~63)}m"


def get_spark(
    app_name: str = "work_order_pdf_extractor_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cores]`` — used by the
    multi-JVM scaling protocol (``local-cluster[n,cores,mem]``: separate
    executor JVM processes on this box, the closest sandbox analog of
    N-executor cluster scaling). ``cores`` still sizes shuffle/scan
    partitioning (pass total cores across executors)."""
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # larger Arrow batches amortize per-batch JVM↔Python overhead;
        # measured ~2x on the extraction pipeline vs the 2048 default
        # (10k rows × ~2 KB payload ≈ 20 MB in flight per worker)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        # keep the Python worker pool stable: forks are expensive and
        # serialized in this sandbox (~0.7 s each), so never reap idle
        # workers between jobs
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.idleTimeoutSeconds", "0")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # local inputs are small; without a floor Spark would pack the whole
        # scan into a couple of tasks and starve the Python workers. On a
        # real cluster file count ≫ cores and this config is a no-op.
        .config(
            "spark.sql.files.minPartitionNum",
            str((32 if cores == "*" else int(cores)) * 2),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
