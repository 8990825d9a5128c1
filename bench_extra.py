#!/usr/bin/env python
"""Extra benchmarks for the optimization rounds (guide §1.4): per-query
noop-sink isolation, plan capture, and arbitrary data-dir selection —
WITHOUT touching the frozen bench.py.

Usage:
    python bench_extra.py --dir .bench_cache/sf1 q1 q2 ...   # time queries
    python bench_extra.py --dir ... --explain q1             # dump plan
    python bench_extra.py --dir ... --all                    # all headline

Prints one JSON line: {"queries": {name: best_sec}, "dir": ..., "hw": {...}}
Methodology matches bench.py: noop sink, best-of-2, clearCache between
queries, same session config/thread sizing, untimed warmup.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if "--dir" in args:
        i = args.index("--dir")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    explain = "--explain" in args
    if explain:
        args.remove("--explain")
    repeats = 2
    if "--n" in args:
        i = args.index("--n")
        repeats = int(args[i + 1])
        del args[i : i + 2]

    from bench import HEADLINE, _hw_probe
    from work_order_pdf_extractor_spark.queries import REGISTRY
    from work_order_pdf_extractor_spark.session import get_spark

    if "--all" in args:
        args = list(HEADLINE)

    spark = get_spark(app_name="bench_extra")
    threads = spark.sparkContext.defaultParallelism
    spark.range(0, 1_000_000, 1, threads).selectExpr("sum(id)").collect()
    spark.range(0, threads * 2, 1, threads * 2).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    if explain:
        for name in args:
            fn, _sql = REGISTRY[name]
            df = fn(spark, sf_dir)
            print(f"===== {name} =====")
            print(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            ))
            spark.catalog.clearCache()
        spark.stop()
        return

    times = {}
    for name in args:
        fn, _sql = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        best = float("inf")
        for _ in range(repeats):
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)
        spark.catalog.clearCache()
        print(f"  {name}: {times[name]}", file=sys.stderr)
    print(
        json.dumps(
            {
                "queries": times,
                "total": round(sum(times.values()), 3),
                "dir": sf_dir,
                "hw": _hw_probe(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
