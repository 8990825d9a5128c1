#!/usr/bin/env python
"""IVF nprobe recall/latency sweep (VERDICT r5 ask #3): measures
recall@3 vs exact cosine and wall seconds for each (K, nprobe) operating
point on the deterministic query set (vec_id < 100) at the given sf dir.
Covers both the fixture K=8 and the scale-sizing K ~= sqrt(N) the IVF
literature prescribes. The numbers go into SCALE.md and pick the
production IVF_NPROBE default in queries.py (recall@3 >= 0.8 bar, same
treatment the banded-LSH family got in r5).

Usage: python tools/ivf_sweep.py [sf_dir]   (sweeps K in {8, sqrt(N)} x NPROBES)
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
NPROBES = [1, 2, 3, 4, 6, 8, 10, 12, 16]


def main() -> None:
    from pyspark.sql import functions as F

    from work_order_pdf_extractor_spark.operators import annfast, similarity
    from work_order_pdf_extractor_spark.session import get_spark

    spark = get_spark(app_name="ivf-sweep", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 100)
    exact = (
        annfast.cosine_topk_fast2(emb, query_df=q, k=3)
        .select("qid", "nid")
        .cache()
    )
    n_exact = exact.count()
    k_sqrt = max(2, round(math.sqrt(n)))
    print(f"# sf={SF} n_vectors={n} exact_rows={n_exact} k_sqrt={k_sqrt}")
    print("| K | nprobe | probe frac | recall@3 | seconds |")
    print("|---|---|---|---|---|")
    for K in (8, k_sqrt):
        trained = similarity.ivf_centroids(emb, K, 2)
        model = spark.createDataFrame(trained.collect(), trained.schema)
        for nprobe in NPROBES:
            if nprobe > K:
                continue
            t0 = time.time()
            approx = annfast.ivf_topk_nprobe_fast(
                emb, k=3, nprobe=nprobe, centroids=model
            ).select("qid", "nid")
            hits = exact.join(
                approx.join(q.select(F.col("vec_id").alias("qid")), "qid", "left_semi"),
                ["qid", "nid"],
                "left_semi",
            ).count()
            dt = time.time() - t0
            print(
                f"| {K} | {nprobe} | {nprobe / K:.3f} | "
                f"{hits / n_exact:.3f} | {dt:.2f} |",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
