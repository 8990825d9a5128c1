#!/usr/bin/env python
"""Banded-LSH (bands, planes_per_band) recall/latency sweep (VERDICT r4
ask #3): measures recall@3 vs exact cosine and wall seconds for each
configuration on the deterministic query set (vec_id < 100), at the
given sf dir. The numbers go into SCALE.md and pick the production
default in queries.py.

Usage: python tools/ann_sweep.py [sf_dir] [--configs 4x4,8x4,8x3,16x3]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
CONFIGS = [(4, 4), (8, 4), (8, 3), (16, 3), (16, 4), (24, 3)]


def main() -> None:
    from pyspark.sql import functions as F

    from work_order_pdf_extractor_spark.operators import annfast
    from work_order_pdf_extractor_spark.session import get_spark

    spark = get_spark(app_name="ann-sweep", cores=8)
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
    print(f"# sf={SF} n_vectors={n} exact_rows={n_exact}")
    print("| bands | planes/band | total planes | recall@3 | seconds |")
    print("|---|---|---|---|---|")
    for bands, ppb in CONFIGS:
        t0 = time.time()
        approx = annfast.lsh_topk_banded_fast(
            emb, k=3, bands=bands, planes_per_band=ppb
        ).select("qid", "nid")
        hits = exact.join(approx, ["qid", "nid"], "left_semi").count()
        dt = time.time() - t0
        print(
            f"| {bands} | {ppb} | {bands * ppb} | "
            f"{hits / n_exact:.3f} | {dt:.2f} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
