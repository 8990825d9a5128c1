#!/usr/bin/env python3
"""Run the benchmark once per seed and print each metric's spread.

    python3 perfbench/spread.py --workload extract_resume --seeds 1 2 3 4 5

For every metric of the result line: the median over the runs and the
distance between the first and third quartile (``statistics.quantiles(n=4)``)
as a share of the median. Run it from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
        )
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(seed, json.dumps(res), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        print(f"{k:40s} median {med:12.4f}  iqr/median {(q[2] - q[0]) / med if med else 0.0:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
