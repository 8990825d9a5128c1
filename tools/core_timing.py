#!/usr/bin/env python
"""In-process ``extract_turn`` cost per payload family, best of 5 passes.

Generates the seed-1 ``small`` fixture (``fixtures.gen_transcripts``), runs
``extract_turn`` over every turn of each family (``pdf`` = ``pdf_reader``,
``html`` = ``browser``, ``plain`` = the rest) 5 times in this process, and
prints one JSON line: the best pass's µs per turn for each family, the turn
counts, the ``extraction_failed`` count and a sha256 over every output row.
Two checkouts whose ``outputs_sha256`` agree extract the fixture identically.
One pass times the whole family, so the figure is far steadier than a
single timed call per turn; compare two checkouts by running them
alternately, several times each.

Usage: python tools/core_timing.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAMILIES = {"pdf": "pdf_reader", "html": "browser"}
SCALE, SEED, PASSES = "small", 1, 5


def main() -> None:
    from work_order_pdf_extractor_spark import fixtures
    from work_order_pdf_extractor_spark.core.extractor import STATUS_FAILED, extract_turn

    turns = fixtures.gen_transcripts(SCALE, seed=SEED)
    fam = turns["tool"].map({t: f for f, t in FAMILIES.items()}).fillna("plain")
    out: dict = {"scale": SCALE, "seed": SEED, "passes": PASSES}
    for f in ("pdf", "html", "plain"):
        rows = turns.loc[fam == f]
        pairs = list(zip(rows["text"], rows["tool"]))
        best = float("inf")
        for _ in range(PASSES):
            t0 = time.perf_counter()
            for text, tool in pairs:
                extract_turn(text, tool)
            best = min(best, time.perf_counter() - t0)
        out[f"us_{f}"] = round(best / max(len(pairs), 1) * 1e6, 1)
        out[f"turns_{f}"] = len(pairs)
    results = [extract_turn(t, tl) for t, tl in zip(turns["text"], turns["tool"])]
    out["failed"] = sum(r["status"] == STATUS_FAILED for r in results)
    digest = hashlib.sha256("\n".join(repr(sorted(r.items())) for r in results).encode())
    out["outputs_sha256"] = digest.hexdigest()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
