"""Single-process pandas oracle (M0): produces golden outputs.

Runs the SAME pure extraction core (``core.extractor.extract_turn``) that
the Spark pandas UDFs run, but in one thread over a pandas frame —
reference-faithful semantics (markdown-fence stripping, null-on-failure,
str/int key normalization, NoEquip naming; ``work_order_extractor.py:
1663-1677, 1752-1774``) with none of the distribution machinery. The test
suite full-outer-joins Spark output against these goldens on
``(conv_id, turn_idx)`` and asserts per-turn text equality (SURVEY §5.1).
"""

from __future__ import annotations

import pandas as pd

from .core.extractor import extract_turn
from .core.textnorm import _JAVA_WS, normalize_key

GOLDEN_COLUMNS = [
    "conv_id", "turn_idx", "extracted_text", "spans", "work_order_number",
    "equipment_number", "customer", "order_date", "matched", "status",
]


def extract_goldens(
    transcripts: pd.DataFrame,
    reference_orders: set[str] | pd.DataFrame,
    crop: tuple | None = None,
) -> pd.DataFrame:
    """One golden row per input turn, ordered by (conv_id, turn_idx).
    ``crop`` defaults to the engine's DEFAULT_CROP; pass the reference's
    exact default ``(0, 0, 0.25, 0.25)`` to golden-check that
    configuration (see core/pdfparse.py DEFAULT_CROP note)."""
    # RAW trimmed reference set + dual probe below — exactly the
    # reference's shape (raw CSV set :976-996; str/int probe :1752-1767)
    # and the mirror of prepare_reference_orders/run_pipeline.
    # trim set pinned to Java's \s class, matching pipeline.trim_ws (the
    # Spark regexp_replace twin) — see core.textnorm._JAVA_WS
    if isinstance(reference_orders, pd.DataFrame):
        ref_set = {str(v).strip(_JAVA_WS) for v in reference_orders["Order"]}
    else:
        ref_set = {str(v).strip(_JAVA_WS) for v in reference_orders}
    ref_set.discard("")

    from .core import pdfparse

    eff_crop = crop if crop is not None else pdfparse.DEFAULT_CROP
    out_rows = []
    for row in transcripts.itertuples(index=False):
        res = extract_turn(row.text, row.tool, crop=eff_crop)
        wo = res["work_order_number"]
        wo_trim = wo.strip(_JAVA_WS) if wo is not None else None
        wo_norm = normalize_key(wo)
        out_rows.append(
            {
                "conv_id": row.conv_id,
                "turn_idx": row.turn_idx,
                "extracted_text": res["extracted_text"],
                "spans": res["spans"],
                "work_order_number": res["work_order_number"],
                "equipment_number": res["equipment_number"],
                "customer": res["customer"],
                "order_date": res["order_date"],
                "matched": (wo_trim is not None and wo_trim in ref_set)
                or (wo_norm is not None and wo_norm in ref_set),
                "status": res["status"],
            }
        )
    golden = pd.DataFrame(out_rows, columns=GOLDEN_COLUMNS)
    golden["turn_idx"] = golden["turn_idx"].astype("int32")
    return golden.sort_values(["conv_id", "turn_idx"], ignore_index=True)

