"""The flagship end-to-end job (SURVEY §3.1 mapped to one DataFrame plan).

Reference trace being re-expressed::

    scan folder → rasterize p.1 → crop → GPT extract → normalize key →
    probe in-memory set → rename/move file → running counters
    (work_order_extractor.py:1842-1946)

Spark plan::

    read transcripts → mapInPandas extraction (payload column dropped
    inside the pass) → salted repartition(conv_id) → JVM-side key
    normalization → dual broadcast LEFT probe vs reference orders (both
    dispositions from the probe, like the reference's single set lookup
    :1752-1767) → disposition/out_name columns (rename/move become data,
    :1769-1797) → observe() metrics (the reference's session_stats
    :1887-1916)

Every entry point runs this one plan: ``main.py`` (both batch modes),
``lineage.run_with_checkpoint``, each ``streaming.incremental`` micro-batch,
:func:`preview` and the driver contract's ``entry``.

Scale notes: the shuffles are the salted repartition (explicit,
skew-proofed) and its whale census (a count per conversation over the raw
``conv_id`` column) — the probe joins are broadcast (build side ≈ 900
keys ≪ 10 MB threshold) and metrics ride on ``observe`` (no extra pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..core.pdfparse import DEFAULT_CROP
from ..operators.extract import extract_turns
from . import skew


def trim_ws(col: F.Column) -> F.Column:
    """Trim Java-``\\s`` whitespace (space/tab/newline/VT/FF/CR) from both
    ends. ``F.trim`` strips ASCII spaces ONLY, so a key like ``'00123\\n'``
    would keep its newline here while the Python twin strips it — flipping
    ``matched`` (ADVICE r2). Both sides now pin the exact same set."""
    return F.regexp_replace(col, r"^\s+|\s+$", "")


def normalize_key_col(col: F.Column) -> F.Column:
    """JVM-side equivalent of ``core.textnorm.normalize_key``: trim Java-\\s
    whitespace; if ASCII-digits-only, strip leading zeros (keep one). The
    zero-strip is a regex, NOT ``cast('long')`` — under Spark 4 ANSI mode a
    digits-only key longer than 19 chars would throw CAST_INVALID_INPUT and
    kill the job, violating the 'failures degrade, never crash' rule; the
    regex is length-unbounded and total. Digit anchoring uses ``\\A``/``\\z``
    (absolute ends) because Java's ``$`` matches BEFORE a trailing newline,
    which would misclassify ``'123\\n'`` as digits-only."""
    t = trim_ws(col)
    return F.when(t == "", None).when(
        t.rlike(r"\A[0-9]+\z"), F.regexp_replace(t, "^0+(?!$)", "")
    ).otherwise(t)


def prepare_reference_orders(ref_df: DataFrame) -> DataFrame:
    """Build side: RAW trimmed keys + distinct (the reference's CSV→set,
    ``work_order_extractor.py:976-996``, keeps raw strings; normalization
    happens on the PROBE side via the dual probe in :func:`run_pipeline`,
    mirroring the reference's str/int double lookup :1752-1767)."""
    t = trim_ws(F.col("Order").cast("string"))
    return (
        ref_df.select(t.alias("ref_order"))
        .where(F.col("ref_order").isNotNull() & (F.col("ref_order") != ""))
        .distinct()
    )


def run_pipeline(
    transcripts: DataFrame,
    reference_orders: DataFrame,
    crop: tuple = DEFAULT_CROP,
    observation: Observation | None = None,
    whales: DataFrame | None = None,
    ref_prepared: bool = False,
) -> DataFrame:
    """transcripts × reference_orders → per-turn extraction results.

    Output schema: ``(conv_id, turn_idx, role, tool, ts, extracted_text,
    spans, work_order_number, equipment_number, customer, order_date,
    status, matched, disposition, out_name)`` — one row per input turn,
    distributed by the salted ``(conv_id, salt)`` repartition of
    ``skew.repartition_salted``. ``observation`` collects the run's
    counters on the same pass.

    ``whales``/``ref_prepared``: amortizable inputs. The skew census and the
    normalized-distinct reference set are properties of the data, not of a
    run — long-lived deployments compute them once (table metadata / a
    materialized dim) instead of re-deriving them inside every job.
    """
    # ORDER MATTERS AT SCALE: extraction runs FIRST, on the scan's own
    # partitioning — the wide payload column is consumed and dropped inside
    # the mapInPandas pass and NEVER shuffles. Only the small extracted rows
    # are redistributed afterwards (salted, for conversation-local
    # downstream ops). Shuffling payloads before extraction would move the
    # entire 100 TB corpus across the network for zero benefit. The whale
    # census reads the RAW input (pruned conv_id column scan), never the
    # extraction output — see repartition_salted docstring.
    extracted = (
        skew.repartition_salted(
            extract_turns(transcripts, crop), lengths_source=transcripts, whales=whales
        )
        .withColumn("wo_trim", trim_ws(F.col("work_order_number")))
        .withColumn("wo_norm", normalize_key_col(F.col("work_order_number")))
    )

    ref = (
        reference_orders.select(F.col("ref_order"))
        if ref_prepared
        else prepare_reference_orders(reference_orders)
    )
    # the reference's DUAL PROBE (work_order_extractor.py:1752-1767): the
    # raw extracted key AND its int-normalized form are both looked up in
    # the raw reference set. Two broadcast HASH joins (equality keys; an
    # OR-of-equalities join would degrade to BroadcastNestedLoopJoin) —
    # both narrow, zero shuffle, build side deduped.
    ref_raw = ref.select(F.col("ref_order").alias("ref_hit_raw"))
    ref_nrm = ref.select(F.col("ref_order").alias("ref_hit_norm"))
    joined = extracted.join(
        F.broadcast(ref_raw), extracted.wo_trim == ref_raw.ref_hit_raw, "left"
    ).join(F.broadcast(ref_nrm), F.col("wo_norm") == ref_nrm.ref_hit_norm, "left")

    result = (
        joined.withColumn(
            "matched",
            F.col("ref_hit_raw").isNotNull() | F.col("ref_hit_norm").isNotNull(),
        )
        .withColumn(
            "disposition",
            F.when(F.col("matched"), F.lit("matched")).otherwise(F.lit("not_matched")),
        )
        # rename-on-match only: the reference renames matched files and
        # moves unmatched ones under their ORIGINAL name (:1769-1797)
        .withColumn(
            "out_name",
            F.when(
                F.col("matched") & F.col("work_order_number").isNotNull(),
                F.format_string(
                    "CS-%s-%s.pdf",
                    F.col("work_order_number"),
                    F.coalesce(F.col("equipment_number"), F.lit("NoEquip")),
                ),
            ),
        )
        .drop("wo_trim", "wo_norm", "ref_hit_raw", "ref_hit_norm")
    )

    if observation is not None:
        # the reference's running counters (success/failed/matched/…,
        # work_order_extractor.py:103-114, 1887-1916) as a zero-cost
        # observe() on the same pass — no second job.
        result = result.observe(
            observation,
            F.count(F.lit(1)).alias("files_processed"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("successful"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("failed"),
            F.sum(F.when(F.col("matched"), 1).otherwise(0)).alias("matched"),
            F.sum(F.when(~F.col("matched"), 1).otherwise(0)).alias("not_matched"),
        )
    return result


def preview(
    transcripts: DataFrame,
    reference_orders: DataFrame,
    crop: tuple = DEFAULT_CROP,
    n: int = 1,
) -> list:
    """The reference's `test_crop` entry point (SURVEY §3.2,
    ``work_order_extractor.py:1480-1534``): extract the first n turns by
    deterministic order and collect them for inspection — `limit` +
    the same plan as :func:`run_pipeline` + local collect."""
    first = transcripts.orderBy("conv_id", "turn_idx").limit(n)
    return run_pipeline(first, reference_orders, crop=crop).collect()


def write_partitioned(result: DataFrame, out_dir: str) -> None:
    """Disposition sink: the reference renames/moves files
    (``work_order_extractor.py:1769-1797``); here disposition is a partition
    column of a table the run overwrites — idempotent, atomic per partition."""
    result.write.mode("overwrite").partitionBy("disposition").parquet(out_dir)
