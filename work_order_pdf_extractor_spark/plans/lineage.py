"""Per-partition checkpoint + lineage + idempotent resume (north rule; M5).

The reference's "exactly once" is destructive: a processed file is renamed
away, so a rerun silently skips it (``work_order_extractor.py:1769-1797``).
Here the same guarantee is data-engineering-grade:

- input is hashed into ``n_buckets`` stable buckets on ``conv_id``
  (``pmod(xxhash64(conv_id), n)``) — the checkpoint/commit unit, playing
  the role of an Iceberg partition commit in the sandbox's
  parquet-directory fallback (SURVEY §4, §7 risk 4);
- one Spark job processes ALL incomplete buckets (no per-bucket job loop —
  at 1000 executors a bucket-at-a-time driver loop would serialize the
  cluster), writing ``partitionBy("bucket")`` into ``_tmp-<run_id>``;
- each bucket directory is then atomically renamed to ``data/bucket=N``
  and its lineage row ``(bucket, rows_in, rows_out, n_failed,
  input_fingerprint, run_id)`` is written to
  ``_lineage/bucket-%05d-<run_id>.json`` — rename BEFORE lineage;
- the commit record is the set of FILE NAMES: a bucket is done when it has
  a lineage file or a ``data/bucket=N`` directory, so resume is two
  directory listings and never a Spark job. Not-done buckets are dropped
  by an ``isin`` filter on the bucket expression before the expensive UDF
  runs;
- a bucket id means something only under the modulus that wrote it, so
  ``_n_buckets`` records ``n_buckets`` once per output directory, and a
  run with another count raises instead of skipping or re-writing the
  wrong rows;
- a crash between rename and lineage append leaves a visible-but-unrecorded
  bucket. Resume repairs it WITHOUT reprocessing: it recomputes that
  bucket's lineage row from the committed parquet (the only case that
  reads committed data) and appends it.

:func:`run_with_checkpoint` runs this protocol around the extraction plan
(``plans.pipeline.run_pipeline``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..core.pdfparse import DEFAULT_CROP
from .pipeline import run_pipeline

DEFAULT_N_BUCKETS = 64

# ``_append_lineage_row``'s file name; ``.tmp`` leftovers and strays never match
_LINEAGE_NAME = re.compile(r"bucket-(\d+)-.+\.json")
_COUNTERS = ("files_processed", "successful", "failed", "matched", "not_matched")


def bucket_col(n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _data_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "data")


def _check_n_buckets(out_dir: str, n_buckets: int) -> None:
    """Record ``n_buckets`` in ``out_dir/_n_buckets`` on the first run and
    raise ``ValueError`` when a later run asks for another count. A
    directory without the record (written before it existed) is accepted
    and gets one."""
    path = os.path.join(out_dir, "_n_buckets")
    if not os.path.exists(path):
        with open(path + ".tmp", "w") as f:
            f.write(f"{n_buckets}\n")
        os.replace(path + ".tmp", path)  # atomic on POSIX
        return
    with open(path) as f:
        recorded = int(f.read())
    if recorded != n_buckets:
        raise ValueError(
            f"{out_dir} was committed with n_buckets={recorded}; resuming it "
            f"with n_buckets={n_buckets} would lose or duplicate rows"
        )


def _listdir(path: str) -> list[str]:
    return os.listdir(path) if os.path.isdir(path) else []


def _bucket_dirs(path: str) -> set[int]:
    """Bucket ids of the ``bucket=N`` partition directories under ``path``."""
    return {
        int(n.split("=", 1)[1]) for n in _listdir(path) if n.startswith("bucket=")
    }


def _lineage_buckets(out_dir: str) -> set[int]:
    names = (_LINEAGE_NAME.fullmatch(n) for n in _listdir(_lineage_dir(out_dir)))
    return {int(m.group(1)) for m in names if m}


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Buckets with a lineage file or a committed data directory (listings
    only, no Spark job; ``spark`` is kept for callers)."""
    return _lineage_buckets(out_dir) | _bucket_dirs(_data_dir(out_dir))


def _append_lineage_row(out_dir: str, row: dict) -> None:
    ld = _lineage_dir(out_dir)
    os.makedirs(ld, exist_ok=True)
    path = os.path.join(ld, f"bucket-{row['bucket']:05d}-{row['run_id']}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(row) + "\n")
    os.replace(tmp, path)  # atomic on POSIX


def _lineage_rows(run_id: str, rows: DataFrame, buckets: list[int]) -> dict[int, dict]:
    """One lineage row per bucket, its counts aggregated from ``rows`` (the
    bucket's written output). Every output row is one input row, so
    ``rows_in`` is ``rows_out``."""
    stats = {
        int(r["bucket"]): (r["rows_out"], r["n_failed"], r["input_fingerprint"])
        for r in rows.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("rows_out"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("n_failed"),
            F.expr("bit_xor(row_fp)").alias("input_fingerprint"),
        )
        .collect()
    }
    out = {}
    for b in buckets:
        n, n_failed, fp = stats.get(b, (0, 0, 0))
        out[b] = {"bucket": b, "rows_in": n, "rows_out": n, "n_failed": n_failed,
                  "input_fingerprint": fp, "run_id": run_id}
    return out


def run_with_checkpoint(
    spark: SparkSession,
    transcripts: DataFrame,
    reference_orders: DataFrame,
    out_dir: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    crop: tuple = DEFAULT_CROP,
    run_id: str | None = None,
) -> dict:
    """Process all not-yet-committed buckets: repair unrecorded buckets,
    then write the extraction of every not-done bucket's rows to
    ``_tmp-<run_id>`` partitioned by ``bucket``, read back per-bucket
    stats, rename each bucket directory into ``data/`` and append its
    lineage row.

    Returns a summary dict ``{"run_id", "buckets_total",
    "buckets_skipped", "buckets_done", "metrics"}``, ``metrics`` being
    this run's counters (``files_processed``, ``successful``, ``failed``,
    ``matched``, ``not_matched``). Safe to re-invoke after any crash; a
    fully committed output is a no-op rerun that runs no Spark job
    (idempotency property test in the suite); a rerun with another
    ``n_buckets`` raises ``ValueError`` before any of that."""
    run_id = run_id or uuid.uuid4().hex[:12]
    os.makedirs(out_dir, exist_ok=True)
    _check_n_buckets(out_dir, n_buckets)
    dd = _data_dir(out_dir)

    # repair: record lineage for dirs present without rows (crash window)
    unrecorded = sorted(_bucket_dirs(dd) - _lineage_buckets(out_dir))
    if unrecorded:
        committed = spark.read.option("basePath", dd).parquet(
            *[os.path.join(dd, f"bucket={b}") for b in unrecorded]
        )
        for row in _lineage_rows(run_id, committed, unrecorded).values():
            _append_lineage_row(out_dir, row)

    done = completed_buckets(spark, out_dir)
    done_now = 0
    counters = {}
    if not done.issuperset(range(n_buckets)):
        bucket = bucket_col(n_buckets)
        # bucket ids are never NULL, so the negated isin (an InSet) equals
        # the anti-join against the done set
        todo = transcripts.where(~bucket.isin(sorted(done))) if done else transcripts
        obs = Observation()
        # one job for every remaining bucket; salting happens inside run_pipeline
        result = (
            run_pipeline(todo, reference_orders, crop=crop, observation=obs)
            # order-insensitive per-bucket input fingerprint (input-snapshot id)
            .withColumn("row_fp", F.xxhash64("conv_id", "turn_idx"))
            .withColumn("bucket", bucket)
        )
        tmp_dir = os.path.join(out_dir, f"_tmp-{run_id}")
        result.write.mode("overwrite").partitionBy("bucket").parquet(tmp_dir)
        written = sorted(_bucket_dirs(tmp_dir))
        if written:
            # the schema is known, so the read-back infers nothing from footers
            stats = spark.read.schema(result.schema).parquet(tmp_dir)
            os.makedirs(dd, exist_ok=True)
            for b, row in _lineage_rows(run_id, stats, written).items():
                final = os.path.join(dd, f"bucket={b}")
                if os.path.exists(final):  # already committed by a racing/prior run
                    continue
                os.replace(os.path.join(tmp_dir, f"bucket={b}"), final)  # atomic rename first
                _append_lineage_row(out_dir, row)
                done_now += 1
        shutil.rmtree(tmp_dir, ignore_errors=True)
        counters = obs.get

    return {
        "run_id": run_id,
        "buckets_total": len(completed_buckets(spark, out_dir)),
        "buckets_skipped": len(done),
        "buckets_done": done_now,
        # sums over zero rows are NULL: a run that processed nothing counted 0
        "metrics": {k: int(counters.get(k) or 0) for k in _COUNTERS},
    }


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed result table (all buckets)."""
    return spark.read.parquet(_data_dir(out_dir))
