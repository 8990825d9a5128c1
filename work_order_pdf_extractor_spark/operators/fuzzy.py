"""Fuzzy key matching: edit-distance-1 join via deletion-neighborhood
blocking (the published SymSpell scheme) + exact levenshtein verify.

The reference's semi-join is exact-key (``work_order_extractor.py:
1752-1767`` str/int double lookup); real extracted keys carry OCR/typo
noise, and the naive fuzzy fix — ``JOIN ON levenshtein(a, b) <= 1`` —
is a cross join. Deletion blocking makes it a hash join: two strings
within Damerau/Levenshtein distance 1 share a member of each other's
depth-1 deletion neighborhoods, so generating ``len(key)+1`` variants
per key (the key itself plus every single-character deletion) and
equi-joining on the variant yields a candidate set that provably
contains every distance-≤1 pair; one ``levenshtein`` per CANDIDATE
(never per cross pair) then verifies.

100-TB shape: work is O(rows × key_len) variant rows joined on a
well-distributed string key — no cross product, no skew (variants of
distinct keys rarely collide), and the verify predicate is JVM-side
(``F.levenshtein``, mirrored exactly by DuckDB's ``levenshtein``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fuzzy_semi_join(
    probe: DataFrame,
    ref: DataFrame,
    probe_key: str,
    ref_key: str,
    id_col: str,
) -> DataFrame:
    """For each probe id, the best reference key within ONE edit (ties
    broken by smaller distance, then lexicographic reference key, then
    lexicographic probe key), or no row if none. Distance 1 is the only
    radius: depth-1 deletion blocking is complete exactly for distance
    ≤ 1 (deeper neighborhoods would be needed beyond that, and the
    guarantee is the point). Output: one row per probe id — a probe id
    that repeats (several rows, same or different keys) still gets
    exactly one row, its best match over all of its keys.

    Plan shape: reference key sets are dim-sized even when the probe
    side is the 100-TB fact, so the reference side is always broadcast:
    the exact-hit test and the variant join are BroadcastHashJoins, the
    probe side is scanned once with NO shuffle before the verify, and
    the only probe-side Exchange in the whole plan is the per-probe-id
    winner window at the end. Candidate pairs that arise from several
    shared deletion variants are deliberately NOT pre-deduplicated: a
    duplicate candidate costs one extra JVM ``levenshtein`` on a short
    key, while deduplicating it costs a full shuffle of the candidate
    set — the closing ``row_number() = 1`` window already collapses
    duplicates for free."""
    pv0 = probe.select(id_col, F.col(probe_key).alias("pkey"))
    rk = ref.select(F.col(ref_key).alias("rkey")).distinct()

    # r7 EXACT-MATCH SHORT-CIRCUIT: a probe key that exists verbatim in
    # the reference set is its own dist-0 match (only rkey == pkey can be
    # dist 0 — unique after the rkey distinct — and dist 0 beats every
    # dist-1 candidate), so those rows skip variant generation, candidate
    # join and levenshtein — one broadcast semi-join on the bare key
    # decides them. Only the MISS minority (noisy keys — the realistic
    # deployment shape) pays the fuzzy machinery. The exact rows still
    # enter the closing winner window: it is what keeps the output at
    # one row per probe id when an id repeats (with a hit and a miss, or
    # the same hit twice).
    rk_b = F.broadcast(rk)
    exact = pv0.join(rk_b, pv0["pkey"] == rk["rkey"], "left_semi").select(
        id_col, "pkey", F.col("pkey").alias("rkey"), F.lit(0).alias("dist")
    )
    misses = pv0.join(rk_b, pv0["pkey"] == rk["rkey"], "left_anti")

    # NOTE (r7): the old pre-explode repartition(id) is gone — the Arrow
    # variant pass cannot advertise its partitioning to the planner, so
    # keeping it would ADD an exchange instead of eliding the window's.
    # The probe side now carries exactly one shuffle: the closing window
    # over VERIFIED rows (post-reduction, the smallest set in the plan).
    # Scan-level parallelism is guaranteed by the session's
    # files.minPartitionNum floor (ensure_parallelism's fan-out exists for
    # single-task scans of tiny inputs; with the variant pass vectorized
    # the remaining single-task cost is the Arrow batch itself, which
    # the floor already splits), so this path does not fan out.
    # r7: variant generation runs in one Arrow pass (_explode_variants —
    # the interpreted per-variant substring/concat chain was a measured
    # 2.5 s per side at sf1), and the candidate join keys on xxhash64(v)
    # — 8 bytes instead of a len(key)-char string (guide §2.3), with a
    # LongHashedRelation broadcast build. Provably result-identical even
    # under hash collisions: a collision-added candidate either has
    # dist ≤ 1 (then it already shared a TRUE deletion variant and was a
    # candidate anyway — the closing row_number window deduplicates) or
    # dist > 1 (the levenshtein verify drops it); NULL-key rows hash
    # equal but verify to NULL distance and are dropped, matching the
    # original never-joins-on-NULL behavior.
    pv = _explode_variants(misses, "pkey").select(
        id_col, "pkey", F.xxhash64("v").alias("vh")
    )
    rv = _explode_variants(rk, "rkey").select(
        "rkey", F.xxhash64("v").alias("vh")
    )
    verified = (
        pv.join(F.broadcast(rv), "vh")
        .select(id_col, "pkey", "rkey", F.levenshtein("pkey", "rkey").alias("dist"))
        .filter(F.col("dist") <= 1)
    )
    w = Window.partitionBy(id_col).orderBy("dist", "rkey", "pkey")
    return (
        exact.unionByName(verified)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            F.col("pkey").alias("probe_key"),
            F.col("rkey").alias("matched_key"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def _explode_variants(df: DataFrame, key_col: str) -> DataFrame:
    """One row per (input row, depth-1 deletion variant incl. the key
    itself, deduplicated within the key), in one Arrow pass. A NULL key
    emits a single NULL variant (it hashes like any other but verifies
    to a NULL distance, so it never matches). All input columns pass
    through."""
    import pandas as _pd
    from collections.abc import Iterator as _It

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    cols = [f.name for f in df.schema.fields]

    def fn(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for b in batches:
            out = {c: [] for c in cols}
            vs: list = []
            data = list(zip(*[b[c].tolist() for c in cols]))
            ki = cols.index(key_col)
            for rowvals in data:
                k = rowvals[ki]
                if k is None:
                    variants = [None]
                else:
                    variants = list(
                        dict.fromkeys(
                            [k] + [k[:i] + k[i + 1 :] for i in range(len(k))]
                        )
                    )
                for c, val in zip(cols, rowvals):
                    out[c].extend([val] * len(variants))
                vs.extend(variants)
            out["v"] = vs
            yield _pd.DataFrame(out)

    return df.mapInPandas(fn, schema=f"{fields}, v string")
