"""Product quantization (PQ) ANN: train per-subspace codebooks, encode
vectors as m small codes, search by asymmetric distance (ADC).

The third ANN scale path beside hyperplane-LSH and IVF (public PQ
literature: Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011). Why it matters at 100 TB: a 64-dim float vector is
256 bytes; its PQ code is m=8 small ints — a ~30× compression — so the
SEARCHABLE corpus representation fits in a fraction of the storage and
the search-side shuffle carries only ``(vec_id, code…)`` rows, never
embeddings. Search cost per query is a LUT of ``m × ksub`` rounded
distances (built against the broadcast codebook) plus one narrow
join + sum over the code table.

Determinism (both engines bit-identical, same recipe as
``similarity.ivf_centroids``):

- init: per subspace, bucket rows by ``md5(vec_id) % ksub``; each
  bucket's min-hash row seeds one codeword.
- distances: sequential-order dot products on both sides
  (``_dot``/``list_dot_product``), combined as ``d² = <a,a> − 2<a,b> +
  <b,b>`` and ROUNDed to 4 dp before any argmin/tiebreak.
- means: per-dimension DECIMAL(28,9) sums (order-free) ÷ count.
- ADC totals: per-subspace rounded terms summed as DECIMAL(18,4) —
  order-free, so ranking never depends on float addition order
  (:func:`pq_topk_fast` reproduces that sum exactly in int64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import _dot

PQ_M = 8       # subspaces
PQ_KSUB = 16   # codewords per subspace
PQ_ITERS = 1   # Lloyd iterations after seeding


def _subvectors(
    df: DataFrame, m: int, dsub: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, j, sv): one row per (vector, subspace), sv cast to double."""
    pieces = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.transform(
                    F.slice(F.col(vec_col), j * dsub + 1, dsub),
                    lambda x: x.cast("double"),
                ).alias("sv"),
            )
            for j in range(m)
        ]
    )
    return df.select(
        F.col(id_col).alias("sid"), F.explode(pieces).alias("p")
    ).select("sid", F.col("p.j").alias("j"), F.col("p.sv").alias("sv"))


def _d2(a: str, b: str) -> F.Column:
    """Rounded squared L2 via the dot-product identity — each dot is a
    sequential fold, IEEE-identical to DuckDB's list_dot_product."""
    return F.round(_dot(a, a) - 2 * _dot(a, b) + _dot(b, b), 4)


def pq_codebooks(
    df: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the m per-subspace codebooks. At 100 TB this runs over a
    sample (``df.sample``) exactly like IVF training; the result is a
    ``m × ksub``-row model you broadcast everywhere else.
    Output: (j int, code_id int, cv array<double>)."""
    first = df.select(F.size(vec_col).alias("d")).first()
    dims = int(first["d"]) if first is not None else 0
    dsub = dims // m
    sub = _subvectors(df, m, dsub, id_col, vec_col)
    hh = F.conv(
        F.substring(F.md5(F.col("sid").cast("string")), 1, 8), 16, 10
    ).cast("long")
    seeded = sub.select("sid", "j", "sv", hh.alias("hh"))
    w = Window.partitionBy("j", F.col("hh") % ksub).orderBy("hh", "sid")
    cbs = (
        seeded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "j",
            (F.col("hh") % ksub).cast("int").alias("code_id"),
            F.col("sv").alias("cv"),
        )
    )
    for _ in range(iters):
        scored = sub.join(F.broadcast(cbs), "j").select(
            "sid", "j", "sv", "code_id", _d2("sv", "cv").alias("d2")
        )
        assigned = (
            scored.groupBy("sid", "j")
            .agg(
                F.min_by(
                    F.struct("code_id", "sv"), F.struct("d2", "code_id")
                ).alias("w")
            )
            .select("j", F.col("w.code_id").alias("code_id"),
                    F.col("w.sv").alias("sv"))
        )
        mean_cols = [
            (
                F.sum(F.col("sv")[d].cast("decimal(28,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias(f"m{d}")
            for d in range(dsub)
        ]
        cbs = (
            assigned.groupBy("j", "code_id")
            .agg(*mean_cols)
            .select(
                "j", "code_id",
                F.array(*[F.col(f"m{d}") for d in range(dsub)]).alias("cv"),
            )
        )
    return cbs


def pq_codes(
    df: DataFrame,
    codebooks: DataFrame,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-codeword assignment: (sid, j, code) rows — the compressed
    corpus representation a deployment materializes once and then
    searches instead of the embeddings."""
    first = df.select(F.size(vec_col).alias("d")).first()
    dims = int(first["d"]) if first is not None else 0
    sub = _subvectors(df, m, dims // m, id_col, vec_col)
    scored = sub.join(F.broadcast(codebooks), "j").select(
        "sid", "j", "code_id", _d2("sv", "cv").alias("d2")
    )
    return scored.groupBy("sid", "j").agg(
        F.min_by("code_id", F.struct("d2", "code_id")).alias("code")
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize every vector to its m nearest codewords (broadcast
    codebooks, narrow map + one small shuffle of (id, j, code) rows).
    Output: (vec_id, code_str) with codes joined '-' in subspace order —
    a string so the cross-engine value-hash is format-stable."""
    return (
        pq_codes(df, codebooks, m, id_col, vec_col)
        .groupBy("sid")
        .agg(
            F.array_sort(F.collect_list(F.struct("j", "code"))).alias("cs")
        )
        .select(
            F.col("sid").alias(id_col),
            F.concat_ws(
                "-", F.transform("cs", lambda s: s["code"].cast("string"))
            ).alias("code_str"),
        )
    )


def pq_topk_fast(
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over the stored PQ codes: the query keeps
    its exact subvectors, the corpus is represented ONLY by ``codes``
    (``(sid, j, code)`` rows from :func:`pq_codes`, materialized once), so
    the corpus embedding column is never read at search time — the PQ
    storage win. Per query, an m×ksub LUT of rounded subspace distances
    is built against the broadcast codebook by the same JVM fold as
    training and collected (m×ksub×|queries| rows, tiny); the ADC
    accumulation is then one numpy integer gather-sum per Arrow batch of
    the wide code table.

    Exactness against the oracle's DECIMAL(18,4) sum: each LUT entry is
    ``round(d2, 4)`` — a double within 1e-12 of its 4-decimal value — so
    ``rint(dist·10⁴)`` recovers the decimal integer exactly (no HALF_UP
    boundary can be hit), the int64 sum equals the decimal sum, and
    ``Σ/10⁴`` in float64 is the correctly-rounded double of the exact
    decimal — the value ``cast(sum as double)`` produces. Ranking keys on
    the integer sums directly. Output: (qid, nid, adist, rank)."""
    import numpy as np
    import pandas as _pd
    from collections.abc import Iterator as _It

    first = queries.select(F.size(vec_col).alias("d")).first()
    dims = int(first["d"]) if first is not None else 0
    dsub = dims // m
    if codes is None:
        raise ValueError("pq_topk_fast needs the materialized codes table")
    qsub = _subvectors(queries, m, dsub, id_col, vec_col).select(
        F.col("sid").alias("qid"), "j", F.col("sv").alias("qv")
    )
    lut_rows = (
        qsub.join(F.broadcast(codebooks), "j")
        .select("qid", "j", "code_id", _d2("qv", "cv").alias("dist"))
        .collect()
    )
    qids = np.array(sorted({r["qid"] for r in lut_rows}), dtype=np.int64)
    qpos = {int(q): i for i, q in enumerate(qids)}
    ksub = 1 + max(r["code_id"] for r in lut_rows)
    lut = np.zeros((len(qids), m, ksub), dtype=np.int64)
    for r in lut_rows:
        lut[qpos[int(r["qid"])], r["j"], r["code_id"]] = int(
            round(r["dist"] * 10000)
        )
    kk = k + 1

    codes_wide = (
        codes.groupBy("sid")
        .agg(F.array_sort(F.collect_list(F.struct("j", "code"))).alias("cs"))
        .select(
            "sid", F.transform("cs", lambda s: s["code"]).alias("cv")
        )
    )

    def fn(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for b in batches:
            if len(b) == 0:
                continue
            sids = np.asarray(b["sid"].values, dtype=np.int64)
            C = np.array(list(b["cv"]), dtype=np.int64)  # (n, m)
            D = np.zeros((len(qids), len(sids)), dtype=np.int64)
            for j in range(m):
                D += lut[:, j, C[:, j]]
            take = min(kk, len(sids))
            # selection keyed on the exact integer sums (adist ASC, nid
            # ASC): ids occupy disjoint low ranges per sum value, so the
            # composite key is a strict encoding of the total order;
            # guard the key range (huge ids/distances fall back to a
            # per-row lexsort of the same order)
            if (
                len(sids)
                and sids.min() >= 0
                and sids.max() < (1 << 33)
                and D.max() < (1 << 29)
            ):
                key = (D << 33) + sids[None, :]
                if take < len(sids):
                    part = np.argpartition(key, take - 1, axis=1)[:, :take]
                    sub = np.take_along_axis(key, part, axis=1)
                    idx = np.take_along_axis(
                        part, np.argsort(sub, axis=1), axis=1
                    )
                else:
                    idx = np.argsort(key, axis=1)
            else:
                idx = np.stack(
                    [
                        np.lexsort((sids, D[qi]))[:take]
                        for qi in range(len(qids))
                    ]
                )
            yield _pd.DataFrame(
                {
                    "qid": np.repeat(qids, take),
                    "nid": sids[idx].ravel(),
                    "adist": (
                        np.take_along_axis(D, idx, axis=1).astype(np.float64)
                        / 10000.0
                    ).ravel(),
                }
            )

    cand = codes_wide.mapInPandas(
        fn, schema="qid long, nid long, adist double"
    ).filter(F.col("qid") != F.col("nid"))
    w = Window.partitionBy("qid").orderBy(F.col("adist").asc(), F.col("nid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "adist", F.col("rank").cast("int").alias("rank"))
    )
