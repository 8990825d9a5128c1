"""ANN search operators over embedding columns (``array<float>``): exact
cosine/L2 top-k, single-table and banded hyperplane LSH, IVF assignment,
probing and search, and SemDeDup.

Every search does its arithmetic in numpy over Arrow batches
(``mapInPandas`` / ``applyInPandas``); no pair is scored by an
interpreted JVM fold and no candidate pair is materialized as a row.
The reference for every result is the DuckDB oracle SQL that sits next
to each registry query in ``queries.py`` (checked by
``tests/test_queries_duckdb.py``); ``tests/test_annfast.py`` checks the
operators against DuckDB SQL and brute force directly.

Why the results match the oracle exactly, not merely approximately:

1. **Local top-k selection** — every search ranks on the total order
   (round(sim,4) DESC, id ASC). Selection is one ``np.argpartition`` over
   a composite int64 key per query chunk: the key
   ``(round(sim·10⁴) << 33) − id`` is a strictly monotone encoding of
   that order whenever ``0 ≤ id < 2³³`` (distinct (sim, id) map to
   distinct keys because ids occupy disjoint low ranges per sim value),
   so the selected set and its order are those of a full lexsort. Ids
   outside that range fall back to the lexsort.

2. **Hyperplane bucket bits** — the oracle sums per-term
   ``CAST(x*plane AS DECIMAL(28,9))`` products, which is
   association-free. :func:`_proj_decimal_sums` reproduces those decimal
   semantics in vectorized numpy: the per-term product is exact in
   float64 (24-bit float32 mantissa × 11-bit integer plane value ≤ 35
   bits < 53), the decimal(28,9) cast is HALF_UP rounding of the
   product's decimal string, and the fast path resolves it as
   ``rint(P·10⁹)`` with a guard band, scaled to the float64 error of
   ``P·10⁹``, that recomputes near-.5 terms with ``decimal.Decimal``.
   The per-plane sums are exact int64 sums of the per-term integers
   (inputs whose sums could pass 2⁶³ raise ``OverflowError``), so the
   sign — the bucket bit — is the decimal value's sign, not merely
   float-close.

3. **Query-restricted search** (``query_df``): a query's top-k depends
   only on that query, so the roles scorer computes queries×members
   sims instead of members² and the per-query rows are unchanged.

4. **IVF ordering key** — nearest-centroid ranking packs
   ``(round(sim·10⁴), centroid_id)`` into one int64 with a pad of
   ``max(centroid_id) + 1`` taken from the collected model; negative
   centroid ids are refused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import IVF_ITERS, _planes_matrix, ivf_centroids

_ID_LIMIT = 1 << 33
_LOCAL_SCHEMA = "qid long, nid long, sim double"


def _select_topk(ids, sims, take):
    """Per-row indices of the top-``take`` entries under (sim DESC, id
    ASC), vectorized. ``sims``: (q, m) float64 already rounded to 4dp;
    ``ids``: (m,) int64 within [0, 2^33). Returns (q, take) int indices."""
    import numpy as np

    key = (np.rint(sims * 10000.0).astype(np.int64) << 33) - ids[None, :]
    m = ids.shape[0]
    if take >= m:
        return np.argsort(-key, axis=1)
    part = np.argpartition(-key, take - 1, axis=1)[:, :take]
    sub = np.take_along_axis(key, part, axis=1)
    order = np.argsort(-sub, axis=1)
    return np.take_along_axis(part, order, axis=1)


def _select_bottomk(ids, vals, take):
    """Per-row indices of the bottom-``take`` entries under (val ASC, id
    ASC) — the L2 total order. Same key trick with signs flipped."""
    import numpy as np

    key = (np.rint(vals * 10000.0).astype(np.int64) << 33) + ids[None, :]
    m = ids.shape[0]
    if take >= m:
        return np.argsort(key, axis=1)
    part = np.argpartition(key, take - 1, axis=1)[:, :take]
    sub = np.take_along_axis(key, part, axis=1)
    order = np.argsort(sub, axis=1)
    return np.take_along_axis(part, order, axis=1)


def _ids_fast_ok(ids) -> bool:
    return len(ids) > 0 and int(ids.min()) >= 0 and int(ids.max()) < _ID_LIMIT


def _empty_local():
    import pandas as _pd

    return _pd.DataFrame({"qid": [], "nid": [], "sim": []}).astype(
        {"qid": "int64", "nid": "int64", "sim": "float64"}
    )


def _topk_frame(qids, qmat, cids, cmat, take):
    """(qid, nid, sim) frame: each query's top-``take`` corpus rows under
    (round(sim,4) DESC, nid ASC). Sims are computed in 1024-query chunks,
    so memory stays ≤ 1024 × |corpus| sims even on a hot group."""
    import numpy as np
    import pandas as _pd

    qnorm = np.sqrt((qmat * qmat).sum(axis=1))
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    fast = _ids_fast_ok(cids)
    out_q, out_n, out_s = [], [], []
    for lo in range(0, len(qids), 1024):
        hi = min(lo + 1024, len(qids))
        sims = np.round(
            (qmat[lo:hi] @ cmat.T) / (qnorm[lo:hi, None] * cnorm[None, :]), 4
        )
        if fast:
            idx = _select_topk(cids, sims, take)
        else:  # ids outside the key range: per-row lexsort
            idx = np.stack([np.lexsort((cids, -row))[:take] for row in sims])
        out_q.append(np.repeat(qids[lo:hi], take))
        out_n.append(cids[idx].ravel())
        out_s.append(np.take_along_axis(sims, idx, axis=1).ravel())
    return _pd.DataFrame(
        {
            "qid": np.concatenate(out_q),
            "nid": np.concatenate(out_n),
            "sim": np.concatenate(out_s),
        }
    )


def _ids_and_vecs(pdf, id_col, vec_col):
    import numpy as np

    return (
        np.asarray(pdf[id_col].values, dtype=np.int64),
        np.array(list(pdf[vec_col]), dtype=np.float64),
    )


def group_local_topk_fn(k: int, id_col: str, vec_col: str):
    """applyInPandas scorer: one group = one bucket/cell; every member is
    a query against every member, and each emits its local top-(k+1)
    (the +1 covers the self-match removed downstream)."""

    def fn(pdf):
        ids, mat = _ids_and_vecs(pdf, id_col, vec_col)
        if len(ids) < 2:
            return _empty_local()
        return _topk_frame(ids, mat, ids, mat, min(k + 1, len(ids)))

    return fn


def roles_topk_fn(k: int):
    """applyInPandas scorer with ROLES: corpus members (role 0) vs
    visiting queries (role 1). Emits each query's local top-(k+1) over
    the group's corpus members."""

    def fn(pdf):
        corpus = pdf[pdf["role"] == 0]
        queries = pdf[pdf["role"] == 1]
        if len(corpus) == 0 or len(queries) == 0:
            return _empty_local()
        cids, cmat = _ids_and_vecs(corpus, "vid", "vec")
        qids, qmat = _ids_and_vecs(queries, "vid", "vec")
        return _topk_frame(qids, qmat, cids, cmat, min(k + 1, len(cids)))

    return fn


# ---------------------------------------------------------------------------
# Exact decimal-semantics hyperplane buckets
# ---------------------------------------------------------------------------


def _proj_decimal_sums(mat, planes):
    """Exact decimal(28,9) projection sums, scaled by 10^9, as int64.

    ``mat``: (n, dims) float64 holding float32-exact embedding values.
    ``planes``: (p, dims) int64. Returns (n, p) int64 where entry equals
    ``SUM(CAST(x*plane AS DECIMAL(28,9)))`` times 10^9 — see the module
    docstring for the exactness argument."""
    import numpy as np

    P = mat[:, None, :] * planes[None, :, :].astype(np.float64)
    y = P * 1e9
    ymax = float(np.abs(y).max(initial=0.0))
    if ymax * P.shape[2] >= 2.0**63:
        raise OverflowError(
            "decimal(28,9) projection sums do not fit int64 "
            f"(max |x*plane| = {ymax / 1e9:.3g})"
        )
    D = np.rint(y).astype(np.int64)
    frac = y - np.floor(y)
    # Suspects guard. y differs from 10^9 times the engine's decimal
    # value by the f64 rounding of P*1e9 plus the decimal-string
    # rounding of P: under 4 ulps of y in total. Any term that close to a
    # .5 boundary is recomputed exactly. The band is 1e-3 (an ulp of y
    # is ~1e-4 at |x*plane| = 10^3, so unit-scale embeddings keep the
    # cheap scalar band) widened to 8 ulps for larger magnitudes; from
    # |y| >= 2^52 every term is a suspect. The exact value
    # assumes the engine casts a double to decimal from its decimal
    # string: Spark's Decimal(double) goes through the JDK's
    # Double.toString, then rounds HALF_UP to scale 9. repr() gives the
    # shortest round-trip string; Double.toString may emit one digit
    # more (JDK ≤ 18, JDK-4511638). That extra digit is < 1 ulp and can
    # move a 1e-9 HALF_UP boundary only with probability ~1e-17 per
    # term. A JVM whose Double.toString differs further would need this
    # revisited; the DuckDB oracle tests would show it.
    band = 1e-3
    if 8 * np.spacing(ymax) > band:
        band = np.maximum(band, 8 * np.spacing(np.abs(y)))
    suspects = np.abs(frac - 0.5) < band
    if suspects.any():
        from decimal import ROUND_HALF_UP, Decimal

        q9 = Decimal("1.000000000")
        for n_i, j_i, d_i in np.argwhere(suspects):
            exact = Decimal(repr(P[n_i, j_i, d_i])).quantize(
                q9, rounding=ROUND_HALF_UP
            )
            D[n_i, j_i, d_i] = int(exact * 1_000_000_000)
    return D.sum(axis=2)


def _bucket_pass(
    df: DataFrame,
    bands: int,
    planes_per_band: int,
    id_col: str,
    vec_col: str,
    with_band: bool,
) -> DataFrame:
    """One Arrow pass: per vector, ``bands`` buckets of
    ``planes_per_band`` sign bits each (plane j of band b is global plane
    ``b*planes_per_band + j``). Row chunking bounds the (chunk × planes ×
    dims) product tensor."""
    import numpy as np
    import pandas as _pd
    from collections.abc import Iterator as _It

    n_planes = bands * planes_per_band
    shifts = np.arange(planes_per_band, dtype=np.int64)

    def fn(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        planes_cache: dict[int, "np.ndarray"] = {}
        for b in batches:
            if len(b) == 0:
                continue
            ids, mat = _ids_and_vecs(b, id_col, vec_col)
            dims = mat.shape[1]
            if dims not in planes_cache:
                planes_cache[dims] = _planes_matrix(dims, n_planes)
            planes = planes_cache[dims]
            buckets = np.empty((len(ids), bands), dtype=np.int32)
            for lo in range(0, len(ids), 2048):
                hi = min(lo + 2048, len(ids))
                bits = (_proj_decimal_sums(mat[lo:hi], planes) > 0).astype(
                    np.int64
                )
                buckets[lo:hi] = (
                    bits.reshape(hi - lo, bands, planes_per_band) << shifts
                ).sum(axis=2)
            if with_band:
                yield _pd.DataFrame(
                    {
                        id_col: np.repeat(ids, bands),
                        "band": np.tile(
                            np.arange(bands, dtype=np.int32), len(ids)
                        ),
                        "bucket": buckets.ravel(),
                    }
                )
            else:
                yield _pd.DataFrame({id_col: ids, "bucket": buckets[:, 0]})

    schema = (
        f"{id_col} long, band int, bucket int"
        if with_band
        else f"{id_col} long, bucket int"
    )
    return df.select(id_col, vec_col).mapInPandas(fn, schema=schema)


def banded_buckets_fast(
    df: DataFrame,
    bands: int = 4,
    planes_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table (banded) hyperplane LSH: ``bands`` independent hash
    tables of ``planes_per_band`` planes each. Output: (id_col, band:int,
    bucket:int) — one row per (vector, band).

    Banding is the standard OR-construction: each band keeps buckets
    small (2^r per band), and a true neighbor pair is found if it
    collides in ANY band — recall 1-(1-p^r)^b is tuned by (b, r) without
    fattening any single bucket."""
    return _bucket_pass(df, bands, planes_per_band, id_col, vec_col, True)


def hyperplane_buckets_fast_exact(
    df: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Single-table sign-pattern LSH bucket per vector (bucket = Σ bit_j
    << j over all planes), with the oracle's decimal sign semantics.
    Output: (id_col, bucket:int). One narrow pass: no explode, no
    shuffle."""
    return _bucket_pass(df, 1, n_planes, id_col, vec_col, False)


# ---------------------------------------------------------------------------
# IVF assignment / probing
# ---------------------------------------------------------------------------


def _materialized_centroids(
    df: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """Train once and MATERIALIZE the K-row model as a local relation:
    the model is data, not a plan — without this, every reference to an
    assignment would re-run the Lloyd-iteration subtree."""
    trained = ivf_centroids(df, n_centroids, IVF_ITERS, id_col, vec_col)
    return df.sparkSession.createDataFrame(trained.collect(), trained.schema)


def _centroid_scorer(centroids: DataFrame):
    """Collect the K-row model and return ``(cids, score)`` where
    ``score(mat)`` gives (sims, key): round-4 cosines against every
    centroid and an int64 key whose DESC order is (round(sim,4) DESC,
    centroid_id ASC). The key pad is ``max(centroid_id) + 1``, so any
    non-negative id packs without collision."""
    import numpy as np

    rows = centroids.select("centroid_id", "cv").collect()
    if not rows:
        raise ValueError("the IVF model has no centroids")
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    if int(cids.min()) < 0:
        raise ValueError(
            f"negative centroid_id {int(cids.min())} in the IVF model"
        )
    cmat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    kpad = int(cids.max()) + 1

    def score(mat):
        vnorm = np.sqrt((mat * mat).sum(axis=1))
        sims = np.round((mat @ cmat.T) / (vnorm[:, None] * cnorm[None, :]), 4)
        key = np.rint(sims * 10000.0).astype(np.int64) * kpad + (
            kpad - 1 - cids[None, :]
        )
        return sims, key

    return cids, score


def ivf_assign_fast(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization against a MATERIALIZED model (see
    :func:`.similarity.ivf_centroids`): one numpy matmul per Arrow batch
    against the K-row centroid matrix, argmax under (round(sim,4) DESC,
    centroid_id ASC) — O(rows × K), never O(rows²). Output: (id_col,
    centroid_id, centroid_sim)."""
    import numpy as np
    import pandas as _pd
    from collections.abc import Iterator as _It

    cids, score = _centroid_scorer(centroids)

    def fn(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for b in batches:
            if len(b) == 0:
                continue
            sims, key = score(np.array(list(b[vec_col]), dtype=np.float64))
            win = np.argmax(key, axis=1)
            yield _pd.DataFrame(
                {
                    id_col: b[id_col].values,
                    "centroid_id": cids[win].astype(np.int32),
                    "centroid_sim": sims[np.arange(len(win)), win],
                }
            )

    out_schema = f"{id_col} long, centroid_id int, centroid_sim double"
    return df.select(id_col, vec_col).mapInPandas(fn, schema=out_schema)


def ivf_probe_cells_fast(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Each vector's ``nprobe`` nearest centroids under (round(sim,4)
    DESC, centroid_id ASC) — rank 1 is :func:`ivf_assign_fast`'s cell.
    Output: (id_col, centroid_id, probe_rank)."""
    import numpy as np
    import pandas as _pd
    from collections.abc import Iterator as _It

    cids, score = _centroid_scorer(centroids)
    take = min(nprobe, len(cids))

    def fn(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for b in batches:
            if len(b) == 0:
                continue
            _sims, key = score(np.array(list(b[vec_col]), dtype=np.float64))
            order = np.argsort(-key, axis=1)[:, :take]
            yield _pd.DataFrame(
                {
                    id_col: np.repeat(b[id_col].values, take),
                    "centroid_id": cids[order].ravel().astype(np.int32),
                    "probe_rank": np.tile(
                        np.arange(1, take + 1, dtype=np.int32), len(b)
                    ),
                }
            )

    out_schema = f"{id_col} long, centroid_id int, probe_rank int"
    return df.select(id_col, vec_col).mapInPandas(fn, schema=out_schema)


# ---------------------------------------------------------------------------
# Searches
# ---------------------------------------------------------------------------


def _finalize_topk(local: DataFrame, k: int, distinct: bool = False) -> DataFrame:
    """Drop self-matches and rank the local candidates globally."""
    cand = local.filter(F.col("qid") != F.col("nid"))
    if distinct:
        cand = cand.distinct()
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "sim", "rank")
    )


def _grouped_local_topk(
    withv: DataFrame,
    keys: list[str],
    k: int,
    id_col: str,
    vec_col: str,
    query_df: DataFrame | None,
) -> DataFrame:
    """Local top-(k+1) candidates within each ``keys`` group (an LSH
    bucket or IVF cell), one vectorized applyInPandas per group. With
    ``query_df`` only those ids act as queries (roles scorer)."""
    if query_df is None:
        return withv.groupBy(*keys).applyInPandas(
            group_local_topk_fn(k, id_col, vec_col), schema=_LOCAL_SCHEMA
        )

    def with_role(src: DataFrame, role: int) -> DataFrame:
        return src.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
            *keys, F.lit(role).alias("role"),
        )

    queries = withv.join(query_df.select(id_col), id_col, "left_semi")
    cells = with_role(withv, 0).unionByName(with_role(queries, 1))
    return cells.groupBy(*keys).applyInPandas(
        roles_topk_fn(k), schema=_LOCAL_SCHEMA
    )


def lsh_topk_banded_fast(
    df: DataFrame,
    k: int = 3,
    bands: int = 4,
    planes_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_df: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via banded LSH: candidates are pairs colliding in
    ANY band, scored by exact cosine. Output: (qid, nid, sim, rank).

    Each (band, bucket) group emits its members' LOCAL top-(k+1); the
    union over bands contains the global top-k (if x is a global top-k
    neighbor of q, fewer than k candidates beat x in any bucket they
    share, so x survives the local cut). Multi-band collisions carry
    identical sims, so a ``distinct`` collapses them before the final
    window. With ``query_df`` the output is restricted to those qids."""
    bb = banded_buckets_fast(df, bands, planes_per_band, id_col, vec_col)
    withv = df.select(id_col, vec_col).join(bb, id_col)
    local = _grouped_local_topk(
        withv, ["band", "bucket"], k, id_col, vec_col, query_df
    )
    return _finalize_topk(local, k, distinct=True)


def lsh_topk_fast(
    df: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_df: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine WITHIN each single-table hyperplane
    LSH bucket (:func:`hyperplane_buckets_fast_exact`). Recall is tunable
    via n_planes (fewer planes → bigger buckets → higher recall, more
    compute). Per-bucket work is one vectorized call, so a hot bucket
    costs one chunked matmul, not |bucket|² exploded rows. Output:
    (qid, nid, sim, rank)."""
    b = hyperplane_buckets_fast_exact(df, n_planes, id_col, vec_col)
    withv = df.select(id_col, vec_col).join(b, id_col)
    local = _grouped_local_topk(withv, ["bucket"], k, id_col, vec_col, query_df)
    return _finalize_topk(local, k)


def ivf_topk_fast(
    df: DataFrame,
    k: int = 3,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    query_df: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine WITHIN each IVF cell (nprobe=1).
    Cells partition the corpus, so per-cell top-k IS the final answer.
    Output: (qid, nid, sim, rank).

    ``centroids``: pass the materialized model. Training is a property of
    the corpus, not of a query — deployments train once (on a sample;
    K ∝ √N keeps cells ~√N and within-cell work ~N^1.5 total) and amortize
    the model across every search. Omitting it trains ``n_centroids``
    centroids per call, which is only acceptable in one-shot
    verification. ``query_df`` restricts the emitted qids."""
    if centroids is None:
        centroids = _materialized_centroids(df, n_centroids, id_col, vec_col)
    assign = ivf_assign_fast(df, centroids, id_col, vec_col)
    withc = df.select(id_col, vec_col).join(
        assign.select(id_col, "centroid_id"), id_col
    )
    local = _grouped_local_topk(
        withc, ["centroid_id"], k, id_col, vec_col, query_df
    )
    return _finalize_topk(local, k)


def ivf_topk_nprobe_fast(
    df: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_df: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k with MULTI-CELL probing: the corpus stays in its rank-1
    cells, each query searches its ``nprobe`` nearest cells. ``nprobe=1``
    reproduces :func:`ivf_topk_fast`; raising it recovers neighbors lost
    to a cell boundary while per-query work stays ``nprobe × N/K``. A
    corpus vector lives in exactly one cell, so no pair is scored twice.
    ``query_df`` restricts which vectors act as queries (probe cells and
    within-cell ranks are query-local, so their rows are unchanged).
    Output: (qid, nid, sim, rank)."""
    if centroids is None:
        raise ValueError(
            "pass the materialized trained model (similarity.ivf_centroids"
            " output collected to a local relation); training inside the"
            " search plan re-runs Lloyd per query"
        )
    corpus = (
        df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        .join(
            ivf_assign_fast(df, centroids, id_col, vec_col)
            .select(F.col(id_col).alias("vid"), "centroid_id"),
            "vid",
        )
        .withColumn("role", F.lit(0))
    )
    qsrc = df if query_df is None else df.join(
        query_df.select(id_col), id_col, "left_semi"
    )
    probes = (
        qsrc.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        .join(
            ivf_probe_cells_fast(qsrc, centroids, nprobe, id_col, vec_col)
            .select(F.col(id_col).alias("vid"), "centroid_id"),
            "vid",
        )
        .withColumn("role", F.lit(1))
    )
    local = corpus.unionByName(probes).groupBy("centroid_id").applyInPandas(
        roles_topk_fn(k), schema=_LOCAL_SCHEMA
    )
    return _finalize_topk(local, k)


def semdedup_fast(
    df: DataFrame,
    threshold: float,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup, the SemDeDup shape (Abbas et al. 2023): cluster the
    embedding space with the materialized IVF model, then WITHIN each
    cluster drop every vector whose cosine to a smaller-id member is ≥
    ``threshold`` (the greedy min-id-keeper rule of the text near-dup
    materializer). Output: kept ``(id, centroid_id)`` rows.

    The pairwise check runs within cells only (one numpy matmul per
    cell, a column dropped iff any strictly-smaller-id row reaches the
    threshold), so total work is ~N^1.5 at K ∝ √N, never N²."""
    import numpy as np
    import pandas as _pd

    assign = ivf_assign_fast(df, centroids, id_col, vec_col).select(
        id_col, "centroid_id"
    )
    withv = assign.join(df.select(id_col, vec_col), id_col)

    def fn(pdf: "_pd.DataFrame") -> "_pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        if len(ids) < 2:
            return _pd.DataFrame({id_col: ids[:0]})
        norms = np.sqrt((mat * mat).sum(axis=1))
        sims = np.round((mat @ mat.T) / (norms[:, None] * norms[None, :]), 4)
        hit = np.triu(sims >= threshold, k=1)  # [i, j]: i < j and sim >= tau
        return _pd.DataFrame({id_col: ids[hit.any(axis=0)]})

    dropped = withv.groupBy("centroid_id").applyInPandas(
        fn, schema=f"{id_col} long"
    )
    return assign.join(dropped, id_col, "left_anti").select(
        id_col, "centroid_id"
    )


def _collect_queries(query_df: DataFrame, id_col: str, vec_col: str, name: str):
    import numpy as np

    q_rows = query_df.select(id_col, vec_col).collect()
    if not q_rows:
        raise ValueError(f"{name} needs a non-empty query_df")
    return (
        np.array([r[0] for r in q_rows], dtype=np.int64),
        np.array([list(r[1]) for r in q_rows], dtype=np.float64),
    )


def cosine_topk_fast2(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of a BOUNDED query set. Output:
    (qid, nid, sim, rank).

    The queries are collected driver-side (they must fit in a broadcast)
    and each Arrow batch of the corpus does one numpy matmul against the
    query matrix, emitting only its LOCAL top-(k+1) per query; a final
    window takes the global top-k. Local selection uses the same total
    order as the global rank, so a row dropped locally is worse than k+1
    kept rows of its own batch and can never enter the global top-k (the
    +1 covers the self-match). The corpus vectors never shuffle."""
    import pandas as _pd
    from collections.abc import Iterator as _It

    qids, qm = _collect_queries(query_df, id_col, vec_col, "cosine_topk_fast2")

    def fn(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for b in batches:
            if len(b) == 0:
                continue
            nids, mat = _ids_and_vecs(b, id_col, vec_col)
            yield _topk_frame(qids, qm, nids, mat, min(k + 1, len(nids)))

    cand = df.select(id_col, vec_col).mapInPandas(fn, schema=_LOCAL_SCHEMA)
    return _finalize_topk(cand, k)


def l2_topk_fast(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k squared-L2 neighbors of a bounded query set — the
    ground truth for the PQ/ADC search, which approximates THIS metric.
    Per batch one matmul computing ``round(q·q − 2·q·n + n·n, 4)``, local
    bottom-(k+1) under (d2 ASC, nid ASC) — the same local-cut argument as
    :func:`cosine_topk_fast2`. Output: (qid, nid, d2, rank)."""
    import numpy as np
    import pandas as _pd
    from collections.abc import Iterator as _It

    qids, qm = _collect_queries(query_df, id_col, vec_col, "l2_topk_fast")
    qq = (qm * qm).sum(axis=1)

    def fn(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for b in batches:
            if len(b) == 0:
                continue
            nids, mat = _ids_and_vecs(b, id_col, vec_col)
            nn = (mat * mat).sum(axis=1)
            d2 = np.round(qq[:, None] - 2.0 * (qm @ mat.T) + nn[None, :], 4)
            take = min(k + 1, d2.shape[1])
            if _ids_fast_ok(nids):
                idx = _select_bottomk(nids, d2, take)
            else:
                idx = np.stack([np.lexsort((nids, row))[:take] for row in d2])
            yield _pd.DataFrame(
                {
                    "qid": np.repeat(qids, take),
                    "nid": nids[idx].ravel(),
                    "d2": np.take_along_axis(d2, idx, axis=1).ravel(),
                }
            )

    cand = df.select(id_col, vec_col).mapInPandas(
        fn, schema="qid long, nid long, d2 double"
    ).filter(F.col("qid") != F.col("nid"))
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("nid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "d2", "rank")
    )
