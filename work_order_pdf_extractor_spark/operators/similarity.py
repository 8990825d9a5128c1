"""Shared pieces of the ANN operators over embedding columns
(``array<float>``).

- :func:`ivf_centroids` trains the IVF model: hash-seeded init plus
  Lloyd iterations, with decimal sums so the DuckDB oracle reproduces
  the centroids bit for bit.
- :func:`hyperplane_lsh_buckets_fast` is a float64 random-hyperplane
  bucket pass for high-dimensional embeddings (no decimal emulation).
- ``_dot``/``_norm`` are the JVM-side cosine pieces the text near-dup and
  PQ operators use on small, already-bucketed pair sets.

The searches themselves (exact cosine/L2 top-k, LSH, IVF, SemDeDup) live
in :mod:`.annfast`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 8
_PLANE_MUL = 2654435761


def _planes_matrix(dims: int, n_planes: int):
    """(n_planes, dims) int64 hyperplane values: plane ``j`` at dimension
    ``d`` is ``(1 + (j*64 + d) * 2654435761) % 2001 - 1000`` — the
    deterministic integer family of the oracle's
    ``queries._plane_val_sql``, reproducible everywhere with no stored
    model."""
    import numpy as np

    d = np.arange(dims, dtype=np.int64)
    return np.stack(
        [(1 + (j * 64 + d) * _PLANE_MUL) % 2001 - 1000 for j in range(n_planes)],
        axis=0,
    )


def _dot(a: str, b: str) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


IVF_ITERS = 2


def hyperplane_lsh_buckets_fast(
    df: DataFrame,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector for HIGH-DIM embeddings:
    one Arrow-batched pass doing a single numpy float64 matmul per batch
    against the (dims × n_planes) plane matrix — zero shuffle and
    deterministic (row-local, fixed-order float64 dot). Output:
    (id_col, bucket:int).

    The planes are the integer family of :func:`_planes_matrix`, but
    the projection is rounded in float64, not summed as per-term
    decimal(28,9) the way the oracled ``annfast.hyperplane_buckets_fast_exact``
    does — so the two agree except where a projection sits within float64
    rounding of zero. This is its own approximate operator: at 256-dim+
    the decimal emulation costs more than the matmul."""
    import numpy as np
    import pandas as _pd
    from collections.abc import Iterator as _It

    out_schema = f"{id_col} long, bucket int"

    def fn(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        planes_cache: dict[int, "np.ndarray"] = {}
        for b in batches:
            if len(b) == 0:
                continue
            mat = np.array(list(b[vec_col]), dtype=np.float64)
            dims = mat.shape[1]
            if dims not in planes_cache:
                planes_cache[dims] = _planes_matrix(dims, n_planes).T.astype(
                    np.float64
                )  # (dims, n_planes)
            proj = mat @ planes_cache[dims]
            bits = (proj > 0).astype(np.int64)
            bucket = (bits << np.arange(n_planes, dtype=np.int64)).sum(axis=1)
            yield _pd.DataFrame(
                {id_col: b[id_col].values, "bucket": bucket.astype(np.int32)}
            )

    return df.select(id_col, vec_col).mapInPandas(fn, schema=out_schema)


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 8,
    iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train IVF centroids: hash-seeded init + ``iters`` Lloyd iterations,
    fully deterministic and data-order-independent (round 1 used
    first-``n``-by-id, whose cell sizes depended on insertion order).

    - INIT: bucket rows by ``md5(id) % n_centroids``; each bucket's
      min-hash row seeds one centroid — a seeded uniform sample, the
      k-means init step, reproducible in SQL.
    - ITERATE: assign to nearest centroid by rounded cosine (id
      tiebreaks), then recompute each centroid as the element-wise mean
      of its members. Per-dimension sums accumulate as DECIMAL(28,9)
      (order-independent exact) and divide as double, so both engines
      produce bit-identical centroids.

    At 100 TB you train on a SAMPLE (this whole function over a
    ``df.sample``) and broadcast the result; assignment below is the part
    that touches every row and it stays O(rows × centroids).
    Output: (centroid_id int, cv array<double>)."""
    # model training touches a bounded sample, so one driver-side schema
    # probe for the dimensionality is fine (the alternative — posexplode +
    # per-(cell, dim) groupBy — costs two extra stages per iteration)
    first = df.select(F.size(vec_col).alias("d")).first()
    dims = int(first["d"]) if first is not None else 0
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    seeded = df.select(
        F.col(id_col).alias("sid"),
        F.col(vec_col).alias("sv"),
        (h % n_centroids).alias("cell"),
        h.alias("hh"),
    )
    w = Window.partitionBy("cell").orderBy("hh", "sid")
    cents = (
        seeded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("cell").cast("int").alias("centroid_id"),
            F.transform("sv", lambda x: x.cast("double")).alias("cv"),
        )
    )
    for _ in range(iters):
        v = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vv"))
        sim = F.round(_dot("vv", "cv") / (_norm("vv") * _norm("cv")), 4)
        scored = v.join(F.broadcast(cents)).select(
            "vid", "vv", "centroid_id", sim.alias("s")
        )
        # argmax via max_by on (sim, -centroid_id): same winner as the
        # oracle's row_number(ORDER BY sim DESC, centroid_id) but a hash
        # aggregation with map-side partials instead of a shuffle + sort
        assigned = (
            scored.groupBy("vid")
            .agg(
                F.max_by(
                    F.struct("centroid_id", "vv"),
                    F.struct(F.col("s"), (-F.col("centroid_id")).alias("nc")),
                ).alias("w")
            )
            .select(
                F.col("w.centroid_id").alias("centroid_id"),
                F.col("w.vv").alias("vv"),
            )
        )
        # element-wise mean as `dims` decimal-sum aggregates in ONE groupBy
        # (exact same values as a posexplode + per-(cell, dim) aggregation,
        # which the DuckDB oracle uses — decimal sums are order-free)
        mean_cols = [
            (
                F.sum(
                    F.col("vv")[d].cast("double").cast("decimal(28,9)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias(f"m{d}")
            for d in range(dims)
        ]
        cents = (
            assigned.groupBy("centroid_id")
            .agg(*mean_cols)
            .select(
                "centroid_id",
                F.array(*[F.col(f"m{d}") for d in range(dims)]).alias("cv"),
            )
        )
    return cents
