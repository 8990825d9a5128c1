"""Perceptual-hash image near-duplicate detection (average hash).

The multimodal twin of the text near-dup family: crawled corpora carry
re-encoded / slightly-retouched copies of the same image, and byte-level
sha256 dedup misses all of them. The standard cheap answer is a
perceptual hash — here the classic 8×8 AVERAGE HASH (aHash) and the DCT
hash (pHash): decode the raster through the one raster decoder,
:func:`.multimodal.decode_lumas`, pool to an 8×8 grid of integer cell
sums, and set bit k when cell k's mean exceeds the global mean.
Near-duplicates are pairs within a small Hamming distance. Each hash has
one batch kernel (:func:`_ahash_bands_batch`, :func:`_phash_bands_batch`)
that holds all of its arithmetic; the per-payload entry points are the
same kernel on a batch of one.

Cross-engine exactness: every step is integer arithmetic —
``cell_sum * 64 > total_sum`` replaces the float mean comparison, and
the 64-bit hash is stored as four 16-bit band integers (0..65535), which
sidesteps signed-long edge cases AND is exactly the blocking key the
pair join needs.

Scale shape (100 TB of images): hashing is one narrow Arrow pass over
the payload column (bytes never shuffle — only four small ints per image
leave the scan stage). The pair search NEVER goes quadratic: by the
pigeonhole principle, two hashes within Hamming distance ``h < 4`` agree
exactly on at least one of the 4 bands, so an equi-join on
``(band_idx, band_value)`` is a COMPLETE blocking scheme for h ≤ 3 —
the same OR-construction discipline as ``simhash_near_pairs`` and the
banded MinHash-LSH, with per-bucket population bounded by how many
images genuinely share a band.

Reference analog: the reference pipeline has no image dedup at all — it
trusts filename uniqueness (work_order_extractor.py:1769-1797); this is
the stage a corpus-scale crawl needs instead.
"""

from __future__ import annotations

import math

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .common import sorted_id_pairs
from .multimodal import (
    RASTER_MAGIC,
    _bmp24_batch_lumas,
    build_bmp,
    decode_lumas,
    media_from_doc_ids,
)

AHASH_SIDE = 16  # fixture raster side → 2×2 px per 8×8-grid cell
N_BANDS = 4  # 64 bits / 16 bits per band; complete for hamming <= 3

AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("b0", T.IntegerType()),
        T.StructField("b1", T.IntegerType()),
        T.StructField("b2", T.IntegerType()),
        T.StructField("b3", T.IntegerType()),
    ]
)


def _pack_bands(bits):
    """(n, 64) bool bit array → (n, 4) int32 16-bit bands (bit k goes to
    band k//16 at position k%16)."""
    weights = (1 << np.arange(16, dtype=np.int64))[None, None, :]
    return (
        (bits.reshape(-1, 4, 16).astype(np.int64) * weights)
        .sum(axis=2)
        .astype(np.int32)
    )


def _ahash_bands_batch(lum):
    """(n, h, w) lumas (dims divisible by 8) → (n, 4) int32 aHash bands:
    pool each raster to an 8×8 grid of integer cell sums and set bit
    k = cy*8+cx when cell (cx, cy)'s sum * 64 > the raster total — the
    integer form of "cell mean > global mean"."""
    n, h, w = lum.shape
    if h % 8 or w % 8:
        raise ValueError(f"ahash needs dims divisible by 8, got {w}x{h}")
    ch, cw = h // 8, w // 8
    sums = lum.reshape(n, 8, ch, 8, cw).sum(axis=(2, 4))  # (n, 8, 8)
    total = sums.sum(axis=(1, 2))
    bits = (sums.reshape(n, 64) * 64) > total[:, None]
    return _pack_bands(bits)


def _phash_bands_batch(lum):
    """(n, 16, 16) lumas → (n, 4) int32 pHash bands: the integer DCT-II
    (shared ``PHASH_BASIS``) as one einsum, the 8×8 low block, and the
    exact 63-AC-median threshold (see :func:`phash_bands`)."""
    n, h, w = lum.shape
    if (w, h) != (AHASH_SIDE, AHASH_SIDE):
        raise ValueError(
            f"phash expects a {AHASH_SIDE}x{AHASH_SIDE} raster, got {w}x{h}"
        )
    B = np.asarray(PHASH_BASIS, dtype=np.int64)
    C = np.einsum("uy,nyx,vx->nuv", B, lum, B)
    low = C[:, :8, :8].reshape(n, 64)
    med = np.partition(low[:, 1:], 31, axis=1)[:, 31]
    bits = low > med[:, None]
    return _pack_bands(bits)


def _bands_of(payload: bytes, kernel) -> tuple[int, int, int, int]:
    """One payload through :func:`.multimodal.decode_lumas` and a batch
    kernel as a batch of one."""
    if not payload.startswith(RASTER_MAGIC):
        raise ValueError("unsupported payload for image hashing")
    w, h, lum = decode_lumas(payload)
    return tuple(map(int, kernel(lum.reshape(1, h, w))[0]))


def ahash_bands(payload: bytes) -> tuple[int, int, int, int]:
    """Decode an image payload and return the 64-bit average hash as four
    16-bit band integers (band j holds bits 16j..16j+15; see
    :func:`_ahash_bands_batch`).

    Requires dimensions divisible by 8 so the pooling grid is exact
    (integer cell sums — no fractional-cell float averaging)."""
    return _bands_of(payload, _ahash_bands_batch)


def _hash_pass(df: DataFrame, kernel) -> DataFrame:
    """media rows → (media_id, b0..b3) in one Arrow-batched pass: the
    payload bytes are consumed inside the scan stage and never shuffle —
    only four small ints per image leave it.

    A uniform batch of same-header 24-bit BMPs decodes as one numpy array
    (:func:`.multimodal._bmp24_batch_lumas`); any other batch decodes
    image by image through :func:`.multimodal.decode_lumas`. Either way
    ``kernel`` does the hash arithmetic. A payload that does not decode
    (``image_features`` reports it as decode_failed), or whose raster the
    kernel refuses, yields no row instead of failing the task: it can
    pair with nothing."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = list(b["payload"])
            lum = _bmp24_batch_lumas(payloads)
            if lum is not None:
                rasters = [(list(range(len(payloads))), lum)]
            else:
                rasters = []
                for i, p in enumerate(payloads):
                    try:
                        w, h, one = decode_lumas(bytes(p))
                    except Exception:
                        continue
                    rasters.append(([i], one.reshape(1, h, w)))
            keep, bands = [], [np.empty((0, N_BANDS), np.int32)]
            for rows, raster in rasters:
                try:
                    bands.append(kernel(raster))
                except ValueError:  # a raster shape the hash cannot pool
                    continue
                keep += rows
            bands = np.concatenate(bands)
            out = pd.DataFrame({"media_id": b["media_id"].to_numpy()[keep]})
            for j in range(N_BANDS):
                out[f"b{j}"] = bands[:, j]
            yield out

    return df.select("media_id", "payload").mapInPandas(fn, schema=AHASH_SCHEMA)


def image_ahash(df: DataFrame) -> DataFrame:
    """media rows → (media_id, b0..b3) average hash (see
    :func:`_hash_pass`)."""
    return _hash_pass(df, _ahash_bands_batch)


def ahash_near_pairs(hashes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """All pairs within ``max_hamming`` bits, via banded blocking over
    HASH CLASSES.

    Completeness: two 64-bit hashes within Hamming distance h < 4 differ
    in at most 3 of the 4 bands, so they collide exactly on at least one
    ``(band_idx, band_value)`` key — the banded equi-join finds EVERY
    qualifying pair (the oracle checks against an exhaustive cross-pair
    scan). ``max_hamming`` > 3 would break that guarantee and is refused.

    r7 shape: near-dup image corpora hold many images per DISTINCT hash,
    and the old per-image banded self-join materialized each surviving
    pair up to 4× (once per colliding band) plus every same-class pair,
    then paid a distinct over the whole pair set. Grouping to hash
    classes first (class id = min member id — unique because ids
    partition across classes) makes the banded join and the Hamming
    filter run on the (tiny) class table; member pairs are then expanded
    exactly once per qualifying class pair — identical pair set and
    hamming values, no distinct over O(pairs) rows, intermediate =
    output. Classes are split into ≤``chunk``-member sorted sub-arrays
    before expansion (within-class pairs through the shared
    :func:`.common.sorted_id_pairs`) and the chunk-pair table is round-robin
    repartitioned, so one hot class (a popular hash) expands across many
    tasks instead of serializing the generate in one (guide §2.5). The
    class-table joins carry no broadcast hint: the class table grows with
    the number of distinct hashes, so the planner (and AQE, from runtime
    sizes) picks the join strategy."""
    if max_hamming >= N_BANDS:
        raise ValueError(
            f"banded blocking with {N_BANDS} bands is only complete for "
            f"hamming < {N_BANDS}, got max_hamming={max_hamming}"
        )
    chunk = 512
    par = hashes.sparkSession.sparkContext.defaultParallelism
    cls = hashes.groupBy("b0", "b1", "b2", "b3").agg(
        F.min("media_id").alias("cid"),
        F.sort_array(F.collect_list("media_id")).alias("ids"),
    )
    # ≤chunk-member sorted slices; chunk k's members all precede chunk
    # k+1's (ids sorted), so cross-chunk expansion needs no d1<d2 filter
    cls_ch = (
        cls.select(
            "cid",
            "ids",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("ids") / chunk).cast("int") - 1,
                )
            ).alias("k"),
        )
        .select(
            "cid",
            "k",
            F.slice("ids", F.col("k") * chunk + 1, chunk).alias("sub"),
        )
    )
    bands_tbl = cls.select(
        "cid", F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band", "bv")
    )
    cp = (
        bands_tbl.alias("l")
        .join(
            bands_tbl.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.cid") < F.col("r.cid")),
        )
        .select(F.col("l.cid").alias("c1"), F.col("r.cid").alias("c2"))
        .distinct()
    )
    m1 = cls.select(
        F.col("cid").alias("c1"),
        *[F.col(b).alias(f"{b}_1") for b in ("b0", "b1", "b2", "b3")],
    )
    m2 = cls.select(
        F.col("cid").alias("c2"),
        *[F.col(b).alias(f"{b}_2") for b in ("b0", "b1", "b2", "b3")],
    )
    ham = (
        F.bit_count(F.expr("b0_1 ^ b0_2"))
        + F.bit_count(F.expr("b1_1 ^ b1_2"))
        + F.bit_count(F.expr("b2_1 ^ b2_2"))
        + F.bit_count(F.expr("b3_1 ^ b3_2"))
    ).cast("int")
    ch1 = cls_ch.select(F.col("cid").alias("c1"), F.col("sub").alias("sub1"))
    ch2 = cls_ch.select(F.col("cid").alias("c2"), F.col("sub").alias("sub2"))
    cross = (
        cp.join(m1, "c1")
        .join(m2, "c2")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .join(ch1, "c1")
        .join(ch2, "c2")
        .repartition(par)
        .select(F.explode("sub1").alias("d1"), "sub2", "hamming")
        .select("d1", F.explode("sub2").alias("d2"), "hamming")
        .select(
            F.least("d1", "d2").alias("doc1"),
            F.greatest("d1", "d2").alias("doc2"),
            "hamming",
        )
    )
    within = sorted_id_pairs(cls.select("ids"), chunk).select(
        "doc1", "doc2", F.lit(0).cast("int").alias("hamming")
    )
    return cross.unionByName(within)


def _doc_ahash_pixel(doc_id: int):
    """Deterministic 16×16 gray fixture with NEAR-DUP STRUCTURE: docs
    sharing ``doc_id % 25`` have the same base linear pattern and differ
    only in one perturbed pixel each, so same-group pairs land within a
    few hash bits while different groups (different gradient
    orientation) land far apart. Gray (v,v,v) keeps luma == v exactly,
    so the DuckDB oracle regenerates the raster in closed form."""
    gid = doc_id % 25
    px_x, px_y = doc_id % 16, (doc_id // 16) % 16

    def px(x: int, y: int) -> tuple[int, int, int]:
        v = (x * (3 + gid) + y * (5 + 2 * gid)) % 256
        if x == px_x and y == px_y:
            v = (v + 128) % 256
        return (v, v, v)

    return px


_BMP16_HEADER: bytes | None = None


def _bmp16_header() -> bytes:
    """The 54 header bytes every 16×16 24-bit fixture BMP shares —
    sliced once from the scalar builder so the vectorized assembly is
    byte-identical to ``build_bmp`` by construction."""
    global _BMP16_HEADER
    if _BMP16_HEADER is None:
        _BMP16_HEADER = build_bmp(
            AHASH_SIDE, AHASH_SIDE, lambda x, y: (0, 0, 0)
        )[:54]
    return _BMP16_HEADER


def _gray_bmp16_payloads(v):
    """(n, 16, 16) int top-down gray values → list of BMP byte payloads
    (BGR bottom-up rows; 16·3 = 48 bytes/row needs no padding)."""
    hdr = _bmp16_header()
    data = np.repeat(
        v[:, ::-1, :, None].astype(np.uint8), 3, axis=3
    ).reshape(v.shape[0], AHASH_SIDE * AHASH_SIDE * 3)
    return [hdr + row.tobytes() for row in data]


def media_bmp16_from_documents(docs: DataFrame) -> DataFrame:
    """One deterministic 16×16 gray BMP per document (see
    :func:`_doc_ahash_pixel` for the near-dup group structure). Each
    batch's rasters are generated with vectorized numpy (the same
    closed-form pattern) and serialized through a shared header slice of
    the scalar ``build_bmp`` — payload bytes identical (tested)."""

    def payloads(ids):
        xs = np.arange(AHASH_SIDE, dtype=np.int64)
        d = np.asarray(ids, dtype=np.int64)
        gid = (d % 25)[:, None, None]
        v = (
            xs[None, None, :] * (3 + gid)
            + xs[None, :, None] * (5 + 2 * gid)
        ) % 256
        idx = np.arange(len(d))
        px, py = d % 16, (d // 16) % 16
        v[idx, py, px] = (v[idx, py, px] + 128) % 256
        return _gray_bmp16_payloads(v)

    return media_from_doc_ids(docs, "image", "image/bmp", payloads)

# ===========================================================================
# DCT perceptual hash (pHash) — r6
# ===========================================================================

# Integer 16-point DCT-II basis, round(2^14 · cos(π(2x+1)u/32)). Computed
# once at import from math.cos and shared VERBATIM with the DuckDB oracle
# (queries.py embeds these integers into the SQL via f-string), so both
# engines run the identical integer transform. Rounding is tie-safe: the
# nearest any scaled basis value comes to an exact .5 boundary is 0.0105
# (measured), ~1e13 ulps — no platform's cos() can cross it.
PHASH_SCALE = 1 << 14
PHASH_BASIS: list[list[int]] = [
    [
        round(PHASH_SCALE * math.cos(math.pi * (2 * x + 1) * u / 32))
        for x in range(AHASH_SIDE)
    ]
    for u in range(AHASH_SIDE)
]


def phash_bands(payload: bytes) -> tuple[int, int, int, int]:
    """Decode an image payload and return the 64-bit DCT perceptual
    hash as four 16-bit band integers.

    The classic pHash recipe (Zauner, "Implementation and Benchmarking
    of Perceptual Image Hash Functions") made integer-exact: 16×16 luma
    raster → integer 2-D DCT-II (``C[u,v] = Σ_y Σ_x B[u,y]·B[v,x]·L[y,x]``
    with the shared ``PHASH_BASIS``; |C| < 2^45, no overflow) → keep the
    8×8 LOW-FREQUENCY block → threshold each coefficient against the
    MEDIAN of the 63 AC coefficients (the 32nd order statistic of an
    odd-sized integer multiset — exactly reproducible, no float mean) →
    bit ``k = u*8+v`` set when ``C[u,v] > median``. Properties pinned by
    tests: EXACT invariance to unclamped global brightness shift — NOTE
    (ADVICE r6): the DC coefficient's bit (k = 0) IS included in the
    64-bit hash, but on non-negative rasters DC always exceeds the
    63-AC median, so bit 0 is pinned at 1 and a brightness shift (which
    moves only DC) cannot change any bit — and to exact contrast
    scaling (all coefficients and their median scale together)."""
    return _bands_of(payload, _phash_bands_batch)


def image_phash(df: DataFrame) -> DataFrame:
    """media rows → (media_id, b0..b3) DCT perceptual hash; the same pass
    as :func:`image_ahash` (:func:`_hash_pass`) with the pHash kernel."""
    return _hash_pass(df, _phash_bands_batch)


# pHash fixture: md5-seeded SMOOTH rasters (bilinear interpolation of a
# 4×4 control grid) — a DCT hash is only meaningful on images with
# low-frequency structure; the aHash fixture's mod-256 sawtooth is
# spectrally white and would make every coefficient marginal.
_PHASH_CTRL_RANGE = 200
_PHASH_CTRL_LO = 28
_PHASH_GROUPS = 25
_PHASH_SHIFT_STEP = 3  # brightness variants 0..15 — never clamps
_PHASH_DIPOLE = 6


def _md5_int32(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _phash_control(gid: int) -> list[list[int]]:
    return [
        [
            _md5_int32(f"{gid}:{i}:{j}") % _PHASH_CTRL_RANGE + _PHASH_CTRL_LO
            for i in range(4)
        ]
        for j in range(4)
    ]


def _doc_phash_pixel(doc_id: int):
    """Deterministic smooth 16×16 gray fixture with near-dup structure:
    docs sharing ``doc_id % 25`` share a bilinear base surface; variants
    differ by an UNCLAMPED global brightness shift (pHash-invariant by
    construction — only DC moves) plus a tiny ±6 horizontal dipole
    (high-frequency, so its low-block leakage exercises the Hamming
    threshold non-trivially). Values stay within [21, 248] by
    construction: no clamping, so the DuckDB oracle regenerates every
    pixel in closed form."""
    gid = doc_id % _PHASH_GROUPS
    ctrl = _phash_control(gid)
    shift = _PHASH_SHIFT_STEP * ((doc_id // _PHASH_GROUPS) % 6)
    px, py = doc_id % 15, (doc_id // 16) % 16

    def px_fn(x: int, y: int) -> tuple[int, int, int]:
        i = min(x // 5, 2)
        j = min(y // 5, 2)
        fx, fy = x - 5 * i, y - 5 * j
        v = (
            ctrl[j][i] * (5 - fx) * (5 - fy)
            + ctrl[j][i + 1] * fx * (5 - fy)
            + ctrl[j + 1][i] * (5 - fx) * fy
            + ctrl[j + 1][i + 1] * fx * fy
        ) // 25
        v += shift
        if y == py and x == px:
            v += _PHASH_DIPOLE
        elif y == py and x == px + 1:
            v -= _PHASH_DIPOLE
        return (v, v, v)

    return px_fn


def _phash_base_surface(gid: int):
    """(16, 16) int64 bilinear base surface for one pHash fixture group —
    the exact integer arithmetic of :func:`_doc_phash_pixel` without the
    per-doc shift/dipole, vectorized (25 groups total, cached)."""
    ctrl = np.asarray(_phash_control(gid), dtype=np.int64)  # [j][i]
    xs = np.arange(AHASH_SIDE, dtype=np.int64)
    i = np.minimum(xs // 5, 2)
    j = np.minimum(xs // 5, 2)
    fx = xs - 5 * i
    fy = xs - 5 * j
    # v[y, x] from the 4 surrounding control points
    c00 = ctrl[j[:, None], i[None, :]]
    c01 = ctrl[j[:, None], i[None, :] + 1]
    c10 = ctrl[j[:, None] + 1, i[None, :]]
    c11 = ctrl[j[:, None] + 1, i[None, :] + 1]
    return (
        c00 * (5 - fx[None, :]) * (5 - fy[:, None])
        + c01 * fx[None, :] * (5 - fy[:, None])
        + c10 * (5 - fx[None, :]) * fy[:, None]
        + c11 * fx[None, :] * fy[:, None]
    ) // 25


_PHASH_SURFACES: dict[int, object] = {}


def media_bmp16_smooth_from_documents(docs: DataFrame) -> DataFrame:
    """One deterministic smooth 16×16 gray BMP per document (see
    :func:`_doc_phash_pixel` for the group/shift/dipole structure). The
    25 group base surfaces are computed once per worker and the per-doc
    shift/dipole applied in numpy; byte-identical payloads (tested)."""

    def payloads(ids):
        for g in range(_PHASH_GROUPS):
            if g not in _PHASH_SURFACES:
                _PHASH_SURFACES[g] = _phash_base_surface(g)
        bases = np.stack(
            [_PHASH_SURFACES[g] for g in range(_PHASH_GROUPS)]
        )  # (25, 16, 16)
        d = np.asarray(ids, dtype=np.int64)
        gid = d % _PHASH_GROUPS
        shift = _PHASH_SHIFT_STEP * ((d // _PHASH_GROUPS) % 6)
        v = bases[gid] + shift[:, None, None]
        idx = np.arange(len(d))
        px, py = d % 15, (d // 16) % 16
        v[idx, py, px] += _PHASH_DIPOLE
        v[idx, py, px + 1] -= _PHASH_DIPOLE
        return _gray_bmp16_payloads(v)

    return media_from_doc_ids(docs, "image", "image/bmp", payloads)
