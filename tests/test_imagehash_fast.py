"""The two batch hash kernels against pure-Python brute force (pooling
and the integer DCT written out as explicit sums), on the uniform-BMP
batch path and the per-image path alike, and byte-identity of the
vectorized fixture builders vs ``build_bmp``."""

from __future__ import annotations

import numpy as np
import pandas as pd

from work_order_pdf_extractor_spark.operators import imagehash as ih
from work_order_pdf_extractor_spark.operators.multimodal import (
    _luma,
    build_bmp,
    build_png,
    build_ppm,
)

DOC_IDS = list(range(0, 120)) + [399, 400, 401, 1234, 99999, 10_000_007]


def test_ahash_fixture_payloads_byte_identical():
    d = np.array(DOC_IDS, dtype=np.int64)
    gid = (d % 25)[:, None, None]
    xs = np.arange(16, dtype=np.int64)
    v = (xs[None, None, :] * (3 + gid) + xs[None, :, None] * (5 + 2 * gid)) % 256
    idx = np.arange(len(d))
    px, py = d % 16, (d // 16) % 16
    v[idx, py, px] = (v[idx, py, px] + 128) % 256
    fast = ih._gray_bmp16_payloads(v)
    for k, doc in enumerate(DOC_IDS):
        slow = build_bmp(16, 16, ih._doc_ahash_pixel(doc))
        assert fast[k] == slow, f"payload mismatch doc_id={doc}"


def test_phash_fixture_payloads_byte_identical():
    d = np.array(DOC_IDS, dtype=np.int64)
    bases = np.stack([ih._phash_base_surface(g) for g in range(25)])
    gid = d % 25
    shift = ih._PHASH_SHIFT_STEP * ((d // 25) % 6)
    v = bases[gid] + shift[:, None, None]
    idx = np.arange(len(d))
    px, py = d % 15, (d // 16) % 16
    v[idx, py, px] += ih._PHASH_DIPOLE
    v[idx, py, px + 1] -= ih._PHASH_DIPOLE
    fast = ih._gray_bmp16_payloads(v)
    for k, doc in enumerate(DOC_IDS):
        slow = build_bmp(16, 16, ih._doc_phash_pixel(doc))
        assert fast[k] == slow, f"payload mismatch doc_id={doc}"


def _raster(px, side=16):
    return [[_luma(*px(x, y)) for x in range(side)] for y in range(side)]


def _ahash_brute(lum):
    """8×8 cell sums; bit cy*8+cx set when cell sum * 64 > total."""
    c = len(lum) // 8
    sums = [
        sum(lum[y][x] for y in range(cy * c, cy * c + c) for x in range(cx * c, cx * c + c))
        for cy in range(8)
        for cx in range(8)
    ]
    total = sum(sums)
    bits = [s * 64 > total for s in sums]
    return tuple(sum(1 << i for i in range(16) if bits[16 * j + i]) for j in range(4))


def _phash_brute(lum):
    """C[u][v] = Σ_y Σ_x B[u][y]·B[v][x]·L[y][x] over the 8×8 low block;
    bit u*8+v set when C[u][v] > the median of the 63 AC coefficients."""
    B = ih.PHASH_BASIS
    rows = [[sum(B[v][x] * lum[y][x] for x in range(16)) for v in range(8)] for y in range(16)]
    low = [sum(B[u][y] * rows[y][v] for y in range(16)) for u in range(8) for v in range(8)]
    med = sorted(low[1:])[31]
    bits = [c > med for c in low]
    return tuple(sum(1 << i for i in range(16) if bits[16 * j + i]) for j in range(4))


def test_batch_hashes_match_brute_force():
    pxs = [ih._doc_ahash_pixel(doc) for doc in DOC_IDS] + [
        ih._doc_phash_pixel(doc) for doc in DOC_IDS
    ]
    lum = ih._bmp24_batch_lumas([build_bmp(16, 16, px) for px in pxs])
    assert lum is not None
    a_fast = ih._ahash_bands_batch(lum)
    p_fast = ih._phash_bands_batch(lum)
    for k, px in enumerate(pxs):
        raster = _raster(px)
        assert lum[k].tolist() == raster
        assert tuple(a_fast[k]) == _ahash_brute(raster)
        assert tuple(p_fast[k]) == _phash_brute(raster)


def test_batch_lumas_rejects_mixed_batches():
    p16 = build_bmp(16, 16, ih._doc_ahash_pixel(3))
    p24 = build_bmp(24, 24, lambda x, y: (x % 256, x % 256, x % 256))
    assert ih._bmp24_batch_lumas([p16, p24]) is None
    assert ih._bmp24_batch_lumas([b"P6 not a bmp"]) is None
    assert ih._bmp24_batch_lumas([]) is None


def test_image_hash_spark_paths_match_brute_force(spark):
    """The uniform-BMP batch path (fixture media) and the per-image path
    (a mixed BMP + PNG + PPM batch) both equal brute force."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": DOC_IDS}), "doc_id long"
    )
    for media, hasher, pixel, brute in (
        (ih.media_bmp16_from_documents(docs), ih.image_ahash, ih._doc_ahash_pixel, _ahash_brute),
        (ih.media_bmp16_smooth_from_documents(docs), ih.image_phash, ih._doc_phash_pixel, _phash_brute),
    ):
        rows = {
            r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
            for r in hasher(media).collect()
        }
        assert rows == {doc: brute(_raster(pixel(doc))) for doc in DOC_IDS}
    builders = (build_bmp, build_png, build_ppm)
    mixed = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": DOC_IDS,
                "payload": [
                    builders[k % 3](16, 16, ih._doc_phash_pixel(doc))
                    for k, doc in enumerate(DOC_IDS)
                ],
            }
        ),
        "media_id long, payload binary",
    ).coalesce(1)
    for hasher, brute in ((ih.image_ahash, _ahash_brute), (ih.image_phash, _phash_brute)):
        rows = {
            r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
            for r in hasher(mixed).collect()
        }
        assert rows == {
            doc: brute(_raster(ih._doc_phash_pixel(doc))) for doc in DOC_IDS
        }
