"""Average-hash image near-dup: hand-checked hash bits, banding
completeness vs an exhaustive cross-pair scan, codec-path agreement, and
the plan shape (payload never shuffles, no cartesian pair scan)."""

from __future__ import annotations

import pandas as pd
import pytest

from work_order_pdf_extractor_spark import queries as Q
from work_order_pdf_extractor_spark.operators import imagehash as IH
from work_order_pdf_extractor_spark.operators.multimodal import build_bmp, build_png

SF = "/root/testdata/sf0.001"


def test_ahash_hand_checked_half_plane():
    """Left half bright (255), right half dark (0): bit k = cy*8+cx set
    iff cx < 4, so every 16-bit band reads 0b0000111100001111 = 3855."""
    p = build_bmp(16, 16, lambda x, y: (255, 255, 255) if x < 8 else (0, 0, 0))
    assert IH.ahash_bands(p) == (3855, 3855, 3855, 3855)


def test_ahash_top_half_pattern():
    """Top half bright: bits for cy < 4 → band 0 and 1 all-ones (rows
    0-3 of the grid), bands 2 and 3 zero."""
    p = build_bmp(16, 16, lambda x, y: (255,) * 3 if y < 8 else (0,) * 3)
    assert IH.ahash_bands(p) == (0xFFFF, 0xFFFF, 0, 0)


def test_ahash_flat_image_all_zero_bits():
    """Uniform raster: no cell strictly exceeds the mean (s*64 == total),
    so the hash is all zeros — the strict > is what both engines pin."""
    p = build_bmp(16, 16, lambda x, y: (77, 77, 77))
    assert IH.ahash_bands(p) == (0, 0, 0, 0)


def test_ahash_png_matches_bmp():
    """The hash is a property of the decoded raster, not the container:
    the same pixels through the PNG codec path give identical bands."""
    px = lambda x, y: ((x * 13 + y * 29) % 256,) * 3
    assert IH.ahash_bands(build_bmp(16, 16, px)) == IH.ahash_bands(
        build_png(16, 16, px)
    )


def test_ahash_rejects_bad_inputs():
    with pytest.raises(ValueError):
        IH.ahash_bands(b"not an image")
    with pytest.raises(ValueError):  # dims not divisible by 8
        IH.ahash_bands(build_bmp(10, 16, lambda x, y: (0, 0, 0)))


def test_near_pairs_refuses_incomplete_hamming():
    with pytest.raises(ValueError):
        IH.ahash_near_pairs(None, max_hamming=4)


def test_banding_matches_exhaustive_truth(spark):
    """The banded equi-join finds EXACTLY the pairs an exhaustive
    cross-pair scan finds at hamming <= 3 (pigeonhole completeness,
    value-checked — the same contract the DuckDB oracle enforces)."""
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": range(60)}))
    hashes = IH.image_ahash(IH.media_bmp16_from_documents(docs))
    hp = hashes.toPandas().set_index("media_id").sort_index()
    brute = set()
    ids = list(hp.index)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(
                bin(int(hp.loc[a, c]) ^ int(hp.loc[b, c])).count("1")
                for c in ("b0", "b1", "b2", "b3")
            )
            if ham <= 3:
                brute.add((min(a, b), max(a, b), ham))
    got = {
        (r.doc1, r.doc2, r.hamming)
        for r in IH.ahash_near_pairs(hashes, max_hamming=3).collect()
    }
    assert got == brute
    assert len(brute) > 0  # the fixture's group structure must fire


def test_fixture_groups_are_near_dups(spark):
    """Two docs sharing doc_id % 25 differ in one perturbed pixel each —
    their hashes must land within the hamming-3 radius (this is what
    makes the query's output non-empty by construction)."""
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [3, 28, 53]}))
    hp = (
        IH.image_ahash(IH.media_bmp16_from_documents(docs))
        .toPandas()
        .set_index("media_id")
    )
    for a, b in [(3, 28), (3, 53), (28, 53)]:
        ham = sum(
            bin(int(hp.loc[a, c]) ^ int(hp.loc[b, c])).count("1")
            for c in ("b0", "b1", "b2", "b3")
        )
        assert ham <= 3, (a, b, ham)


def test_plan_payload_never_shuffles_no_cartesian(spark):
    """Payload bytes are consumed inside the hashing MapInPandas (only
    four ints leave it); the pair join is an equi-join on the band key —
    never a cartesian / nested-loop pair scan."""
    df = Q.REGISTRY["image_ahash_pairs"][0](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # nothing above the hash pass carries payload bytes
    pre, _, _post = p.partition("MapInPandas")
    assert "payload" not in pre


def test_hash_passes_skip_undecodable_payloads(spark):
    """One garbage payload among good ones yields no hash row (it can pair
    with nothing) instead of failing the task; image_features still
    reports it as decode_failed."""
    from work_order_pdf_extractor_spark.operators import multimodal as M

    good = {
        1: build_bmp(16, 16, IH._doc_phash_pixel(1)),
        2: build_png(16, 16, IH._doc_phash_pixel(2)),
        3: build_bmp(16, 16, IH._doc_phash_pixel(3)),
    }
    bad = {7: b"\x89PNG\r\n\x1a\nGARBAGE", 8: b"not an image", 9: good[1][:60]}
    media = spark.createDataFrame(
        pd.DataFrame(
            {"media_id": list(good) + list(bad), "payload": list(good.values()) + list(bad.values())}
        ),
        "media_id long, payload binary",
    ).coalesce(1)
    for hasher, bands in ((IH.image_ahash, IH.ahash_bands), (IH.image_phash, IH.phash_bands)):
        rows = {
            r.media_id: (r.b0, r.b1, r.b2, r.b3) for r in hasher(media).collect()
        }
        assert rows == {mid: bands(p) for mid, p in good.items()}
    status = {r.media_id: r.status for r in M.image_features(media).collect()}
    assert status == {1: "ok", 2: "ok", 3: "ok", 7: "decode_failed", 8: "decode_failed", 9: "decode_failed"}


def test_near_pairs_plan_no_broadcast_when_disabled(spark):
    """The class tables grow with the number of distinct hashes, so the
    pair search carries no broadcast hint: with automatic broadcasting
    off, no join in the plan broadcasts."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for name in ("image_ahash_pairs", "image_phash_pairs"):
            df = Q.REGISTRY[name][0](spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Broadcast" not in plan, (name, plan)
    finally:
        spark.conf.set(key, old)
