"""Byte pins for the two JPEG encoders: the sha256 of one stream per
sampling layout (gray, 4:4:4, 4:2:0, 4:2:2, 4:1:1), baseline and
progressive, under flat and Annex-K quant tables and with restart
intervals. The digests were computed with the five per-layout baseline
encoders and two progressive encoders that ``encode_baseline`` and
``encode_progressive`` replaced, so any change to the emitted bytes —
table layout, padding, MCU order, scan script — fails here."""

import hashlib

import pytest

from work_order_pdf_extractor_spark.core import jpegcodec as J


def _plane(w, h, k):
    # not block-constant: every AC band carries coefficients
    return [
        (37 * x + 11 * y + 29 * ((x * y + k) % 7)) % 256
        for y in range(h)
        for x in range(w)
    ]


@pytest.mark.parametrize(
    "kind,sampling,w,h,std,ri,digest",
    [
        ("baseline", None, 19, 13, True, 3,
         "c44f7d09cdaa63b0e401ca7eb79d6008b1bb8b925a874f744c60e78a81420248"),
        ("baseline", (1, 1), 19, 13, False, 1,
         "43ca4727cea619bb2786b9e63d1095cd2083359592a67cbe0478087b33c9a3f9"),
        ("baseline", (2, 2), 19, 13, True, 0,
         "2c07e2aac87676bf2f1cb664bedca4468cbf5bfebeb567e103c34ea4df42ccab"),
        ("baseline", (2, 1), 19, 13, False, 0,
         "4bbfeaa6d3b506c62216ff8be521534f4e5816e169b7926cc7e8266081a7befa"),
        ("baseline", (4, 1), 37, 9, True, 0,
         "cbce81fc505bca8c60f9b595310780c788c90cbc979ba920250d076bce1bbcf6"),
        ("progressive", None, 19, 13, True, 0,
         "aaaa5033e490bc8dff1a307d8f2b7638f025f42fe8a80d8e00b391dc867c2d66"),
        ("progressive", (1, 1), 19, 13, False, 0,
         "38707ca977037b8ec1ed28c8d8d483ee22372ee17dd67ec67b80b335475e16df"),
        ("progressive", (2, 2), 19, 13, False, 0,
         "df0f5d3e0f17882eadeae67b59218efab7130b2d3d2ee2b192e09fb2f1330a51"),
        ("progressive", (2, 1), 19, 13, True, 0,
         "65560ef2f2e3fdc813593e20661c1b85616dcde8f70c760fd295a758b80ec172"),
        ("progressive", (4, 1), 37, 9, True, 0,
         "05667db65ad387c567c45142e6daafc75d2b9c6b513ac1aadfcb1652edd15def"),
    ],
)
def test_encoder_bytes_pinned(kind, sampling, w, h, std, ri, digest):
    lq = J.STD_LUMA_QUANT if std else None
    cq = J.STD_CHROMA_QUANT if std else None
    if sampling is None:
        planes, sampling = [_plane(w, h, 0)], (1, 1)
    else:
        cw, ch = -(-w // sampling[0]), -(-h // sampling[1])
        planes = [_plane(w, h, 0), _plane(cw, ch, 3), _plane(cw, ch, 5)]
    if kind == "baseline":
        payload = J.encode_baseline(w, h, planes, sampling, lq, cq, ri)
    else:
        payload = J.encode_progressive(w, h, planes, sampling, lq, cq)
    assert hashlib.sha256(payload).hexdigest() == digest


def test_planes_must_match_layout():
    with pytest.raises(ValueError):
        J.encode_baseline(8, 8, [[0] * 64, [0] * 64])
    with pytest.raises(ValueError):
        J.encode_progressive(8, 8, [[0] * 64], (2, 2))
