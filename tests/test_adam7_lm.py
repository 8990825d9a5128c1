"""Round-5 session-3 operators: Adam7 interlaced PNG + bigram LM score.

Adam7 streams come from the builder in ``operators/adam7.py`` and are read
by the one PNG decoder in ``operators/multimodal.py``. They are
value-tested at the decoder level (round-trip through a real zlib stream,
every filter type, empty passes at tiny dims, placement sensitivity of
pos_sum) and at the distributed level (corrupt payloads degrade to status
rows). The LM score is hand-computed on a corpus small enough to do the
add-one-smoothed arithmetic on paper.
"""

from __future__ import annotations

import struct
import zlib

import pandas as pd
import pytest

from work_order_pdf_extractor_spark.operators import adam7 as A
from work_order_pdf_extractor_spark.operators import lm as L
from work_order_pdf_extractor_spark.operators import multimodal as M
from work_order_pdf_extractor_spark.operators.multimodal import _luma

_KEYS = ("width", "height", "n_px", "sum_luma", "pos_sum")


def _brute(w, h, px):
    lumas = [_luma(*px(x, y)) for y in range(h) for x in range(w)]
    return {
        "width": w,
        "height": h,
        "n_px": w * h,
        "sum_luma": sum(lumas),
        "pos_sum": sum(v * (k + 1) for k, v in enumerate(lumas)),
    }


def _features(payload):
    d = M.decode_image(payload)
    return {k: d[k] for k in _KEYS}


def _idat_raw(payload):
    """The inflated IDAT stream of a PNG payload."""
    pos, idat = 8, bytearray()
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        if payload[pos + 4 : pos + 8] == b"IDAT":
            idat += payload[pos + 8 : pos + 8 + clen]
        pos += 12 + clen
    return zlib.decompress(bytes(idat))


@pytest.mark.parametrize(
    "w,h",
    [(1, 1), (2, 2), (3, 3), (4, 5), (5, 4), (8, 8), (9, 10), (16, 13)],
)
def test_adam7_roundtrip_exact(w, h):
    """decode(build(img)) recovers every pixel AT ITS POSITION for dims
    that leave various subsets of the seven passes empty (1x1 populates
    only pass 1; 2x2 passes {1,4,6,7}; >=8x8 all seven)."""
    px = lambda x, y: ((11 * x + 23 * y) % 256, (x * y + 5) % 256, (x + 7 * y) % 256)
    assert _features(A.build_png_adam7(w, h, px)) == _brute(w, h, px)


def test_adam7_filter_cycle_covers_all_types():
    """The builder's (row_in_pass + pass_no) % 5 cycling must actually
    exercise Sub/Up/Average/Paeth: a 16x13 build emits every filter id at
    least once."""
    w, h = 16, 13
    px = lambda x, y: ((3 * x + 2 * y + 9) % 256,) * 3
    raw = _idat_raw(A.build_png_adam7(w, h, px))
    seen, off = set(), 0
    for p in A.ADAM7:
        pw, ph = A._pass_dims(w, h, *p)
        for _ in range(ph):
            seen.add(raw[off])
            off += 1 + pw * A._BPP
    assert off == len(raw)
    assert seen == {0, 1, 2, 3, 4}


def test_adam7_pos_sum_detects_misplacement():
    """Transposing the decoded raster keeps the pixel multiset (so
    sum_luma collides) but must change pos_sum for an asymmetric image —
    the property the oracle leans on."""
    w, h = 8, 8
    px = lambda x, y: ((x * 31 + y) % 256,) * 3
    payload = A.build_png_adam7(w, h, px)
    base = M.decode_image(payload)

    # decode then re-place with x/y transposed: same lumas, wrong spots
    W, H, lumas = M._decode_png(payload)
    lumas = lumas.tolist()
    transposed = [lumas[x * W + y] for y in range(H) for x in range(W)]
    assert sorted(transposed) == sorted(lumas)
    pos_t = sum(v * (k + 1) for k, v in enumerate(transposed))
    assert pos_t != base["pos_sum"]


def test_adam7_truncated_and_trailing_raise():
    p = A.build_png_adam7(6, 6, lambda x, y: (x, y, 0))
    raw = _idat_raw(p)
    head = p[: p.index(b"IDAT") - 4]
    tail = M._png_chunk(b"IEND", b"")
    for bad in (raw[:-1], raw + b"\x00"):
        mangled = head + M._png_chunk(b"IDAT", zlib.compress(bytes(bad))) + tail
        with pytest.raises(ValueError):
            M._decode_png(mangled)


def test_png_interlace_flag_must_match_raster():
    """An IHDR that claims the other interlace mode describes a raster
    length the IDAT stream does not have: ValueError, never a misread."""
    px = lambda x, y: (x, y, 1)
    for payload, flag in ((M.build_png(4, 4, px), 1), (A.build_png_adam7(4, 4, px), 0)):
        i = payload.index(b"IHDR") + 4 + 12  # the interlace byte
        flipped = payload[:i] + bytes([flag]) + payload[i + 1 :]
        with pytest.raises(ValueError, match="raster length"):
            M._decode_png(flipped)


def test_adam7_distributed_and_corrupt(spark):
    """image_features on Adam7 payloads: good payloads match brute force,
    corrupt payloads degrade to status='decode_failed' null rows."""
    px = lambda did: A._doc_adam7_pixel(did)
    rows = []
    for did in (0, 1, 17):
        w, h = A._doc_adam7_dims(did)
        rows.append((did, "image", A.build_png_adam7(w, h, px(did)), "image/png"))
    rows.append((99, "image", b"\x89PNG\r\n\x1a\nGARBAGE", "image/png"))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "kind", "payload", "mime"])
    )
    out = {r.media_id: r for r in M.image_features(df).collect()}
    assert len(out) == 4
    for did in (0, 1, 17):
        w, h = A._doc_adam7_dims(did)
        want = _brute(w, h, px(did))
        r = out[did]
        assert r.status == "ok"
        assert (r.width, r.height, r.n_px) == (w, h, w * h)
        assert (r.sum_luma, r.pos_sum) == (want["sum_luma"], want["pos_sum"])
    assert out[99].status == "decode_failed"
    assert out[99].sum_luma is None and out[99].pos_sum is None


# --------------------------------------------------------------------------
# bigram LM
# --------------------------------------------------------------------------


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )


def test_bigram_lm_hand_computed(spark):
    """Corpus {'a b a', 'b a'}: c(a)=3, c(b)=2, V=2; c(a,b)=1, c(b,a)=2.
    d0 = ((1+1)M)//(3+2) + ((2+1)M)//(2+2) = 400000 + 750000 = 1150000;
    d1 = 750000."""
    out = {
        r.doc_id: r
        for r in L.bigram_lm_score(_docs(spark, ["a b a", "b a"])).collect()
    }
    assert (out[0].n_bigrams, out[0].lm_score) == (2, 1150000)
    assert (out[1].n_bigrams, out[1].lm_score) == (1, 750000)


def test_bigram_lm_degenerate_docs(spark):
    """Empty, punctuation-only, and single-token docs all score 0 with
    0 bigrams but still appear in the output (left join contract)."""
    out = {
        r.doc_id: r
        for r in L.bigram_lm_score(
            _docs(spark, ["", "?!., 123", "solo", "two words"])
        ).collect()
    }
    assert len(out) == 4
    for did in (0, 1, 2):
        assert (out[did].n_bigrams, out[did].lm_score) == (0, 0)
    assert out[3].n_bigrams == 1 and out[3].lm_score > 0


def test_bigram_lm_tokenization_matches_oracle_shape(spark):
    """Mixed case + punctuation normalize identically to the DuckDB
    regexp ('[^a-z]+' -> ' '): 'The cat—the CAT!' has tokens
    [the, cat, the, cat] and bigram (the,cat) twice, (cat,the) once."""
    out = L.bigram_lm_score(_docs(spark, ["The cat—the CAT!"])).collect()[0]
    # c(the)=2, c(cat)=2, V=2; c(the,cat)=2, c(cat,the)=1
    # parts: (the,cat) twice: ((2+1)M)//(2+2)=750000 each;
    #        (cat,the) once: ((1+1)M)//(2+2)=500000
    assert out.n_bigrams == 3
    assert out.lm_score == 750000 * 2 + 500000


# --------------------------------------------------------------------------
# hypothesis properties
# --------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 20),
    seed=st.integers(0, 10_000),
)
def test_adam7_roundtrip_property(w, h, seed):
    """For ANY dims (including ones that empty out arbitrary subsets of
    the seven passes) and any deterministic content, decode(build) is
    exact — values AND placement."""
    px = lambda x, y: (
        (x * 7 + y * 13 + seed) % 256,
        (x + y * 3 + seed * 5) % 256,
        (x * 11 + seed) % 256,
    )
    assert _features(A.build_png_adam7(w, h, px)) == _brute(w, h, px)


@settings(max_examples=40, deadline=None)
@given(w=st.integers(1, 16), h=st.integers(1, 16), seed=st.integers(0, 10_000))
def test_adam7_matches_noninterlaced_decode(w, h, seed):
    """Cross-layout differential: the same image through the interlaced
    and the sequential builder decodes to the identical raster — seven
    independently filtered passes against one pass of filter-0 rows."""
    px = lambda x, y: ((x * 3 + y * 5 + seed) % 256,) * 3
    aw, ah, a = M._decode_png(A.build_png_adam7(w, h, px))
    sw, sh, s = M._decode_png(M.build_png(w, h, px))
    assert (aw, ah) == (sw, sh) == (w, h)
    assert a.tolist() == s.tolist()
