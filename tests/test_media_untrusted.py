"""Untrusted media bytes: every decode is bounded in time and memory, and
a corrupt payload raises only the contract classes (``ValueError``,
``IndexError``, ``KeyError``, ``NotImplementedError``) — which the
feature passes turn into status='decode_failed' rows."""

from __future__ import annotations

import random
import struct
import tracemalloc

import numpy as np
import pytest

from work_order_pdf_extractor_spark.core import jpegcodec as J
from work_order_pdf_extractor_spark.operators import adam7 as A
from work_order_pdf_extractor_spark.operators import multimodal as M

from .deadline import deadline

_CONTRACT = (ValueError, IndexError, KeyError, NotImplementedError)


def test_ppm_header_ending_early_raises_promptly():
    for payload in (b"P6\n12", b"P6\n12 7", b"P6 3 2 255", b"P6", b"P6   "):
        with deadline(2.0), pytest.raises(ValueError):
            M.decode_image(payload)


def test_bmp_header_claiming_a_huge_raster_allocates_nothing():
    """A bare 54-byte header claiming 4000×4000 pixels must be refused
    from the header alone, not after allocating a 16M-slot raster."""
    dib = struct.pack("<IiiHHIIiiII", 40, 4000, 4000, 1, 24, 0, 0, 0, 0, 0, 0)
    payload = struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54) + dib
    tracemalloc.start()
    try:
        with pytest.raises(ValueError):
            M.decode_image(payload)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak


def test_ppm_header_claiming_a_huge_raster_allocates_nothing():
    tracemalloc.start()
    try:
        with pytest.raises(ValueError):
            M.decode_image(b"P6\n4000 4000\n255\n\x00\x00\x00")
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak


def test_cut_short_headers_raise_valueerror():
    png = M.build_png(4, 4, lambda x, y: (x, y, 0))
    i = png.index(b"IHDR")
    short_ihdr = png[: i - 4] + M._png_chunk(b"IHDR", png[i + 4 : i + 10])
    with pytest.raises(ValueError):
        M.decode_image(short_ihdr + png[i + 21 :])
    # SOF0 segment with 3 of its 6 fixed bytes; DRI without its value
    for payload in (
        b"\xff\xd8\xff\xc0\x00\x05\x08\x00\x10",
        b"\xff\xd8\xff\xdd\x00\x02",
    ):
        with pytest.raises(ValueError):
            J.decode_rgb_arrays(payload)
    # a progressive stream cut inside the length of the segment that
    # follows its first scan
    prog = J.encode_progressive(16, 16, [list(range(256))])
    nxt = prog.index(b"\xff\xc4", prog.index(b"\xff\xda"))
    with pytest.raises(ValueError):
        J.decode_rgb_arrays(prog[: nxt + 3])
    wav = M.build_wav([1, 2, 3])
    with pytest.raises(ValueError):
        M.decode_audio(wav[: wav.index(b"fmt ") + 12])


def test_pos_sum_refuses_int64_overflow():
    lumas = np.arange(7, dtype=np.int64)
    assert M._pos_sum(lumas) == sum(v * (k + 1) for k, v in enumerate(range(7)))
    # 255·n(n+1)/2 first reaches 2**63 at n = 268,961,285 (a zero-copy
    # view: nothing that large is allocated)
    n = 268_961_285
    assert 255 * n * (n + 1) // 2 >= 1 << 63 > 255 * (n - 1) * n // 2
    with pytest.raises(ValueError, match="overflow"):
        M._pos_sum(np.broadcast_to(np.int64(255), (n,)))


def _seeds():
    px = lambda x, y: ((7 * x + 13 * y) % 256, (x + 3 * y) % 256, (11 * x) % 256)
    gray = [(5 * i) % 256 for i in range(16 * 8)]
    pal = [((7 * i) % 256, (5 * i + 11) % 256, (3 * i + 29) % 256) for i in range(9)]
    images = [
        M.build_bmp(7, 5, px),
        M.build_ppm(7, 5, px),
        M.build_png(7, 5, px),
        A.build_png_adam7(9, 6, px),
        M.build_png_palette(7, 5, pal, lambda x, y: (x + 2 * y) % 9),
        J.encode_baseline(16, 8, [gray]),
        J.encode_baseline(16, 8, [gray, [100] * 32, [150] * 32], (2, 2)),
        J.encode_progressive(16, 8, [gray]),
    ]
    audio = [M.build_wav([(37 * i) % 4096 - 2048 for i in range(20)]),
             M.build_wav_mulaw([(53 * i) % 4096 - 2048 for i in range(21)])]
    return images, audio


def _mutate(rng: random.Random, p: bytes) -> bytes:
    b = bytearray(p)
    r = rng.random()
    if r < 0.6:  # overwrite 1-3 bytes, mostly in the header
        for _ in range(rng.randint(1, 3)):
            hi = min(len(b), 48) if rng.random() < 0.6 else len(b)
            b[rng.randrange(hi)] = rng.randrange(256)
    elif r < 0.8:
        del b[rng.randrange(len(b)) :]
    elif r < 0.9:
        i = rng.randrange(len(b) + 1)
        b[i:i] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 4)))
    else:
        i = rng.randrange(len(b))
        del b[i : i + rng.randint(1, 8)]
    return bytes(b)


def test_mutated_payloads_raise_only_contract_classes():
    """Randomly mutated BMP, PPM, PNG (sequential, Adam7, paletted), JPEG
    (baseline, 4:2:0, progressive) and WAV payloads: each decode either
    succeeds or raises a contract class, within a deadline."""
    rng = random.Random(20260)
    images, audio = _seeds()
    cases = [(M.decode_image, p) for p in images] + [
        (M.decode_audio, p) for p in audio
    ]
    outcomes = {"ok": 0, "raised": 0}
    for decode, seed in cases:
        for _ in range(400):
            payload = _mutate(rng, seed)
            with deadline(2.0):
                try:
                    decode(payload)
                    outcomes["ok"] += 1
                except _CONTRACT:
                    outcomes["raised"] += 1
    assert outcomes["ok"] and outcomes["raised"]
