"""JPEG (ITU-T T.81 / JFIF) codec, stdlib+numpy: one baseline-sequential
encoder, one progressive encoder and one decoder for both frame types.

Closes the last compressed-codec gap vs the reference's raster stage
(``work_order_extractor.py:1121-1146``, pdf2image/poppler render): the
engine can emit AND parse a real entropy-coded DCT payload. Encode side:
markers, Annex K Huffman tables (luma + chroma pairs), FDCT/quantize/
zigzag, interleaved MCUs for grayscale or YCbCr with luma sampling 1×1
(4:4:4), 2×1 (4:2:2), 2×2 (4:2:0) or 4×1 (4:1:1), optional restart
intervals, and progressive spectral selection + successive approximation.
Decode side: one marker walk for SOF0 and SOF2, canonical-Huffman
bitstream decode with per-component selectors and DC predictors,
dequantize, float IDCT, replication upsampling, JFIF YCbCr→RGB. Same
EMIT==PARSE philosophy as ``core/pdfparse.py``: the supported subset is
explicit (8-bit, 1 or 3 components, sampling factors 1, 2 or 4, Huffman
coding, restart intervals in baseline frames only) and everything outside
it raises ``NotImplementedError`` so callers degrade to status rows;
corrupt streams raise ``ValueError`` / ``IndexError`` / ``KeyError``.

Oracle-exactness: JPEG is lossy in general, but an image whose 8x8 blocks
are each CONSTANT has only a DC coefficient (AC analytically zero), and
with a flat all-ones quantization table the round-trip is bit-exact —
``decode(encode(img)) == img`` — so the driver's integer value-hash
oracle can predict ``sum_luma`` analytically while the codec underneath
is the real DCT pipeline, not a lookup. Property-tested in
``tests/test_multimodal.py``.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

# --- 8x8 orthonormal DCT-II matrix: F = C @ B @ C.T, B = C.T @ F @ C ------
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else np.sqrt(0.25)
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)

# Zigzag order: ZIGZAG[i] = (row-major) index of the i-th zigzag coefficient.
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

FLAT_QUANT = [1] * 64  # near-lossless table used by the exact fixtures

# ITU-T T.81 Annex K.1 — the example luminance quantization table.
STD_LUMA_QUANT = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# ITU-T T.81 Annex K.3 — luminance DC/AC Huffman specs as (BITS, HUFFVAL):
# BITS[i] = number of codes of length i+1; HUFFVAL = symbols in code order.
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): symbol -> (code, length).
    r7: memoized on the table spec — real streams (and the fixtures)
    repeat the same DHT tables across images, and profiling showed the
    per-image rebuild was ~30% of decode. Pure function; callers treat
    the returned dict as read-only."""
    return _build_codes_cached(tuple(bits), tuple(vals))


@functools.lru_cache(maxsize=512)
def _build_codes_cached(
    bits: tuple[int, ...], vals: tuple[int, ...]
) -> dict[int, tuple[int, int]]:
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for MSB-first sequential decode.
    r7: memoized (see :func:`_build_codes`)."""
    return _build_decode_table_cached(tuple(bits), tuple(vals))


@functools.lru_cache(maxsize=512)
def _build_decode_table_cached(
    bits: tuple[int, ...], vals: tuple[int, ...]
) -> dict[tuple[int, int], int]:
    return {
        (ln, code): sym
        for sym, (code, ln) in _build_codes_cached(bits, vals).items()
    }


def _magnitude(v: int) -> tuple[int, int]:
    """T.81 F.1.2: value -> (category size, appended bits)."""
    if v == 0:
        return 0, 0
    size = int(v if v > 0 else -v).bit_length()
    return size, v if v >= 0 else v + (1 << size) - 1


def _extend(bits: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: appended bits -> signed value."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc, self._n = 0, 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # 1-fill to byte boundary

    def restart(self, n: int) -> None:
        """Byte-align and emit RSTn (T.81 F.1.2.3: the marker itself is
        never byte-stuffed)."""
        self.flush()
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


class _BitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data, self.pos = data, pos
        self._acc, self._n = 0, 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed
            elif 0xD0 <= nxt <= 0xD7:
                # RSTn must be consumed by expect_restart between MCUs,
                # never mid-entropy-data
                raise ValueError("unexpected restart marker inside MCU")
            else:
                raise ValueError(f"marker 0xFF{nxt:02X} inside scan")
        self._acc = (self._acc << 8) | b
        self._n += 8

    def expect_restart(self, n: int) -> None:
        """Discard pad bits to the byte boundary and consume the RSTn
        marker, which must carry the expected modulo-8 sequence number
        (T.81 E.1.4 — the number is how a decoder detects lost chunks)."""
        self._acc, self._n = 0, 0  # drop the 1-fill pad bits
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + (
            n & 7
        ):
            raise ValueError(
                f"expected RST{n & 7} at byte {self.pos}, found "
                f"{self.data[self.pos:self.pos + 2].hex()}"
            )
        self.pos += 2

    def read_bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


# ITU-T T.81 Annex K.2 — the example chrominance quantization table.
STD_CHROMA_QUANT = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# T.81 Annex K.4 — chrominance DC/AC Huffman specs. These are written
# into every stream's DHT segment and read back by the decoder (JPEG is
# self-describing), so round-trip correctness is independent of the
# canonical values.
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

def _write_zz(
    w: _BitWriter,
    zz: list[int],
    dc_codes: dict,
    ac_codes: dict,
    prev_dc: int,
) -> int:
    """Huffman-encode one block's 64 zigzag-order quantized coefficients
    (baseline DC difference + run-length AC with ZRL/EOB); returns the
    new DC predictor."""
    size, bits = _magnitude(zz[0] - prev_dc)
    code, ln = dc_codes[size]
    w.write(code, ln)
    if size:
        w.write(bits, size)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    for i in range(1, last_nz + 1):
        if zz[i] == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            w.write(code, ln)
            run -= 16
        size, bits = _magnitude(zz[i])
        code, ln = ac_codes[(run << 4) | size]
        w.write(code, ln)
        w.write(bits, size)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        w.write(code, ln)
    return zz[0]


def _zz_bytes(q: list[int]) -> bytes:
    return bytes(min(255, max(1, q[ZIGZAG[i]])) for i in range(64))


_JFIF_APP0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"


# Huffman table id -> ((DC BITS, HUFFVAL), (AC BITS, HUFFVAL)); luma
# components use table 0, chroma components table 1.
_HUFF_SPECS = [
    ((DC_LUMA_BITS, DC_LUMA_VALS), (AC_LUMA_BITS, AC_LUMA_VALS)),
    ((DC_CHROMA_BITS, DC_CHROMA_VALS), (AC_CHROMA_BITS, AC_CHROMA_VALS)),
]


def _quant_plane_blocks(plane: np.ndarray, qmat: np.ndarray) -> np.ndarray:
    """FDCT + quantize every 8×8 block of an (8-aligned) plane; returns
    an (bh, bw, 64) int64 array in ZIGZAG coefficient order. One stacked
    matmul over all blocks (bit-identical to the per-block
    ``_C @ (block-128) @ _C.T`` product — same GEMM kernel per slice)."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = (
        plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).astype(np.float64)
        - 128.0
    )
    coef = _C[None, None] @ blocks @ _C.T[None, None]
    q = np.round(coef / qmat).astype(np.int64)
    return q.reshape(bh, bw, 64)[:, :, ZIGZAG]


def _components(width, height, planes, sampling, luma_quant, chroma_quant):
    """Frame set-up shared by both encoders. ``planes`` is ``[y]`` or
    ``[y, cb, cr]``, each row-major; with luma sampling ``(h, v)`` the
    chroma planes come already downsampled to ``ceil(width/h) ×
    ceil(height/v)``. Every plane is edge-padded to the interleaved MCU
    grid (``8h × 8v`` pixels per MCU, the decoder crops) and FDCT-
    quantized; luma uses quant/Huffman table 0, chroma table 1.
    Returns (component dicts, (mcuy, mcux), quant tables)."""
    if len(planes) not in (1, 3) or (
        len(planes) == 1 and tuple(sampling) != (1, 1)
    ):
        raise ValueError("planes must be [y] (1x1 sampled) or [y, cb, cr]")
    sh, sv = sampling
    mcux, mcuy = -(-width // (8 * sh)), -(-height // (8 * sv))
    quants = [list(luma_quant or FLAT_QUANT)]
    if len(planes) == 3:
        quants.append(list(chroma_quant or FLAT_QUANT))
    qmats = [np.asarray(q, dtype=np.float64).reshape(8, 8) for q in quants]
    comps = []
    for i, samples in enumerate(planes):
        hi, vi, tid = (sh, sv, 0) if i == 0 else (1, 1, 1)
        pw, ph = -(-width * hi // sh), -(-height * vi // sv)
        # edge replication out to the MCU grid, as one gather
        rows = np.minimum(np.arange(mcuy * 8 * vi), ph - 1)
        cols = np.minimum(np.arange(mcux * 8 * hi), pw - 1)
        plane = np.asarray(samples, dtype=np.float64).reshape(ph, pw)
        comps.append(
            {
                "cid": i + 1, "hi": hi, "vi": vi, "tid": tid,
                "blocks": _quant_plane_blocks(
                    plane[np.ix_(rows, cols)], qmats[tid]
                ),
                # non-interleaved progressive AC scans walk the
                # component's OWN block dims (T.81 A.2.2), which for a
                # subsampled frame is smaller than the padded MCU grid
                "own_grid": ((ph + 7) // 8, (pw + 7) // 8),
            }
        )
    return comps, (mcuy, mcux), quants


def _header(sof_marker: int, width: int, height: int, comps, quants) -> bytes:
    """SOI, JFIF APP0, DQT (one 8-bit table per id) and the frame header
    both encoders open with."""
    dqt = b"".join(bytes([t]) + _zz_bytes(q) for t, q in enumerate(quants))
    sof = struct.pack(">BHHB", 8, height, width, len(comps)) + b"".join(
        bytes([c["cid"], (c["hi"] << 4) | c["vi"], c["tid"]]) for c in comps
    )
    return (
        b"\xff\xd8" + _seg(0xE0, _JFIF_APP0) + _seg(0xDB, dqt)
        + _seg(sof_marker, sof)
    )


def encode_baseline(
    width: int,
    height: int,
    planes: list,
    sampling: tuple[int, int] = (1, 1),
    luma_quant: list[int] | None = None,
    chroma_quant: list[int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode 8-bit planes (see :func:`_components` for ``planes`` and
    ``sampling``) as a baseline-sequential JFIF: one interleaved scan of
    MCUs carrying Hi×Vi blocks per component in raster order, Annex-K
    Huffman with per-component DC prediction, run-length AC with
    EOB/ZRL, and byte stuffing. Quant tables are row-major and default to
    the near-lossless :data:`FLAT_QUANT`; pass :data:`STD_LUMA_QUANT` /
    :data:`STD_CHROMA_QUANT` for a genuinely lossy stream.
    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker
    (byte-aligned, DC predictors reset) every that-many MCUs — the
    error-resilience structure most camera/web JPEGs carry."""
    comps, (mcuy, mcux), quants = _components(
        width, height, planes, sampling, luma_quant, chroma_quant
    )
    codes = [
        (_build_codes(*dc), _build_codes(*ac))
        for dc, ac in _HUFF_SPECS[: len(quants)]
    ]
    # per component: zigzag rows as nested lists, the Hi×Vi block offsets
    # of one MCU in raster order, and its Huffman code pair
    layout = [
        (
            c["blocks"].tolist(), c["hi"], c["vi"],
            [(v, h) for v in range(c["vi"]) for h in range(c["hi"])],
            *codes[c["tid"]],
        )
        for c in comps
    ]
    w = _BitWriter()
    preds = [0] * len(comps)
    mcu = rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                w.restart(rst)
                rst = (rst + 1) & 7
                preds = [0] * len(comps)
            for ci, (rows, hi, vi, offsets, dcc, acc) in enumerate(layout):
                for v, h in offsets:
                    preds[ci] = _write_zz(
                        w, rows[my * vi + v][mx * hi + h], dcc, acc, preds[ci]
                    )
            mcu += 1
    w.flush()
    dht = b"".join(
        bytes([cls << 4 | t]) + bytes(bits) + bytes(vals)
        for t in range(len(quants))
        for cls, (bits, vals) in enumerate(_HUFF_SPECS[t])
    )
    sos = bytes([len(comps)]) + b"".join(
        bytes([c["cid"], c["tid"] * 0x11]) for c in comps
    ) + bytes([0, 63, 0])
    return (
        _header(0xC0, width, height, comps, quants)
        + _seg(0xC4, dht)
        + (
            _seg(0xDD, struct.pack(">H", restart_interval))
            if restart_interval
            else b""
        )
        + _seg(0xDA, sos)
        + bytes(w.out)
        + b"\xff\xd9"
    )


# ===========================================================================
# Progressive JPEG (SOF2) — spectral selection + successive approximation
# ===========================================================================
#
# Roughly half of crawled-web JPEGs are progressive (T.81 Annex G): the
# frame's quantized coefficients are transmitted over MULTIPLE scans —
# first a coarse pass (DC, then low-frequency AC bands, each optionally
# point-transformed by Al bits), then refinement scans that append one
# bit of precision at a time. The decoder below accumulates the exact
# quantized coefficient grids across scans and then runs the same
# dequant/IDCT/YCbCr tail as a baseline frame, so a progressive stream
# of the same coefficients decodes bit-identically to its baseline
# encoding (differential-tested).
#
# The encoder emits the libjpeg default scan script (DC Al=1 →
# AC bands Al=2/1 → AC refinements → DC refinement → final AC Al=0) with
# per-scan OPTIMIZED Huffman tables (T.81 K.2 frequency algorithm) —
# required because Annex K's example AC tables lack the EOBn (r<<4)
# symbols progressive AC coding emits, and matching what real encoders
# do (libjpeg forces -optimize for progressive output).
# Reference analog: poppler/pdf2image decodes progressive transparently
# (``work_order_extractor.py:1121-1146``); here the boundary falls the
# EMIT==PARSE way. Out of subset: DRI/RSTn inside progressive scans and
# arithmetic coding raise ``NotImplementedError``.


def _gen_optimal_table(freq: dict[int, int]) -> tuple[list[int], list[int]]:
    """T.81 Annex K.2 frequency→(BITS, HUFFVAL) generation with the
    16-bit length limit adjustment — the jpeg_gen_optimal_table
    algorithm. A dummy 257th symbol with frequency 1 reserves the
    all-ones codeword (required so a 1-filled pad never decodes as a
    valid symbol)."""
    f = [0] * 257
    for sym, n in freq.items():
        f[sym] = n
    f[256] = 1  # dummy: reserves the all-1s code
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        c1 = min(
            (i for i in range(257) if f[i] > 0),
            key=lambda i: (f[i], -i),
            default=None,
        )
        if c1 is None:
            break
        c2 = min(
            (i for i in range(257) if f[i] > 0 and i != c1),
            key=lambda i: (f[i], -i),
            default=None,
        )
        if c2 is None:
            break
        f[c1] += f[c2]
        f[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1
    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    for ln in range(32, 16, -1):  # limit code lengths to 16
        while bits[ln] > 0:
            j = ln - 2
            while bits[j] == 0:
                j -= 1
            bits[ln] -= 2
            bits[ln - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    ln = 16
    while bits[ln] == 0:
        ln -= 1
    bits[ln] -= 1  # drop the dummy symbol's code (the longest)
    huffval = sorted(
        (s for s in range(256) if codesize[s]),
        key=lambda s: (codesize[s], s),
    )
    return bits[1:17], huffval


class _SymCounter:
    """Pass-1 sink: counts Huffman symbols per (kind, table id); raw bits
    are free (they never enter a Huffman table)."""

    def __init__(self) -> None:
        self.freq: dict[tuple[str, int], dict[int, int]] = {}

    def sym(self, kind: str, tid: int, s: int) -> None:
        d = self.freq.setdefault((kind, tid), {})
        d[s] = d.get(s, 0) + 1

    def bits(self, v: int, n: int) -> None:
        pass


class _SymWriter:
    """Pass-2 sink: writes assigned codes through a :class:`_BitWriter`."""

    def __init__(self, codes: dict[tuple[str, int], dict]) -> None:
        self.w = _BitWriter()
        self.codes = codes

    def sym(self, kind: str, tid: int, s: int) -> None:
        code, ln = self.codes[(kind, tid)][s]
        self.w.write(code, ln)

    def bits(self, v: int, n: int) -> None:
        if n:
            self.w.write(v, n)


def _ac_shift(v: int, al: int) -> int:
    """AC point transform: division by 2^Al truncating toward ZERO
    (T.81 G.1.2.2) — DC uses a plain arithmetic shift instead."""
    return (v >> al) if v >= 0 else -((-v) >> al)


def _emit_dc_scan(sink, scan_comps, mcu_grid, ah: int, al: int) -> None:
    """DC scan over the MCU-interleaved grid: first pass (Ah=0) codes the
    point-transformed DC differences with the component's DC table;
    refinement passes (Ah>0) are one raw bit per block."""
    mcuy, mcux = mcu_grid
    preds = [0] * len(scan_comps)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, c in enumerate(scan_comps):
                for v in range(c["vi"]):
                    for h in range(c["hi"]):
                        by, bx = my * c["vi"] + v, mx * c["hi"] + h
                        dc = int(c["blocks"][by, bx, 0])
                        if ah == 0:
                            val = dc >> al  # arithmetic shift (G.1.2.1)
                            size, bits = _magnitude(val - preds[ci])
                            preds[ci] = val
                            sink.sym("dc", c["tid"], size)
                            sink.bits(bits, size)
                        else:
                            sink.bits((dc >> al) & 1, 1)


def _emit_ac_scan(sink, comp, ss: int, se: int, ah: int, al: int) -> None:
    """AC scan (single component, block raster order over the component's
    own dimensions) with EOBRUN coding; Ah=0 is a first pass over the
    band (values point-transformed by Al), Ah>0 the refinement pass
    (T.81 G.1.2.3). The refinement emitter is written in DECODER order —
    every correction bit lands exactly where the refinement decoder's
    advance loop will consume it: bits for already-nonzero coefficients
    inside a ZRL window or before a newly-significant coefficient follow
    THAT symbol; bits in the zero tail of a block attach to the pending
    EOB run and flush with its EOBn symbol (two separate buffers, the
    BE/BR split of T.81 figure G.7)."""
    tid = comp["tid"]
    eobrun = 0
    be: list[int] = []  # correction bits tied to the pending EOB run

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun > 0:
            n = eobrun.bit_length() - 1
            sink.sym("ac", tid, n << 4)
            if n:
                sink.bits(eobrun - (1 << n), n)
            eobrun = 0
            for b in be:
                sink.bits(b, 1)
            be.clear()

    bh, bw = comp["own_grid"]
    for by in range(bh):
        for bx in range(bw):
            zz = comp["blocks"][by, bx]
            if ah == 0:
                nz = [
                    (k, _ac_shift(int(zz[k]), al))
                    for k in range(ss, se + 1)
                    if _ac_shift(int(zz[k]), al) != 0
                ]
                if not nz:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                prev = ss - 1
                for k, v in nz:
                    run = k - prev - 1
                    while run > 15:
                        sink.sym("ac", tid, 0xF0)
                        run -= 16
                    size, bits = _magnitude(v)
                    sink.sym("ac", tid, (run << 4) | size)
                    sink.bits(bits, size)
                    prev = k
                if prev < se:
                    eobrun += 1
                continue
            # ---- refinement pass ----
            band = [int(zz[k]) for k in range(ss, se + 1)]
            absv = [abs(v) >> al for v in band]
            sig = [i for i, a in enumerate(absv) if a == 1]
            cursor = 0
            for j in sig:
                run = 0
                pend: list[int] = []  # bits since the last emitted symbol
                for p in range(cursor, j):
                    if absv[p] == 0:
                        run += 1
                        if run == 16:
                            # the decoder's ZRL consumes exactly 16
                            # zero-history positions, reading correction
                            # bits for nonzero ones passed on the way
                            flush_eob()
                            sink.sym("ac", tid, 0xF0)
                            for b in pend:
                                sink.bits(b, 1)
                            pend = []
                            run = 0
                    else:
                        pend.append(absv[p] & 1)
                flush_eob()
                sink.sym("ac", tid, (run << 4) | 1)
                sink.bits(1 if band[j] > 0 else 0, 1)
                for b in pend:
                    sink.bits(b, 1)
                cursor = j + 1
            tail = [absv[p] & 1 for p in range(cursor, len(absv)) if absv[p] > 1]
            if cursor < len(absv) or sig == []:
                # remaining zero-history tail (possibly empty of bits):
                # one EOB event; its correction bits ride with the EOBn
                eobrun += 1
                be.extend(tail)
                if eobrun == 0x7FFF or len(be) > 900:
                    flush_eob()
    flush_eob()


# libjpeg's default progressive scan scripts: (comp indices, Ss, Se, Ah, Al)
_SCRIPT_GRAY = [
    ((0,), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0,), 0, 0, 1, 0),
    ((0,), 1, 63, 1, 0),
]
_SCRIPT_COLOR = [
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((2,), 1, 63, 0, 1),
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
]


def encode_progressive(
    width: int,
    height: int,
    planes: list,
    sampling: tuple[int, int] = (1, 1),
    luma_quant: list[int] | None = None,
    chroma_quant: list[int] | None = None,
) -> bytes:
    """Encode the same frame :func:`encode_baseline` would as a
    PROGRESSIVE (SOF2) JFIF using libjpeg's default scan script
    (:data:`_SCRIPT_GRAY` or :data:`_SCRIPT_COLOR`): DC first (interleaved
    for color), then AC bands per component, then successive-
    approximation refinements, each scan with Huffman tables optimized
    for it (count symbols in pass 1, write in pass 2). The union of scans
    transmits every coefficient bit, so the stream decodes
    bit-identically to the baseline encoding of the same planes."""
    comps, mcu_grid, quants = _components(
        width, height, planes, sampling, luma_quant, chroma_quant
    )
    script = _SCRIPT_GRAY if len(comps) == 1 else _SCRIPT_COLOR
    out = bytearray(_header(0xC2, width, height, comps, quants))
    for comp_idx, ss, se, ah, al in script:
        scan_comps = [comps[i] for i in comp_idx]

        def emit(sink):
            if ss == 0:
                _emit_dc_scan(sink, scan_comps, mcu_grid, ah, al)
            else:
                _emit_ac_scan(sink, scan_comps[0], ss, se, ah, al)

        counter = _SymCounter()
        emit(counter)
        dht = bytearray()
        codes: dict[tuple[str, int], dict] = {}
        for (kind, tid), freq in sorted(counter.freq.items()):
            bits, vals = _gen_optimal_table(freq)
            codes[(kind, tid)] = _build_codes(bits, vals)
            cls = 0x00 if kind == "dc" else 0x10
            dht += bytes([cls | tid]) + bytes(bits) + bytes(vals)
        writer = _SymWriter(codes)
        emit(writer)
        writer.w.flush()
        sos = bytes([len(scan_comps)]) + b"".join(
            bytes([c["cid"], c["tid"] * 0x11]) for c in scan_comps
        ) + bytes([ss, se, (ah << 4) | al])
        if dht:
            out += _seg(0xC4, bytes(dht))
        out += _seg(0xDA, sos) + bytes(writer.w.out)
    out += b"\xff\xd9"
    return bytes(out)


# ===========================================================================
# Decoder — one marker walk for baseline (SOF0) and progressive (SOF2)
# ===========================================================================


def _read_block(r: _BitReader, dct: dict, act: dict, prev_dc: int):
    """Huffman-decode one block's zigzag coefficients; returns (zz, dc)."""
    zz = [0] * 64
    size = r.read_symbol(dct)
    prev_dc += _extend(r.read_bits(size), size)
    zz[0] = prev_dc
    i = 1
    while i < 64:
        sym = r.read_symbol(act)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            i += 16
            continue
        i += sym >> 4
        size = sym & 0x0F
        if i > 63:
            raise ValueError("AC run past block end")
        zz[i] = _extend(r.read_bits(size), size)
        i += 1
    return zz, prev_dc


def _next_marker(data: bytes, pos: int) -> int:
    """Position of the next real marker at/after ``pos``, skipping
    entropy bytes, stuffed FF00 pairs, and 0xFF fill bytes (T.81
    B.1.1.2 allows any number of FF pads before the marker byte; the
    returned position is that of the LAST 0xFF, so ``pos + 1`` is the
    marker code itself)."""
    while pos + 1 < len(data):
        if data[pos] == 0xFF and data[pos + 1] not in (0x00, 0xFF):
            return pos
        pos += 1
    raise ValueError("ran off stream looking for a marker")


def _decode_prog_scan(
    payload: bytes,
    pos: int,
    scan: list[tuple[int, dict]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    coefs: list[np.ndarray],
    dc_tables: dict,
    ac_tables: dict,
    mcu_grid: tuple[int, int],
) -> int:
    """Decode one progressive scan's entropy data into the coefficient
    grids; returns the stream position of the next marker. ``scan`` is
    ``[(comp index, comp spec dict)]`` in scan order."""
    r = _BitReader(payload, pos)
    eobrun = 0
    if ss == 0 and len(scan) > 1:  # interleaved DC scan
        preds = [0] * len(scan)
        mcuy, mcux = mcu_grid
        for my in range(mcuy):
            for mx in range(mcux):
                for si, (ci, c) in enumerate(scan):
                    for v in range(c["vi"]):
                        for h in range(c["hi"]):
                            by, bx = my * c["vi"] + v, mx * c["hi"] + h
                            if ah == 0:
                                size = r.read_symbol(dc_tables[c["dc_tid"]])
                                preds[si] += _extend(r.read_bits(size), size)
                                coefs[ci][by, bx, 0] = preds[si] << al
                            else:
                                coefs[ci][by, bx, 0] |= r.read_bit() << al
        return _next_marker(payload, r.pos)
    ci, c = scan[0]
    bh, bw = c["own_grid"]
    if ss == 0:  # non-interleaved DC scan (single-component frame)
        pred = 0
        for by in range(bh):
            for bx in range(bw):
                if ah == 0:
                    size = r.read_symbol(dc_tables[c["dc_tid"]])
                    pred += _extend(r.read_bits(size), size)
                    coefs[ci][by, bx, 0] = pred << al
                else:
                    coefs[ci][by, bx, 0] |= r.read_bit() << al
        return _next_marker(payload, r.pos)
    act = ac_tables[c["ac_tid"]]
    p1, m1 = 1 << al, -1 << al
    for by in range(bh):
        for bx in range(bw):
            zz = coefs[ci][by, bx]
            if ah == 0:  # first pass over this band
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    sym = r.read_symbol(act)
                    rn, s = sym >> 4, sym & 0x0F
                    if s == 0:
                        if rn == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << rn) + (r.read_bits(rn) if rn else 0) - 1
                        break
                    k += rn
                    if k > se:
                        raise ValueError("AC run past band end")
                    zz[k] = _extend(r.read_bits(s), s) << al
                    k += 1
            else:  # refinement pass (G.1.2.3 / decode_mcu_AC_refine)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        sym = r.read_symbol(act)
                        rn, s = sym >> 4, sym & 0x0F
                        val = 0
                        if s:
                            if s != 1:
                                raise ValueError(
                                    "invalid magnitude in AC refinement"
                                )
                            val = p1 if r.read_bit() else m1
                        elif rn != 15:
                            eobrun = (1 << rn) + (
                                r.read_bits(rn) if rn else 0
                            )
                            break  # correction loop below finishes block
                        while k <= se:
                            if zz[k] != 0:
                                if r.read_bit() and (zz[k] & p1) == 0:
                                    zz[k] += p1 if zz[k] >= 0 else m1
                            else:
                                if rn == 0:
                                    break
                                rn -= 1
                            k += 1
                        if val:
                            if k > se:
                                raise ValueError(
                                    "AC refinement run past band end"
                                )
                            zz[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:  # correction bits across the EOB run
                        if zz[k] != 0:
                            if r.read_bit() and (zz[k] & p1) == 0:
                                zz[k] += p1 if zz[k] >= 0 else m1
                        k += 1
                    eobrun -= 1
    return _next_marker(payload, r.pos)


def _decode_baseline_scan(
    r: _BitReader,
    comps: list[dict],
    scan_sel: dict[int, tuple[int, int]],
    dc_tables: dict,
    ac_tables: dict,
    restart_interval: int,
    mcu_grid: tuple[int, int],
) -> list[np.ndarray]:
    """Decode a baseline frame's one interleaved scan (Hi×Vi blocks per
    component per MCU, raster order; RSTn resync every
    ``restart_interval`` MCUs) into the per-component
    (Vi·mcuy, Hi·mcux, 64) zigzag coefficient grids the progressive scans
    fill. Entropy decode is inherently sequential; the grids are float64
    because a corrupt DC table can extend a predictor past int64."""
    mcuy, mcux = mcu_grid
    comp_zz: list[list] = [[] for _ in comps]
    preds = [0] * len(comps)
    mcu = rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                r.expect_restart(rst)
                rst = (rst + 1) & 7
                preds = [0] * len(comps)
            mcu += 1
            for ci, c in enumerate(comps):
                dsel, asel = scan_sel[c["cid"]]
                dct, act = dc_tables[dsel], ac_tables[asel]
                for _ in range(c["vi"] * c["hi"]):
                    zz, preds[ci] = _read_block(r, dct, act, preds[ci])
                    comp_zz[ci].append(zz)
    return [
        np.asarray(zz, dtype=np.float64)
        .reshape(mcuy, mcux, c["vi"], c["hi"], 64)
        .transpose(0, 2, 1, 3, 4)
        .reshape(mcuy * c["vi"], mcux * c["hi"], 64)
        for zz, c in zip(comp_zz, comps)
    ]


def _idct_plane(grid: np.ndarray, qmat: np.ndarray) -> np.ndarray:
    """Dequantize + inverse-zigzag + IDCT a (gh, gw, 64) grid of zigzag
    coefficients in one stacked matmul and assemble the (8·gh, 8·gw)
    plane — bit-identical to the per-block ``_C.T @ (coef * qmat) @ _C``
    product (the stacked matmul runs the same 8×8 GEMM per slice)."""
    gh, gw = grid.shape[0], grid.shape[1]
    if not grid.size:
        raise ValueError("zero-size frame")
    coef = np.zeros((gh * gw, 64), dtype=np.float64)
    coef[:, ZIGZAG] = grid.reshape(gh * gw, 64)
    out = _C.T[None] @ (coef.reshape(gh * gw, 8, 8) * qmat[None]) @ _C[None]
    return out.reshape(gh, gw, 8, 8).transpose(0, 2, 1, 3).reshape(gh * 8, gw * 8)


def _planes_to_rgb_arrays(planes, height: int, width: int):
    """Shared decode tail: level shift / JFIF YCbCr→RGB, clamp, crop —
    returns (rr, gg, bb) int64 arrays of shape (height·width,)."""
    if len(planes) == 1:
        v = np.clip(np.round(planes[0] + 128.0), 0, 255).astype(np.int64)
        v = v[:height, :width].ravel()
        return v, v, v
    yp = planes[0] + 128.0
    cbp, crp = planes[1], planes[2]
    rr = np.clip(np.round(yp + 1.402 * crp), 0, 255).astype(np.int64)
    gg = np.clip(
        np.round(yp - 0.344136 * cbp - 0.714136 * crp), 0, 255
    ).astype(np.int64)
    bb = np.clip(np.round(yp + 1.772 * cbp), 0, 255).astype(np.int64)
    return (
        rr[:height, :width].ravel(),
        gg[:height, :width].ravel(),
        bb[:height, :width].ravel(),
    )


def decode_rgb_arrays(
    payload: bytes,
) -> tuple[int, int, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Decode an 8-bit baseline (SOF0) or progressive (SOF2) JPEG —
    grayscale or YCbCr color with sampling factors 1, 2 or 4 — to
    (width, height, (rr, gg, bb)) int64 arrays of ``width·height``
    samples.

    One marker walk reads DQT/DHT/DRI/SOF segments. A baseline frame's
    single interleaved scan (with restart-interval RSTn resync) and each
    progressive scan (spectral selection + successive approximation,
    EOBRUN, tables redefinable between scans) fill the same
    per-component coefficient grids; both frame types then share one
    tail: batched dequantize / inverse zigzag / float IDCT, replication
    upsampling, JFIF YCbCr→RGB for color, level shift, clamp, crop.
    Outside the subset (16-bit quant, hierarchical/lossless/arithmetic
    SOFs, sampling factor 3, DRI in a progressive frame) raises
    ``NotImplementedError``; corrupt streams raise ``ValueError`` (also an
    SOS before any frame header), ``IndexError`` or ``KeyError``."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("bad JPEG SOI")
    pos = 2
    restart_interval = 0
    quants: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    progressive = None  # frame type, set by SOF0 (False) / SOF2 (True)
    comps: list[dict] = []
    coefs: list[np.ndarray] = []
    scan_sel: dict[int, tuple[int, int]] = {}  # baseline: id -> (dc, ac)
    # A baseline walk needs a whole segment header (4 bytes) to go on; a
    # progressive walk, re-entered after every scan, also reads a bare
    # 2-byte marker there.
    while pos + (2 if progressive else 4) <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("expected marker")
        marker = payload[pos + 1]
        if marker == 0xFF:  # T.81 B.1.1.2 fill byte before a marker
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(payload):
            raise ValueError("truncated segment header")
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        data = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(data):
                pq, tq = data[off] >> 4, data[off] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                tbl = np.zeros(64)
                for i in range(64):
                    tbl[ZIGZAG[i]] = data[off + 1 + i]
                quants[tq] = tbl.reshape(8, 8)
                off += 65
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            off = 0
            while off < len(data):
                tc, th = data[off] >> 4, data[off] & 0x0F
                bits = list(data[off + 1 : off + 17])
                nvals = sum(bits)
                vals = list(data[off + 17 : off + 17 + nvals])
                tbl = _build_decode_table(bits, vals)
                (dc_tables if tc == 0 else ac_tables)[th] = tbl
                off += 17 + nvals
        elif marker == 0xDD:  # DRI — restart interval in MCUs
            if len(data) < 2:
                raise ValueError("truncated DRI segment")
            (restart_interval,) = struct.unpack_from(">H", data, 0)
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if comps:
                raise NotImplementedError("one frame header per stream")
            progressive = marker == 0xC2
            if len(data) < 6:
                raise ValueError("truncated frame header")
            precision, height, width, ncomp = struct.unpack_from(">BHHB", data, 0)
            if precision != 8 or ncomp not in (1, 3):
                raise NotImplementedError("only 8-bit, 1 or 3 components")
            if len(data) < 6 + 3 * ncomp:
                raise ValueError("truncated frame header")
            for c in range(ncomp):
                cid, sampling, tq = data[6 + 3 * c : 9 + 3 * c]
                hi, vi = sampling >> 4, sampling & 0x0F
                if hi not in (1, 2, 4) or vi not in (1, 2, 4):
                    raise NotImplementedError(
                        "sampling factors must be 1, 2 or 4"
                    )
                # a one-component scan is non-interleaved (T.81 A.2.2);
                # the baseline scan decoder walks MCUs only
                if ncomp == 1 and sampling != 0x11 and not progressive:
                    raise NotImplementedError("grayscale must be 1x1 sampled")
                comps.append({"cid": cid, "tq": tq, "hi": hi, "vi": vi})
            # interleaved MCU grid: Hmax×Vmax-sampled components contribute
            # Hi×Vi blocks per MCU (factors 1/2/4 always divide the max,
            # so every upsampling ratio is an integer)
            hmax = max(c["hi"] for c in comps)
            vmax = max(c["vi"] for c in comps)
            mcu_grid = (
                (height + 8 * vmax - 1) // (8 * vmax),
                (width + 8 * hmax - 1) // (8 * hmax),
            )
            for c in comps:
                c["own_grid"] = (
                    (-(-height * c["vi"] // vmax) + 7) // 8,
                    (-(-width * c["hi"] // hmax) + 7) // 8,
                )
                c["dc_tid"] = c["ac_tid"] = 0  # set per scan from SOS
                if progressive:
                    coefs.append(
                        np.zeros(
                            (mcu_grid[0] * c["vi"], mcu_grid[1] * c["hi"], 64),
                            dtype=np.int64,
                        )
                    )
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError("only baseline (SOF0) / progressive (SOF2) JPEG")
        elif marker == 0xDA:  # SOS — entropy data follows the segment
            if progressive is None:
                raise ValueError("SOS before frame header")
            if not progressive:
                ns = data[0]
                if ns != len(comps):
                    raise NotImplementedError("only single fully-interleaved scans")
                for c in range(ns):
                    cid, sel = data[1 + 2 * c], data[2 + 2 * c]
                    scan_sel[cid] = (sel >> 4, sel & 0x0F)
                pos = pos + 2 + seglen
                break  # the scan runs from pos; bytes after it are ignored
            if restart_interval:
                raise NotImplementedError(
                    "restart intervals inside progressive scans unsupported"
                )
            ns = data[0]
            scan = []
            for cn in range(ns):
                cid, sel = data[1 + 2 * cn], data[2 + 2 * cn]
                for idx, c in enumerate(comps):
                    if c["cid"] == cid:
                        c["dc_tid"], c["ac_tid"] = sel >> 4, sel & 0x0F
                        scan.append((idx, c))
                        break
                else:
                    raise ValueError(f"scan references unknown component {cid}")
            ss, se, ahal = data[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if ss > 0 and ns != 1:
                raise ValueError("progressive AC scans must be non-interleaved")
            pos = _decode_prog_scan(
                payload, pos + 2 + seglen, scan, ss, se, ah, al,
                coefs, dc_tables, ac_tables, mcu_grid,
            )
            continue
        pos += 2 + seglen
    if progressive is None:
        raise ValueError("missing SOF0/SOF2 frame header")
    if not progressive:
        coefs = _decode_baseline_scan(
            _BitReader(payload, pos), comps, scan_sel, dc_tables, ac_tables,
            restart_interval, mcu_grid,
        )
    planes = []
    for c, grid in zip(comps, coefs):
        plane = _idct_plane(grid, quants[c["tq"]])
        if c["hi"] != hmax or c["vi"] != vmax:
            # upsample a subsampled plane to full resolution by replication
            plane = np.repeat(
                np.repeat(plane, vmax // c["vi"], axis=0), hmax // c["hi"], axis=1
            )
        planes.append(plane)
    return width, height, _planes_to_rgb_arrays(planes, height, width)


def decode_gray_array(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Luma view of :func:`decode_rgb_arrays`: integer BT.601 over the
    decoded RGB arrays. For a grayscale stream this is exactly the decoded
    sample (``(299+587+114)·v // 1000 == v``); for color it is the
    standard luma reduction."""
    width, height, (rr, gg, bb) = decode_rgb_arrays(payload)
    return width, height, (299 * rr + 587 * gg + 114 * bb) // 1000
