"""Pure-numpy baseline JPEG codec (ITU-T T.81 / JFIF).

Closes the "real JPEG decode" gap flagged in round-6 review: the
multimodal path previously raised ``NotImplementedError`` for JPEG
because no codec library ships in this container — but baseline
sequential JPEG needs nothing beyond numpy: the DCT is an 8×8
orthonormal matrix product, Huffman tables are canonical prefix codes,
and the byte stream is plain struct packing. Everything here derives
from the public spec (ITU-T T.81 Annex A/B/F/K + the JFIF 1.02 note).

Scope — honest and named, like the PNG codec:

* ``encode_jpeg``: baseline sequential DCT, 4:4:4 (no chroma
  subsampling), the Annex K example quantization tables scaled by the
  IJG quality formula, the Annex K "typical" Huffman tables, no restart
  markers. The byte stream is fully deterministic (no heuristic table
  optimization), so encoded fixtures are stable across runs/hosts.
* ``decode_jpeg``: baseline sequential (SOF0) with ARBITRARY sampling
  factors (4:4:4 / 4:2:2 / 4:2:0 foreign files decode too), DQT/DHT
  tables read from the stream (not assumed), restart-marker handling,
  0xFF00 byte-unstuffing, grayscale (1-component) and YCbCr
  (3-component) scans. Progressive (SOF2), arithmetic coding, 12-bit
  precision and hierarchical modes raise ValueError by name — decode
  fidelity over silent guessing.

JPEG is lossy, so unlike BMP/PPM/PNG there is no exact roundtrip; the
codec instead carries a PROVABLE error bound used by the oracle-gated
registry entry (workloads/multimodal.py): at quality=100 every
quantization step is 1, so the only error is coefficient rounding
(±0.5/coefficient → |IDCT error|∞ ≤ 0.5·(Σₖ|A[k,·]|)² < 7.5, +0.5
pixel rounding ≤ 8 per YCbCr channel, ≤ 8·(1+1.402)+1 < 24 per RGB
channel after color conversion). ``JPEG_Q100_MAX_ABS_ERR = 24`` is that
bound; tests assert the empirical error is far smaller (≤ 4 on the
fixture corpus).

These run inside Arrow-batched ``mapInPandas`` workers on small
fixture images; the entropy-coding loops are per-block Python (a
bitstream is inherently sequential) while the DCT/IDCT/color math is
vectorized over whole planes.
"""

from __future__ import annotations

import struct

import numpy as np

from feature_generation_benchmark_spark.operators.imagecodec import (
    check_dims,
    strict_decoder,
)

# --- constants from the public spec -------------------------------------

# Provable L-inf RGB error bound for a quality-100 encode→decode
# roundtrip (derivation in the module docstring).
JPEG_Q100_MAX_ABS_ERR = 24

# T.81 Annex K.1/K.2 example quantization tables (row-major 8×8).
_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Zig-zag scan order (T.81 Figure A.6): _ZIGZAG[i] is the row-major
# index of the i-th coefficient in scan order.
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
_UNZIGZAG = np.argsort(_ZIGZAG)

# T.81 Annex K.3 "typical" Huffman tables: (BITS[1..16], HUFFVAL).
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Orthonormal 8×8 DCT-II matrix: forward coeffs = _DCT @ block @ _DCT.T
_DCT = np.zeros((8, 8), dtype=np.float64)
for _k in range(8):
    _c = np.sqrt(1.0 / 8.0) if _k == 0 else np.sqrt(2.0 / 8.0)
    _DCT[_k] = _c * np.cos((2 * np.arange(8) + 1) * _k * np.pi / 16.0)
del _k, _c


def sniff_jpeg(data: bytes) -> bool:
    return data[:2] == b"\xff\xd8"


def _scaled_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 1..100 → per-entry scaled table, clipped to
    [1, 255] (baseline requires 8-bit table entries). quality=100 →
    all-ones (only rounding loss, the provable-bound configuration)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be in [1, 100], got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _huffman_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman per T.81 Annex C: value → (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huffman_decode_lut(bits: list[int], vals: list[int]) -> np.ndarray:
    """16-bit-peek lookup table: lut[next16bits] = (length << 8) | value,
    0xFFFF for invalid prefixes. One array index replaces the
    bit-by-bit tree walk — the classic libjpeg-style fast path (codes
    are ≤ 16 bits, so a full-width table needs no slow path)."""
    lut = np.full(1 << 16, 0xFFFF, dtype=np.uint16)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            base = code << (16 - length)
            lut[base : base + (1 << (16 - length))] = (length << 8) | vals[k]
            code += 1
            k += 1
        code <<= 1
    return lut


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 B.1.1.5)
                self.buf.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            # pad with 1-bits per spec
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude bits) for a DC diff / AC coefficient (F.1.2)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    """JFIF full-range BT.601. Returns float64 (H, W, 3)."""
    f = img.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(planes: np.ndarray) -> np.ndarray:
    y, cb, cr = planes[..., 0], planes[..., 1] - 128.0, planes[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) float plane (H, W multiples of 8) → (n_blocks, 8, 8) in
    row-major block order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _encode_block(
    bw: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dct_codes: dict[int, tuple[int, int]],
    act_codes: dict[int, tuple[int, int]],
) -> int:
    """Entropy-code one zig-zagged quantized block; returns new DC pred."""
    diff = int(zz[0]) - pred
    size, amp = _magnitude(diff)
    code, length = dct_codes[size]
    bw.write(code, length)
    if size:
        bw.write(amp, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz[1:])[0])) + 1 if np.any(zz[1:]) else 0
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = act_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size, amp = _magnitude(v)
        code, length = act_codes[(run << 4) | size]
        bw.write(code, length)
        bw.write(amp, size)
        run = 0
    if last_nz < 63:
        code, length = act_codes[0x00]  # EOB
        bw.write(code, length)
    return int(zz[0])


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(H, W, 3) uint8 RGB → baseline JFIF bytes (Annex K tables,
    deterministic stream). ``subsample``: '444' (one block per
    component per MCU — the default, lossless chroma placement) or
    '420' (2×2 box-averaged chroma, the common camera layout).
    ``restart_interval``: emit a DRI segment and RSTn markers every N
    MCUs (0 = none) — what camera/scan-parallel encoders produce."""
    h, w, c = img.shape
    if c != 3:
        raise ValueError("encode_jpeg needs (H, W, 3) RGB")
    if subsample == "444":
        samp = [(1, 1), (1, 1), (1, 1)]
    elif subsample == "420":
        samp = [(2, 2), (1, 1), (1, 1)]
    else:
        raise ValueError(f"subsample must be '444' or '420', got {subsample!r}")
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    qt_l = _scaled_qtable(_QT_LUMA, quality)
    qt_c = _scaled_qtable(_QT_CHROMA, quality)

    # pad to MCU multiples by edge replication (standard practice: keeps
    # block-boundary ringing out of the real pixels)
    mh, mw = 8 * vmax, 8 * hmax
    ph, pw = -(-h // mh) * mh, -(-w // mw) * mw
    padded = np.pad(img, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    ycc = _rgb_to_ycbcr(padded) - 128.0  # level shift (A.3.1)

    # per component: downsample (box mean), forward DCT + quantize,
    # vectorized over the whole plane; keep (block_y, block_x, 64) grids
    comp_q: list[np.ndarray] = []
    for ci, qt in ((0, qt_l), (1, qt_c), (2, qt_c)):
        hs, vs = samp[ci]
        plane = ycc[..., ci]
        fy, fx = vmax // vs, hmax // hs
        if fy > 1 or fx > 1:
            plane = plane.reshape(
                plane.shape[0] // fy, fy, plane.shape[1] // fx, fx
            ).mean(axis=(1, 3))
        blocks = _blockify(plane)
        coefs = np.einsum("km,bmn,ln->bkl", _DCT, blocks, _DCT)
        q = np.round(coefs.reshape(-1, 64) / qt.astype(np.float64))
        comp_q.append(
            q.astype(np.int64)[:, _ZIGZAG].reshape(
                plane.shape[0] // 8, plane.shape[1] // 8, 64
            )
        )

    dc_l = _huffman_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_l = _huffman_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_c = _huffman_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _huffman_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)

    bw = _BitWriter()
    pred = [0, 0, 0]
    mcu = 0
    for my in range(ph // mh):
        for mx in range(pw // mw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                # byte-align, then RST0..RST7 cyclically (B.2.1.2);
                # DC predictors reset with each interval
                bw.flush()
                bw.buf += bytes(
                    [0xFF, 0xD0 + (mcu // restart_interval - 1) % 8]
                )
                pred = [0, 0, 0]
            for ci in range(3):
                hs, vs = samp[ci]
                dct_codes, act_codes = (dc_l, ac_l) if ci == 0 else (dc_c, ac_c)
                for byy in range(vs):
                    for bxx in range(hs):
                        zz = comp_q[ci][my * vs + byy, mx * hs + bxx]
                        pred[ci] = _encode_block(
                            bw, zz, pred[ci], dct_codes, act_codes
                        )
            mcu += 1
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(qt_l[_ZIGZAG].astype(np.uint8)))
    out += seg(0xFFDB, b"\x01" + bytes(qt_c[_ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)  # TRUE dims; padding implicit
    # component id, sampling h<<4|v, qtable id
    for cid, (hs, vs), tq in zip((1, 2, 3), samp, (0, 1, 1)):
        sof += bytes([cid, (hs << 4) | vs, tq])
    out += seg(0xFFC0, sof)
    for tc_th, bits, vals in (
        (0x00, _DC_LUMA_BITS, _DC_LUMA_VALS),
        (0x10, _AC_LUMA_BITS, _AC_LUMA_VALS),
        (0x01, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
        (0x11, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ):
        out += seg(0xFFC4, bytes([tc_th] + bits) + bytes(vals))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += seg(0xFFDA, sos)
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """Windowed reader over entropy-coded data with 0xFF00 unstuffing;
    stops at any real marker (recorded in ``marker``; -1 = hard end of
    data). ``acc`` holds at most nbits ≤ 24 live bits — refills are
    byte-wise, reads are masked slices, no per-bit Python loop."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _try_fill(self) -> bool:
        """Append 8 more bits; False at a marker or end of data."""
        if self.marker is not None:
            return False
        d, p = self.data, self.pos
        if p >= len(d):
            self.marker = -1
            return False
        byte = d[p]
        if byte == 0xFF:
            nxt = d[p + 1] if p + 1 < len(d) else None
            if nxt == 0x00:  # stuffed 0xFF data byte
                self.pos = p + 2
            else:  # a real marker terminates the segment
                self.marker = nxt if nxt is not None else -1
                return False
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8
        return True

    def peek16(self) -> int:
        """Next 16 bits, zero-padded past a marker/end (a valid final
        code still resolves; advance() then rejects phantom bits)."""
        while self.nbits < 16 and self._try_fill():
            pass
        if self.nbits >= 16:
            return (self.acc >> (self.nbits - 16)) & 0xFFFF
        return (self.acc << (16 - self.nbits)) & 0xFFFF

    def advance(self, n: int) -> None:
        if n > self.nbits:
            raise ValueError("JPEG truncated inside entropy-coded data")
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        while self.nbits < n and self._try_fill():
            pass
        if self.nbits < n:
            raise ValueError("JPEG truncated inside entropy-coded data")
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def peek_marker(self) -> int | None:
        """At a byte-aligned MCU boundary: is the next thing a marker?
        (restart-interval handling). The marker may already have been
        recorded by an over-eager peek16 refill."""
        if self.marker is not None and self.marker != -1:
            return self.marker
        d, p = self.data, self.pos
        if p + 1 < len(d) and d[p] == 0xFF and d[p + 1] != 0x00:
            return d[p + 1]
        return None

    def skip_marker(self) -> None:
        self.pos += 2
        self.acc = 0
        self.nbits = 0
        self.marker = None


def _decode_huffval(br: _BitReader, lut: np.ndarray) -> int:
    packed = int(lut[br.peek16()])
    if packed == 0xFFFF:
        raise ValueError("invalid JPEG Huffman code")
    br.advance(packed >> 8)
    return packed & 0xFF


def _extend(amp: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: amplitude bits → signed value."""
    if size == 0:
        return 0
    return amp if amp >= (1 << (size - 1)) else amp - (1 << size) + 1


@strict_decoder("JPEG")
def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JFIF bytes → (H, W, 3) uint8 RGB (grayscale scans are
    replicated across channels). See module docstring for scope."""
    if not sniff_jpeg(data):
        raise ValueError("not a JPEG stream")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], np.ndarray] = {}
    frame = None  # (h, w, [(cid, hs, vs, tq)])
    restart_interval = 0
    scan = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        if pos + 2 + seglen > len(data):
            raise ValueError("JPEG truncated inside a marker segment")
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT — may hold several tables
            bp = 0
            while bp < len(body):
                pq, tq = body[bp] >> 4, body[bp] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                tbl = np.frombuffer(body[bp + 1 : bp + 65], dtype=np.uint8)
                qtables[tq] = tbl.astype(np.int64)[_UNZIGZAG]
                bp += 65
        elif marker == 0xC4:  # DHT — may hold several tables
            bp = 0
            while bp < len(body):
                tc, th = body[bp] >> 4, body[bp] & 0x0F
                bits = list(body[bp + 1 : bp + 17])
                n = sum(bits)
                vals = list(body[bp + 17 : bp + 17 + n])
                htables[(tc, th)] = _huffman_decode_lut(bits, vals)
                bp += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline+ext seq
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit precision JPEG supported")
            check_dims("JPEG", fw, fh, channels=nc)
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (fh, fw, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG mode (SOF marker 0xFF{marker:02X}); "
                "only baseline/extended sequential Huffman (SOF0/SOF1)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan = [(body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
                    for i in range(ns)]
            pos = pos + 2 + seglen
            break
        # APPn / COM / others: skip
        pos = pos + 2 + seglen
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")

    fh, fw, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-fw // (8 * hmax))
    mcus_y = -(-fh // (8 * vmax))
    by_id = {c[0]: c for c in comps}
    order = []  # (comp index, hs, vs, qt, dc map, ac map) in scan order
    planes = []
    for sid, td, ta in scan:
        cid, hs, vs, tq = by_id[sid]
        ci = len(order)
        order.append((ci, hs, vs, qtables[tq], htables[(0, td)], htables[(1, ta)]))
        planes.append(
            np.zeros((mcus_y * vs * 8, mcus_x * hs * 8), dtype=np.float64)
        )

    br = _BitReader(data, pos)
    pred = [0] * len(order)
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                # spec (B.2.1.2): the stream byte-aligns with 1-bit
                # padding, then carries an RSTn marker. Drop the pad
                # bits to check; if no marker follows, restore them —
                # some encoders omit the final interval's RST.
                saved_acc, saved_nbits = br.acc, br.nbits
                br.acc = 0
                br.nbits = 0
                m = br.peek_marker()
                if m is not None and 0xD0 <= m <= 0xD7:
                    br.skip_marker()
                    pred = [0] * len(order)
                else:
                    br.acc, br.nbits = saved_acc, saved_nbits
            for ci, hs, vs, qt, dc_map, ac_map in order:
                for byy in range(vs):
                    for bxx in range(hs):
                        zz = np.zeros(64, dtype=np.int64)
                        size = _decode_huffval(br, dc_map)
                        diff = _extend(br.read_bits(size), size)
                        pred[ci] += diff
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = _decode_huffval(br, ac_map)
                            run, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if run == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += run
                            if k > 63:
                                raise ValueError("JPEG AC run past block end")
                            zz[k] = _extend(br.read_bits(size), size)
                            k += 1
                        coefs = (zz * qt)[_UNZIGZAG].reshape(8, 8)
                        block = _DCT.T @ (coefs.astype(np.float64)) @ _DCT
                        y0 = (my * vs + byy) * 8
                        x0 = (mx * hs + bxx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu += 1

    # upsample each component to full MCU-grid resolution, crop, merge
    full = []
    for (ci, hs, vs, _qt, _d, _a), plane in zip(order, planes):
        up = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(up[:fh, :fw] + 128.0)
    if len(full) == 1:
        y = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    if len(full) != 3:
        raise ValueError(f"unsupported JPEG component count {len(full)}")
    return _ycbcr_to_rgb(np.stack(full, axis=-1))
