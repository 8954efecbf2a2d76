"""Vendored pure-Python + numpy BASELINE JPEG codec (VERDICT r4 item 1):
the last compressed-media stub retired — real JFIF bytes now decode
natively inside the multimodal mapInPandas stages.

Scope (ITU-T T.81 baseline sequential DCT, the profile ~all web JPEGs
use):

* **Decoder**: SOI/APP*/COM/DQT/DHT/SOF0/DRI/SOS/EOI marker walk, 8- and
  16-bit quant tables, up to 4 huffman tables per class, interleaved
  multi-component scans with arbitrary (h,v) sampling factors (4:4:4,
  4:2:0, 4:2:2, grayscale), byte stuffing (FF 00), restart markers
  (RST0-7 reset DC prediction + bit alignment), coefficient EXTEND,
  dequant, inverse zigzag, exact float IDCT (matrix form), chroma
  upsample by sample replication, JFIF YCbCr→RGB with rounding + clamp.
  Progressive (SOF2), arithmetic coding, and 12-bit precision raise
  ``NotImplementedError`` — baseline covers the real-corpus bulk.
* **Encoder** (fixture generator + the m08 attach stage): RGB→YCbCr,
  optional 2x2 chroma average-downsample (4:2:0), edge-replication MCU
  padding, exact float FDCT, quantization with the Annex K tables scaled
  by the libjpeg quality formula (quality=50 → tables verbatim), DC
  differential + AC run-length huffman coding with the Annex K standard
  tables, byte stuffing, optional restart interval.

Determinism contract: every arithmetic step is integer or IEEE double
with a single final round-half-away-from-zero (``_iround``) per sample —
encode→decode replays bit-identically across platforms, and for images
that are CONSTANT PER 8x8 BLOCK with even offsets from 128 (the m08
fixture construction) the roundtrip is EXACT (only the DC coefficient is
nonzero and q00=16 divides 8*(v-128)), which makes decoded pixel sums
closed-form SQL-expressible for the DuckDB oracle.

Public knowledge only: ITU-T T.81 (1992) §A.3.3/§F, Annex K tables; the
quality scaling is the published libjpeg ``jpeg_quality_scaling``
formula. No reference analog (the reference has no multimodal surface).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1 — luminance / chrominance quantization tables (natural order)
STD_QT_LUMA = np.array(
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
STD_QT_CHROMA = np.array(
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

# Annex K.3 — standard huffman tables: (BITS[1..16], HUFFVAL)
STD_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
STD_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
STD_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
STD_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
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
    ],
)

# orthonormal DCT-II basis: A[u, x] = C(u)/2 * cos((2x+1) u pi / 16)
_A = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _A[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)
_AT = _A.T.copy()


def _fdct(block: np.ndarray) -> np.ndarray:
    """Exact-float 2D forward DCT of one level-shifted 8x8 block."""
    return _A @ block @ _AT


def _iround(x: np.ndarray) -> np.ndarray:
    """Round half away from zero (the conventional JPEG sample rounding;
    np.round would round half-to-even and diverge from the contract)."""
    return np.floor(np.abs(x) + 0.5) * np.sign(x)


def quality_scaled(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg ``jpeg_quality_scaling``: 50 → table verbatim; clamp 1..255
    (baseline keeps 8-bit tables)."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be 1..100")
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    t = (table * scale + 50) // 100
    return np.clip(t, 1, 255)


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical huffman assignment (T.81 §C.2) → {symbol: (code, length)}."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


# --------------------------------------------------------------- encoder


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
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        """Pad the final partial byte with 1-bits (T.81 §F.1.2.3)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, appended bits) of a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF full-range color transform, rounded + clamped to u8 range."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.clip(_iround(np.stack([y, cb, cr], axis=-1)), 0, 255)


def _round_clip_u8(x: np.ndarray) -> np.ndarray:
    """``clip(round-half-away(x), 0, 255)`` in two passes: under the clip,
    ``floor(x + 0.5)`` is EXACTLY round-half-away — every x < 0 lands on 0
    either way (for -0.5 <= x < 0 both round to 0; for x < -0.5 half-away
    gives <= -1 and floor(x+0.5) gives <= 0, both clipped to 0), and both
    saturate identically above 255."""
    return np.clip(np.floor(x + 0.5), 0.0, 255.0)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0].astype(np.float64)
    cb = ycc[..., 1].astype(np.float64) - 128.0
    cr = ycc[..., 2].astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return _round_clip_u8(np.stack([r, g, b], axis=-1))


def _pad_edge(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    h, w = plane.shape
    if h == bh and w == bw:
        return plane  # already block-aligned: no copy (encode hot path)
    return np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")


def _encode_blocks(
    plane: np.ndarray,
    qt: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    bw: _BitWriter,
    pred: int,
) -> int:
    """Entropy-encode every 8x8 block of ``plane`` row-major; returns the
    updated DC predictor. ``plane`` must already be block-aligned."""
    q = qt.reshape(8, 8).astype(np.float64)
    h, w = plane.shape
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            block = plane[by : by + 8, bx : bx + 8].astype(np.float64) - 128.0
            coef = _iround(_fdct(block) / q).astype(np.int64)
            zz = coef.reshape(64)[ZIGZAG]
            # DC
            size, bits = _magnitude(int(zz[0]) - pred)
            pred = int(zz[0])
            code, length = dc_codes[size]
            bw.write(code, length)
            if size:
                bw.write(bits, size)
            # AC
            run = 0
            last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_codes[0xF0]  # ZRL
                    bw.write(code, length)
                    run -= 16
                size, bits = _magnitude(v)
                code, length = ac_codes[(run << 4) | size]
                bw.write(code, length)
                bw.write(bits, size)
                run = 0
            if last_nz < 63:
                code, length = ac_codes[0x00]  # EOB
                bw.write(code, length)
    return pred


# ------------------------------------------- vectorized entropy encode
#
# The per-symbol Python writer (~0.13 s for a dense 512x512 image) was
# the m09/m14/m15 scale ceiling once decode went lockstep (r8): a real
# training-data pipeline RE-ENCODES as much as it decodes. The fast
# path below builds the whole scan as a flat TOKEN stream (one fused
# (huffman_code << mag_size) | mag_bits value per symbol) with numpy,
# packs it with staggered byte scatter-adds, and applies byte stuffing
# with one bytes.replace — byte-identical to the scalar writer (golden
# tests in tests/test_jpeg.py pin equality on a matrix of images).


def _codes_np(codes: dict[int, tuple[int, int]]) -> tuple[np.ndarray, np.ndarray]:
    code = np.zeros(256, dtype=np.int64)
    ln = np.zeros(256, dtype=np.int64)
    for sym, (c, l_) in codes.items():
        code[sym] = c
        ln[sym] = l_
    return code, ln


def _mag_np(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(size category, appended bits) per value — the vectorized
    :func:`_magnitude` (frexp exponent == bit_length, exact < 2^53)."""
    size = np.frexp(np.abs(v).astype(np.float64))[1].astype(np.int64)
    bits = np.where(v >= 0, v, v + (np.int64(1) << size) - 1)
    return size, bits


def _pack_tokens(
    vals: np.ndarray, nbits: np.ndarray, seg_of: np.ndarray, nseg: int
) -> bytes:
    """Pack a token stream into entropy bytes: each segment starts
    byte-aligned, ends 1-padded (T.81 §F.1.2.3), is FF-stuffed, and is
    separated from the next by RSTn. Tokens carry <= 34 bits after the
    alignment shift, so five staggered byte scatter-adds cover every
    span; distinct tokens touch disjoint bits of a shared byte, so
    addition == OR."""
    seg_bits = np.bincount(seg_of, weights=nbits, minlength=nseg).astype(np.int64)
    pad = (-seg_bits) % 8
    seg_nbytes = (seg_bits + pad) >> 3
    byte_start = np.zeros(nseg + 1, dtype=np.int64)
    np.cumsum(seg_nbytes, out=byte_start[1:])
    bit_start = np.zeros(nseg, dtype=np.int64)
    np.cumsum(seg_bits[:-1], out=bit_start[1:])
    cum = np.cumsum(nbits) - nbits
    end = cum - bit_start[seg_of] + (byte_start[seg_of] << 3) + nbits
    last_byte = (end - 1) >> 3
    shift = (8 - (end & 7)) & 7
    v = vals << shift
    B = np.zeros(int(byte_start[-1]) + 1, dtype=np.int64)
    for k in range(5):
        piece = (v >> (8 * k)) & 0xFF
        m = piece != 0
        if m.any():
            np.add.at(B, last_byte[m] - k, piece[m])
    # per-segment 1-padding of the final partial byte
    pm = pad > 0
    if pm.any():
        np.add.at(
            B, byte_start[1:][pm] - 1, (np.int64(1) << pad[pm]) - 1
        )
    raw = B[: int(byte_start[-1])].astype(np.uint8).tobytes()
    out = bytearray()
    for s in range(nseg):
        seg = raw[byte_start[s] : byte_start[s + 1]].replace(b"\xff", b"\xff\x00")
        if s:
            out += bytes([0xFF, 0xD0 + ((s - 1) & 7)])
        out += seg
    return bytes(out)


def _scan_tokens(
    zz_seq: np.ndarray,
    comp_of: np.ndarray,
    seg_of_block: np.ndarray,
    dc_tabs: list[tuple[np.ndarray, np.ndarray]],
    ac_tabs: list[tuple[np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Token stream (vals, nbits, seg_of) for one baseline interleaved
    scan: ``zz_seq`` is the (blocks, 64) zigzag coefficients in SCAN
    order, ``comp_of``/``seg_of_block`` the per-block component and
    restart segment. Per block: [DC diff] [ZRL* + (run,size)+mag per
    nonzero AC] [EOB when the last nonzero < 63] — exactly the scalar
    writer's emission order."""
    nblk = len(zz_seq)
    ncomp = len(dc_tabs)
    # --- DC: per-component prediction chains, reset per segment
    dc = zz_seq[:, 0]
    diff = np.empty(nblk, dtype=np.int64)
    for ci in range(ncomp):
        idx = np.nonzero(comp_of == ci)[0]
        d = dc[idx]
        prev = np.empty_like(d)
        if len(d):
            prev[0] = 0
            prev[1:] = d[:-1]
            first = np.empty(len(d), dtype=bool)
            first[0] = True
            seg = seg_of_block[idx]
            first[1:] = seg[1:] != seg[:-1]
            diff[idx] = d - np.where(first, 0, prev)
    dsize, dbits = _mag_np(diff)
    dcode = np.empty(nblk, dtype=np.int64)
    dlen = np.empty(nblk, dtype=np.int64)
    for ci in range(ncomp):
        m = comp_of == ci
        code, ln = dc_tabs[ci]
        dcode[m] = code.take(dsize[m])
        dlen[m] = ln.take(dsize[m])
    dc_val = (dcode << dsize) | (dbits & ((np.int64(1) << dsize) - 1))
    dc_nb = dlen + dsize

    # --- AC: runs between nonzeros, ZRL expansion, EOB
    acs = zz_seq[:, 1:]
    nzm = acs != 0
    rows, cols = np.nonzero(nzm)
    v = acs[rows, cols]
    nnz = np.bincount(rows, minlength=nblk)
    first_nz = np.zeros(len(rows), dtype=bool)
    if len(rows):
        first_nz[0] = True
        first_nz[1:] = rows[1:] != rows[:-1]
    prevc = np.empty(len(rows), dtype=np.int64)
    if len(rows):
        prevc[0] = -1
        prevc[1:] = cols[:-1]
    run = cols - np.where(first_nz, -1, prevc) - 1
    zr = run >> 4
    rem = run & 15
    asize, abits = _mag_np(v)
    sym = (rem << 4) | asize
    acomp = comp_of.take(rows)
    acode = np.empty(len(rows), dtype=np.int64)
    alen = np.empty(len(rows), dtype=np.int64)
    zcode = np.empty(len(rows), dtype=np.int64)  # per-comp ZRL/EOB codes
    zlen = np.empty(len(rows), dtype=np.int64)
    for ci in range(ncomp):
        m = acomp == ci
        code, ln = ac_tabs[ci]
        acode[m] = code.take(sym[m])
        alen[m] = ln.take(sym[m])
        zcode[m] = code[0xF0]
        zlen[m] = ln[0xF0]
    ac_val = (acode << asize) | (abits & ((np.int64(1) << asize) - 1))
    ac_nb = alen + asize
    # EOB per block when the last nonzero zigzag index < 63 (or none)
    last_k = np.zeros(nblk, dtype=np.int64)
    if len(rows):
        np.maximum.at(last_k, rows, cols + 1)
    eobm = last_k < 63
    eob_code = np.empty(nblk, dtype=np.int64)
    eob_len = np.empty(nblk, dtype=np.int64)
    for ci in range(ncomp):
        m = comp_of == ci
        code, ln = ac_tabs[ci]
        eob_code[m] = code[0x00]
        eob_len[m] = ln[0x00]

    # --- slot layout: per-block token counts and intra-block offsets
    zr_blk = np.bincount(rows, weights=zr, minlength=nblk).astype(np.int64)
    cnt = 1 + nnz + zr_blk + eobm
    base = np.zeros(nblk + 1, dtype=np.int64)
    np.cumsum(cnt, out=base[1:])
    total = int(base[-1])
    vals = np.empty(total, dtype=np.int64)
    nbt = np.empty(total, dtype=np.int64)
    seg_tok = np.empty(total, dtype=np.int64)
    # DC at slot 0 of each block
    vals[base[:-1]] = dc_val
    nbt[base[:-1]] = dc_nb
    # AC symbols: slot = base[row] + 1 + (j within block) + cum ZRLs
    if len(rows):
        czr = np.cumsum(zr)
        blk_first_cz = np.zeros(nblk, dtype=np.int64)
        blk_first_cz[rows[first_nz]] = (czr - zr)[first_nz]
        j_in_blk = np.arange(len(rows)) - np.repeat(
            np.cumsum(nnz) - nnz, nnz
        )
        cz_before = czr - zr - blk_first_cz.take(rows)
        slot = base.take(rows) + 1 + j_in_blk + cz_before + zr
        vals[slot] = ac_val
        nbt[slot] = ac_nb
        # ZRLs directly before their symbol
        zm = zr > 0
        if zm.any():
            rep = np.repeat(np.arange(len(rows))[zm], zr[zm])
            off = np.arange(len(rep)) - np.repeat(
                np.cumsum(zr[zm]) - zr[zm], zr[zm]
            )
            zslot = slot.take(rep) - zr.take(rep) + off
            vals[zslot] = zcode.take(rep)
            nbt[zslot] = zlen.take(rep)
    # EOBs at the last slot of their block
    if eobm.any():
        vals[base[1:][eobm] - 1] = eob_code[eobm]
        nbt[base[1:][eobm] - 1] = eob_len[eobm]
    seg_tok[:] = np.repeat(seg_of_block, cnt)
    return vals, nbt, seg_tok


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 50,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF encode. ``pixels``: (h, w, 3) RGB u8 or (h, w)
    grayscale u8. ``subsampling``: '444' or '420' (ignored for gray).
    Entropy coding runs the vectorized token path (byte-identical to
    the scalar writer; pinned by golden tests)."""
    pixels = np.asarray(pixels)
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    # encode-session scratch arena: everything _quantize_plane hands
    # back lives until the next encode call on this thread (see the
    # _quantize_plane docstring)
    from tectonic_spark.operators.arena import get_arena

    get_arena("jpeg_encode").reset()
    qt_l = quality_scaled(STD_QT_LUMA, quality)
    qt_c = quality_scaled(STD_QT_CHROMA, quality)

    if gray:
        # uint8 plane straight through: _quantize_plane casts in
        # its out= subtract, saving a 2 MB float64 copy per call
        planes = [pixels]
        samp = [(1, 1)]
        qt_ids = [0]
    else:
        ycc = rgb_to_ycbcr(pixels)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsampling == "420":
            # pad to even then 2x2 mean (rounded half-away) — the
            # conventional average-downsample
            ye = _pad_edge(y, (h + 1) // 2 * 2, (w + 1) // 2 * 2)
            cbe = _pad_edge(cb, ye.shape[0], ye.shape[1])
            cre = _pad_edge(cr, ye.shape[0], ye.shape[1])

            def down(p: np.ndarray) -> np.ndarray:
                s = p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2)
                return _iround(s.mean(axis=(1, 3)))

            planes = [y, down(cbe), down(cre)]
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "444":
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError("subsampling must be '444' or '420'")
        qt_ids = [0, 1, 1]

    h_max = max(s[0] for s in samp)
    v_max = max(s[1] for s in samp)
    mcu_w, mcu_h = 8 * h_max, 8 * v_max
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h
    # block-align every plane to its own MCU grid share
    padded = [
        _pad_edge(p, mcus_y * 8 * sv, mcus_x * 8 * sh)
        for p, (sh, sv) in zip(planes, samp)
    ]

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    # APP0/JFIF: len(2) id(5) version(2) units(1) density(2+2) thumb(1+1)
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01"
        + struct.pack(">BHHBB", 0, 1, 1, 0, 0)
    )
    for qid, qt in ((0, qt_l),) + (((1, qt_c),) if not gray else ()):
        zz = qt[ZIGZAG]
        out += b"\xff\xdb" + struct.pack(">HB", 67, qid) + bytes(int(x) for x in zz)
    # SOF0
    ncomp = 1 if gray else 3
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for i in range(ncomp):
        out += struct.pack("BBB", i + 1, (samp[i][0] << 4) | samp[i][1], qt_ids[i])
    # DHT
    tables = [(0x00, STD_DC_LUMA), (0x10, STD_AC_LUMA)]
    if not gray:
        tables += [(0x01, STD_DC_CHROMA), (0x11, STD_AC_CHROMA)]
    for tid, (bits, vals) in tables:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tid)
        out += bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for i in range(ncomp):
        dc_id = 0 if i == 0 else 1
        ac_id = 0 if i == 0 else 1
        out += struct.pack("BB", i + 1, (dc_id << 4) | ac_id)
    out += bytes([0, 63, 0])  # Ss, Se, Ah/Al

    qts = [qt_l] + [qt_c] * (ncomp - 1)
    out += _encode_baseline_entropy(
        padded, samp, qts, ncomp, mcus_x, mcus_y, restart_interval
    )
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _encode_baseline_entropy(
    padded: list[np.ndarray],
    samp: list[tuple[int, int]],
    qts: list[np.ndarray],
    ncomp: int,
    mcus_x: int,
    mcus_y: int,
    restart_interval: int,
) -> bytes:
    """Vectorized baseline entropy data (incl. RST markers) for the
    already-padded planes — quantize all blocks at once, build the scan
    token stream, pack. Byte-identical to _encode_scan_scalar."""
    coefs = [_quantize_plane(p, qts[ci]) for ci, p in enumerate(padded)]
    M = mcus_x * mcus_y
    m = np.arange(M, dtype=np.int64)
    my, mx = m // mcus_x, m % mcus_x
    cols, cis = [], []
    for ci in range(ncomp):
        sh, sv = samp[ci]
        gw = mcus_x * sh
        for vy in range(sv):
            for hx in range(sh):
                cols.append((my * sv + vy) * gw + (mx * sh + hx))
                cis.append(ci)
    B = len(cols)
    bi_seq = np.stack(cols, axis=1).ravel()
    comp_of = np.tile(np.asarray(cis, dtype=np.int64), M)
    zz_seq = np.empty((M * B, 64), dtype=np.int64)
    for ci in range(ncomp):
        sel = comp_of == ci
        zz_seq[sel] = coefs[ci][bi_seq[sel]]
    ri = restart_interval if restart_interval else M
    seg_of_block = np.repeat(m // ri, B)
    nseg = int(seg_of_block[-1]) + 1 if M else 1
    dc_tabs = [_codes_np(_build_codes(*STD_DC_LUMA))] + [
        _codes_np(_build_codes(*STD_DC_CHROMA))
    ] * (ncomp - 1)
    ac_tabs = [_codes_np(_build_codes(*STD_AC_LUMA))] + [
        _codes_np(_build_codes(*STD_AC_CHROMA))
    ] * (ncomp - 1)
    vals, nbt, seg_tok = _scan_tokens(zz_seq, comp_of, seg_of_block, dc_tabs, ac_tabs)
    return _pack_tokens(vals, nbt, seg_tok, nseg)


def _encode_scan_scalar(
    padded: list[np.ndarray],
    samp: list[tuple[int, int]],
    qts: list[np.ndarray],
    ncomp: int,
    mcus_x: int,
    mcus_y: int,
    restart_interval: int,
) -> bytes:
    """The original per-symbol scalar writer, kept as the GOLDEN
    REFERENCE for the vectorized path (tests pin byte equality)."""
    dc_l = _build_codes(*STD_DC_LUMA)
    ac_l = _build_codes(*STD_AC_LUMA)
    dc_c = _build_codes(*STD_DC_CHROMA)
    ac_c = _build_codes(*STD_AC_CHROMA)
    comp_codes = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (ncomp - 1)
    bw = _BitWriter()
    preds = [0] * ncomp
    rst = 0
    mcus_done = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcus_done and mcus_done % restart_interval == 0:
                bw.flush()
                bw.buf += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                preds = [0] * ncomp
            for ci in range(ncomp):
                sh, sv = samp[ci]
                for vy in range(sv):
                    for hx in range(sh):
                        by = (my * sv + vy) * 8
                        bx = (mx * sh + hx) * 8
                        block = padded[ci][by : by + 8, bx : bx + 8]
                        preds[ci] = _encode_blocks(
                            block, qts[ci], comp_codes[ci][0], comp_codes[ci][1],
                            bw, preds[ci],
                        )
            mcus_done += 1
    bw.flush()
    return bytes(bw.buf)


# --------------------------------------------------------------- decoder


# All three payload-keyed caches share the same bound + clear-wholesale
# policy (ADVICE r6): a corpus with per-image unique DQT/DHT tables must
# not grow executor memory without limit. 512 distinct table payloads
# covers any realistic one-encoder corpus; a pathological corpus just
# re-parses.
_LUT_CACHE: dict[bytes, list[int]] = {}
_QT_CACHE: dict[bytes, list[tuple[int, np.ndarray]]] = {}
# parsed header state keyed on the marker bytes before the first SOS — a
# corpus encoded with fixed settings (the normal case: one encoder, a few
# dimension buckets) re-parses DQT/DHT/SOF once per distinct header, not
# per image. Bounded; cleared wholesale if ever full.
_HDR_CACHE: dict[bytes, tuple] = {}
_HDR_CACHE_MAX = 512


def _cache_put(cache: dict, key, val) -> None:
    if len(cache) >= _HDR_CACHE_MAX:
        cache.clear()
    cache[key] = val


def _find_first_sos(data: bytes) -> int | None:
    """Byte offset of the first SOS marker, walking marker lengths only
    (no segment parsing); None → caller takes the full parse path."""
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            return None
        m = data[pos + 1]
        if m == 0xDA:
            return pos
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            pos += 2
            continue
        if m == 0xD9:
            return None
        (ln,) = struct.unpack_from(">H", data, pos + 2)
        if ln < 2:
            return None
        pos += 2 + ln
    return None


def _huff_lut(raw: bytes) -> list[int]:
    """16-bit-lookahead huffman LUT, ONE packed int per peek:
    ``(run << 10) | (size << 5) | code_len`` (0 = invalid prefix), where
    run/size are the symbol's high/low nibbles. One list index replaces
    the r5 (symbol, length) twin lookups in the per-symbol hot loop, and
    the packed size/length let the caller pull the magnitude bits out of
    the SAME 32-bit window it peeked the code from — no second stream
    fetch for the common case. ``raw`` is the DHT payload (16 BITS bytes
    + HUFFVAL) verbatim — cached on those bytes directly, so the Annex K
    standard tables hit the cache across every image of a corpus with
    zero per-image tuple building."""
    hit = _LUT_CACHE.get(raw)
    if hit is not None:
        return hit
    bits = list(raw[:16])
    vals = list(raw[16:])
    lut = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            base = code << (16 - length)
            span = 1 << (16 - length)
            s = vals[k]
            lut[base : base + span] = ((s >> 4) << 10) | ((s & 15) << 5) | length
            code += 1
            k += 1
        code <<= 1
    # plain list: CPython list indexing beats numpy scalar extraction in
    # the per-symbol hot loop
    out = lut.tolist()
    _cache_put(_LUT_CACHE, raw, out)
    return out


_RST_SPLIT = None  # compiled lazily (re import kept local)
_SEG_PAD = b"\xff" * 256  # T.81 1-padding; covers one block of overshoot


_ENTROPY_END = None


def _entropy_segments(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Slice the entropy-coded data starting at ``pos``: find its end (the
    first marker that is not stuffing or RSTn), split on restart markers,
    unstuff each segment. Returns (segments, end_pos). The end search is
    a compiled regex, not a per-byte Python walk — on a dense 25 KB scan
    the walk alone cost ~20% of decode."""
    import re

    global _RST_SPLIT, _ENTROPY_END
    if _RST_SPLIT is None:
        _RST_SPLIT = re.compile(b"\xff[\xd0-\xd7]")
        _ENTROPY_END = re.compile(b"\xff[^\x00\xd0-\xd7]")
    m = _ENTROPY_END.search(data, pos)
    end = m.start() if m else len(data)
    raw = data[pos:end]
    segments = [seg.replace(b"\xff\x00", b"\xff") for seg in _RST_SPLIT.split(raw)]
    return segments, end


class _Component:
    __slots__ = (
        "cid", "h", "v", "qt_id", "dc_id", "ac_id", "blocks", "bw", "bh", "zz", "coef",
    )

    def __init__(self, cid: int, h: int, v: int, qt_id: int) -> None:
        self.cid, self.h, self.v, self.qt_id = cid, h, v, qt_id


class _LockstepIneligible(Exception):
    """Raised in _collect mode for streams the lane engine doesn't take
    (progressive); the batch caller falls back to the scalar decode."""


class _ScanJob:
    """One baseline SOS captured for the lockstep engine: the scan's
    component refs, table snapshots (dicts copied — later inter-scan
    DHT/DQT redefinitions must not leak backwards), unstuffed restart
    segments, and the MCU grid."""

    __slots__ = ("scan", "qts", "huff", "segments", "ri", "mcus_x", "mcus_y")

    def __init__(self, scan, qts, huff, segments, ri, mcus_x, mcus_y) -> None:
        self.scan, self.qts, self.huff = scan, qts, huff
        self.segments, self.ri = segments, ri
        self.mcus_x, self.mcus_y = mcus_x, mcus_y


class _ProgScanJob:
    """One progressive SOS captured for the lane engine
    (jpeg_prog_lockstep.py): the scan's component refs, huffman table
    snapshot, unstuffed restart segments, spectral band (ss, se) and
    successive-approximation (ah, al) parameters, plus the frame grid
    needed to rebuild the scalar path's unit schedule exactly."""

    __slots__ = (
        "scan", "huff", "segments", "ri", "ss", "se", "ah", "al",
        "mcus_x", "mcus_y", "h_max", "v_max", "width", "height",
    )

    def __init__(
        self, scan, huff, segments, ri, ss, se, ah, al,
        mcus_x, mcus_y, h_max, v_max, width, height,
    ) -> None:
        self.scan, self.huff, self.segments, self.ri = scan, huff, segments, ri
        self.ss, self.se, self.ah, self.al = ss, se, ah, al
        self.mcus_x, self.mcus_y = mcus_x, mcus_y
        self.h_max, self.v_max = h_max, v_max
        self.width, self.height = width, height


def _scan_geometry(
    scan: list, width: int, height: int, h_max_f: int, v_max_f: int
) -> tuple[int, int]:
    """Set c.bw/c.bh for every scan component and return (mcus_x, mcus_y)
    — the ONE place the block-grid arithmetic lives, shared by the scalar
    and lockstep decoders so their geometry cannot diverge."""
    if len(scan) == 1:
        # non-interleaved: MCU = one block of the sole component. The grid
        # is sized from the FRAME-level sampling maxima (ADVICE r5): a
        # subsampled component in a multi-SOS baseline stream covers
        # ceil(dim * c.h / h_max_frame) samples — sizing from the
        # scan-local maxima made the grid up to 4x too large and EOF'd.
        c = scan[0][0]
        bw = ((width * c.h + h_max_f - 1) // h_max_f + 7) // 8
        bh = ((height * c.v + v_max_f - 1) // v_max_f + 7) // 8
        c.bw, c.bh = bw, bh
        return bw, bh
    mcus_x = (width + 8 * h_max_f - 1) // (8 * h_max_f)
    mcus_y = (height + 8 * v_max_f - 1) // (8 * v_max_f)
    for c, _, _ in scan:
        c.bw, c.bh = mcus_x * c.h, mcus_y * c.v
    return mcus_x, mcus_y


def _scan_idct(scan: list, qts: dict) -> None:
    """Dequant + IDCT + plane assembly for a decoded baseline scan whose
    components carry c.zz ((nblocks, 64) natural-order int-valued float64
    coefficients). Dequant is exact: integer coefficient x integer-valued
    float64 qt (products bounded by 2047*255 << 2^53). All components
    ride ONE IDCT matmul chain (the per-component numpy-call overhead
    dominated tiny-image decode)."""
    mats = [c.zz * qts[c.qt_id][None, :] for c, _, _ in scan]
    allm = mats[0] if len(scan) == 1 else np.concatenate(mats)
    px = _idct_blocks(allm)
    off = 0
    for c, _, _ in scan:
        nb = c.bh * c.bw
        c.blocks = (
            px[off : off + nb]
            .reshape(c.bh, c.bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c.bh * 8, c.bw * 8)
        )
        off += nb


def decode_jpeg(data: bytes, _collect: list | None = None):
    """→ u8 array, (h, w, 3) RGB for color / (h, w) for grayscale.
    Baseline sequential AND progressive (SOF2, spectral selection +
    successive approximation) decode natively; arithmetic/12-bit/
    lossless/hierarchical raise.

    ``_collect`` (internal, jpeg_lockstep.py): when a list is passed,
    baseline scans are NOT decoded — their geometry + entropy segments
    are appended as scan jobs and the parsed image state is returned
    instead of pixels, so the lockstep engine can decode many images'
    segments in one vectorized pass. Progressive streams raise
    _LockstepIneligible in this mode (caller falls back to the scalar
    path)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    # (class 0=DC/1=AC, id) -> raw DHT payload bytes; LUTs built per scan
    huff: dict[tuple[int, int], bytes] = {}
    comps: list[_Component] = []
    height = width = 0
    restart_interval = 0
    progressive = False
    mcus_x = mcus_y = 0
    scan_comps: list[tuple[_Component, int, int]] = []

    # header-prefix cache: skip straight to the first SOS when this exact
    # marker prefix has been parsed before (same encoder settings + dims)
    sos_off = _find_first_sos(data)
    hdr_key = data[2:sos_off] if sos_off is not None else None
    hdr_hit = _HDR_CACHE.get(hdr_key) if hdr_key is not None else None
    if hdr_hit is not None:
        qts, huff, comp_spec, width, height, restart_interval, progressive = hdr_hit
        # copy on hit, symmetric with the copy on store: an inter-scan
        # DQT/DHT after the first SOS mutates qts/huff in place and must not
        # corrupt the shared cached dicts for later same-prefix payloads
        # (ADVICE r7)
        qts, huff = dict(qts), dict(huff)
        comps = [_Component(cid, h_, v_, q_) for cid, h_, v_, q_ in comp_spec]
        comp_by_id = {c.cid: c for c in comps}
        h_max_f = max(c.h for c in comps)
        v_max_f = max(c.v for c in comps)
        if progressive:
            mcus_x = (width + 8 * h_max_f - 1) // (8 * h_max_f)
            mcus_y = (height + 8 * v_max_f - 1) // (8 * v_max_f)
            for c in comps:
                c.bw = mcus_x * c.h
                c.bh = mcus_y * c.v
                c.coef = np.zeros((c.bh * c.bw, 64), dtype=np.int64)
        pos = sos_off

    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack_from(">H", data, pos)
        body = data[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT — multiple tables per segment
            # parsed tables are cached on the payload bytes (a corpus
            # shares its quality settings, so the fancy-index scatter and
            # array builds run once, not per image). Natural order,
            # float64: integer-valued, so dequant (int coeff x qt) stays
            # exact while skipping a per-scan astype.
            hit = _QT_CACHE.get(body)
            if hit is None:
                hit = []
                b = 0
                while b < len(body):
                    prec = body[b] >> 4
                    qid = body[b] & 0x0F
                    b += 1
                    if prec == 0:
                        zz = np.frombuffer(body[b : b + 64], dtype=np.uint8)
                        b += 64
                    else:
                        zz = np.frombuffer(body[b : b + 128], dtype=">u2")
                        b += 128
                    nat = np.zeros(64, dtype=np.float64)
                    nat[ZIGZAG] = zz
                    hit.append((qid, nat))
                _cache_put(_QT_CACHE, bytes(body), hit)
            for qid, nat in hit:
                qts[qid] = nat
        elif marker == 0xC4:  # DHT — multiple tables per segment
            b = 0
            while b < len(body):
                tc = body[b] >> 4
                th = body[b] & 0x0F
                n = sum(body[b + 1 : b + 17])
                # raw payload bytes — the LUT cache key (no list building)
                huff[(tc, th)] = bytes(body[b + 1 : b + 17 + n])
                b += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            prec, height, width, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision JPEG")
            comps = []
            for i in range(ncomp):
                cid, hv, qt_id = struct.unpack_from("BBB", body, 6 + 3 * i)
                comps.append(_Component(cid, hv >> 4, hv & 0x0F, qt_id))
            comp_by_id = {c.cid: c for c in comps}
            h_max_f = max(c.h for c in comps)
            v_max_f = max(c.v for c in comps)
            if progressive:
                # coefficients accumulate ACROSS scans on the full
                # interleaved grid, zigzag order
                mcus_x = (width + 8 * h_max_f - 1) // (8 * h_max_f)
                mcus_y = (height + 8 * v_max_f - 1) // (8 * v_max_f)
                for c in comps:
                    c.bw = mcus_x * c.h
                    c.bh = mcus_y * c.v
                    c.coef = np.zeros((c.bh * c.bw, 64), dtype=np.int64)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"unsupported JPEG coding (SOF marker 0xFF{marker:02X}); "
                "baseline sequential and progressive DCT decode natively"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if hdr_hit is None and hdr_key is not None and pos - 2 == sos_off:
                # snapshot the parsed header for the next same-settings
                # image (dict copies: later inter-scan DHT/DQT segments
                # must not leak into the cached state)
                if len(_HDR_CACHE) >= _HDR_CACHE_MAX:
                    _HDR_CACHE.clear()
                _HDR_CACHE[hdr_key] = (
                    dict(qts),
                    dict(huff),
                    [(c.cid, c.h, c.v, c.qt_id) for c in comps],
                    width,
                    height,
                    restart_interval,
                    progressive,
                )
            ns = body[0]
            scan_comps = []
            for i in range(ns):
                cs, td_ta = body[1 + 2 * i], body[2 + 2 * i]
                scan_comps.append((comp_by_id[cs], td_ta >> 4, td_ta & 0x0F))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            pos += seg_len
            if _collect is not None:
                if progressive:
                    segments, pos = _entropy_segments(data, pos)
                    _collect.append(
                        _ProgScanJob(
                            list(scan_comps),
                            dict(huff),
                            segments,
                            restart_interval,
                            ss,
                            se,
                            ahal >> 4,
                            ahal & 0x0F,
                            mcus_x,
                            mcus_y,
                            h_max_f,
                            v_max_f,
                            width,
                            height,
                        )
                    )
                    continue
                mcx, mcy = _scan_geometry(scan_comps, width, height, h_max_f, v_max_f)
                segments, pos = _entropy_segments(data, pos)
                _collect.append(
                    _ScanJob(
                        list(scan_comps),
                        dict(qts),
                        dict(huff),
                        segments,
                        restart_interval,
                        mcx,
                        mcy,
                    )
                )
                continue
            if progressive:
                pos = _decode_scan_progressive(
                    data,
                    pos,
                    scan_comps,
                    huff,
                    restart_interval,
                    ss,
                    se,
                    ahal >> 4,
                    ahal & 0x0F,
                    mcus_x,
                    mcus_y,
                    h_max_f,
                    v_max_f,
                    width,
                    height,
                )
            else:
                pos = _decode_scan(
                    data,
                    pos,
                    scan_comps,
                    qts,
                    huff,
                    width,
                    height,
                    restart_interval,
                    h_max_f,
                    v_max_f,
                )
            continue
        pos += seg_len

    if not comps or not scan_comps:
        raise ValueError("truncated JPEG: no frame/scan decoded")
    if _collect is not None:
        # lockstep collect mode: scans were captured, not decoded; the
        # caller runs the lane engine, then the shared IDCT tail +
        # _assemble (qts/progressive ride along for the progressive pool)
        return (comps, width, height, qts, progressive)
    if progressive:
        _prog_idct(comps, qts)
    return _assemble(comps, width, height)


def _prog_idct(comps: list[_Component], qts: dict) -> None:
    """Dequant + IDCT + plane assembly from the accumulated progressive
    zigzag coefficients (``c.coef``) — same math as the baseline tail.
    Shared by the scalar progressive decode and the lockstep progressive
    pool so the reconstruction arithmetic cannot diverge."""
    for c in comps:
        nat = np.zeros_like(c.coef)
        nat[:, ZIGZAG] = c.coef
        px = _idct_blocks(nat * qts[c.qt_id][None, :])
        c.blocks = (
            px.reshape(c.bh, c.bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c.bh * 8, c.bw * 8)
        )


def _decode_scan(
    data: bytes,
    pos: int,
    scan: list[tuple[_Component, int, int]],
    qts: dict[int, np.ndarray],
    huff: dict,
    width: int,
    height: int,
    restart_interval: int,
    h_max_f: int,
    v_max_f: int,
) -> int:
    mcus_x, mcus_y = _scan_geometry(scan, width, height, h_max_f, v_max_f)
    ncomp = len(scan)
    luts = [(_huff_lut(huff[(0, td)]), _huff_lut(huff[(1, ta)])) for c, td, ta in scan]

    segments, end = _entropy_segments(data, pos)
    seg_i = 0
    # Inlined bit-cursor state over one unstuffed entropy segment (FF00
    # collapsed, RST markers split off). A LARGE segment is expanded ONCE
    # (vectorized numpy) into a list of 32-bit byte-aligned windows:
    # window[i] = bytes i..i+3 big-endian, so the 16-bit huffman peek AND
    # the following magnitude bits usually come from the SAME list index —
    # one fetch per symbol instead of r5's three byte fetches per peek.
    # Small segments (the whole-corpus common case for thumbnails — m08
    # fixtures carry 4-25 B of entropy data) skip the build: its ~17 us
    # of numpy setup costs more than decoding the handful of symbols, so
    # they assemble the same 32-bit window from 4 byte fetches inline.
    # Segments are 1-padded (0xFF), matching T.81's padding of the final
    # partial byte; the EOF check runs once per BLOCK, and one block can
    # consume at most ~210 bytes past the limit before it fires, so the
    # 256-byte pad covers the worst case.
    def _cursor(seg: bytes) -> tuple[bytes, list[int] | None]:
        b = seg + _SEG_PAD
        if len(seg) < 4096:
            return b, None
        arr = np.frombuffer(b, dtype=np.uint8).astype(np.uint32)
        return b, ((arr[:-3] << 24) | (arr[1:-2] << 16) | (arr[2:-1] << 8) | arr[3:]).tolist()

    buf, W = _cursor(segments[0])
    bitpos = 0
    bit_limit = (len(segments[0]) + 2) * 8
    preds = [0] * ncomp
    idx_lists: list[list[int]] = [[] for _ in range(ncomp)]
    val_lists: list[list[int]] = [[] for _ in range(ncomp)]
    zig2nat = ZIGZAG.tolist()  # zigzag index -> natural coefficient index
    # per-component hot-loop state, hoisted out of the MCU loop
    comp_info = [
        (
            luts[ci][0],
            luts[ci][1],
            idx_lists[ci].append,
            val_lists[ci].append,
            1 if ncomp == 1 else c.h,
            1 if ncomp == 1 else c.v,
            c.bw,
            c.v,
            c.h,
        )
        for ci, (c, _, _) in enumerate(scan)
    ]
    mcus_done = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcus_done and mcus_done % restart_interval == 0:
                seg_i += 1
                if seg_i >= len(segments):
                    raise ValueError("missing RST marker in entropy data")
                buf, W = _cursor(segments[seg_i])
                bitpos = 0
                bit_limit = (len(segments[seg_i]) + 2) * 8
                preds = [0] * ncomp
            for ci, (dc_lut, ac_lut, iapp, vapp, nh, nv, cbw, cv, ch) in enumerate(
                comp_info
            ):
                pred = preds[ci]
                for vy in range(nv):
                    for hx in range(nh):
                        if ncomp == 1:
                            base = (my * cbw + mx) << 6
                        else:
                            base = ((my * cv + vy) * cbw + (mx * ch + hx)) << 6
                        # DC: one window fetch covers code + magnitude bits
                        o = bitpos & 7
                        b = bitpos >> 3
                        w = (
                            W[b]
                            if W is not None
                            else (buf[b] << 24)
                            | (buf[b + 1] << 16)
                            | (buf[b + 2] << 8)
                            | buf[b + 3]
                        )
                        e = dc_lut[(w >> (16 - o)) & 0xFFFF]
                        if not e:
                            raise ValueError("invalid huffman code")
                        sz = (e >> 5) & 31
                        ln = e & 31
                        if sz:
                            t = o + ln + sz
                            if t <= 32:
                                diff = (w >> (32 - t)) & ((1 << sz) - 1)
                            else:  # magnitude spills past the window (rare)
                                bp2 = bitpos + ln
                                b2 = bp2 >> 3
                                w2 = (
                                    W[b2]
                                    if W is not None
                                    else (buf[b2] << 24)
                                    | (buf[b2 + 1] << 16)
                                    | (buf[b2 + 2] << 8)
                                    | buf[b2 + 3]
                                )
                                diff = (w2 >> (32 - (bp2 & 7) - sz)) & ((1 << sz) - 1)
                            if diff < 1 << (sz - 1):
                                diff -= (1 << sz) - 1
                            pred += diff
                        bitpos += ln + sz
                        iapp(base)
                        vapp(pred)
                        k = 1
                        while k < 64:
                            o = bitpos & 7
                            b = bitpos >> 3
                            w = (
                                W[b]
                                if W is not None
                                else (buf[b] << 24)
                                | (buf[b + 1] << 16)
                                | (buf[b + 2] << 8)
                                | buf[b + 3]
                            )
                            e = ac_lut[(w >> (16 - o)) & 0xFFFF]
                            if not e:
                                raise ValueError("invalid huffman code")
                            ln = e & 31
                            sz = (e >> 5) & 31
                            if sz == 0:
                                bitpos += ln
                                if e >> 10:  # ZRL (run 15, size 0)
                                    k += 16
                                    continue
                                break  # EOB
                            k += e >> 10
                            if k > 63:
                                raise ValueError("AC run past block end")
                            t = o + ln + sz
                            if t <= 32:
                                val = (w >> (32 - t)) & ((1 << sz) - 1)
                            else:
                                bp2 = bitpos + ln
                                b2 = bp2 >> 3
                                w2 = (
                                    W[b2]
                                    if W is not None
                                    else (buf[b2] << 24)
                                    | (buf[b2 + 1] << 16)
                                    | (buf[b2 + 2] << 8)
                                    | buf[b2 + 3]
                                )
                                val = (w2 >> (32 - (bp2 & 7) - sz)) & ((1 << sz) - 1)
                            bitpos += ln + sz
                            if val < 1 << (sz - 1):
                                val -= (1 << sz) - 1
                            # append at the NATURAL coefficient position —
                            # the zigzag un-permutation rides the scatter
                            iapp(base + zig2nat[k])
                            vapp(val)
                            k += 1
                        if bitpos > bit_limit:
                            raise EOFError("entropy data exhausted")
                preds[ci] = pred
            mcus_done += 1
    # sparse scatter: coefficients were appended as (flat NATURAL-order
    # index, value) instead of allocating a 64-slot list per block — most
    # blocks carry only a few nonzero coefficients, and the zigzag
    # un-permutation already happened at append time.
    for ci, (c, _, _) in enumerate(scan):
        flat = np.zeros(c.bh * c.bw * 64, dtype=np.float64)
        if idx_lists[ci]:
            flat[idx_lists[ci]] = val_lists[ci]
        c.zz = flat.reshape(-1, 64)
    _scan_idct(scan, qts)
    return end


def _idct_blocks(allm: np.ndarray) -> np.ndarray:
    """(n, 64) natural-order dequantized coefficients → (n, 8, 8) u8-range
    pixels. DC-ONLY batches (thumbnail corpora are full of flat blocks)
    skip the matmuls: with a single nonzero coefficient the matmul chain
    reduces to exactly fl(fl(_AT[0,0]*d) * _A[0,0]) per element — the zero
    terms contribute +0.0 — so the scalar two-multiply chain below is
    BIT-IDENTICAL to the full path, just without the 128-multiply-add
    per-pixel work (libjpeg's idct_1x1 analog)."""
    if not allm[:, 1:].any():
        e = (_AT[0, 0] * allm[:, 0]) * _A[0, 0]
        flat = _round_clip_u8(e + 128.0)
        return np.broadcast_to(flat[:, None, None], (len(allm), 8, 8))
    return _round_clip_u8(_AT @ allm.reshape(-1, 8, 8) @ _A + 128.0)


def _assemble(comps: list[_Component], width: int, height: int) -> np.ndarray:
    h_max = max(c.h for c in comps)
    v_max = max(c.v for c in comps)
    planes = []
    for c in comps:
        p = c.blocks
        if c.h != h_max or c.v != v_max:
            if h_max % c.h or v_max % c.v:
                # legal but exotic combos (e.g. h=3 under h_max=2) need
                # fractional upsampling; np.repeat's floor division would
                # silently misalign the plane (ADVICE r5)
                raise NotImplementedError(
                    f"fractional chroma sampling ({c.h}x{c.v} under "
                    f"{h_max}x{v_max} maxima) is not supported"
                )
            p = np.repeat(np.repeat(p, v_max // c.v, axis=0), h_max // c.h, axis=1)
        planes.append(p[:height, :width])
    if len(planes) == 1:
        return planes[0].astype(np.uint8)
    # inline JFIF color transform on the float64 planes (the stack ->
    # slice -> astype round-trip of ycbcr_to_rgb cost three full-frame
    # copies; identical arithmetic order, so bit-identical output)
    y, cb, cr = planes
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return _round_clip_u8(np.stack([r, g, b], axis=-1)).astype(np.uint8)


# ------------------------------------------------------- progressive JPEG


def _quantize_plane(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """Quantized ZIGZAG-order coefficients for every 8x8 block of a
    block-aligned plane, row-major: (n_blocks, 64) int64.

    All scratch (and the returned coefficient array) comes from the
    per-thread "jpeg_encode" arena, reset by the encode entry points:
    the naive expression allocated ~11 transient plane-sized float64
    arrays per call (~22 MB per 512x512 image), and at 32 concurrent
    workers that fresh-page churn put more kernel time on the ENCODE
    side than the decode engines ever paid (the r9 sf10 addendum's
    watch item). Identical arithmetic, out= chained."""
    from tectonic_spark.operators.arena import get_arena

    arena = get_arena("jpeg_encode")
    q = qt.reshape(8, 8).astype(np.float64)
    h, w = plane.shape
    hb, wb = h // 8, w // 8
    nb = hb * wb
    pv = plane.reshape(hb, 8, wb, 8).transpose(0, 2, 1, 3)
    B = arena.take(nb * 64, np.float64).reshape(hb, wb, 8, 8)
    np.subtract(pv, 128.0, out=B)
    T = arena.take(nb * 64, np.float64).reshape(hb, wb, 8, 8)
    np.matmul(_A, B, out=T)
    np.matmul(T, _AT, out=B)
    np.divide(B, q, out=B)
    # _iround (half away from zero), in place across B with T as scratch
    np.abs(B, out=T)
    np.add(T, 0.5, out=T)
    np.floor(T, out=T)
    np.sign(B, out=B)
    np.multiply(B, T, out=B)
    zzf = T.reshape(nb, 64)
    np.take(B.reshape(nb, 64), ZIGZAG, axis=1, out=zzf)
    out = arena.take(nb * 64, np.int64).reshape(nb, 64)
    np.copyto(out, zzf, casting="unsafe")
    return out


# Progressive scans use the vectorized token path by default; the
# scalar _SegWriter emission below is the golden reference (tests pin
# byte equality across the encoder matrix).
_PROG_VEC = True


class _TokenWriter:
    """Shim with the _BitWriter.write interface that collects fused
    tokens instead of packing bits — lets the scalar per-block AC-refine
    routine emit into the vectorized token stream."""

    __slots__ = ("vals", "nbits")

    def __init__(self) -> None:
        self.vals: list[int] = []
        self.nbits: list[int] = []

    def write(self, code: int, length: int) -> None:
        self.vals.append(code & ((1 << length) - 1))
        self.nbits.append(length)


def _prog_seq(samp, grids, ncomp, mcus_x, mcus_y):
    """(bi_seq, comp_of, mcu_of) flat block sequence in interleaved MCU
    comp-major order — the DC scans' walk."""
    M = mcus_x * mcus_y
    m = np.arange(M, dtype=np.int64)
    my, mx = m // mcus_x, m % mcus_x
    cols, cis = [], []
    for ci in range(ncomp):
        sh, sv = samp[ci]
        gw = grids[ci][0]
        for vy in range(sv):
            for hx in range(sh):
                cols.append((my * sv + vy) * gw + (mx * sh + hx))
                cis.append(ci)
    B = len(cols)
    return (
        np.stack(cols, axis=1).ravel(),
        np.tile(np.asarray(cis, dtype=np.int64), M),
        np.repeat(m, B),
    )


def _prog_dc_first_entropy(
    coefs, samp, grids, ncomp, mcus_x, mcus_y, ri, A, dc_tabs
) -> bytes:
    bi, comp_of, mcu = _prog_seq(samp, grids, ncomp, mcus_x, mcus_y)
    n = len(bi)
    dc = np.empty(n, dtype=np.int64)
    for ci in range(ncomp):
        sel = comp_of == ci
        dc[sel] = coefs[ci][bi[sel], 0]
    dc = dc >> A  # arithmetic shift (T.81 §G.1.2.1)
    M = mcus_x * mcus_y
    ri_ = ri if ri else M
    seg = mcu // ri_
    diff = np.empty(n, dtype=np.int64)
    for ci in range(ncomp):
        idx = np.nonzero(comp_of == ci)[0]
        d = dc[idx]
        prev = np.empty_like(d)
        prev[0] = 0
        prev[1:] = d[:-1]
        first = np.empty(len(d), dtype=bool)
        first[0] = True
        s = seg[idx]
        first[1:] = s[1:] != s[:-1]
        diff[idx] = d - np.where(first, 0, prev)
    size, bits = _mag_np(diff)
    code = np.empty(n, dtype=np.int64)
    ln = np.empty(n, dtype=np.int64)
    for ci in range(ncomp):
        sel = comp_of == ci
        c_, l_ = dc_tabs[ci]
        code[sel] = c_.take(size[sel])
        ln[sel] = l_.take(size[sel])
    vals = (code << size) | (bits & ((np.int64(1) << size) - 1))
    return _pack_tokens(vals, ln + size, seg, (M - 1) // ri_ + 1)


def _prog_dc_refine_entropy(
    coefs, samp, grids, ncomp, mcus_x, mcus_y, ri, al
) -> bytes:
    bi, comp_of, mcu = _prog_seq(samp, grids, ncomp, mcus_x, mcus_y)
    n = len(bi)
    dc = np.empty(n, dtype=np.int64)
    for ci in range(ncomp):
        sel = comp_of == ci
        dc[sel] = coefs[ci][bi[sel], 0]
    M = mcus_x * mcus_y
    ri_ = ri if ri else M
    return _pack_tokens(
        (dc >> al) & 1, np.ones(n, dtype=np.int64), mcu // ri_, (M - 1) // ri_ + 1
    )


def _band_rle_tokens(tv, code, ln):
    """(vals, nbt, tokens_per_block) for a non-interleaved band scan:
    per block [ZRL* + (run,size)+mag per nonzero]* + EOB0 when the last
    nonzero band index < L-1 (incl. all-zero blocks) — the scalar AC
    first-scan emission order."""
    B, L = tv.shape
    nzm = tv != 0
    rows, colz = np.nonzero(nzm)
    v = tv[rows, colz]
    nnz = np.bincount(rows, minlength=B)
    first_nz = np.zeros(len(rows), dtype=bool)
    prevc = np.empty(len(rows), dtype=np.int64)
    if len(rows):
        first_nz[0] = True
        first_nz[1:] = rows[1:] != rows[:-1]
        prevc[0] = -1
        prevc[1:] = colz[:-1]
    run = colz - np.where(first_nz, -1, prevc) - 1
    zr = run >> 4
    asize, abits = _mag_np(v)
    sym = ((run & 15) << 4) | asize
    ac_val = (code.take(sym) << asize) | (abits & ((np.int64(1) << asize) - 1))
    ac_nb = ln.take(sym) + asize
    last_k = np.zeros(B, dtype=np.int64)
    if len(rows):
        np.maximum.at(last_k, rows, colz + 1)
    eobm = last_k < L
    zr_blk = np.bincount(rows, weights=zr, minlength=B).astype(np.int64)
    cnt = nnz + zr_blk + eobm
    base = np.zeros(B + 1, dtype=np.int64)
    np.cumsum(cnt, out=base[1:])
    vals = np.empty(int(base[-1]), dtype=np.int64)
    nbt = np.empty(int(base[-1]), dtype=np.int64)
    if len(rows):
        czr = np.cumsum(zr)
        blk_first_cz = np.zeros(B, dtype=np.int64)
        blk_first_cz[rows[first_nz]] = (czr - zr)[first_nz]
        j_in_blk = np.arange(len(rows)) - np.repeat(np.cumsum(nnz) - nnz, nnz)
        cz_before = czr - zr - blk_first_cz.take(rows)
        slot = base.take(rows) + j_in_blk + cz_before + zr
        vals[slot] = ac_val
        nbt[slot] = ac_nb
        zm = zr > 0
        if zm.any():
            rep = np.repeat(np.arange(len(rows))[zm], zr[zm])
            off = np.arange(len(rep)) - np.repeat(np.cumsum(zr[zm]) - zr[zm], zr[zm])
            zslot = slot.take(rep) - zr.take(rep) + off
            vals[zslot] = code[0xF0]
            nbt[zslot] = ln[0xF0]
    if eobm.any():
        vals[base[1:][eobm] - 1] = code[0x00]
        nbt[base[1:][eobm] - 1] = ln[0x00]
    return vals, nbt, cnt


def _prog_ac_first_entropy(coef_c, gw, ni_w, ni_h, ss, se, A, ri, code, ln) -> bytes:
    U = ni_w * ni_h
    m = np.arange(U, dtype=np.int64)
    bi = (m // ni_w) * gw + (m % ni_w)
    band = coef_c[bi][:, ss : se + 1]
    tv = np.sign(band) * (np.abs(band) >> A)  # point transform (§G.1.2.2)
    vals, nbt, cnt = _band_rle_tokens(tv, code, ln)
    ri_ = ri if ri else U
    return _pack_tokens(vals, nbt, np.repeat(m // ri_, cnt), (U - 1) // ri_ + 1)


def _prog_ac_refine_entropy(
    coef_c, gw, ni_w, ni_h, ss, se, al, ri, code, ln, ac_codes
) -> bytes:
    """AC refinement tokens: blocks whose whole band is still invisible
    at this precision (the dominant case in sparse corpora) emit one
    vector EOB0; blocks with content run the shared scalar per-block
    routine through the token shim — identical emission either way."""
    U = ni_w * ni_h
    m = np.arange(U, dtype=np.int64)
    bi = (m // ni_w) * gw + (m % ni_w)
    band = coef_c[bi][:, ss : se + 1]
    allzero = ((np.abs(band) >> al) == 0).all(axis=1)
    tw = _TokenWriter()
    cnt = np.empty(U, dtype=np.int64)
    eobc, eobl = int(code[0]), int(ln[0])
    for u in range(U):
        if allzero[u]:
            tw.vals.append(eobc)
            tw.nbits.append(eobl)
            cnt[u] = 1
        else:
            before = len(tw.vals)
            _write_ac_refine_block(coef_c[bi[u]], ss, se, al, ac_codes, tw)
            cnt[u] = len(tw.vals) - before
    ri_ = ri if ri else U
    return _pack_tokens(
        np.asarray(tw.vals, dtype=np.int64),
        np.asarray(tw.nbits, dtype=np.int64),
        np.repeat(m // ri_, cnt),
        (U - 1) // ri_ + 1,
    )


class _SegWriter:
    """Per-scan bit writer that splits entropy data into restart
    segments (T.81 §E.1.4): ``unit()`` is called before each restart
    unit (MCU for interleaved scans, block otherwise) and returns True
    when it just crossed a restart boundary — flushing the previous
    segment, emitting RSTn, and starting a byte-aligned new one — so
    the caller can reset its DC predictors."""

    def __init__(self, out: bytearray, ri: int) -> None:
        self.out, self.ri = out, ri
        self.bw = _BitWriter()
        self.units = 0
        self.nrst = 0

    def unit(self) -> bool:
        if self.ri and self.units and self.units % self.ri == 0:
            self.bw.flush()
            self.out += self.bw.buf
            self.out += bytes([0xFF, 0xD0 + (self.nrst & 7)])
            self.nrst += 1
            self.bw = _BitWriter()
            self.units += 1
            return True
        self.units += 1
        return False

    def write(self, code: int, length: int) -> None:
        self.bw.write(code, length)

    def done(self) -> None:
        self.bw.flush()
        self.out += self.bw.buf


def encode_jpeg_progressive(
    pixels: np.ndarray,
    quality: int = 50,
    subsampling: str = "444",
    bands: tuple = ((1, 5), (6, 63)),
    successive: int = 0,
    restart_interval: int = 0,
) -> bytes:
    """Progressive (SOF2) JFIF encode: one interleaved DC scan, then
    per-component AC band scans. ``successive=A > 0`` adds SUCCESSIVE
    APPROXIMATION (T.81 §G.1.2): the first scans carry the point
    transform Al=A (DC arithmetic-shifted, AC divided toward zero),
    followed by A refinement rounds (Ah=al+1, Al=al) — an interleaved
    one-bit-per-block DC refine plus per-component AC refines with
    correction bits per the published libjpeg jcphuff algorithm.
    Uses the Annex-K standard huffman tables, so per-block EOB0 only —
    EOB-run symbols need custom tables and are exercised decoder-side by
    hand-built streams in tests. Quantized coefficients are identical to
    :func:`encode_jpeg` at equal settings and successive approximation
    is lossless once Al reaches 0, so a correct progressive decoder must
    reproduce the baseline decode EXACTLY at every ``successive``.
    ``restart_interval`` emits DRI + RSTn every N restart units (MCUs
    for the interleaved DC scans, blocks for the AC scans) — each scan
    then carries many independently-decodable entropy segments, the
    configuration the lockstep lane engine parallelizes best."""
    pixels = np.asarray(pixels)
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    from tectonic_spark.operators.arena import get_arena

    get_arena("jpeg_encode").reset()  # see _quantize_plane
    qt_l = quality_scaled(STD_QT_LUMA, quality)
    qt_c = quality_scaled(STD_QT_CHROMA, quality)
    if gray:
        # uint8 plane straight through: _quantize_plane casts in
        # its out= subtract, saving a 2 MB float64 copy per call
        planes = [pixels]
        samp = [(1, 1)]
        qt_ids = [0]
    else:
        ycc = rgb_to_ycbcr(pixels)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsampling == "420":
            ye = _pad_edge(y, (h + 1) // 2 * 2, (w + 1) // 2 * 2)
            cbe = _pad_edge(cb, ye.shape[0], ye.shape[1])
            cre = _pad_edge(cr, ye.shape[0], ye.shape[1])

            def down(p: np.ndarray) -> np.ndarray:
                s = p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2)
                return _iround(s.mean(axis=(1, 3)))

            planes = [y, down(cbe), down(cre)]
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "444":
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError("subsampling must be '444' or '420'")
        qt_ids = [0, 1, 1]
    ncomp = len(planes)
    h_max = max(s[0] for s in samp)
    v_max = max(s[1] for s in samp)
    mcus_x = (w + 8 * h_max - 1) // (8 * h_max)
    mcus_y = (h + 8 * v_max - 1) // (8 * v_max)
    padded = [
        _pad_edge(p, mcus_y * 8 * sv, mcus_x * 8 * sh)
        for p, (sh, sv) in zip(planes, samp)
    ]
    qts = [qt_l] + [qt_c] * (ncomp - 1)
    # full-grid zigzag coefficients per component (row-major blocks)
    coefs = [_quantize_plane(p, qts[i]) for i, p in enumerate(padded)]
    grids = [(mcus_x * sh, mcus_y * sv) for sh, sv in samp]

    out = bytearray()
    out += b"\xff\xd8"
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01"
        + struct.pack(">BHHBB", 0, 1, 1, 0, 0)
    )
    for qid, qt in ((0, qt_l),) + (((1, qt_c),) if not gray else ()):
        out += b"\xff\xdb" + struct.pack(">HB", 67, qid) + bytes(
            int(x) for x in qt[ZIGZAG]
        )
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for i in range(ncomp):
        out += struct.pack("BBB", i + 1, (samp[i][0] << 4) | samp[i][1], qt_ids[i])
    tables = [(0x00, STD_DC_LUMA), (0x10, STD_AC_LUMA)]
    if not gray:
        tables += [(0x01, STD_DC_CHROMA), (0x11, STD_AC_CHROMA)]
    for tid, (bits, vals) in tables:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tid)
        out += bytes(bits) + bytes(vals)

    dc_codes = [_build_codes(*STD_DC_LUMA)] + [_build_codes(*STD_DC_CHROMA)] * (
        ncomp - 1
    )
    ac_codes = [_build_codes(*STD_AC_LUMA)] + [_build_codes(*STD_AC_CHROMA)] * (
        ncomp - 1
    )

    A = int(successive)
    if not 0 <= A <= 13:
        raise ValueError("successive must be in [0, 13]")
    ri = int(restart_interval)
    if ri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, ri)

    def mcu_list():
        """Interleaved MCU walk: one (ci, bi) block list per MCU
        (comp-major templates), as the DC scans code it."""
        for my in range(mcus_y):
            for mx in range(mcus_x):
                blocks = []
                for ci in range(ncomp):
                    sh, sv = samp[ci]
                    gw = grids[ci][0]
                    for vy in range(sv):
                        for hx in range(sh):
                            blocks.append((ci, (my * sv + vy) * gw + (mx * sh + hx)))
                yield blocks

    def dc_header(ahal: int) -> bytes:
        hdr = b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
        for i in range(ncomp):
            tid = 0 if i == 0 else 1
            hdr += struct.pack("BB", i + 1, tid << 4)
        return hdr + bytes([0, 0, ahal])

    dc_tabs = [_codes_np(c) for c in dc_codes]
    ac_tabs = [_codes_np(c) for c in ac_codes]

    # --- scan 1: interleaved DC first, Ss=Se=0, Ah=0, Al=A
    out += dc_header(A)
    if _PROG_VEC:
        out += _prog_dc_first_entropy(
            coefs, samp, grids, ncomp, mcus_x, mcus_y, ri, A, dc_tabs
        )
    else:
        sw = _SegWriter(out, ri)
        preds = [0] * ncomp
        for mcu in mcu_list():
            if sw.unit():
                preds = [0] * ncomp
            for ci, bi in mcu:
                dc = int(coefs[ci][bi][0]) >> A  # arithmetic shift (§G.1.2.1)
                size, bits = _magnitude(dc - preds[ci])
                preds[ci] = dc
                code, length = dc_codes[ci][size]
                sw.write(code, length)
                if size:
                    sw.write(bits, size)
        sw.done()

    # --- AC FIRST band scans: one component each, Ah=0, Al=A
    for ci in range(ncomp):
        gw, gh = grids[ci]
        sh, sv = samp[ci]
        # non-interleaved grid (dummy right/bottom blocks are NOT coded)
        ni_w = ((w * sh + h_max - 1) // h_max + 7) // 8
        ni_h = ((h * sv + v_max - 1) // v_max + 7) // 8
        for ss, se in bands:
            tid = 0 if ci == 0 else 1
            out += b"\xff\xda" + struct.pack(">HB", 8, 1)
            out += struct.pack("BB", ci + 1, tid)
            out += bytes([ss, se, A])
            if _PROG_VEC:
                out += _prog_ac_first_entropy(
                    coefs[ci], gw, ni_w, ni_h, ss, se, A, ri, *ac_tabs[ci]
                )
                continue
            sw = _SegWriter(out, ri)
            for by in range(ni_h):
                for bx in range(ni_w):
                    sw.unit()
                    zz = coefs[ci][by * gw + bx]
                    # point transform: |v| >> A, sign restored (÷ 2^A
                    # rounded toward zero — T.81 §G.1.2.2)
                    tv = [
                        (abs(int(zz[k])) >> A) * (1 if zz[k] > 0 else -1)
                        for k in range(ss, se + 1)
                    ]
                    run = 0
                    nz = [j for j, v in enumerate(tv) if v]
                    last = nz[-1] if nz else -1
                    for j in range(last + 1):
                        v = tv[j]
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            code, length = ac_codes[ci][0xF0]
                            sw.write(code, length)
                            run -= 16
                        size, bits = _magnitude(v)
                        code, length = ac_codes[ci][(run << 4) | size]
                        sw.write(code, length)
                        sw.write(bits, size)
                        run = 0
                    if ss + last < se:
                        code, length = ac_codes[ci][0x00]  # EOB0
                        sw.write(code, length)
            sw.done()

    # --- refinement rounds: Ah=al+1, Al=al for al = A-1 .. 0
    for al in range(A - 1, -1, -1):
        # DC refine: interleaved, exactly one raw bit per block
        out += dc_header(((al + 1) << 4) | al)
        if _PROG_VEC:
            out += _prog_dc_refine_entropy(
                coefs, samp, grids, ncomp, mcus_x, mcus_y, ri, al
            )
        else:
            sw = _SegWriter(out, ri)
            for mcu in mcu_list():
                sw.unit()
                for ci, bi in mcu:
                    sw.write((int(coefs[ci][bi][0]) >> al) & 1, 1)
            sw.done()
        # AC refines: one component per band, correction bits per the
        # published libjpeg jcphuff encode_mcu_AC_refine algorithm
        for ci in range(ncomp):
            gw, gh = grids[ci]
            sh, sv = samp[ci]
            ni_w = ((w * sh + h_max - 1) // h_max + 7) // 8
            ni_h = ((h * sv + v_max - 1) // v_max + 7) // 8
            for ss, se in bands:
                tid = 0 if ci == 0 else 1
                out += b"\xff\xda" + struct.pack(">HB", 8, 1)
                out += struct.pack("BB", ci + 1, tid)
                out += bytes([ss, se, ((al + 1) << 4) | al])
                if _PROG_VEC:
                    out += _prog_ac_refine_entropy(
                        coefs[ci], gw, ni_w, ni_h, ss, se, al, ri,
                        *ac_tabs[ci], ac_codes[ci],
                    )
                    continue
                sw = _SegWriter(out, ri)
                for by in range(ni_h):
                    for bx in range(ni_w):
                        sw.unit()
                        _write_ac_refine_block(
                            coefs[ci][by * gw + bx], ss, se, al, ac_codes[ci], sw
                        )
                sw.done()
    out += b"\xff\xd9"
    return bytes(out)


def _write_ac_refine_block(
    zz: np.ndarray, ss: int, se: int, al: int, ac_codes: dict, bw: _BitWriter
) -> None:
    """AC successive-approximation refinement for one block (T.81
    §G.1.2.3 via the published libjpeg jcphuff logic): newly-visible
    magnitude-1 coefficients are run-length coded with a sign bit;
    already-nonzero coefficients contribute one buffered correction bit
    apiece, flushed after the symbol (or ZRL / EOB) they ride behind.
    The EOB-run is flushed per block (standard tables carry EOB0 only)."""
    absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    eob = ss - 1  # index of last NEWLY-nonzero coefficient
    for j, t in enumerate(absv):
        if t == 1:
            eob = ss + j
    r = 0
    pend: list[int] = []
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            r += 1
            continue
        # ZRLs not foldable into the EOB (libjpeg: only while k <= EOB)
        while r > 15 and k <= eob:
            code, length = ac_codes[0xF0]
            bw.write(code, length)
            r -= 16
            for b in pend:
                bw.write(b, 1)
            pend = []
        if t > 1:
            # previously-nonzero: one buffered correction bit
            pend.append(t & 1)
            continue
        # newly nonzero (t == 1): (run, 1) symbol + sign + buffered bits
        code, length = ac_codes[(r << 4) | 1]
        bw.write(code, length)
        bw.write(0 if int(zz[k]) < 0 else 1, 1)
        for b in pend:
            bw.write(b, 1)
        pend = []
        r = 0
    if r > 0 or pend:
        code, length = ac_codes[0x00]  # EOB0 (eobrun flushed per block)
        bw.write(code, length)
        for b in pend:
            bw.write(b, 1)


class _ScanCursor:
    """Scalar bit cursor over the restart segments of one scan (the
    progressive correctness path; the baseline hot path keeps its inlined
    window loop)."""

    __slots__ = ("segments", "seg_i", "buf", "bitpos", "limit")

    def __init__(self, segments: list[bytes]) -> None:
        self.segments = segments
        self.seg_i = 0
        self._load(0)

    def _load(self, i: int) -> None:
        self.buf = self.segments[i] + _SEG_PAD
        self.bitpos = 0
        self.limit = (len(self.segments[i]) + 2) * 8

    def next_segment(self) -> None:
        self.seg_i += 1
        if self.seg_i >= len(self.segments):
            raise ValueError("missing RST marker in entropy data")
        self._load(self.seg_i)

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        p = self.bitpos
        self.bitpos = p + n
        end = (self.bitpos + 7) >> 3
        v = int.from_bytes(self.buf[p >> 3 : end], "big")
        return (v >> ((-self.bitpos) % 8)) & ((1 << n) - 1)

    def huff(self, lut: list[int]) -> int:
        p = self.bitpos
        b = p >> 3
        buf = self.buf
        v = ((buf[b] << 16) | (buf[b + 1] << 8) | buf[b + 2]) >> (
            8 - (p & 7)
        ) & 0xFFFF
        e = lut[v]
        if not e:
            raise ValueError("invalid huffman code")
        self.bitpos = p + (e & 31)
        return e

    def check(self) -> None:
        if self.bitpos > self.limit:
            raise EOFError("entropy data exhausted")


def _extend_mag(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_scan_progressive(
    data: bytes,
    pos: int,
    scan: list[tuple[_Component, int, int]],
    huff: dict,
    restart_interval: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    mcus_x: int,
    mcus_y: int,
    h_max: int,
    v_max: int,
    width: int,
    height: int,
) -> int:
    """One progressive scan (T.81 §G.2): DC first/refine (interleaved or
    single-component), AC first/refine (single-component only, EOB-runs,
    successive-approximation correction bits). Coefficients accumulate in
    ``c.coef`` (full interleaved grid, ZIGZAG order) across scans."""
    segments, end = _entropy_segments(data, pos)
    cur = _ScanCursor(segments)
    ncomp = len(scan)
    if ss > 0 and ncomp != 1:
        raise ValueError("AC progressive scan must be single-component")

    if ss == 0:
        dc_luts = [_huff_lut(huff[(0, td)]) for _, td, _ in scan] if ah == 0 else None
        preds = [0] * ncomp
        # block units: interleaved MCUs, or the single comp's ni grid
        if ncomp == 1:
            c = scan[0][0]
            ni_w = ((width * c.h + h_max - 1) // h_max + 7) // 8
            ni_h = ((height * c.v + v_max - 1) // v_max + 7) // 8
            units_x, units_y = ni_w, ni_h
        else:
            units_x, units_y = mcus_x, mcus_y
        done = 0
        for uy in range(units_y):
            for ux in range(units_x):
                if restart_interval and done and done % restart_interval == 0:
                    cur.next_segment()
                    preds = [0] * ncomp
                for ci, (c, td, _) in enumerate(scan):
                    nh, nv = (1, 1) if ncomp == 1 else (c.h, c.v)
                    for vy in range(nv):
                        for hx in range(nh):
                            if ncomp == 1:
                                bi = uy * c.bw + ux
                            else:
                                bi = (uy * c.v + vy) * c.bw + (ux * c.h + hx)
                            if ah == 0:
                                e = cur.huff(dc_luts[ci])
                                size = (e >> 5) & 31
                                diff = (
                                    _extend_mag(cur.read(size), size) if size else 0
                                )
                                preds[ci] += diff
                                c.coef[bi, 0] = preds[ci] << al
                            else:  # DC refinement: one bit per block
                                if cur.read(1):
                                    c.coef[bi, 0] |= 1 << al
                            cur.check()
                done += 1
        return end

    # --- AC scans: single component over its non-interleaved grid
    c, _, ta = scan[0]
    ac_lut = _huff_lut(huff[(1, ta)])
    ni_w = ((width * c.h + h_max - 1) // h_max + 7) // 8
    ni_h = ((height * c.v + v_max - 1) // v_max + 7) // 8
    coef = c.coef
    gw = c.bw
    eobrun = 0
    p1 = 1 << al
    m1 = -p1
    done = 0
    for by in range(ni_h):
        for bx in range(ni_w):
            if restart_interval and done and done % restart_interval == 0:
                cur.next_segment()
                eobrun = 0
            bi = by * gw + bx
            row = coef[bi]
            if ah == 0:  # first AC scan for this band
                if eobrun:
                    eobrun -= 1
                else:
                    k = ss
                    while k <= se:
                        e = cur.huff(ac_lut)
                        r = e >> 10
                        s = (e >> 5) & 31
                        if s == 0:
                            if r < 15:
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += cur.read(r)
                                break
                            k += 16  # ZRL
                            continue
                        k += r
                        if k > se:
                            raise ValueError("AC run past band end")
                        row[k] = _extend_mag(cur.read(s), s) << al
                        k += 1
            else:  # AC refinement (T.81 §G.2 / libjpeg decode_mcu_AC_refine)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        e = cur.huff(ac_lut)
                        r = e >> 10
                        s = (e >> 5) & 31
                        val = 0
                        if s == 0:
                            if r < 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += cur.read(r)
                                break
                            # r == 15: ZRL — skip 16 zero-history coeffs
                        else:
                            if s != 1:
                                raise ValueError("bad refinement size")
                            val = p1 if cur.read(1) else m1
                        while k <= se:
                            cv = int(row[k])
                            if cv != 0:
                                if cur.read(1) and (cv & p1) == 0:
                                    row[k] = cv + (p1 if cv >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            row[k] = val
                        k += 1
                if eobrun:
                    while k <= se:
                        cv = int(row[k])
                        if cv != 0 and cur.read(1) and (cv & p1) == 0:
                            row[k] = cv + (p1 if cv >= 0 else m1)
                        k += 1
                    eobrun -= 1
            cur.check()
            done += 1
    return end
