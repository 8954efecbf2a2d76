"""Vendored pure-Python+numpy FLAC codec — the natively-decoded COMPRESSED
audio format (VERDICT r5 item 5 follow-through).

Why FLAC and not MP3 sample synthesis: FLAC's entire coding layer is
structural — Rice/Golomb residual coding, fixed/LPC integer predictors,
stereo decorrelation, CRC-8/16, UTF-8 frame numbers — with ZERO constant
tables, so every line here is derivable from the public bitstream spec and
verifiable end-to-end: the format is LOSSLESS, so decode(encode(pcm)) must
equal pcm bit-for-bit, and the STREAMINFO MD5 signature gives an
independent whole-stream integrity oracle. MP3's PCM path needs the
ISO/IEC 11172-3 Annex-B constant tables (34 huffman tables, 512-tap
synthesis window) that cannot be safely vendored from memory; its
frame/metadata walk lives in codecs.parse_mp3.

Decoder coverage: STREAMINFO + metadata skip, fixed-blocksize and
variable-blocksize frames, all four channel assignments (independent,
left/side, right/side, mid/side), subframe types CONSTANT / VERBATIM /
FIXED(0-4) / LPC(1-32), wasted bits, 4-bit (RICE) and 5-bit (RICE2)
partitioned residuals, escaped partitions, CRC-8 header and CRC-16 frame
checks, MD5 verification against STREAMINFO.

Encoder (fixture generator): 16-bit PCM, mono/stereo, CONSTANT /
VERBATIM / FIXED(0-2) subframes with single-partition Rice residuals,
plus an LPC mode (r8: deterministic quantized coefficients, any order
1-32 — inversion is exact for ANY coefficient set) — a strict subset of
the decoder's surface, so round-trips exercise the general paths.

100 TB shape: decode is embarrassingly parallel per payload inside
Arrow-batched mapInPandas (the m08 JPEG pattern); compressed bytes never
shuffle.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from tectonic_spark.operators.arena import ensure_flat_malloc

_MAGIC = b"fLaC"

# ------------------------------------------------------------------ CRCs


def _make_crc_tables() -> tuple[list[int], list[int]]:
    t8, t16 = [], []
    for b in range(256):
        c = b
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        t8.append(c)
        c = b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        t16.append(c)
    return t8, t16


_CRC8_TAB, _CRC16_TAB = _make_crc_tables()

# window masks for the fused Rice loop: masks[a] = lowest a bits
_WIN_MASKS = [(1 << i) - 1 for i in range(73)]
# r11 rice window: 32-byte refill windows (best measured size — fewer
# refetches than the old per-sample 9-byte fetch, and 256-bit python
# ints are still cheap single-digit-ish ops)
_RICE_MASKS = [(1 << i) - 1 for i in range(257)]


def _crc8(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x+1 (0x07), init 0 (FLAC frame header CRC).
    Table-driven (r7): the per-bit loop was 25% of whole-file decode."""
    crc = 0
    tab = _CRC8_TAB
    for b in data:
        crc = tab[crc ^ b]
    return crc


# word-wise CRC-16 table (r11, built lazily): with a 16-bit state,
# consuming 16 input bits at once satisfies crc' = T2[crc ^ word] —
# verified against the byte-wise step for random states/words — so one
# lookup covers two bytes (measured 2.45x; CRC was ~10% of decode)
_CRC16_TAB2: list[int] | None = None


def _crc16(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 (FLAC frame CRC)."""
    global _CRC16_TAB2
    tab = _CRC16_TAB
    t2 = _CRC16_TAB2
    if t2 is None:

        def step(crc: int, b: int) -> int:
            return ((crc << 8) & 0xFF00) ^ tab[(crc >> 8) ^ b]

        t2 = _CRC16_TAB2 = [
            step(step(0, w >> 8), w & 0xFF) for w in range(65536)
        ]
    crc = 0
    n2 = len(data) & ~1
    for wd in struct.unpack(f">{n2 >> 1}H", data[:n2]):
        crc = t2[crc ^ wd]
    if len(data) & 1:
        crc = ((crc << 8) & 0xFF00) ^ tab[(crc >> 8) ^ data[-1]]
    return crc


# ------------------------------------------------------------ bit cursors


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)

    def write_unary(self, q: int) -> None:
        # q zero bits then a one bit
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


class _BitReader:
    __slots__ = ("data", "bitpos")

    def __init__(self, data: bytes, bitpos: int = 0) -> None:
        self.data = data
        self.bitpos = bitpos

    def read(self, nbits: int) -> int:
        p = self.bitpos
        self.bitpos = p + nbits
        end = (self.bitpos + 7) >> 3
        if end > len(self.data):
            raise ValueError("truncated FLAC bitstream")
        chunk = int.from_bytes(self.data[p >> 3 : end], "big")
        return (chunk >> ((-self.bitpos) % 8)) & ((1 << nbits) - 1)

    def read_unary(self) -> int:
        data = self.data
        p = self.bitpos
        n = len(data) * 8
        q = 0
        while True:
            if p >= n:
                raise ValueError("truncated unary code")
            byte = data[p >> 3]
            rem = 8 - (p & 7)
            window = byte & ((1 << rem) - 1)
            if window == 0:
                q += rem
                p += rem
                continue
            lead = rem - window.bit_length()
            q += lead
            p += lead + 1
            break
        self.bitpos = p
        return q

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7


# -------------------------------------------------------------- encoder


def _utf8_coded(n: int) -> bytes:
    """FLAC's extended-UTF-8 number coding (frame index)."""
    if n < 0x80:
        return bytes((n,))
    out = []
    marks = [(0x7FF, 0xC0, 1), (0xFFFF, 0xE0, 2), (0x1FFFFF, 0xF0, 3), (0x3FFFFFF, 0xF8, 4), (0x7FFFFFFF, 0xFC, 5)]
    for limit, lead, cont in marks:
        if n <= limit:
            out.append(lead | (n >> (6 * cont)))
            for i in range(cont - 1, -1, -1):
                out.append(0x80 | ((n >> (6 * i)) & 0x3F))
            return bytes(out)
    raise ValueError("frame number too large")


_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _best_rice_k(res: np.ndarray) -> int:
    if not len(res):
        return 0
    zig = np.where(res >= 0, 2 * res.astype(np.int64), -2 * res.astype(np.int64) - 1)
    mean = float(zig.mean()) if len(zig) else 0.0
    k = 0
    while (1 << (k + 1)) < mean + 1 and k < 14:
        k += 1
    return k


def _lpc_coefs(order: int) -> tuple[list[int], int, int]:
    """Deterministic quantized LPC coefficient set for the encoder's LPC
    mode: (coefs, shift, precision). FLAC's LPC inversion is exact for
    ANY coefficient set — the prediction only shapes residual size — so
    fixture streams use a fixed decaying filter (co[0] ~= 1.0 at
    shift 5) rather than a per-block Levinson-Durbin fit; that keeps
    every encoded byte a closed-form function of the input."""
    co = [32]
    for j in range(1, order):
        co.append({1: -7, 2: 3, 3: -2}.get(j, 1 if j % 2 == 0 else -1))
    return co, 5, 7  # |co| <= 32 fits signed 7-bit


def encode_flac(
    pcm: np.ndarray,
    sample_rate: int = 8000,
    block_size: int = 256,
    lpc_order: int = 0,
) -> bytes:
    """16-bit PCM → FLAC. ``pcm``: int16 array, shape (n,) mono or (n, 2)
    stereo. Subframe choice per channel: CONSTANT if flat, else FIXED
    order 2 (order 0/1 for short blocks), single Rice partition.
    ``lpc_order > 0`` emits LPC subframes instead of FIXED (deterministic
    quantized coefficients via :func:`_lpc_coefs`, exact inversion), so
    the LPC decode path gets encoder-generated driver-oracle coverage."""
    pcm = np.asarray(pcm, dtype=np.int64)
    if pcm.ndim == 1:
        pcm = pcm[:, None]
    n, ch = pcm.shape
    if ch not in (1, 2):
        raise ValueError("mono or stereo only")
    if n and (pcm.min() < -32768 or pcm.max() > 32767):
        raise ValueError("16-bit PCM required")
    # STREAMINFO
    le = pcm.astype("<i2").tobytes()  # interleaved little-endian (n, ch)
    md5 = hashlib.md5(le).digest()
    info = _BitWriter()
    info.write(block_size, 16)
    info.write(block_size, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(sample_rate, 20)
    info.write(ch - 1, 3)
    info.write(15, 5)  # bits-per-sample - 1
    info.write(n, 36)
    info.align()
    info_bytes = info.bytes() + md5
    out = bytearray(_MAGIC)
    out += bytes((0x80,)) + len(info_bytes).to_bytes(3, "big")  # last-block
    out += info_bytes

    for fi, start in enumerate(range(0, n, block_size)):
        blk = pcm[start : start + block_size]
        bs = len(blk)
        hdr = _BitWriter()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 1)  # reserved
        hdr.write(0, 1)  # fixed blocksize stream
        # blocksize code: 0b0111 = get 16 bit (blocksize-1) at end
        hdr.write(0b0111, 4)
        hdr.write(0, 4)  # samplerate: from STREAMINFO
        hdr.write(ch - 1 if ch <= 2 else 0, 4)  # independent channels
        hdr.write(0b100, 3)  # 16 bits per sample
        hdr.write(0, 1)
        head = hdr.bytes() + _utf8_coded(fi) + struct.pack(">H", bs - 1)
        head += bytes((_crc8(head),))
        w = _BitWriter()
        for c in range(ch):
            s = blk[:, c]
            if bs and (s == s[0]).all():
                w.write(0, 1)  # zero pad bit
                w.write(0b000000, 6)  # CONSTANT
                w.write(0, 1)  # no wasted bits
                w.write(int(s[0]) & 0xFFFF, 16)
                continue
            if lpc_order and bs > lpc_order:
                order = lpc_order
                co, shift, prec = _lpc_coefs(order)
                w.write(0, 1)
                w.write(0b100000 | (order - 1), 6)  # LPC, order
                w.write(0, 1)  # no wasted bits
                for i in range(order):
                    w.write(int(s[i]) & 0xFFFF, 16)  # warmup
                w.write(prec - 1, 4)
                w.write(shift, 5)
                for cf in co:
                    w.write(cf & ((1 << prec) - 1), prec)
                pred = np.zeros(bs - order, dtype=np.int64)
                for j, cf in enumerate(co):
                    pred += cf * s[order - 1 - j : bs - 1 - j]
                res = s[order:] - (pred >> shift)
            else:
                order = 2 if bs > 2 else (1 if bs == 2 else 0)
                w.write(0, 1)
                w.write(0b001000 | order, 6)  # FIXED, given order
                w.write(0, 1)
                for i in range(order):
                    w.write(int(s[i]) & 0xFFFF, 16)  # warmup
                coefs = _FIXED_COEFS[order]
                res = s[order:].copy()
                for j, cf in enumerate(coefs):
                    res = res - cf * s[order - 1 - j : bs - 1 - j]
            # residual method 0 (4-bit rice), partition order 0
            w.write(0, 2)
            w.write(0, 4)
            k = _best_rice_k(res)
            w.write(k, 4)
            for r in res:
                r = int(r)
                zig = 2 * r if r >= 0 else -2 * r - 1
                w.write_unary(zig >> k)
                if k:
                    w.write(zig & ((1 << k) - 1), k)
        w.align()
        frame = head + w.bytes()
        frame += struct.pack(">H", _crc16(frame))
        out += frame
    return bytes(out)


# -------------------------------------------------------------- decoder


def _read_utf8_coded(br: _BitReader) -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("bad UTF-8 coded number")
    val = first & (0xFF >> (nbytes + 1))
    for _ in range(nbytes - 1):
        b = br.read(8)
        if (b & 0xC0) != 0x80:
            raise ValueError("bad UTF-8 continuation")
        val = (val << 6) | (b & 0x3F)
    return val


_BLOCKSIZE_CODE = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096, 13: 8192, 14: 16384, 15: 32768,
}


def _rice_scalar(
    data: bytes, bp: int, cnt: int, k: int, out: np.ndarray, pos: int
) -> int:
    """Fused Rice hot loop (r7, rewindowed r11): a 32-byte window is
    fetched ONCE and drained sample-by-sample until fewer than 64 bits
    remain — amortizing the slice + int.from_bytes that the old 9-byte
    per-sample fetch paid every iteration (measured 1.55x on the
    order-8 LPC bench stream, k=11). Long quotients / window-boundary
    cases (rare) fall back to the generic cursor. Fills
    ``out[pos:pos+cnt]``, returns the new bit position."""
    nbytes = len(data)
    kmask = (1 << k) - 1
    masks = _RICE_MASKS
    br = None
    w = 0
    avail = 0
    for i in range(pos, pos + cnt):
        if avail < 64:
            b0 = bp >> 3
            nb = nbytes - b0
            if nb > 32:
                nb = 32
            avail = (nb << 3) - (bp & 7)
            if avail <= 0:
                raise ValueError("truncated unary code")
            w = int.from_bytes(data[b0 : b0 + nb], "big") & masks[avail]
        lead = avail - w.bit_length()
        take = lead + 1 + k
        if w and take <= avail:
            zig = ((lead << k) | ((w >> (avail - take)) & kmask)) if k else lead
            bp += take
            avail -= take
            w &= masks[avail]
        else:  # quotient spans the window — generic path
            if br is None:
                br = _BitReader(data)
            br.bitpos = bp
            q = br.read_unary()
            zig = (q << k) | br.read(k) if k else q
            bp = br.bitpos
            avail = 0
        out[i] = (zig >> 1) ^ -(zig & 1)
    # (zig>>1) ^ -(zig&1): inverse zigzag
    return bp


def _decode_residual(br: _BitReader, bs: int, order: int):
    """GENERATOR: the single implementation of residual decoding, shared
    verbatim by the scalar driver (decode_flac) and the lane engine
    (decode_flac_batch) so the two paths cannot diverge. Each Rice
    partition is delegated to the driver via ``yield (bitpos, cnt, k)``;
    the driver sends back ``new_bitpos`` after filling the target slice.
    Escaped (raw n-bit) partitions are rare and decode inline."""
    method = br.read(2)
    if method > 1:
        raise ValueError("reserved residual coding method")
    kbits = 4 if method == 0 else 5
    escape = (1 << kbits) - 1
    part_order = br.read(4)
    nparts = 1 << part_order
    # spec: first partition carries bs/2^po - order samples, the rest
    # bs/2^po each; an order that doesn't divide is a stream error
    if bs % nparts:
        raise ValueError("partition order does not divide block size")
    res = np.empty(bs - order, dtype=np.int64)
    pos = 0
    for p in range(nparts):
        cnt = (bs >> part_order) - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("invalid partition order")
        k = br.read(kbits)
        if k == escape:  # escaped: raw n-bit residuals
            nb = br.read(5)
            for i in range(cnt):
                v = br.read(nb)
                if nb and v >= 1 << (nb - 1):
                    v -= 1 << nb
                res[pos + i] = v
        elif cnt:
            br.bitpos = yield (br.bitpos, cnt, k, res, pos)
        pos += cnt
    return res


def _decode_subframe(br: _BitReader, bs: int, bps: int):
    """GENERATOR (see _decode_residual): yields Rice-partition requests
    upward; returns the decoded channel block."""
    if br.read(1):
        raise ValueError("subframe padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = 1 + br.read_unary()
    eff = bps - wasted

    def signed(v: int, nb: int) -> int:
        return v - (1 << nb) if nb and v >= 1 << (nb - 1) else v

    if stype == 0:  # CONSTANT
        out = np.full(bs, signed(br.read(eff), eff), dtype=np.int64)
    elif stype == 1:  # VERBATIM
        out = np.array([signed(br.read(eff), eff) for _ in range(bs)], dtype=np.int64)
    elif 8 <= stype <= 12:  # FIXED order 0-4
        order = stype - 8
        warm = [signed(br.read(eff), eff) for _ in range(order)]
        res = yield from _decode_residual(br, bs, order)
        # fixed predictor of order d computes the d-th difference; invert
        # with d exact int64 cumsums (vectorized — no per-sample loop)
        out = _apply_fixed(warm, res, order, bs)
    elif stype >= 32:  # LPC, order = stype - 31
        order = stype - 31
        warm = [signed(br.read(eff), eff) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC precision")
        shift = br.read(5)
        if shift >= 16:
            raise ValueError("negative LPC shift")  # signed 5-bit, <0 invalid
        coefs = [signed(br.read(prec), prec) for _ in range(order)]
        res = yield from _decode_residual(br, bs, order)
        out = np.empty(bs, dtype=np.int64)
        out[:order] = warm
        # prediction needs no bitstream access: delegate it upward like
        # Rice partitions, so the scalar driver runs the exact loop and
        # the batch driver folds many lanes into one lockstep filter
        yield ("lpc", coefs, shift, order, res, out)
    else:
        raise ValueError(f"reserved subframe type {stype}")
    return out << wasted


# per-order unrolled LPC kernels (r11 — the verdict's codec floor:
# flac_decode_lpc at 0.86 MB/s/core was the family's slowest kernel,
# and profiling put 53% of decode time in the generic per-sample loop
# below with its inner order-loop and two list index ops per tap).
# Each order gets a compiled specialization holding the history in
# rotated locals — no inner loop, no indexing. Values stay python ints
# (res arrives via tolist, warm via int()) so exactness is unchanged.
_LPC_KERNELS: dict[int, object] = {}


def _lpc_kernel(order: int):
    fn = _LPC_KERNELS.get(order)
    if fn is None:
        cs = ", ".join(f"c{j}" for j in range(order))
        hs = ", ".join(f"h{j}" for j in range(1, order + 1))
        terms = " + ".join(f"c{j}*h{j + 1}" for j in range(order))
        rot = "; ".join(
            [f"h{j} = h{j - 1}" for j in range(order, 1, -1)] + ["h1 = v"]
        )
        src = (
            f"def _k(coefs, shift, warm, res):\n"
            f"    {cs}, = coefs\n"
            f"    {hs}, = warm\n"
            f"    out = []\n"
            f"    ap = out.append\n"
            f"    for r in res:\n"
            f"        v = r + (({terms}) >> shift)\n"
            f"        ap(v)\n"
            f"        {rot}\n"
            f"    return out\n"
        )
        ns: dict = {}
        exec(compile(src, f"<lpc-order-{order}>", "exec"), ns)  # noqa: S102
        fn = _LPC_KERNELS[order] = ns["_k"]
    return fn


def _lpc_scalar(
    coefs: list[int], shift: int, order: int, res: np.ndarray, out: np.ndarray
) -> None:
    """Invert one LPC predictor exactly (the single scalar
    implementation, shared by decode_flac and sub-lane-gate batch
    paths): out[i] = res[i-order] + (sum coefs[j]*out[i-1-j]) >> shift,
    python ints so no int64 overflow risk at any legal prec/order.
    Dispatches to a per-order unrolled kernel (see _lpc_kernel)."""
    warm = tuple(int(x) for x in out[order - 1 :: -1]) if order else ()
    out[order:] = _lpc_kernel(order)(
        tuple(coefs), shift, warm, res.tolist()
    )


def _apply_fixed(warm: list[int], res: np.ndarray, order: int, bs: int) -> np.ndarray:
    """Invert a fixed (polynomial) predictor: the order-d residual is the
    d-th finite difference of the signal, so reconstruction is d exact
    int64 cumsums. Seed position j must hold the j-th difference at index
    j (NOT the raw warmup sample) for the cascade to integrate correctly."""
    out = np.empty(bs, dtype=np.int64)
    w = np.array(warm, dtype=np.int64)
    for j in range(order):
        out[j] = np.diff(w, j)[0] if j else w[0]
    out[order:] = res
    for d in range(order, 0, -1):
        out[d - 1 :] = np.cumsum(out[d - 1 :])
    return out


def _decode_flac_gen(data: bytes, verify_md5: bool = True):
    """GENERATOR core of FLAC decode: all header/CRC/stereo logic lives
    here ONCE; Rice partitions bubble up as ``yield (bitpos, cnt, k,
    out, pos)`` requests answered with the new bitpos. decode_flac
    drives it with the scalar fused loop; decode_flac_batch drives many
    of these in numpy lockstep. Returns (sample_rate, pcm)."""
    if data[:4] != _MAGIC:
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        hdr = data[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        ln = int.from_bytes(data[pos + 1 : pos + 4], "big")
        if btype == 0:
            streaminfo = data[pos + 4 : pos + 4 + ln]
        pos += 4 + ln
        if last:
            break
    if streaminfo is None:
        raise ValueError("missing STREAMINFO")
    si = _BitReader(streaminfo)
    si.read(16)
    si.read(16)
    si.read(24)
    si.read(24)
    sample_rate = si.read(20)
    n_channels = si.read(3) + 1
    bps = si.read(5) + 1
    total = si.read(36)
    md5 = streaminfo[18:34]

    chans: list[list[np.ndarray]] = [[] for _ in range(n_channels)]
    got = 0
    while got < total and pos < len(data):
        frame_start = pos
        br = _BitReader(data, pos * 8)
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise ValueError(f"lost frame sync at byte {pos}")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        bps_code = br.read(3)
        br.read(1)
        _read_utf8_coded(br)
        if bs_code == 0:
            raise ValueError("reserved blocksize code")
        elif bs_code == 6:
            bs = br.read(8) + 1
        elif bs_code == 7:
            bs = br.read(16) + 1
        else:
            bs = _BLOCKSIZE_CODE[bs_code]
        if sr_code == 12:
            br.read(8)
        elif sr_code in (13, 14):
            br.read(16)
        elif sr_code == 15:
            raise ValueError("invalid samplerate code")
        # header CRC-8 covers everything up to here
        hdr_end = br.bitpos >> 3
        if _crc8(data[frame_start:hdr_end]) != data[hdr_end]:
            raise ValueError(f"frame header CRC mismatch at byte {frame_start}")
        br.bitpos = (hdr_end + 1) * 8

        if ch_code < 8:
            nch = ch_code + 1
            assignment = "indep"
        elif ch_code == 8:
            nch, assignment = 2, "left-side"
        elif ch_code == 9:
            nch, assignment = 2, "right-side"
        elif ch_code == 10:
            nch, assignment = 2, "mid-side"
        else:
            raise ValueError("reserved channel assignment")
        if nch != n_channels:
            raise ValueError("frame/stream channel mismatch")

        subs = []
        for c in range(nch):
            ch_bps = bps
            if assignment == "left-side" and c == 1:
                ch_bps += 1
            elif assignment == "right-side" and c == 0:
                ch_bps += 1
            elif assignment == "mid-side" and c == 1:
                ch_bps += 1
            sub = yield from _decode_subframe(br, bs, ch_bps)
            subs.append(sub)
        br.align()
        crc_end = br.bitpos >> 3
        (crc16,) = struct.unpack_from(">H", data, crc_end)
        if _crc16(data[frame_start:crc_end]) != crc16:
            raise ValueError(f"frame CRC-16 mismatch at byte {frame_start}")
        pos = crc_end + 2

        if assignment == "indep":
            out = subs
        elif assignment == "left-side":
            left, side = subs
            out = [left, left - side]
        elif assignment == "right-side":
            side, right = subs
            out = [side + right, right]
        else:  # mid-side
            mid, side = subs
            lo = (mid << 1) | (side & 1)
            out = [(lo + side) >> 1, (lo - side) >> 1]
        for c in range(nch):
            chans[c].append(out[c])
        got += bs

    if got < total:
        raise ValueError(f"stream truncated: {got}/{total} samples")
    pcm = np.stack([np.concatenate(c)[:total] for c in chans], axis=1)
    if verify_md5 and md5 != b"\x00" * 16:
        le = pcm.astype("<i2").tobytes() if bps == 16 else None
        if le is not None and hashlib.md5(le).digest() != md5:
            raise ValueError("stream MD5 mismatch")
    return sample_rate, pcm


def first_subframe_is_lpc(data: bytes) -> bool:
    """True iff the first subframe of the first frame is an LPC
    predictor (stype >= 32) — an independent parse of the payload bytes,
    so oracle-checked outputs can PIN that a fixture corpus actually
    carries LPC subframes (a silent encoder fallback to FIXED flips the
    value hash; the m14 rode_engine pattern)."""
    if data[:4] != _MAGIC:
        raise ValueError("not a FLAC stream")
    pos = 4
    while True:
        hdr = data[pos]
        ln = int.from_bytes(data[pos + 1 : pos + 4], "big")
        pos += 4 + ln
        if hdr & 0x80:
            break
    br = _BitReader(data, pos * 8)
    if br.read(14) != 0b11111111111110:
        raise ValueError(f"lost frame sync at byte {pos}")
    br.read(2)
    bs_code = br.read(4)
    sr_code = br.read(4)
    br.read(4)
    br.read(4)
    _read_utf8_coded(br)
    if bs_code == 6:
        br.read(8)
    elif bs_code == 7:
        br.read(16)
    if sr_code == 12:
        br.read(8)
    elif sr_code in (13, 14):
        br.read(16)
    br.bitpos = ((br.bitpos >> 3) + 1) * 8  # skip header CRC-8
    br.read(1)  # subframe pad bit
    return br.read(6) >= 32


def decode_flac(data: bytes, verify_md5: bool = True) -> tuple[int, np.ndarray]:
    """FLAC → (sample_rate, int64 array (n, channels)). Verifies every
    frame's header CRC-8 and footer CRC-16; verifies the stream MD5 when
    STREAMINFO carries one and ``verify_md5``. Scalar driver of the
    shared generator core."""
    g = _decode_flac_gen(data, verify_md5)
    try:
        req = next(g)
        while True:
            if req[0] == "lpc":
                _lpc_scalar(*req[1:])
                req = g.send(None)
            else:
                bp, cnt, k, out, pos = req
                req = g.send(_rice_scalar(data, bp, cnt, k, out, pos))
    except StopIteration as st:
        return st.value


# --------------------------------------------------- lockstep batch decode

# The Rice residual walk is ~65% of scalar decode and advances one symbol
# at a time — the same per-symbol-interpreter scale ceiling the JPEG
# entropy loop had (jpeg_lockstep.py). Frames of DIFFERENT payloads are
# independent streams, and the corpus decode path is batched
# (mapInPandas), so the engine below advances one Rice residual per
# PAYLOAD per numpy step, cooperatively: each payload's generator core
# parses its headers in Python (cheap — once per partition, every ~4k
# samples) and parks on its next Rice run; all parked runs step together.
# Bit-exactness is structural: the generator core is the SAME object the
# scalar driver uses, and the per-step integer ops mirror _rice_scalar.

# Gates measured on this host (ROUND7.md): the engine loses below ~64
# lanes (numpy per-op overhead swamps 48-lane arrays: 0.94x at 48 lanes /
# 256-sample blocks) and wins from ~96 lanes with real-world >=1024-sample
# blocks (1.43x at 96 lanes / 4096 blocks, growing with lane count) —
# small blocks spend the time in per-frame Python control, not residuals.
MIN_BATCH_LANES = 64
MIN_BATCH_BLOCK = 1024
# scratch guard: the 48-bit window table costs 8 B per payload byte; one
# pool is capped and bigger batches run as sequential pools
POOL_BYTE_CAP = 64 * 1024 * 1024
# int64 windows of 48 bits let one gather serve peek + remainder: worst
# well-formed step consumes lead(+-small) + 1 + k<=30 bits; longer takes
# (huge quotients, window edge) fall back to the scalar cursor per lane.
_EXT_TAB = np.array([(1 << s) - 1 for s in range(31)], dtype=np.int64)
_AVAIL_MASKS = np.array(_WIN_MASKS[:49], dtype=np.int64)


def decode_flac_batch(
    payloads: list[bytes], verify_md5: bool = True
) -> list[tuple[int, np.ndarray]]:
    """Decode a batch of FLAC payloads in numpy lockstep across payload
    lanes. Result-identical to ``[decode_flac(p) for p in payloads]``
    for well-formed streams, and raises on the same malformed streams —
    the control path is the shared generator core — but the raise POINT
    and message may differ on truncation: a lane can read a whole Rice
    partition past its payload's 16-byte 0xFF pad (into the next pooled
    payload's bytes) before the per-partition bounds check at flac
    partition completion fires, where the scalar path raises 'truncated
    unary code' at the exact payload edge (ADVICE r7). Both paths always
    raise; neither returns wrong samples."""
    ensure_flat_malloc()
    n = len(payloads)

    def _min_block(p: bytes) -> int:
        # STREAMINFO minimum block size: 16 bits right after the 4-byte
        # metadata-block header that follows the fLaC magic
        return int.from_bytes(p[8:10], "big") if len(p) >= 10 else 0

    if n < MIN_BATCH_LANES or any(_min_block(p) < MIN_BATCH_BLOCK for p in payloads):
        return [decode_flac(p, verify_md5) for p in payloads]
    total = sum(len(p) for p in payloads)
    if total > POOL_BYTE_CAP:
        # split into sequential pools under the scratch cap (results and
        # raise behavior unchanged — payloads are independent streams)
        outs: list = []
        chunk: list[bytes] = []
        acc = 0

        def drain() -> None:
            if len(chunk) == 1 and acc > POOL_BYTE_CAP:
                outs.append(decode_flac(chunk[0], verify_md5))
            elif chunk:
                outs.extend(decode_flac_batch(chunk, verify_md5))

        for p in payloads:
            if chunk and acc + len(p) > POOL_BYTE_CAP:
                drain()
                chunk, acc = [], 0
            chunk.append(p)
            acc += len(p)
        drain()
        return outs
    results: list = [None] * n
    # concat buffers, 0xFF-padded so an overrunning (truncated) lane
    # terminates its run quickly and is caught by the bounds check below
    pad = b"\xff" * 16
    parts, offs = [], []
    cursor = 0
    for p in payloads:
        offs.append(cursor)
        parts.append(p)
        parts.append(pad)
        cursor += len(p) + len(pad)
    cat = b"".join(parts)
    c8 = np.frombuffer(cat, dtype=np.uint8).astype(np.int64)
    W = (
        (c8[:-5] << 40)
        | (c8[1:-4] << 32)
        | (c8[2:-3] << 24)
        | (c8[3:-2] << 16)
        | (c8[4:-1] << 8)
        | c8[5:]
    )
    wmax = len(W) - 1
    gens: list = [None] * n
    OUT = np.empty(65536, dtype=np.int64)
    out_alloc = 0

    def advance(pid: int, send_val):
        """Run payload pid's generator to its next Rice request (returned
        as a lane record) or to completion (returns None)."""
        nonlocal out_alloc, OUT
        gen = gens[pid]
        try:
            req = gen.send(send_val) if send_val is not None else next(gen)
        except StopIteration as st:
            results[pid] = st.value
            return None
        if req[0] == "lpc":
            # prediction request: no bitstream access — parked for the
            # cross-lane lockstep filter (tuple, vs list for Rice recs)
            return ("lpc", pid, *req[1:])
        bp_, cnt, k_, out, pos = req
        base = offs[pid] * 8
        if out_alloc + cnt > OUT.size:
            grown = np.empty(max(out_alloc + cnt, OUT.size * 2), np.int64)
            grown[:out_alloc] = OUT[:out_alloc]
            OUT = grown
        # record: [pid, gbp, k, rem, cur, region_base, out, pos, cnt, base_bit]
        rec = [pid, base + bp_, k_, cnt, out_alloc, out_alloc, out, pos, cnt, base]
        out_alloc += cnt
        return rec

    recs: list[list] = []
    lpc_pool: list[tuple] = []

    def park_or_queue(rec) -> None:
        if rec is None:
            return
        if isinstance(rec, tuple):
            lpc_pool.append(rec)
        else:
            recs.append(rec)

    for i, p in enumerate(payloads):
        gens[i] = _decode_flac_gen(p, verify_md5)
        park_or_queue(advance(i, None))

    # Outer loop: the Rice lane engine runs until every live lane is
    # either finished or parked on an LPC prediction; the parked lanes
    # then invert their predictors in ONE cross-lane lockstep filter and
    # re-enter the Rice engine at their next partition. Homogeneous
    # corpora park nearly simultaneously, so the pools stay full.
    while recs or lpc_pool:
        if lpc_pool and not recs:
            items, lpc_pool = lpc_pool, []
            _lpc_batch(items)
            for it in items:
                park_or_queue(advance(it[1], None))
            continue
        bp = np.array([r[1] for r in recs], dtype=np.int64)
        k = np.array([r[2] for r in recs], dtype=np.int64)
        rem = np.array([r[3] for r in recs], dtype=np.int64)
        oc = np.array([r[4] for r in recs], dtype=np.int64)
        ext = _EXT_TAB.take(k)
        while recs:
            b0 = np.minimum(bp >> 3, wmax)
            avail = 48 - (bp & 7)
            w = W.take(b0) & _AVAIL_MASKS.take(avail)
            # frexp exponent == bit_length, exact for ints < 2^53
            e = np.frexp(w.astype(np.float64))[1].astype(np.int64)
            lead = avail - e
            take = lead + 1 + k
            ok = (w != 0) & (take <= avail)
            zig = (lead << k) | ((w >> np.maximum(avail - take, 0)) & ext)
            val = (zig >> 1) ^ -(zig & 1)
            sel = np.nonzero(ok)[0]
            OUT[oc[sel]] = val[sel]
            bp += take * ok
            oc += ok
            rem -= ok
            if not ok.all():
                # long quotient / window edge: one scalar residual per lane
                for j in np.nonzero(~ok)[0]:
                    br = _BitReader(cat, int(bp[j]))
                    q = br.read_unary()
                    kj = int(k[j])
                    z = (q << kj) | br.read(kj) if kj else q
                    OUT[int(oc[j])] = (z >> 1) ^ -(z & 1)
                    bp[j] = br.bitpos
                    oc[j] += 1
                    rem[j] -= 1
            done = rem == 0
            if done.any():
                # completed partitions: hand results back, park the lane's
                # NEXT request in place (no array rebuild — the engine
                # stays hot while lanes run de-phased through frames/
                # channels; LPC requests leave for the prediction pool)
                dead = []
                for j in np.nonzero(done)[0]:
                    pid, _, _, _, _, a, out, pos, cnt, base = recs[j]
                    out[pos : pos + cnt] = OUT[a : a + cnt]
                    local_bp = int(bp[j]) - base
                    if local_bp > len(payloads[pid]) * 8:
                        raise ValueError("truncated FLAC bitstream")
                    rec = advance(pid, local_bp)
                    if rec is None or isinstance(rec, tuple):
                        if rec is not None:
                            lpc_pool.append(rec)
                        dead.append(j)
                    else:
                        recs[j] = rec
                        bp[j], k[j], rem[j], oc[j] = rec[1], rec[2], rec[3], rec[4]
                        ext[j] = _EXT_TAB[rec[2]]
                if dead:
                    keep = np.ones(len(recs), dtype=bool)
                    keep[dead] = False
                    recs = [r for r, kp in zip(recs, keep) if kp]
                    if not recs:
                        break
                    s_ = np.nonzero(keep)[0]
                    bp, k, rem, oc, ext = bp[s_], k[s_], rem[s_], oc[s_], ext[s_]
    return results


# cross-lane LPC filter gate: below this many parked predictors the
# vectorized per-sample step loses to the exact scalar loop (numpy
# per-op dispatch swamps short lane rows)
MIN_LPC_LANES = 16


def _lpc_batch(items: list[tuple]) -> None:
    """Invert many parked LPC predictors in lockstep: one vectorized
    per-sample step across lanes — pred = (CO * HIST).sum(1) >> shift —
    against the (lanes x max_order) rolling history window. Exact: all
    int64, arithmetic right shift == the scalar loop's floor shift;
    products bounded by order*2^15*2^33 < 2^53. Items below the lane
    gate run the shared scalar loop instead (same results)."""
    if len(items) < MIN_LPC_LANES:
        for _, _, co, sh, o, res, out in items:
            _lpc_scalar(co, sh, o, res, out)
        return
    L = len(items)
    orders = [it[4] for it in items]
    maxo = max(orders)
    ns = np.array([len(it[6]) - it[4] for it in items], dtype=np.int64)
    steps = int(ns.max())
    CO = np.zeros((L, maxo), dtype=np.int64)
    HIST = np.zeros((L, maxo), dtype=np.int64)
    for li, (_, _, co, _, o, _, out) in enumerate(items):
        # hist[:, -1] is the most recent sample; co[j] multiplies
        # out[i-1-j] -> hist column maxo-1-j
        for j in range(o):
            CO[li, maxo - 1 - j] = co[j]
        HIST[li, maxo - o :] = out[:o]
    RES = np.zeros((L, steps), dtype=np.int64)
    for li, it in enumerate(items):
        RES[li, : ns[li]] = it[5]
    VAL = np.empty((L, steps), dtype=np.int64)
    shift = np.array([it[3] for it in items], dtype=np.int64)
    for i in range(steps):
        pred = (CO * HIST).sum(axis=1)
        v = RES[:, i] + (pred >> shift)
        # finished lanes feed 0 so their history stays bounded (their
        # rows of VAL beyond ns are discarded)
        v = np.where(i < ns, v, 0)
        VAL[:, i] = v
        HIST[:, :-1] = HIST[:, 1:]
        HIST[:, -1] = v
    for li, (_, _, _, _, o, _, out) in enumerate(items):
        out[o:] = VAL[li, : ns[li]]
