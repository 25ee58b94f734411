"""Baseline JPEG (ITU-T T.81) codec, pure numpy + stdlib.

The reference opens page images through PIL, which accepts JPEG — the
dominant encoding of scanned documents and web images — while this
engine's own codec layer was PNG-only. This module closes that gap with
a from-scratch baseline sequential DCT implementation:

decode_jpeg:
- marker parser (SOI/APPn/COM/DQT/DHT/DRI/SOF0,1/SOS/RSTn/EOI),
  8-bit and 16-bit quantization tables, multiple tables per segment;
- canonical Huffman decoding off the BITS/HUFFVAL spec lists (T.81
  Annex C) with a numpy-backed bitreader handling 0xFF00 byte stuffing
  and restart-interval DC-predictor resets;
- per-MCU dequant -> inverse zigzag -> 8x8 IDCT (separable DCT-III as a
  precomputed orthonormal basis matmul, exact to float rounding);
- 4:4:4 / 4:2:2 / 4:2:0 chroma subsampling with nearest-neighbor
  upsample, BT.601 YCbCr->gray/RGB, grayscale passthrough.

encode_jpeg (the test/fixture writer, grayscale, 4:4:4):
- quality-scaled Annex-K quantization tables, the Annex-K standard
  luminance Huffman tables, FDCT via the same basis, DC differencing +
  AC run-length/ZRL coding, byte stuffing.

Both ends are total functions over bytes: malformed input raises
ValueError (callers map that to guard rows). No external imaging
library is involved anywhere.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# shared tables
# --------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1 luminance quantization table (row-major)
QTABLE_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64)

# Annex K.3 standard Huffman specs: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# orthonormal 8-point DCT-II basis: A @ x = DCT(x); A.T @ X = IDCT(X)
_k = np.arange(8.0)
_DCT_A = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16.0) * np.sqrt(0.25)
_DCT_A[0, :] *= 1.0 / np.sqrt(2.0)


# --------------------------------------------------------------------------
# Huffman
# --------------------------------------------------------------------------


def _build_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value, canonical assignment (T.81 C.2)."""
    if sum(bits) > len(vals):
        raise ValueError("jpeg: truncated DHT value list")
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _build_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    return {v: (ln, code) for (ln, code), v in _build_decode_table(bits, vals).items()}


def _lut_from_table(table: dict[tuple[int, int], int]) -> np.ndarray:
    """(length, code) spec -> 65536-entry LUT over left-aligned 16-bit
    windows; each entry packs (value << 8) | code_length, 0 = invalid."""
    lut = np.zeros(1 << 16, dtype=np.uint16)
    for (ln, code), val in table.items():
        base = code << (16 - ln)
        lut[base : base + (1 << (16 - ln))] = (val << 8) | ln
    return lut


class _BitReader:
    """MSB-first reader over entropy-coded bytes. FF00 stuffing is removed
    up front (one vectorized pass); reads go through a 32-bit accumulator
    refilled bytewise — O(1) amortized per symbol and O(n) total memory
    (a precomputed 16-wide per-bit window table would be a ~500x memory
    amplification on multi-MB scan JPEGs)."""

    __slots__ = ("data", "n", "byte", "acc", "nacc")

    def __init__(self, data: bytes):
        arr = np.frombuffer(data, dtype=np.uint8)
        if arr.size:
            # drop the 0x00 that follows every 0xFF (byte stuffing)
            stuffed = np.zeros(arr.size, dtype=bool)
            stuffed[1:] = (arr[:-1] == 0xFF) & (arr[1:] == 0x00)
            arr = arr[~stuffed]
        self.data = arr.tobytes()
        self.n = len(self.data)
        self.byte = 0  # next byte to load
        self.acc = 0  # right-aligned bit accumulator
        self.nacc = 0  # valid bits in acc

    def _fill(self) -> None:
        data, byte, n = self.data, self.byte, self.n
        while self.nacc <= 24 and byte < n:
            self.acc = (self.acc << 8) | data[byte]
            byte += 1
            self.nacc += 8
        self.byte = byte

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nacc < n:
            self._fill()
            if self.nacc < n:
                raise ValueError("jpeg: bitstream exhausted")
        self.nacc -= n
        v = (self.acc >> self.nacc) & ((1 << n) - 1)
        self.acc &= (1 << self.nacc) - 1
        return v

    def read_huff(self, lut) -> int:
        if self.nacc < 16:
            self._fill()
        nacc = self.nacc
        if nacc >= 16:
            window = (self.acc >> (nacc - 16)) & 0xFFFF
        elif nacc > 0:
            window = (self.acc << (16 - nacc)) & 0xFFFF
        else:
            raise ValueError("jpeg: bitstream exhausted")
        e = lut[window]
        ln = e & 0xFF
        if ln == 0 or ln > nacc:
            raise ValueError("jpeg: invalid Huffman code")
        self.nacc = nacc - ln
        self.acc &= (1 << self.nacc) - 1
        return e >> 8


def _extend(v: int, t: int) -> int:
    """T.81 F.12: map t raw bits to the signed coefficient."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------

# end of a scan's entropy-coded segment: 0xFF followed by anything that is
# not byte stuffing (0x00), a restart marker (D0-D7), or a fill 0xFF
_ECS_END = __import__("re").compile(rb"\xff[^\x00\xd0-\xd7\xff]")


def _decode_block(br, flat, base, si, preds, dlut, alut, Ss, Se, Ah, Al, eobrun):
    """Decode one block's contribution for the current scan into the flat
    zigzag coefficient store; returns the updated EOB run. Covers all four
    T.81 procedures (G.2): DC first/refine, AC first/refine — a sequential
    scan is the Ss=0, Se=63, Ah=Al=0 special case (EOB == EOBRUN of 1)."""
    if Ss == 0:
        if Ah == 0:
            t = br.read_huff(dlut)
            preds[si] += _extend(br.read(t), t)
            flat[base] = preds[si] << Al
        elif br.read(1):
            flat[base] |= 1 << Al
        if Se == 0:
            return eobrun
    k = Ss if Ss > 0 else 1
    if Ah == 0:  # first (or sequential) AC scan, F.2.2.2 / G.1.2.2
        if eobrun > 0:
            return eobrun - 1
        while k <= Se:
            rs = br.read_huff(alut)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                eobrun = 1 << r
                if r:
                    eobrun += br.read(r)
                return eobrun - 1
            k += r
            if k > Se:
                raise ValueError("jpeg: AC overflow")
            flat[base + k] = _extend(br.read(s), s) << Al
            k += 1
        return eobrun
    # AC refinement scan, G.1.2.3 (the jdphuff-style correction-bit walk)
    p1, m1 = 1 << Al, -1 << Al
    if eobrun == 0:
        while k <= Se:
            rs = br.read_huff(alut)
            r, s = rs >> 4, rs & 0xF
            sval = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read(r)
                    break
                # r == 15: advance over 16 zero-history coefficients
            else:
                sval = p1 if br.read(1) else m1
            while k <= Se:
                c0 = flat[base + k]
                if c0 != 0:
                    if br.read(1) and not (c0 & p1):
                        flat[base + k] = c0 + (p1 if c0 >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if sval and k <= Se:
                flat[base + k] = sval
            k += 1
    if eobrun > 0:
        while k <= Se:
            c0 = flat[base + k]
            if c0 != 0:
                if br.read(1) and not (c0 & p1):
                    flat[base + k] = c0 + (p1 if c0 >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan(ecs, scomps, Ss, Se, Ah, Al, restart, coefs, mcus_x, mcus_y):
    """Entropy-decode one scan. scomps: (ci, comp, dlut, alut) in scan
    order. Interleaved (ns>1) scans traverse frame MCUs; single-component
    scans traverse the component's own block grid (T.81 A.2.2). Returns
    (any_block_decoded, scan_completed) — a truncated tail keeps the
    decoded area (total-function; for progressive that IS the format's
    coarse-first contract)."""
    interleaved = len(scomps) > 1
    if interleaved:
        total = mcus_x * mcus_y
    else:
        c0 = scomps[0][1]
        total = c0["sbx"] * c0["sby"]
    if restart:
        import re as _re

        intervals = _re.split(b"\xff[\xd0-\xd7]", ecs)
    else:
        intervals = [ecs]
    mcu = 0
    any_dec = False
    for chunk in intervals:
        br = _BitReader(chunk)
        preds = [0] * len(scomps)
        eobrun = 0
        limit = mcu + restart if restart else total
        try:
            while mcu < min(limit, total):
                if interleaved:
                    my, mx = divmod(mcu, mcus_x)
                    for si, (ci, c, dlut, alut) in enumerate(scomps):
                        flat, nbx, vs, hs = coefs[ci], c["nbx"], c["vs"], c["hs"]
                        for by in range(vs):
                            for bx in range(hs):
                                base = ((my * vs + by) * nbx + (mx * hs + bx)) * 64
                                eobrun = _decode_block(
                                    br, flat, base, si, preds, dlut, alut,
                                    Ss, Se, Ah, Al, eobrun,
                                )
                else:
                    ci, c, dlut, alut = scomps[0]
                    by, bx = divmod(mcu, c["sbx"])
                    base = (by * c["nbx"] + bx) * 64
                    eobrun = _decode_block(
                        br, coefs[ci], base, 0, preds, dlut, alut, Ss, Se, Ah, Al, eobrun
                    )
                mcu += 1
                any_dec = True
        except ValueError:
            return any_dec, False
    return any_dec, mcu >= total


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes -> uint8 array, (H, W) grayscale or (H, W, 3) RGB.

    Baseline/extended sequential (SOF0/1) and progressive (SOF2: spectral
    selection + successive approximation, multi-scan with per-scan DHT and
    restart intervals) — the two Huffman-coded processes that cover the
    web's JPEGs. Arithmetic-coded, lossless and hierarchical processes
    raise ValueError."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    qt: dict[int, np.ndarray] = {}
    dc_luts: dict[int, list] = {}
    ac_luts: dict[int, list] = {}
    comps: list[dict] = []
    coefs: list[list] = []
    w = h = 0
    hmax = vmax = mcus_x = mcus_y = 0
    restart = 0
    progressive = False
    decoded_any = False
    i = 2
    n = len(data)
    while i < n - 1:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker == 0xFF:  # fill byte before a marker
            i += 1
            continue
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        if i + 2 > n:
            raise ValueError("jpeg: truncated segment")
        seglen = struct.unpack(">H", data[i : i + 2])[0]
        if seglen < 2:
            raise ValueError("jpeg: bad segment length")
        seg = data[i + 2 : i + seglen]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                j += 1
                if pq:
                    vals = np.frombuffer(seg[j : j + 128], dtype=">u2").astype(np.float64)
                    j += 128
                else:
                    vals = np.frombuffer(seg[j : j + 64], dtype=np.uint8).astype(np.float64)
                    j += 64
                if vals.size != 64:
                    raise ValueError("jpeg: bad DQT")
                tbl = np.zeros(64)
                tbl[ZIGZAG] = vals  # stored in zigzag order
                qt[tq] = tbl.reshape(8, 8)
        elif marker == 0xC4:  # DHT (progressive files redefine per scan)
            j = 0
            while j + 17 <= len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0xF
                bits = list(seg[j + 1 : j + 17])
                cnt = sum(bits)
                vals = list(seg[j + 17 : j + 17 + cnt])
                j += 17 + cnt
                lut = _lut_from_table(_build_decode_table(bits, vals)).tolist()
                (ac_luts if tc else dc_luts)[th] = lut
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            if comps:
                raise ValueError("jpeg: multiple frames")
            if len(seg) < 6 or len(seg) < 6 + 3 * seg[5]:
                raise ValueError("jpeg: truncated SOF")
            progressive = marker == 0xC2
            _prec, h, w, nc = seg[0], struct.unpack(">H", seg[1:3])[0], struct.unpack(">H", seg[3:5])[0], seg[5]
            if w <= 0 or h <= 0 or nc == 0:
                raise ValueError("jpeg: bad frame header")
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "hs": hv >> 4, "vs": hv & 0xF, "tq": tq})
            for c in comps:
                if not (1 <= c["hs"] <= 4 and 1 <= c["vs"] <= 4):
                    raise ValueError("jpeg: bad sampling factors")
            hmax = max(c["hs"] for c in comps)
            vmax = max(c["vs"] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            for c in comps:
                # MCU-padded coefficient grid; single-component scans
                # traverse only the component's own sbx*sby sub-grid
                c["nbx"] = mcus_x * c["hs"]
                c["nby"] = mcus_y * c["vs"]
                c["sbx"] = (-(-(w * c["hs"]) // hmax) + 7) // 8
                c["sby"] = (-(-(h * c["vs"]) // vmax) + 7) // 8
                coefs.append([0] * (c["nbx"] * c["nby"] * 64))
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("jpeg: only Huffman sequential/progressive DCT is supported")
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("jpeg: truncated DRI")
            restart = struct.unpack(">H", seg[0:2])[0]
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("jpeg: SOS before SOF")
            ns = seg[0] if seg else 0
            if ns == 0 or len(seg) < 4 + 2 * ns:
                raise ValueError("jpeg: truncated SOS")
            Ss, Se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            Ah, Al = ahal >> 4, ahal & 0xF
            if not progressive:
                Ss, Se, Ah, Al = 0, 63, 0, 0  # T.81: ignored in sequential
            if Ss > Se or Se > 63 or (Ss > 0 and ns != 1):
                raise ValueError("jpeg: bad scan header")
            scomps = []
            for c in range(ns):
                cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                td, ta = tt >> 4, tt & 0xF
                match = [(ci, comp) for ci, comp in enumerate(comps) if comp["id"] == cid]
                if not match:
                    raise ValueError("jpeg: SOS component does not match SOF")
                ci, comp = match[0]
                if Ss == 0 and Ah == 0 and td not in dc_luts:
                    raise ValueError("jpeg: scan references an undefined table")
                if Se > 0 and ta not in ac_luts:
                    raise ValueError("jpeg: scan references an undefined table")
                scomps.append((ci, comp, dc_luts.get(td), ac_luts.get(ta)))
            scan_at = i + seglen
            m = _ECS_END.search(data, scan_at)
            ecs_end = m.start() if m else n
            any_dec, completed = _decode_scan(
                data[scan_at:ecs_end], scomps, Ss, Se, Ah, Al, restart,
                coefs, mcus_x, mcus_y,
            )
            decoded_any = decoded_any or any_dec
            if not completed:
                break  # truncated tail: keep the area decoded so far
            i = ecs_end
            continue
        i += seglen
    if not comps or not decoded_any:
        raise ValueError("jpeg: no scan")
    outs = []
    for ci, c in enumerate(comps):
        if c["tq"] not in qt:
            raise ValueError("jpeg: scan references an undefined table")
        zz = np.asarray(coefs[ci], dtype=np.float64).reshape(-1, 64)
        blocks = np.zeros_like(zz)
        blocks[:, ZIGZAG] = zz  # inverse zigzag, batched
        blocks = blocks.reshape(-1, 8, 8) * qt[c["tq"]]
        px = np.einsum("ij,njk,kl->nil", _DCT_A.T, blocks, _DCT_A) + 128.0
        nby, nbx = c["nby"], c["nbx"]
        p = px.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        if c["hs"] != hmax or c["vs"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["vs"], axis=0), hmax // c["hs"], axis=1)
        outs.append(p[:h, :w])
    if len(outs) == 1:
        return np.clip(outs[0].round(), 0, 255).astype(np.uint8)
    y, cb, cr = outs[0], outs[1] - 128.0, outs[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# encoder (grayscale, 4:4:4 — the fixture writer)
# --------------------------------------------------------------------------


def _pack_bits(codes: list[int], lens: list[int]) -> bytes:
    """Concatenate variable-length MSB-first codes into stuffed entropy
    bytes — one vectorized pass instead of per-symbol byte emission."""
    ca = np.asarray(codes, dtype=np.uint32)
    la = np.asarray(lens, dtype=np.int64)
    total = int(la.sum())
    idx = np.repeat(np.arange(la.size), la)
    offs = np.arange(total) - np.repeat(np.cumsum(la) - la, la)
    bits = (ca[idx] >> (la[idx] - 1 - offs)) & 1
    pad = (-total) % 8
    if pad:
        bits = np.concatenate([bits, np.ones(pad, dtype=bits.dtype)])  # 1-pad (spec)
    by = np.packbits(bits.astype(np.uint8))
    ff = np.nonzero(by == 0xFF)[0]
    if ff.size:
        by = np.insert(by, ff + 1, 0)  # byte stuffing
    return by.tobytes()


def _quality_table(quality: int) -> np.ndarray:
    q = max(1, min(100, int(quality)))
    s = 5000 // q if q < 50 else 200 - 2 * q
    t = np.floor((QTABLE_LUMA * s + 50) / 100)
    return np.clip(t, 1, 255).reshape(8, 8)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length() if v < 0 else 0


def _block_rows(plane: np.ndarray, qtab: np.ndarray):
    """(H, W) float plane -> (zigzagged quantized int rows, last_nz list),
    with edge-replicate padding to 8-multiples; batched FDCT."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:h, :w] = plane
    padded[h:, :w] = plane[h - 1 : h, :]
    padded[:, w:] = padded[:, w - 1 : w]
    blocks = (
        padded.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        - 128.0
    )
    coefs = np.einsum("ij,njk,kl->nil", _DCT_A, blocks, _DCT_A.T)
    zz = np.round(coefs.reshape(-1, 64) / qtab.reshape(-1)[None, :])
    zz = zz[:, ZIGZAG].astype(np.int64)
    last_nz = np.where(
        (zz[:, 1:] != 0).any(axis=1), 63 - np.argmax(zz[:, :0:-1] != 0, axis=1), 0
    ).tolist()
    return zz.tolist(), last_nz


def _entropy_block(zzc, lnz, pred, dc_enc, ac_enc, codes, lens) -> int:
    """Append one block's symbols; returns the new DC predictor."""
    zrl_ln, zrl_code = ac_enc[0xF0]
    eob_ln, eob_code = ac_enc[0x00]
    diff = zzc[0] - pred
    t = _category(diff)
    ln, code = dc_enc[t]
    codes.append(code)
    lens.append(ln)
    if t:
        codes.append(diff if diff > 0 else diff + (1 << t) - 1)
        lens.append(t)
    run = 0
    for k in range(1, lnz + 1):
        v = zzc[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            codes.append(zrl_code)
            lens.append(zrl_ln)
            run -= 16
        s = _category(v)
        ln, code = ac_enc[(run << 4) | s]
        codes.append(code)
        lens.append(ln)
        codes.append(v if v > 0 else v + (1 << s) - 1)
        lens.append(s)
        run = 0
    if lnz < 63:
        codes.append(eob_code)
        lens.append(eob_ln)
    return zzc[0]


def _pad_to(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Edge-replicate pad a (h, w) float plane up to (ph, pw)."""
    h, w = plane.shape
    if h == ph and w == pw:
        return plane
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:h, :w] = plane
    if ph > h:
        padded[h:, :w] = plane[h - 1 : h, :]
    if pw > w:
        padded[:, w:] = padded[:, w - 1 : w]
    return padded


def _box2(plane: np.ndarray) -> np.ndarray:
    """2x2 box-mean chroma downsample (odd dims edge-replicated first)."""
    h, w = plane.shape
    p = _pad_to(plane, h + (h & 1), w + (w & 1))
    return p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(axis=(1, 3))


# ---- progressive entropy emission (T.81 Annex G encode procedures) -------


class _FreqEmit:
    """Pass-1 emitter: gathers per-(kind, table-id) symbol frequencies so
    each scan ships an optimized Huffman table — required in progressive
    mode, where EOBn codes (r<<4, r>0) are absent from the Annex-K
    standard tables."""

    counting = True

    def __init__(self):
        self.freq: dict[tuple[str, int], dict[int, int]] = {}

    def sym(self, kind: str, tid: int, s: int) -> None:
        t = self.freq.setdefault((kind, tid), {})
        t[s] = t.get(s, 0) + 1

    def bits(self, v: int, n: int) -> None:
        pass


class _CodeEmit:
    """Pass-2 emitter: resolves symbols through the scan's tables into the
    (code, length) streams `_pack_bits` consumes."""

    counting = False

    def __init__(self, tables: dict[tuple[str, int], dict[int, tuple[int, int]]]):
        self.tables = tables
        self.codes: list[int] = []
        self.lens: list[int] = []

    def sym(self, kind: str, tid: int, s: int) -> None:
        ln, code = self.tables[(kind, tid)][s]
        self.codes.append(code)
        self.lens.append(ln)

    def bits(self, v: int, n: int) -> None:
        if n:
            self.codes.append(v)
            self.lens.append(n)


def _optimal_huffman(freq: dict[int, int]) -> tuple[list[int], list[int]]:
    """Symbol frequencies -> (BITS[16], HUFFVAL) per T.81 K.2: Huffman
    merge for code sizes (reserving the all-ones codepoint via a dummy
    symbol 256), K.11 length cap at 16, canonical assignment by
    (code size, symbol value)."""
    import heapq

    f = {int(s): int(c) for s, c in freq.items() if c > 0}
    f[256] = 1  # reserves the all-1-bits code
    depth = {s: 0 for s in f}
    heap = [(c, -s, (s,)) for s, c in f.items()]
    heapq.heapify(heap)
    while len(heap) > 1:
        c1, t1, g1 = heapq.heappop(heap)
        c2, t2, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (c1 + c2, max(t1, t2), g1 + g2))
    maxd = max(depth.values())
    bits = [0] * (max(17, maxd + 1))
    for s, d in depth.items():
        bits[d] += 1
    i = len(bits) - 1  # K.11 Adjust_BITS: fold lengths > 16 down
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    del bits[17:]
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the dummy's slot from the longest length
    syms = sorted((s for s in f if s != 256), key=lambda s: (depth[s], s))
    assert sum(bits[1:]) == len(syms)
    return bits[1:], syms


def _dc_scan(em, scomps, sampling, nbxs, mcus_x, mcus_y, zzs, Ah, Al) -> None:
    """Interleaved DC scan: first pass (Ah=0) codes the point-transformed
    differences; refinement emits one raw bit per block."""
    preds = [0] * len(scomps)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for si, (ci, tid) in enumerate(scomps):
                hs, vs = sampling[ci]
                nbx = nbxs[ci]
                for by in range(vs):
                    for bx in range(hs):
                        v = zzs[ci][(my * vs + by) * nbx + (mx * hs + bx)][0]
                        if Ah:
                            em.bits((v >> Al) & 1, 1)
                            continue
                        v >>= Al  # arithmetic shift, per G.1.2.1
                        diff = v - preds[si]
                        preds[si] = v
                        t = _category(diff)
                        em.sym("dc", tid, t)
                        if t:
                            em.bits(diff if diff > 0 else diff + (1 << t) - 1, t)


def _ac_first_scan(em, tid, zz, sbx, sby, nbx, Ss, Se, Al) -> None:
    """Single-component AC first scan with EOB-run coding (G.1.2.2)."""
    eobrun = 0

    def flush():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            em.sym("ac", tid, r << 4)
            em.bits(eobrun - (1 << r), r)
            eobrun = 0

    for by in range(sby):
        for bx in range(sbx):
            row = zz[by * nbx + bx]
            r = 0
            for k in range(Ss, Se + 1):
                c = row[k]
                v = (-c if c < 0 else c) >> Al
                if v == 0:
                    r += 1
                    continue
                flush()
                while r > 15:
                    em.sym("ac", tid, 0xF0)
                    r -= 16
                t = v.bit_length()
                em.sym("ac", tid, (r << 4) | t)
                em.bits((v if c > 0 else ~v) & ((1 << t) - 1), t)
                r = 0
            if r > 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush()
    flush()


def _ac_refine_scan(em, tid, zz, sbx, sby, nbx, Ss, Se, Al) -> None:
    """Single-component AC refinement scan (G.1.2.3): newly-significant
    coefficients as (run, 1) symbols + sign bit, correction bits for
    already-significant ones buffered and emitted after the next symbol
    (or with the pending EOB run) — the exact stream the refinement
    decoder's correction-bit walk consumes."""
    eobrun = 0
    pending: list[int] = []  # correction bits owned by the pending EOB run

    def flush():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            em.sym("ac", tid, r << 4)
            em.bits(eobrun - (1 << r), r)
            eobrun = 0
            for b in pending:
                em.bits(b, 1)
            pending.clear()

    for by in range(sby):
        for bx in range(sbx):
            row = zz[by * nbx + bx]
            vals = [0] * (Se + 1)
            eobpos = 0
            for k in range(Ss, Se + 1):
                c = row[k]
                v = (-c if c < 0 else c) >> Al
                vals[k] = v
                if v == 1:
                    eobpos = k
            r = 0
            cur: list[int] = []  # correction bits since the last symbol
            for k in range(Ss, Se + 1):
                v = vals[k]
                if v == 0:
                    r += 1
                    continue
                while r > 15 and k <= eobpos:
                    flush()
                    em.sym("ac", tid, 0xF0)
                    r -= 16
                    for b in cur:
                        em.bits(b, 1)
                    cur = []
                if v > 1:
                    cur.append(v & 1)
                    continue
                flush()
                em.sym("ac", tid, (r << 4) | 1)
                em.bits(0 if row[k] < 0 else 1, 1)
                r = 0
                for b in cur:
                    em.bits(b, 1)
                cur = []
            if r > 0 or cur:
                eobrun += 1
                pending.extend(cur)
                if eobrun == 0x7FFF:
                    flush()
    flush()


def _progressive_script(nc: int):
    """(component indices, Ss, Se, Ah, Al) per scan — the standard
    libjpeg-style script: interleaved DC first, banded luma AC, full-band
    chroma AC, then successive-approximation refinements."""
    if nc == 1:
        return [
            ([0], 0, 0, 0, 1), ([0], 1, 5, 0, 2), ([0], 6, 63, 0, 2),
            ([0], 1, 63, 2, 1), ([0], 0, 0, 1, 0), ([0], 1, 63, 1, 0),
        ]
    return [
        ([0, 1, 2], 0, 0, 0, 1),
        ([0], 1, 5, 0, 2), ([2], 1, 63, 0, 1), ([1], 1, 63, 0, 1),
        ([0], 6, 63, 0, 2), ([0], 1, 63, 2, 1),
        ([0, 1, 2], 0, 0, 1, 0),
        ([2], 1, 63, 1, 0), ([1], 1, 63, 1, 0), ([0], 1, 63, 1, 0),
    ]


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    *,
    progressive: bool = False,
    subsampling: str = "4:4:4",
) -> bytes:
    """uint8 (H, W) grayscale or (H, W, 3) RGB -> JPEG bytes.

    Baseline by default (Annex-K tables, the fixture writer); with
    progressive=True emits an SOF2 stream through the standard
    spectral-selection + successive-approximation script with per-scan
    optimized Huffman tables. subsampling="4:2:0" enables 2x2 chroma
    subsampling (color only) — together these produce the wild web's
    dominant JPEG shapes for decoder cross-validation."""
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError("encode_jpeg expects uint8 (H,W) or (H,W,3)")
    if subsampling not in ("4:4:4", "4:2:0"):
        raise ValueError("encode_jpeg: subsampling must be 4:4:4 or 4:2:0")
    color = img.ndim == 3
    h, w = img.shape[:2]
    qtab = _quality_table(quality)
    if color:
        r, g, b = (img[..., c].astype(np.float64) for c in range(3))
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        ]
    else:
        planes = [img.astype(np.float64)]
    sub = color and subsampling == "4:2:0"
    if sub:
        sampling = [(2, 2), (1, 1), (1, 1)]
        planes = [planes[0], _box2(planes[1]), _box2(planes[2])]
    else:
        sampling = [(1, 1)] * len(planes)
    nc = len(planes)
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    zzs, lnzs, nbxs, sgrids = [], [], [], []
    for (hs, vs), plane in zip(sampling, planes):
        padded = _pad_to(plane, mcus_y * vs * 8, mcus_x * hs * 8)
        rows, last_nz = _block_rows(padded, qtab)
        zzs.append(rows)
        lnzs.append(last_nz)
        nbxs.append(mcus_x * hs)
        # the sub-grid single-component scans traverse (T.81 A.2.2)
        sgrids.append(((-(-(w * hs) // hmax) + 7) // 8, (-(-(h * vs) // vmax) + 7) // 8))
    out = bytearray(b"\xff\xd8")  # SOI
    zzq = qtab.reshape(-1)[ZIGZAG].astype(np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zzq.tobytes()
    out += (b"\xff\xc2" if progressive else b"\xff\xc0") + struct.pack(
        ">HBHHB", 8 + 3 * nc, 8, h, w, nc
    )
    for ci in range(nc):
        hs, vs = sampling[ci]
        out += bytes([ci + 1, (hs << 4) | vs, 0])  # all on qtable 0
    if not progressive:
        dc_enc = _build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS)
        ac_enc = _build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS)
        for tc, (bits, vals) in (
            (0, (DC_LUMA_BITS, DC_LUMA_VALS)),
            (1, (AC_LUMA_BITS, AC_LUMA_VALS)),
        ):
            out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
            out += bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xda" + struct.pack(">H", 6 + 2 * nc) + bytes([nc])
        for ci in range(nc):
            out += bytes([ci + 1, 0x00])
        out += bytes([0, 63, 0])
        codes: list[int] = []
        lens: list[int] = []
        preds = [0] * nc
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in range(nc):
                    hs, vs = sampling[ci]
                    nbx = nbxs[ci]
                    for by in range(vs):
                        for bx in range(hs):
                            bi = (my * vs + by) * nbx + (mx * hs + bx)
                            preds[ci] = _entropy_block(
                                zzs[ci][bi], lnzs[ci][bi], preds[ci],
                                dc_enc, ac_enc, codes, lens,
                            )
        out += _pack_bits(codes, lens)
        out += b"\xff\xd9"
        return bytes(out)
    # progressive: two passes per scan — gather frequencies, build optimal
    # tables, emit DHT + SOS + entropy data
    for comp_idx, Ss, Se, Ah, Al in _progressive_script(nc):
        scomps = [(ci, 0 if ci == 0 else 1) for ci in comp_idx]

        def run_scan(em):
            if Ss == 0:
                _dc_scan(em, scomps, sampling, nbxs, mcus_x, mcus_y, zzs, Ah, Al)
            else:
                ci, tid = scomps[0]
                sbx, sby = sgrids[ci]
                if Ah == 0:
                    _ac_first_scan(em, tid, zzs[ci], sbx, sby, nbxs[ci], Ss, Se, Al)
                else:
                    _ac_refine_scan(em, tid, zzs[ci], sbx, sby, nbxs[ci], Ss, Se, Al)

        fe = _FreqEmit()
        run_scan(fe)
        tables = {}
        dht = bytearray()
        for (kind, tid), freq in sorted(fe.freq.items()):
            bits, vals = _optimal_huffman(freq)
            tables[(kind, tid)] = _build_encode_table(bits, vals)
            dht += bytes([(0 if kind == "dc" else 1) << 4 | tid])
            dht += bytes(bits) + bytes(vals)
        if dht:
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
        ce = _CodeEmit(tables)
        run_scan(ce)
        ns = len(scomps)
        out += b"\xff\xda" + struct.pack(">H", 6 + 2 * ns) + bytes([ns])
        for ci, tid in scomps:
            out += bytes([ci + 1, (tid << 4) | tid])
        out += bytes([Ss, Se, (Ah << 4) | Al])
        if ce.codes:
            out += _pack_bits(ce.codes, ce.lens)
    out += b"\xff\xd9"
    return bytes(out)
