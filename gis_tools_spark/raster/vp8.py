"""From-scratch VP8 (lossy WebP) keyframe decoder — pure python/numpy.

Implements RFC 6386 (the VP8 Data Format and Decoding Guide) for the
intra-only frames that WebP 'VP8 ' chunks carry: boolean arithmetic
decoder (§7), frame/segmentation/filter/quantizer headers (§9-10),
keyframe intra-mode parsing (§11), DCT-token residual decoding with
contextual probabilities (§13), dequantization (§14.1), the exact
integer inverse WHT/DCT (§14.3-14.4), all 4x4/8x8/16x16 intra
predictors (§12), and the normal + simple in-loop deblocking filters
(§15) — so decoded planes are BIT-EXACT with libwebp's decoder
(pinned in tests/test_vp8.py against WebPDecodeYUV when the system
library is present).

The chroma upsampler and YUV→RGB conversion mirror libwebp's "fancy
upsampling" arithmetic so the RGB output of this pure decoder and of
the raster/native_webp.py ctypes fallback agree exactly.

Reference parity: gis-tools reads imagery through PIL/GDAL drivers
(/root/reference/gistools/raster.py:99-141), which delegate WebP to
libwebp; this module closes the lossy half of the webp surface the
same way raster/jpeg.py closed JPEG — a real implementation of the
public bitstream spec, no wheel needed. Constant tables live in
raster/vp8_tables.py (RFC 6386 normative values).

Scale notes: decode runs per-row inside Arrow-batched kernels
(raster/kernels.py) like every other codec here. The token loop runs
the boolean decoder inlined on local variables (reader state touched
once per block) with python-int probability tables, and all of an
MB's inverse DCTs go through one vectorized numpy batch — ~3x the
naive method-call loop (PERF.md has measured rates vs libwebp; the
arithmetic-coded stream is inherently serial, so the remaining gap
to C is the interpreter, parallelized across rows by the kernel).
WebP rows are deliberately a small share of the fixture mix
(fixtures.py FMT_P).
"""

from __future__ import annotations

import struct

import numpy as np

from .vp8_tables import (
    AC_QLOOKUP,
    CAT_BASE,
    CAT_PROBS,
    COEFF_BANDS,
    COEFF_PROBS,
    COEFF_UPDATE_PROBS,
    DC_QLOOKUP,
    KF_BMODE_PROBS,
    KF_UV_MODE_PROBS,
    KF_YMODE_PROBS,
    UV_MODE_TREE,
    KF_YMODE_TREE,
    BMODE_TREE,
    ZIGZAG,
)

# y modes
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
# implied sub-block mode per whole-MB mode (for neighbor context)
_MB_TO_B = {DC_PRED: 0, V_PRED: 2, H_PRED: 3, TM_PRED: 1}

_ZZ = ZIGZAG.tolist()
_BANDS = list(COEFF_BANDS)
_COEFF_PROBS_PY = COEFF_PROBS.tolist()
_UPDATE_PROBS_PY = COEFF_UPDATE_PROBS.tolist()
_BMODE_PROBS_PY = KF_BMODE_PROBS.tolist()


# ------------------------------------------------------------ bool decoder

class _BoolDec:
    """RFC 6386 §7.3 boolean decoder (16-bit value window)."""

    __slots__ = ("buf", "n", "pos", "value", "range", "bits")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.n = len(buf)
        v = 0
        for i in range(2):
            v = (v << 8) | (buf[i] if i < self.n else 0)
        self.value = v
        self.pos = 2
        self.range = 255
        self.bits = 0

    def bool(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            bit = 1
            self.range -= split
            self.value -= big
        else:
            bit = 0
            self.range = split
        r = self.range
        if r < 128:
            value = self.value
            bits = self.bits
            pos = self.pos
            buf = self.buf
            n = self.n
            while r < 128:
                value <<= 1
                r <<= 1
                bits += 1
                if bits == 8:
                    bits = 0
                    if pos < n:
                        value |= buf[pos]
                    pos += 1
            self.value = value
            self.bits = bits
            self.pos = pos
            self.range = r
        return bit

    def literal(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            v = (v << 1) | self.bool(128)
        return v

    def signed_literal(self, nbits: int) -> int:
        v = self.literal(nbits)
        return -v if self.bool(128) else v

    def tree(self, tree, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.bool(probs[i >> 1])]
            if i <= 0:
                return -i


def _flag_delta(bd: _BoolDec, nbits: int) -> int:
    """Optional signed update value: flag → magnitude bits → sign."""
    return bd.signed_literal(nbits) if bd.bool(128) else 0


# ------------------------------------------------------------ transforms

def _iwht4x4(coefs) -> list:
    """Inverse Walsh-Hadamard for the Y2 block (RFC 6386 §14.3)."""
    tmp = [0] * 16
    for i in range(4):
        a1 = coefs[i] + coefs[12 + i]
        b1 = coefs[4 + i] + coefs[8 + i]
        c1 = coefs[4 + i] - coefs[8 + i]
        d1 = coefs[i] - coefs[12 + i]
        tmp[i] = a1 + b1
        tmp[4 + i] = c1 + d1
        tmp[8 + i] = a1 - b1
        tmp[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        ip = i * 4
        a1 = tmp[ip] + tmp[ip + 3]
        b1 = tmp[ip + 1] + tmp[ip + 2]
        c1 = tmp[ip + 1] - tmp[ip + 2]
        d1 = tmp[ip] - tmp[ip + 3]
        out[ip] = (a1 + b1 + 3) >> 3
        out[ip + 1] = (c1 + d1 + 3) >> 3
        out[ip + 2] = (a1 - b1 + 3) >> 3
        out[ip + 3] = (d1 - c1 + 3) >> 3
    return out


def _idct_batch(c: np.ndarray) -> np.ndarray:
    """_idct4x4 vectorized over (k, 16) int64 blocks (bit-exact —
    numpy >> is arithmetic, matching the scalar path)."""
    c = c.reshape(-1, 4, 4)

    def butterfly(r0, r1, r2, r3, rshift):
        a1 = r0 + r2
        b1 = r0 - r2
        cc = ((r1 * 35468) >> 16) - (r3 + ((r3 * 20091) >> 16))
        d1 = r1 + ((r1 * 20091) >> 16) + ((r3 * 35468) >> 16)
        if rshift:
            return ((a1 + d1 + 4) >> 3, (b1 + cc + 4) >> 3,
                    (b1 - cc + 4) >> 3, (a1 - d1 + 4) >> 3)
        return (a1 + d1, b1 + cc, b1 - cc, a1 - d1)

    r = butterfly(c[:, 0], c[:, 1], c[:, 2], c[:, 3], False)
    t = np.stack(r, axis=1)                      # (k, 4 rows, 4 cols)
    r = butterfly(t[:, :, 0], t[:, :, 1], t[:, :, 2], t[:, :, 3], True)
    return np.stack(r, axis=2).reshape(-1, 16)


def _idct4x4(coefs) -> list:
    """Exact integer inverse DCT (RFC 6386 §14.4)."""
    c1, c2 = 20091, 35468  # (cos(pi/8)*sqrt2 - 1)<<16, sin(pi/8)*sqrt2<<16
    tmp = [0] * 16
    for i in range(4):
        a1 = coefs[i] + coefs[8 + i]
        b1 = coefs[i] - coefs[8 + i]
        t1 = (coefs[4 + i] * c2) >> 16
        t2 = coefs[12 + i] + ((coefs[12 + i] * c1) >> 16)
        cc = t1 - t2
        t1 = coefs[4 + i] + ((coefs[4 + i] * c1) >> 16)
        t2 = (coefs[12 + i] * c2) >> 16
        d1 = t1 + t2
        tmp[i] = a1 + d1
        tmp[12 + i] = a1 - d1
        tmp[4 + i] = b1 + cc
        tmp[8 + i] = b1 - cc
    out = [0] * 16
    for i in range(4):
        ip = i * 4
        a1 = tmp[ip] + tmp[ip + 2]
        b1 = tmp[ip] - tmp[ip + 2]
        t1 = (tmp[ip + 1] * c2) >> 16
        t2 = tmp[ip + 3] + ((tmp[ip + 3] * c1) >> 16)
        cc = t1 - t2
        t1 = tmp[ip + 1] + ((tmp[ip + 1] * c1) >> 16)
        t2 = (tmp[ip + 3] * c2) >> 16
        d1 = t1 + t2
        out[ip] = (a1 + d1 + 4) >> 3
        out[ip + 3] = (a1 - d1 + 4) >> 3
        out[ip + 1] = (b1 + cc + 4) >> 3
        out[ip + 2] = (b1 - cc + 4) >> 3
    return out


# ------------------------------------------------------------ headers

class _FrameHeader:
    __slots__ = (
        "width", "height", "mb_w", "mb_h", "seg_enabled", "update_map",
        "seg_tree_probs", "seg_abs", "seg_q", "seg_lf", "filter_simple",
        "filter_level", "sharpness", "lf_delta", "ref_deltas",
        "mode_deltas", "nparts", "quants", "probs", "use_skip", "skip_p",
    )


def _parse_quant(bd: _BoolDec, hdr: _FrameHeader) -> None:
    y_ac_qi = bd.literal(7)
    y_dc_d = _flag_delta(bd, 4)
    y2_dc_d = _flag_delta(bd, 4)
    y2_ac_d = _flag_delta(bd, 4)
    uv_dc_d = _flag_delta(bd, 4)
    uv_ac_d = _flag_delta(bd, 4)

    def _clip(q, lo=0, hi=127):
        return min(hi, max(lo, q))

    quants = []
    for s in range(4):
        if hdr.seg_enabled:
            q = hdr.seg_q[s] if hdr.seg_abs else y_ac_qi + hdr.seg_q[s]
        else:
            q = y_ac_qi
        q = _clip(q)
        y1dc = int(DC_QLOOKUP[_clip(q + y_dc_d)])
        y1ac = int(AC_QLOOKUP[q])
        y2dc = int(DC_QLOOKUP[_clip(q + y2_dc_d)]) * 2
        y2ac = int(AC_QLOOKUP[_clip(q + y2_ac_d)]) * 155 // 100
        if y2ac < 8:
            y2ac = 8
        uvdc = int(DC_QLOOKUP[_clip(q + uv_dc_d, 0, 117)])
        uvac = int(AC_QLOOKUP[_clip(q + uv_ac_d)])
        quants.append((y1dc, y1ac, y2dc, y2ac, uvdc, uvac))
    hdr.quants = quants


def _parse_header(data: bytes):
    """Frame tag + first-partition headers → (_FrameHeader, bd1, parts)."""
    if len(data) < 10:
        raise ValueError("truncated VP8 payload")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise ValueError("VP8 interframe: WebP stills are keyframes")
    part1 = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 keyframe start code")
    wraw = data[6] | (data[7] << 8)
    hraw = data[8] | (data[9] << 8)
    hdr = _FrameHeader()
    hdr.width = wraw & 0x3FFF
    hdr.height = hraw & 0x3FFF
    if hdr.width == 0 or hdr.height == 0:
        raise ValueError("zero VP8 frame dimension")
    hdr.mb_w = (hdr.width + 15) >> 4
    hdr.mb_h = (hdr.height + 15) >> 4
    if 10 + part1 > len(data):
        raise ValueError("truncated VP8 first partition")
    bd = _BoolDec(data[10:10 + part1])

    bd.bool(128)  # color space (0 per RFC for defined streams)
    bd.bool(128)  # clamping type

    hdr.seg_enabled = bd.bool(128)
    hdr.update_map = False
    hdr.seg_tree_probs = [255, 255, 255]
    hdr.seg_abs = False
    hdr.seg_q = [0, 0, 0, 0]
    hdr.seg_lf = [0, 0, 0, 0]
    if hdr.seg_enabled:
        hdr.update_map = bd.bool(128) == 1
        update_data = bd.bool(128)
        if update_data:
            hdr.seg_abs = bd.bool(128) == 1
            hdr.seg_q = [_flag_delta(bd, 7) for _ in range(4)]
            hdr.seg_lf = [_flag_delta(bd, 6) for _ in range(4)]
        if hdr.update_map:
            hdr.seg_tree_probs = [
                bd.literal(8) if bd.bool(128) else 255 for _ in range(3)]

    hdr.filter_simple = bd.bool(128)
    hdr.filter_level = bd.literal(6)
    hdr.sharpness = bd.literal(3)
    hdr.lf_delta = bd.bool(128) == 1
    hdr.ref_deltas = [0, 0, 0, 0]
    hdr.mode_deltas = [0, 0, 0, 0]
    if hdr.lf_delta and bd.bool(128):  # delta update flag
        hdr.ref_deltas = [_flag_delta(bd, 6) for _ in range(4)]
        hdr.mode_deltas = [_flag_delta(bd, 6) for _ in range(4)]

    hdr.nparts = 1 << bd.literal(2)
    pt = 10 + part1
    sizes = []
    for i in range(hdr.nparts - 1):
        o = pt + 3 * i
        if o + 3 > len(data):
            raise ValueError("truncated VP8 partition table")
        sizes.append(data[o] | (data[o + 1] << 8) | (data[o + 2] << 16))
    body = pt + 3 * (hdr.nparts - 1)
    parts = []
    for i in range(hdr.nparts):
        size = sizes[i] if i < hdr.nparts - 1 else len(data) - body
        if size < 0 or body + size > len(data):
            raise ValueError("truncated VP8 token partition")
        parts.append(_BoolDec(data[body:body + size]))
        body += size

    _parse_quant(bd, hdr)
    bd.bool(128)  # refresh_entropy_probs (irrelevant for stills)

    # token probability updates (python-int nested lists for the hot
    # loop — numpy scalars in the arithmetic would cost ~100x)
    probs = [[[_COEFF_PROBS_PY[i][j][k][:] for k in range(3)]
              for j in range(8)] for i in range(4)]
    for i in range(4):
        for j in range(8):
            upd_j = _UPDATE_PROBS_PY[i][j]
            for k in range(3):
                row = probs[i][j][k]
                urow = upd_j[k]
                for m in range(11):
                    if bd.bool(urow[m]):
                        row[m] = bd.literal(8)
    hdr.probs = probs

    hdr.use_skip = bd.bool(128)
    hdr.skip_p = bd.literal(8) if hdr.use_skip else 0
    return hdr, bd, parts


# ------------------------------------------------------------ residuals

# token tree walked inline (leaf ids: 0=EOB, 1=zero, 2..5=values 1..4,
# 6..11 = cat1..6); prob index at node i is i >> 1
_CT = (
    0, 2,
    -1, 4,
    -2, 6,
    8, 12,
    -3, 10,
    -4, -5,
    14, 16,
    -6, -7,
    18, 20,
    -8, -9,
    -10, -11,
)
_CAT_EXTRA = tuple((CAT_BASE[c], CAT_PROBS[c]) for c in range(6))


def _decode_coeffs(bd, probs2, ctx, first, qdc, qac, out):
    """One block's tokens (RFC 6386 §13.3) → dequantized coeffs in
    `out` (natural order). Returns stop position n (EOB pos or 16).

    Hot path: the boolean decoder runs inlined on local variables —
    one attribute load/store of reader state per BLOCK, not per bool
    (the round-3 JPEG scalar-loop discipline; ~4x the method-call
    version, pinned bit-exact by the conformance tests)."""
    value = bd.value
    r = bd.range
    bits = bd.bits
    pos = bd.pos
    buf = bd.buf
    nb = bd.n
    n = first
    p = probs2[_BANDS[n]][ctx]
    start = 0
    while n < 16:
        i = start
        while True:
            pb = p[i >> 1]
            split = 1 + (((r - 1) * pb) >> 8)
            if value >= (split << 8):
                value -= split << 8
                r -= split
                i = _CT[i + 1]
            else:
                r = split
                i = _CT[i]
            while r < 128:
                value <<= 1
                r <<= 1
                bits += 1
                if bits == 8:
                    bits = 0
                    if pos < nb:
                        value |= buf[pos]
                    pos += 1
            if i <= 0:
                tok = -i
                break
        if tok == 0:                     # EOB
            break
        if tok == 1:                     # zero run
            n += 1
            if n == 16:
                break
            p = probs2[_BANDS[n]][0]
            start = 2                    # skip the EOB branch
            continue
        if tok < 6:
            v = tok - 1
            nctx = 1 if v == 1 else 2
        else:
            nctx = 2
            base, cps = _CAT_EXTRA[tok - 6]
            extra = 0
            for pb in cps:               # extra magnitude bits, MSB first
                split = 1 + (((r - 1) * pb) >> 8)
                if value >= (split << 8):
                    value -= split << 8
                    r -= split
                    extra = (extra << 1) | 1
                else:
                    r = split
                    extra <<= 1
                while r < 128:
                    value <<= 1
                    r <<= 1
                    bits += 1
                    if bits == 8:
                        bits = 0
                        if pos < nb:
                            value |= buf[pos]
                        pos += 1
            v = base + extra
        # sign bit (prob 128)
        split = 1 + (((r - 1) * 128) >> 8)
        if value >= (split << 8):
            value -= split << 8
            r -= split
            v = -v
        else:
            r = split
        while r < 128:
            value <<= 1
            r <<= 1
            bits += 1
            if bits == 8:
                bits = 0
                if pos < nb:
                    value |= buf[pos]
                pos += 1
        out[_ZZ[n]] = v * (qdc if n == 0 else qac)
        n += 1
        if n < 16:
            p = probs2[_BANDS[n]][nctx]
        start = 0
    bd.value = value
    bd.range = r
    bd.bits = bits
    bd.pos = pos
    return n


# ------------------------------------------------------------ prediction

def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _avg2(a, b):
    return (a + b + 1) >> 1


def _pred16(mode, above, left, al, have_a, have_l, size):
    """Whole-MB (or chroma-MB) prediction → (size,size) int array."""
    if mode == DC_PRED:
        if have_a and have_l:
            dc = (int(above.sum()) + int(left.sum()) + size) >> (
                5 if size == 16 else 4)
        elif have_a:
            dc = (int(above.sum()) + size // 2) >> (4 if size == 16 else 3)
        elif have_l:
            dc = (int(left.sum()) + size // 2) >> (4 if size == 16 else 3)
        else:
            dc = 128
        return np.full((size, size), dc, dtype=np.int32)
    if mode == V_PRED:
        return np.repeat(above[None, :], size, axis=0).astype(np.int32)
    if mode == H_PRED:
        return np.repeat(left[:, None], size, axis=1).astype(np.int32)
    # TM
    out = left[:, None].astype(np.int32) + above[None, :].astype(np.int32) \
        - int(al)
    return np.clip(out, 0, 255)


def _pred4(mode, a, l, x):
    """4x4 sub-block prediction (§12.3). a: 8 above (incl above-right),
    l: 4 left, x: above-left. Returns a 4x4 python list-of-lists."""
    A, B, C, D, E, F, G, H = a
    I, J, K, L = l
    if mode == 0:  # B_DC
        dc = (A + B + C + D + I + J + K + L + 4) >> 3
        r = [dc, dc, dc, dc]
        return [r, r, r, r]
    if mode == 1:  # B_TM
        return [[min(255, max(0, l[j] + a[i] - x)) for i in range(4)]
                for j in range(4)]
    if mode == 2:  # B_VE
        r = [_avg3(x, A, B), _avg3(A, B, C), _avg3(B, C, D), _avg3(C, D, E)]
        return [r, r, r, r]
    if mode == 3:  # B_HE
        return [[_avg3(x, I, J)] * 4, [_avg3(I, J, K)] * 4,
                [_avg3(J, K, L)] * 4, [_avg3(K, L, L)] * 4]
    if mode == 4:  # B_LD
        v = [_avg3(A, B, C), _avg3(B, C, D), _avg3(C, D, E), _avg3(D, E, F),
             _avg3(E, F, G), _avg3(F, G, H), _avg3(G, H, H)]
        return [[v[r + c] for c in range(4)] for r in range(4)]
    if mode == 5:  # B_RD
        v = [_avg3(J, K, L), _avg3(I, J, K), _avg3(x, I, J), _avg3(A, x, I),
             _avg3(B, A, x), _avg3(C, B, A), _avg3(D, C, B)]
        return [[v[3 + c - r] for c in range(4)] for r in range(4)]
    if mode == 6:  # B_VR
        m = [[_avg2(x, A), _avg2(A, B), _avg2(B, C), _avg2(C, D)],
             [_avg3(I, x, A), _avg3(x, A, B), _avg3(A, B, C), _avg3(B, C, D)],
             [_avg3(J, I, x), _avg2(x, A), _avg2(A, B), _avg2(B, C)],
             [_avg3(K, J, I), _avg3(I, x, A), _avg3(x, A, B), _avg3(A, B, C)]]
        return m
    if mode == 7:  # B_VL
        return [[_avg2(A, B), _avg2(B, C), _avg2(C, D), _avg2(D, E)],
                [_avg3(A, B, C), _avg3(B, C, D), _avg3(C, D, E),
                 _avg3(D, E, F)],
                [_avg2(B, C), _avg2(C, D), _avg2(D, E), _avg3(E, F, G)],
                [_avg3(B, C, D), _avg3(C, D, E), _avg3(D, E, F),
                 _avg3(F, G, H)]]
    if mode == 8:  # B_HD
        return [[_avg2(I, x), _avg3(I, x, A), _avg3(x, A, B), _avg3(A, B, C)],
                [_avg2(J, I), _avg3(J, I, x), _avg2(I, x), _avg3(I, x, A)],
                [_avg2(K, J), _avg3(K, J, I), _avg2(J, I), _avg3(J, I, x)],
                [_avg2(L, K), _avg3(L, K, J), _avg2(K, J), _avg3(K, J, I)]]
    # mode == 9: B_HU
    return [[_avg2(I, J), _avg3(I, J, K), _avg2(J, K), _avg3(J, K, L)],
            [_avg2(J, K), _avg3(J, K, L), _avg2(K, L), _avg3(K, L, L)],
            [_avg2(K, L), _avg3(K, L, L), L, L],
            [L, L, L, L]]


# ------------------------------------------------------------ loop filter

def _c8(v):
    return np.clip(v, -128, 127)


def _nf_mask(p3, p2, p1, p0, q0, q1, q2, q3, elim, ilim):
    m = (np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1)) <= elim
    for a, b in ((p3, p2), (p2, p1), (p1, p0), (q1, q0), (q2, q1), (q3, q2)):
        m &= np.abs(a - b) <= ilim
    return m


def _hev(p1, p0, q0, q1, t):
    return (np.abs(p1 - p0) > t) | (np.abs(q1 - q0) > t)


def _filter_common(p1, p0, q0, q1, use_outer, mask):
    """§15.2 common_adjust on int32 lanes; mutates p0/q0, returns a."""
    sp1, sp0 = p1 - 128, p0 - 128
    sq0, sq1 = q0 - 128, q1 - 128
    a = _c8(np.where(use_outer, _c8(sp1 - sq1), 0) + 3 * (sq0 - sp0))
    f = _c8(a + 4) >> 3
    e = _c8(a + 3) >> 3
    q0n = np.clip(sq0 - f + 128, 0, 255)
    p0n = np.clip(sp0 + e + 128, 0, 255)
    np.copyto(q0, np.where(mask, q0n, q0))
    np.copyto(p0, np.where(mask, p0n, p0))
    return f


def _subblock_filter(px, elim, ilim, hevt):
    """Normal sub-block edge filter over lanes. px: list of 8 int32
    arrays [p3..q3] (views into the plane, modified in place)."""
    p3, p2, p1, p0, q0, q1, q2, q3 = px
    mask = _nf_mask(p3, p2, p1, p0, q0, q1, q2, q3, elim, ilim)
    if not mask.any():
        return
    hv = _hev(p1, p0, q0, q1, hevt)
    a = _filter_common(p1, p0, q0, q1, hv, mask)
    a = (a + 1) >> 1
    m2 = mask & ~hv
    np.copyto(q1, np.where(m2, np.clip(q1 - 128 - a + 128, 0, 255), q1))
    np.copyto(p1, np.where(m2, np.clip(p1 - 128 + a + 128, 0, 255), p1))


def _mbedge_filter(px, elim, ilim, hevt):
    """Normal MB-edge filter (wide taps) over lanes, in place."""
    p3, p2, p1, p0, q0, q1, q2, q3 = px
    mask = _nf_mask(p3, p2, p1, p0, q0, q1, q2, q3, elim, ilim)
    if not mask.any():
        return
    hv = _hev(p1, p0, q0, q1, hevt)
    # hev lanes: common adjust with outer taps
    _filter_common(p1, p0, q0, q1, True, mask & hv)
    m = mask & ~hv
    sp2, sp1, sp0 = p2 - 128, p1 - 128, p0 - 128
    sq0, sq1, sq2 = q0 - 128, q1 - 128, q2 - 128
    w = _c8(_c8(sp1 - sq1) + 3 * (sq0 - sp0))
    a = _c8((27 * w + 63) >> 7)
    np.copyto(q0, np.where(m, np.clip(sq0 - a + 128, 0, 255), q0))
    np.copyto(p0, np.where(m, np.clip(sp0 + a + 128, 0, 255), p0))
    a = _c8((18 * w + 63) >> 7)
    np.copyto(q1, np.where(m, np.clip(sq1 - a + 128, 0, 255), q1))
    np.copyto(p1, np.where(m, np.clip(sp1 + a + 128, 0, 255), p1))
    a = _c8((9 * w + 63) >> 7)
    np.copyto(q2, np.where(m, np.clip(sq2 - a + 128, 0, 255), q2))
    np.copyto(p2, np.where(m, np.clip(sp2 + a + 128, 0, 255), p2))


def _simple_filter(px, elim):
    p1, p0, q0, q1 = px
    mask = (np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1)) <= elim
    if mask.any():
        _filter_common(p1, p0, q0, q1, True, mask)


def _v_edge(plane, y0, x, n):
    """Lane views across a vertical edge at column x (rows y0:y0+n)."""
    return [plane[y0:y0 + n, x + d] for d in (-4, -3, -2, -1, 0, 1, 2, 3)]


def _h_edge(plane, y, x0, n):
    return [plane[y + d, x0:x0 + n] for d in (-4, -3, -2, -1, 0, 1, 2, 3)]


def _filter_strength(level, sharpness, keyframe=True):
    ilim = level
    if sharpness:
        ilim >>= 2 if sharpness > 4 else 1
        if ilim > 9 - sharpness:
            ilim = 9 - sharpness
    if ilim < 1:
        ilim = 1
    hev = 0
    if level >= 40:
        hev = 2
    elif level >= 15:
        hev = 1
    return ilim, hev


def _loop_filter(hdr, Y, U, V, mb_info):
    """In-loop deblocking (§15), per-MB raster order. Planes are the
    padded int32 arrays (data origin at [1,1])."""
    simple = hdr.filter_simple
    sharp = hdr.sharpness
    for mby in range(hdr.mb_h):
        for mbx in range(hdr.mb_w):
            level, inner = mb_info[mby * hdr.mb_w + mbx]
            if level == 0:
                continue
            ilim, hevt = _filter_strength(level, sharp)
            mb_elim = 2 * level + ilim + 4
            sb_elim = 2 * level + ilim
            yx, yy = 1 + mbx * 16, 1 + mby * 16
            cx, cy = 1 + mbx * 8, 1 + mby * 8
            if simple:
                if mbx > 0:
                    _simple_filter(_v_edge(Y, yy, yx, 16)[2:6], mb_elim)
                if inner:
                    for dx in (4, 8, 12):
                        _simple_filter(
                            _v_edge(Y, yy, yx + dx, 16)[2:6], sb_elim)
                if mby > 0:
                    _simple_filter(_h_edge(Y, yy, yx, 16)[2:6], mb_elim)
                if inner:
                    for dy in (4, 8, 12):
                        _simple_filter(
                            _h_edge(Y, yy + dy, yx, 16)[2:6], sb_elim)
                continue
            if mbx > 0:
                _mbedge_filter(_v_edge(Y, yy, yx, 16), mb_elim, ilim, hevt)
                _mbedge_filter(_v_edge(U, cy, cx, 8), mb_elim, ilim, hevt)
                _mbedge_filter(_v_edge(V, cy, cx, 8), mb_elim, ilim, hevt)
            if inner:
                for dx in (4, 8, 12):
                    _subblock_filter(
                        _v_edge(Y, yy, yx + dx, 16), sb_elim, ilim, hevt)
                _subblock_filter(_v_edge(U, cy, cx + 4, 8), sb_elim, ilim,
                                 hevt)
                _subblock_filter(_v_edge(V, cy, cx + 4, 8), sb_elim, ilim,
                                 hevt)
            if mby > 0:
                _mbedge_filter(_h_edge(Y, yy, yx, 16), mb_elim, ilim, hevt)
                _mbedge_filter(_h_edge(U, cy, cx, 8), mb_elim, ilim, hevt)
                _mbedge_filter(_h_edge(V, cy, cx, 8), mb_elim, ilim, hevt)
            if inner:
                for dy in (4, 8, 12):
                    _subblock_filter(
                        _h_edge(Y, yy + dy, yx, 16), sb_elim, ilim, hevt)
                _subblock_filter(_h_edge(U, cy + 4, cx, 8), sb_elim, ilim,
                                 hevt)
                _subblock_filter(_h_edge(V, cy + 4, cx, 8), sb_elim, ilim,
                                 hevt)


# ------------------------------------------------------------ decoder

_SEG_TREE = (2, 4, 0, -1, -2, -3)  # -0 encoded as 0 (leaf)


def decode_planes(data: bytes):
    """VP8 payload → (y, u, v) uint8 planes cropped to the frame dims.

    Bit-exact with libwebp's WebPDecodeYUV (pinned in test_vp8.py)."""
    hdr, bd, parts = _parse_header(data)
    mbw, mbh = hdr.mb_w, hdr.mb_h
    W, H = mbw * 16, mbh * 16
    cw, ch = mbw * 8, mbh * 8

    # padded planes: border row 0 = 127, border col 0 = 129 (rows >= 1);
    # +4 right pad on Y for the B_PRED above-right reads
    Y = np.empty((H + 1, W + 5), dtype=np.int32)
    U = np.empty((ch + 1, cw + 1), dtype=np.int32)
    V = np.empty((ch + 1, cw + 1), dtype=np.int32)
    for P in (Y, U, V):
        P[0, :] = 127
        P[1:, 0] = 129

    probs = hdr.probs
    ymodes = [DC_PRED] * (mbw * mbh)
    seg_ids = [0] * (mbw * mbh)
    # sub-block mode context rows
    above_bm = [[0, 0, 0, 0] for _ in range(mbw)]
    # nonzero contexts
    above_nz = [[0] * 9 for _ in range(mbw)]  # 4 Y, 2 U, 2 V, 1 Y2
    mb_info = []  # (filter_level, filter_inner) per MB
    stp = hdr.seg_tree_probs

    coefs = [0] * 16  # reused scratch

    for mby in range(mbh):
        tok = parts[mby % hdr.nparts]
        left_bm = [0, 0, 0, 0]
        left_nz = [0] * 9
        for mbx in range(mbw):
            mbi = mby * mbw + mbx
            # ---- modes (first partition)
            seg = 0
            if hdr.update_map:
                seg = bd.tree(_SEG_TREE, stp)
            elif hdr.seg_enabled:
                seg = 0
            seg_ids[mbi] = seg
            skip_flag = bd.bool(hdr.skip_p) if hdr.use_skip else 0
            ymode = bd.tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            ymodes[mbi] = ymode
            ab = above_bm[mbx]
            if ymode == B_PRED:
                bmodes = [0] * 16
                for sy in range(4):
                    for sx in range(4):
                        a = ab[sx] if sy == 0 else bmodes[(sy - 1) * 4 + sx]
                        lm = left_bm[sy] if sx == 0 else bmodes[sy * 4 + sx - 1]
                        bmodes[sy * 4 + sx] = bd.tree(
                            BMODE_TREE, _BMODE_PROBS_PY[a][lm])
            else:
                bmodes = [_MB_TO_B[ymode]] * 16
            above_bm[mbx] = bmodes[12:16]
            left_bm = [bmodes[3], bmodes[7], bmodes[11], bmodes[15]]
            uvmode = bd.tree(UV_MODE_TREE, KF_UV_MODE_PROBS)

            # ---- residuals (token partition)
            q = hdr.quants[seg]
            anz = above_nz[mbx]
            has_y2 = ymode != B_PRED
            blocks = [None] * 25  # 16 Y, 4 U, 4 V, [24]=Y2 dequant coefs
            nz_any = 0
            if skip_flag:
                for i in range(8):
                    anz[i] = 0
                    left_nz[i] = 0
                if has_y2:
                    anz[8] = 0
                    left_nz[8] = 0
            else:
                if has_y2:
                    for i in range(16):
                        coefs[i] = 0
                    n = _decode_coeffs(tok, probs[1], anz[8] + left_nz[8],
                                       0, q[2], q[3], coefs)
                    nzf = 1 if n > 0 else 0
                    anz[8] = left_nz[8] = nzf
                    nz_any |= nzf
                    y2 = _iwht4x4(coefs)
                    first, ptype = 1, 0
                else:
                    y2 = None
                    first, ptype = 0, 3
                pt = probs[ptype]
                for sy in range(4):
                    for sx in range(4):
                        bi = sy * 4 + sx
                        c = [0] * 16
                        n = _decode_coeffs(
                            tok, pt, anz[sx] + left_nz[sy], first,
                            q[0], q[1], c)
                        nzf = 1 if n > first else 0
                        anz[sx] = left_nz[sy] = nzf
                        nz_any |= nzf
                        if y2 is not None:
                            c[0] = y2[bi]
                        if nzf or (y2 is not None and y2[bi]):
                            blocks[bi] = c
                pu = probs[2]
                for pl, base, aoff in ((0, 16, 4), (1, 20, 6)):
                    for sy in range(2):
                        for sx in range(2):
                            bi = base + sy * 2 + sx
                            c = [0] * 16
                            n = _decode_coeffs(
                                tok, pu, anz[aoff + sx] + left_nz[aoff + sy],
                                0, q[4], q[5], c)
                            nzf = 1 if n > 0 else 0
                            anz[aoff + sx] = left_nz[aoff + sy] = nzf
                            nz_any |= nzf
                            if nzf:
                                blocks[bi] = c

            # ---- filter info
            if hdr.seg_enabled:
                lvl = hdr.seg_lf[seg] if hdr.seg_abs \
                    else hdr.filter_level + hdr.seg_lf[seg]
            else:
                lvl = hdr.filter_level
            if hdr.lf_delta:
                lvl += hdr.ref_deltas[0]  # intra frame
                if ymode == B_PRED:
                    lvl += hdr.mode_deltas[0]
            lvl = min(63, max(0, lvl))
            mb_info.append((lvl, (not has_y2) or bool(nz_any)))

            # ---- reconstruction
            yx, yy = 1 + mbx * 16, 1 + mby * 16
            cx, cy = 1 + mbx * 8, 1 + mby * 8
            have_a, have_l = mby > 0, mbx > 0
            # batch all coded blocks' inverse DCTs for this MB at once
            nz_bi = [bi for bi in range(24) if blocks[bi] is not None]
            res4 = {}
            if nz_bi:
                batch = _idct_batch(np.array([blocks[bi] for bi in nz_bi],
                                             dtype=np.int64))
                for k, bi in enumerate(nz_bi):
                    res4[bi] = batch[k]

            if ymode != B_PRED:
                pred = _pred16(ymode, Y[yy - 1, yx:yx + 16],
                               Y[yy:yy + 16, yx - 1], Y[yy - 1, yx - 1],
                               have_a, have_l, 16)
                for bi in range(16):
                    if bi not in res4:
                        continue
                    r0, c0 = (bi >> 2) * 4, (bi & 3) * 4
                    pred[r0:r0 + 4, c0:c0 + 4] += \
                        res4[bi].reshape(4, 4).astype(np.int32)
                Y[yy:yy + 16, yx:yx + 16] = np.clip(pred, 0, 255)
            else:
                # working buffer rows -1..15, cols -1..19
                wb = np.empty((17, 21), dtype=np.int32)
                wb[0, :17] = Y[yy - 1, yx - 1:yx + 16]
                wb[1:, 0] = Y[yy:yy + 16, yx - 1]
                # above-right quirk: saved once, reused by all right-col
                # sub-blocks; rightmost MB replicates the last top pixel
                if mbx == mbw - 1 and mby > 0:
                    wb[0, 17:21] = Y[yy - 1, yx + 15]
                else:
                    wb[0, 17:21] = Y[yy - 1, yx + 16:yx + 20]
                tr = wb[0, 17:21].tolist()
                for bi in range(16):
                    sy, sx = bi >> 2, bi & 3
                    r0, c0 = 1 + sy * 4, 1 + sx * 4
                    arow = wb[r0 - 1, c0:c0 + 4].tolist()
                    if sx == 3:
                        arow += tr
                    else:
                        arow += wb[r0 - 1, c0 + 4:c0 + 8].tolist()
                    lcol = wb[r0:r0 + 4, c0 - 1].tolist()
                    xal = int(wb[r0 - 1, c0 - 1])
                    p4 = _pred4(bmodes[bi], arow, lcol, xal)
                    if bi in res4:
                        res = res4[bi].tolist()
                        for r in range(4):
                            pr = p4[r]
                            ro = r * 4
                            for c in range(4):
                                v = pr[c] + res[ro + c]
                                wb[r0 + r, c0 + c] = \
                                    0 if v < 0 else (255 if v > 255 else v)
                    else:
                        for r in range(4):
                            wb[r0 + r, c0:c0 + 4] = p4[r]
                Y[yy:yy + 16, yx:yx + 16] = wb[1:, 1:17]

            for pl, P, px, py in ((0, U, cx, cy), (1, V, cx, cy)):
                pred = _pred16(uvmode, P[py - 1, px:px + 8],
                               P[py:py + 8, px - 1], P[py - 1, px - 1],
                               have_a, have_l, 8)
                base = 16 + pl * 4
                for bi in range(4):
                    if base + bi not in res4:
                        continue
                    r0, c0 = (bi >> 1) * 4, (bi & 1) * 4
                    pred[r0:r0 + 4, c0:c0 + 4] += \
                        res4[base + bi].reshape(4, 4).astype(np.int32)
                P[py:py + 8, px:px + 8] = np.clip(pred, 0, 255)

        # right pad for next row's above-right reads (replicates the
        # rightmost real column, matching libwebp's memset of top[15])
        Y[yy:yy + 16, W + 1:W + 5] = Y[yy:yy + 16, W:W + 1]

    if hdr.filter_level > 0 or (hdr.seg_enabled and any(
            lf > 0 for lf, _ in mb_info)):
        _loop_filter(hdr, Y, U, V, mb_info)

    w, h = hdr.width, hdr.height
    cw2, ch2 = (w + 1) >> 1, (h + 1) >> 1
    y = Y[1:1 + h, 1:1 + w].astype(np.uint8)
    u = U[1:1 + ch2, 1:1 + cw2].astype(np.uint8)
    v = V[1:1 + ch2, 1:1 + cw2].astype(np.uint8)
    return y, u, v


# ------------------------------------------------ YUV <-> RGB (libwebp math)

def _clip8(v):
    return np.where((v & ~16383) == 0, v >> 6,
                    np.where(v < 0, 0, 255)).astype(np.uint8)


def yuv_to_rgb(y, u, v):
    """Per-pixel YUV420→RGB using libwebp's fixed-point coefficients
    (dsp/yuv.h) so the pure and ctypes decode paths agree exactly.
    y: (h,w); u, v: full-resolution (already upsampled) planes."""
    yy = y.astype(np.int64) * 19077 >> 8
    uu = u.astype(np.int64)
    vv = v.astype(np.int64)
    r = _clip8(yy + (vv * 26149 >> 8) - 14234)
    g = _clip8(yy - (uu * 6419 >> 8) - (vv * 13320 >> 8) + 8708)
    b = _clip8(yy + (uu * 33050 >> 8) - 17685)
    return np.stack([r, g, b], axis=-1)


def fancy_upsample(c: np.ndarray, h: int, w: int) -> np.ndarray:
    """libwebp 'fancy' 2x chroma upsampler (dsp/upsampling.c), exact
    integer arithmetic, vectorized. c: (ch, cw) chroma plane."""
    c = c.astype(np.int32)
    chh, cww = c.shape
    r = np.arange(h)
    tj = np.where(r == 0, 0, (r - 1) >> 1)
    cj = np.where(r == 0, 0, np.minimum(tj + 1, chh - 1))
    row_top = (r % 2 == 1) | (r == 0)  # "top" rows weight the tj row 3x
    cc = np.arange(w)
    xx = (cc + 1) >> 1
    lx = np.maximum(xx - 1, 0)
    rx = np.minimum(xx, cww - 1)
    col_left = (cc % 2 == 1) | (cc == 0)  # odd cols weight the left col 3x

    TL = c[np.ix_(tj, lx)]
    T = c[np.ix_(tj, rx)]
    L = c[np.ix_(cj, lx)]
    X = c[np.ix_(cj, rx)]
    d12 = (TL + 3 * T + 3 * L + X + 8) >> 3
    d03 = (3 * TL + T + L + 3 * X + 8) >> 3
    rt = row_top[:, None]
    cl = col_left[None, :]
    out = np.where(rt & cl, (d12 + TL) >> 1,
                   np.where(rt & ~cl, (d03 + T) >> 1,
                            np.where(~rt & cl, (d03 + L) >> 1,
                                     (d12 + X) >> 1)))
    return out


def decode(payload: bytes) -> np.ndarray:
    """VP8 chunk payload → (h, w, 3) uint8 RGB (libwebp-equivalent)."""
    y, u, v = decode_planes(payload)
    h, w = y.shape
    uf = fancy_upsample(u, h, w)
    vf = fancy_upsample(v, h, w)
    return yuv_to_rgb(y, uf, vf)


# ------------------------------------------------------------ encoder

class _BoolEnc:
    """Arithmetic bool encoder (bignum low bound — exact complement of
    _BoolDec; round-trip pinned in test_vp8.py)."""

    __slots__ = ("low", "range", "shifts")

    def __init__(self):
        self.low = 0
        self.range = 255
        self.shifts = 0

    def bool(self, prob: int, bit: int) -> None:
        split = 1 + (((self.range - 1) * int(prob)) >> 8)
        if bit:
            self.low += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            self.low <<= 1
            self.shifts += 1

    def literal(self, nbits: int, v: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.bool(128, (v >> i) & 1)

    def sign_mag(self, nbits: int, v: int) -> None:
        """flag=1 + magnitude + sign (the optional-update encoding)."""
        self.bool(128, 1)
        self.literal(nbits, abs(v))
        self.bool(128, 1 if v < 0 else 0)

    def tree(self, tree, probs, leaf: int) -> None:
        def walk(i, path):
            if i <= 0:
                return path if -i == leaf else None
            return (walk(tree[i], path + [(i >> 1, 0)])
                    or walk(tree[i + 1], path + [(i >> 1, 1)]))
        path = walk(tree[0], [(0, 0)]) or walk(tree[1], [(0, 1)])
        for pi, b in path:
            self.bool(probs[pi], b)

    def flush(self) -> bytes:
        nbits = self.shifts + 24
        total = (nbits + 7) // 8
        return (self.low << (total * 8 - self.shifts - 8)) \
            .to_bytes(total, "big")


# forward transforms: numerical inverses of the decoder's own integer
# iDCT/iWHT linear maps (probed once at import; quantization absorbs
# the sub-unit rounding). The encoder reconstructs through the integer
# inverse itself, so encode/decode stay bit-exact regardless.
def _inv_map(int_transform) -> np.ndarray:
    m = np.empty((16, 16))
    for i in range(16):
        e = [0] * 16
        e[i] = 4096
        m[:, i] = np.array(int_transform(e), dtype=np.float64) / 4096.0
    return np.linalg.inv(m)


_FDCT_M = _inv_map(_idct4x4)
_FWHT_M = _inv_map(_iwht4x4)


def _fdct4(block: np.ndarray) -> np.ndarray:
    return (_FDCT_M @ block.reshape(16)).reshape(4, 4)


def _fwht4(dcs: np.ndarray) -> np.ndarray:
    return (_FWHT_M @ dcs.reshape(16)).reshape(4, 4)


def _quant_block(coefs: np.ndarray, qdc: int, qac: int) -> list:
    q = np.round(coefs.reshape(16) / np.array([qdc] + [qac] * 15)) \
        .astype(np.int64)
    return np.clip(q, -2000, 2000).tolist()


def _emit_coeffs(be: _BoolEnc, probs2, ctx: int, first: int, vals) -> int:
    """Token-encode one block (natural-order quantized values). Exact
    mirror of _decode_coeffs. Returns the nonzero flag."""
    zz = [vals[_ZZ[i]] for i in range(16)]
    last = -1
    for i in range(first, 16):
        if zz[i]:
            last = i
    n = first
    p = probs2[_BANDS[n]][ctx]
    prev_zero = False
    while n < 16:
        if not prev_zero:
            if last < n:
                be.bool(p[0], 0)  # EOB
                return 1 if last >= first else 0
            be.bool(p[0], 1)
        v = zz[n]
        if v == 0:
            be.bool(p[1], 0)
            n += 1
            if n == 16:
                return 1
            p = probs2[_BANDS[n]][0]
            prev_zero = True
            continue
        be.bool(p[1], 1)
        prev_zero = False
        a = abs(v)
        if a == 1:
            be.bool(p[2], 0)
            nctx = 1
        else:
            be.bool(p[2], 1)
            nctx = 2
            if a <= 4:
                be.bool(p[3], 0)
                if a == 2:
                    be.bool(p[4], 0)
                else:
                    be.bool(p[4], 1)
                    be.bool(p[5], a - 3)
            else:
                be.bool(p[3], 1)
                cat = 5
                for ci in range(5):
                    if a < CAT_BASE[ci + 1] if ci < 5 else True:
                        cat = ci
                        break
                if cat <= 1:
                    be.bool(p[6], 0)
                    be.bool(p[7], cat)
                else:
                    be.bool(p[6], 1)
                    if cat <= 3:
                        be.bool(p[8], 0)
                        be.bool(p[9], cat - 2)
                    else:
                        be.bool(p[8], 1)
                        be.bool(p[10], cat - 4)
                extra = a - CAT_BASE[cat]
                cps = CAT_PROBS[cat]
                for bi, pr in enumerate(cps):
                    be.bool(pr, (extra >> (len(cps) - 1 - bi)) & 1)
        be.bool(128, 1 if v < 0 else 0)
        n += 1
        if n < 16:
            p = probs2[_BANDS[n]][nctx]
    return 1


def rgb_to_yuv420(arr: np.ndarray):
    """RGB → BT.601 full-swing-ish YUV (libwebp enc constants) with
    2x2-averaged chroma. Returns (y, u, v) uint8 planes."""
    a = arr.astype(np.int64)
    r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
    y = (16839 * r + 33059 * g + 6420 * b + (16 << 16) + 32768) >> 16
    u = (-9719 * r - 19081 * g + 28800 * b + (128 << 16) + 32768) >> 16
    v = (28800 * r - 24116 * g - 4684 * b + (128 << 16) + 32768) >> 16
    h, w = r.shape
    if h & 1:
        u = np.vstack([u, u[-1:]])
        v = np.vstack([v, v[-1:]])
    if w & 1:
        u = np.hstack([u, u[:, -1:]])
        v = np.hstack([v, v[:, -1:]])
    u = (u[0::2, 0::2] + u[0::2, 1::2] + u[1::2, 0::2] + u[1::2, 1::2]
         + 2) >> 2
    v = (v[0::2, 0::2] + v[0::2, 1::2] + v[1::2, 0::2] + v[1::2, 1::2]
         + 2) >> 2
    return (np.clip(y, 0, 255).astype(np.uint8),
            np.clip(u, 0, 255).astype(np.uint8),
            np.clip(v, 0, 255).astype(np.uint8))


def _pad_plane(p: np.ndarray, bh: int, bw: int) -> np.ndarray:
    out = np.empty((bh + 1, bw + 5), dtype=np.int32)
    out[0, :] = 127
    out[1:, 0] = 129
    h, w = p.shape
    out[1:1 + h, 1:1 + w] = p
    out[1:1 + h, 1 + w:] = p[:, -1:]          # right edge replicate
    out[1 + h:, 1:] = out[h:1 + h, 1:]        # bottom replicate
    return out


def encode_planes(y, u, v, w, h, q_index: int = 40,
                  filter_level: int = 0, ymode: int = DC_PRED,
                  bmode_grid=None, filter_simple: int = 0) -> bytes:
    """Encode YUV420 planes as a VP8 keyframe payload.

    ymode: whole-MB luma mode for every MB, or B_PRED with
    ``bmode_grid`` ((4*mb_h, 4*mb_w) of sub-block modes, default DC).
    Emits default probabilities (no updates), one token partition,
    skip flags for all-zero MBs. The reconstruction (and therefore any
    conformant decoder's output at filter_level=0) is this encoder's
    own prediction+idct loop — bit-exact with decode_planes."""
    mbw, mbh = (w + 15) >> 4, (h + 15) >> 4
    W, H = mbw * 16, mbh * 16
    cw, ch = mbw * 8, mbh * 8
    Y = _pad_plane(np.asarray(y, dtype=np.int32), H, W)
    U = _pad_plane(np.asarray(u, dtype=np.int32), ch, cw)
    V = _pad_plane(np.asarray(v, dtype=np.int32), ch, cw)

    q_index = min(127, max(0, q_index))
    y1dc = int(DC_QLOOKUP[q_index])
    y1ac = int(AC_QLOOKUP[q_index])
    y2dc = y1dc * 2
    y2ac = max(8, y1ac * 155 // 100)
    uvdc = int(DC_QLOOKUP[min(q_index, 117)])
    uvac = int(AC_QLOOKUP[q_index])

    probs = [[[list(COEFF_PROBS[i, j, k]) for k in range(3)]
              for j in range(8)] for i in range(4)]

    hb = _BoolEnc()
    hb.bool(128, 0)               # color space
    hb.bool(128, 0)               # clamping
    hb.bool(128, 0)               # segmentation off
    hb.bool(128, filter_simple)
    hb.literal(6, filter_level)
    hb.literal(3, 0)              # sharpness
    hb.bool(128, 0)               # lf deltas off
    hb.literal(2, 0)              # one token partition
    hb.literal(7, q_index)
    for _ in range(5):
        hb.bool(128, 0)           # no quant deltas
    hb.bool(128, 1)               # refresh entropy probs
    for i in range(4):
        for j in range(8):
            for k in range(3):
                for m in range(11):
                    hb.bool(int(COEFF_UPDATE_PROBS[i, j, k, m]), 0)
    hb.bool(128, 1)               # use mb_no_coeff_skip
    hb.literal(8, 128)            # prob_skip_false

    tb = _BoolEnc()
    above_bm = [[_MB_TO_B.get(ymode, 0)] * 4 for _ in range(mbw)]
    above_nz = [[0] * 9 for _ in range(mbw)]
    is_b = ymode == B_PRED

    for mby in range(mbh):
        left_bm = [0, 0, 0, 0]
        left_nz = [0] * 9
        for mbx in range(mbw):
            yx, yy = 1 + mbx * 16, 1 + mby * 16
            cx, cy = 1 + mbx * 8, 1 + mby * 8
            have_a, have_l = mby > 0, mbx > 0
            anz = above_nz[mbx]

            # ---- predict + transform + quantize + reconstruct
            blk_q = [None] * 25
            recon_y = np.empty((16, 16), dtype=np.int32)
            if not is_b:
                pred = _pred16(ymode, Y[yy - 1, yx:yx + 16],
                               Y[yy:yy + 16, yx - 1], Y[yy - 1, yx - 1],
                               have_a, have_l, 16)
                dcs = np.zeros((4, 4))
                acq = [None] * 16
                for bi in range(16):
                    r0, c0 = (bi >> 2) * 4, (bi & 3) * 4
                    res = (Y[yy + r0:yy + r0 + 4, yx + c0:yx + c0 + 4]
                           - pred[r0:r0 + 4, c0:c0 + 4]).astype(np.float64)
                    co = _fdct4(res)
                    dcs[bi >> 2, bi & 3] = co[0, 0]
                    qv = _quant_block(co, y1ac, y1ac)  # dc via Y2 path
                    qv[0] = 0
                    acq[bi] = qv
                wq = _quant_block(_fwht4(dcs), y2dc, y2ac)
                blk_q[24] = wq
                # decoder-side DC values
                deq = [wq[i] * (y2dc if i == 0 else y2ac)
                       for i in range(16)]
                y2r = _iwht4x4(deq)
                for bi in range(16):
                    qv = acq[bi]
                    dq = [qv[i] * y1ac for i in range(16)]
                    dq[0] = y2r[bi]
                    r0, c0 = (bi >> 2) * 4, (bi & 3) * 4
                    rec = pred[r0:r0 + 4, c0:c0 + 4] + \
                        np.array(_idct4x4(dq), dtype=np.int32).reshape(4, 4)
                    recon_y[r0:r0 + 4, c0:c0 + 4] = np.clip(rec, 0, 255)
                    blk_q[bi] = qv
                bmodes = [_MB_TO_B[ymode]] * 16
            else:
                wb = np.empty((17, 21), dtype=np.int32)
                wb[0, :17] = Y[yy - 1, yx - 1:yx + 16]
                wb[1:, 0] = Y[yy:yy + 16, yx - 1]
                if mbx == mbw - 1 and mby > 0:
                    wb[0, 17:21] = Y[yy - 1, yx + 15]
                else:
                    wb[0, 17:21] = Y[yy - 1, yx + 16:yx + 20]
                tr = wb[0, 17:21].tolist()
                bmodes = [0] * 16
                if bmode_grid is not None:
                    for sy in range(4):
                        for sx in range(4):
                            bmodes[sy * 4 + sx] = int(
                                bmode_grid[mby * 4 + sy][mbx * 4 + sx])
                for bi in range(16):
                    sy, sx = bi >> 2, bi & 3
                    r0, c0 = 1 + sy * 4, 1 + sx * 4
                    arow = wb[r0 - 1, c0:c0 + 4].tolist()
                    arow += tr if sx == 3 else \
                        wb[r0 - 1, c0 + 4:c0 + 8].tolist()
                    lcol = wb[r0:r0 + 4, c0 - 1].tolist()
                    p4 = np.array(_pred4(bmodes[bi], arow, lcol,
                                         int(wb[r0 - 1, c0 - 1])),
                                  dtype=np.int32)
                    src = Y[yy + sy * 4:yy + sy * 4 + 4,
                            yx + sx * 4:yx + sx * 4 + 4]
                    qv = _quant_block(_fdct4((src - p4).astype(np.float64)),
                                      y1dc, y1ac)
                    dq = [qv[i] * (y1dc if i == 0 else y1ac)
                          for i in range(16)]
                    rec = p4 + np.array(_idct4x4(dq),
                                        dtype=np.int32).reshape(4, 4)
                    wb[r0:r0 + 4, c0:c0 + 4] = np.clip(rec, 0, 255)
                    blk_q[bi] = qv
                recon_y[:, :] = wb[1:, 1:17]

            recon_uv = {}
            uvmode = DC_PRED
            for pl, P in ((0, U), (1, V)):
                pred = _pred16(uvmode, P[cy - 1, cx:cx + 8],
                               P[cy:cy + 8, cx - 1], P[cy - 1, cx - 1],
                               have_a, have_l, 8)
                rp = np.empty((8, 8), dtype=np.int32)
                for bi in range(4):
                    r0, c0 = (bi >> 1) * 4, (bi & 1) * 4
                    src = P[cy + r0:cy + r0 + 4, cx + c0:cx + c0 + 4]
                    qv = _quant_block(
                        _fdct4((src - pred[r0:r0 + 4, c0:c0 + 4])
                               .astype(np.float64)), uvdc, uvac)
                    dq = [qv[i] * (uvdc if i == 0 else uvac)
                          for i in range(16)]
                    rec = pred[r0:r0 + 4, c0:c0 + 4] + \
                        np.array(_idct4x4(dq), dtype=np.int32).reshape(4, 4)
                    rp[r0:r0 + 4, c0:c0 + 4] = np.clip(rec, 0, 255)
                    blk_q[16 + pl * 4 + bi] = qv
                recon_uv[pl] = rp

            skip = all(not any(b) for b in blk_q if b is not None)

            # ---- mode bits (partition 1)
            hb.bool(128, 1 if skip else 0)
            hb.tree(KF_YMODE_TREE, KF_YMODE_PROBS, ymode)
            if is_b:
                ab = above_bm[mbx]
                for sy in range(4):
                    for sx in range(4):
                        a = ab[sx] if sy == 0 else bmodes[(sy - 1) * 4 + sx]
                        lm = left_bm[sy] if sx == 0 \
                            else bmodes[sy * 4 + sx - 1]
                        hb.tree(BMODE_TREE, KF_BMODE_PROBS[a, lm],
                                bmodes[sy * 4 + sx])
            above_bm[mbx] = bmodes[12:16]
            left_bm = [bmodes[3], bmodes[7], bmodes[11], bmodes[15]]
            hb.tree(UV_MODE_TREE, KF_UV_MODE_PROBS, uvmode)

            # ---- token bits (partition 2)
            if skip:
                for i in range(8):
                    anz[i] = 0
                    left_nz[i] = 0
                if not is_b:
                    anz[8] = left_nz[8] = 0
            else:
                if not is_b:
                    nz = _emit_coeffs(tb, probs[1], anz[8] + left_nz[8],
                                      0, blk_q[24])
                    anz[8] = left_nz[8] = nz
                    first, ptype = 1, 0
                else:
                    first, ptype = 0, 3
                for sy in range(4):
                    for sx in range(4):
                        nz = _emit_coeffs(
                            tb, probs[ptype], anz[sx] + left_nz[sy],
                            first, blk_q[sy * 4 + sx])
                        anz[sx] = left_nz[sy] = nz
                for pl, aoff in ((0, 4), (1, 6)):
                    for sy in range(2):
                        for sx in range(2):
                            nz = _emit_coeffs(
                                tb, probs[2],
                                anz[aoff + sx] + left_nz[aoff + sy], 0,
                                blk_q[16 + pl * 4 + sy * 2 + sx])
                            anz[aoff + sx] = left_nz[aoff + sy] = nz

            # write reconstruction back for neighbor prediction
            Y[yy:yy + 16, yx:yx + 16] = recon_y
            U[cy:cy + 8, cx:cx + 8] = recon_uv[0]
            V[cy:cy + 8, cx:cx + 8] = recon_uv[1]
        Y[yy:yy + 16, W + 1:W + 5] = Y[yy:yy + 16, W:W + 1]

    part1 = hb.flush()
    part2 = tb.flush() + b"\x00\x00"
    tag = (1 << 4) | (len(part1) << 5)
    out = bytes([tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF])
    out += b"\x9d\x01\x2a"
    out += struct.pack("<H", w) + struct.pack("<H", h)
    out += part1 + part2
    return out


def encode(arr: np.ndarray, q_index: int = 40, filter_level: int = 0,
           ymode: int = DC_PRED, bmode_grid=None) -> bytes:
    """(h,w,3) or (h,w) uint8 → VP8 keyframe payload (no RIFF wrapper).

    A deliberately simple conformant encoder (single segment, default
    probabilities, fixed luma mode): its purpose is lossy-WebP WRITE
    support plus bidirectional conformance fuzz of decode_planes — any
    conformant decoder (libwebp included, pinned in test_vp8.py)
    reproduces this encoder's reconstruction exactly at
    filter_level=0."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=-1)
    h, w = arr.shape[:2]
    y, u, v = rgb_to_yuv420(arr)
    return encode_planes(y, u, v, w, h, q_index=q_index,
                         filter_level=filter_level, ymode=ymode,
                         bmode_grid=bmode_grid)
