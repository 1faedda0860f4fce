"""Arithmetic-coded JPEG entropy layer (ITU-T T.81 Annexes D, F, G).

From-scratch QM coder + the JPEG DC/AC statistical models, closing the
last entropy mode the engine's JFIF codec rejected: SOF9 (extended
sequential, arithmetic) and SOF10 (progressive, arithmetic) now decode,
and :func:`gis_tools_spark.raster.jpeg.encode` can emit sequential
arithmetic streams. Reference semantics: the reference reads JPEG
rasters through GDAL (gistools raster.py:158-165), which accepts
arithmetic entropy coding; this module gives the pure-python decode
path the same reach.

Design notes
------------
* ``_ARI_TAB`` is T.81 Table D.3 (the 113-state probability estimation
  machine) plus the non-adapting state 113 used for fixed-0.5
  decisions (AC sign, DC/AC refinement bits). State 113's NMPS/NLPS
  both point back at 113 with no MPS switch, so the ordinary update
  rule leaves it untouched — no special-casing in the hot loop.
  tests/test_jpeg_arith.py pins every row against the system
  libjpeg's exported ``jpeg_aritab`` (same public spec constants).
* Byte stuffing: the scan bytes arriving here were destuffed by
  ``jpeg._entropy_segments`` (0x00 after 0xFF removed, RSTn split into
  segments), which is exactly the arithmetic-coding convention too
  (T.81 D.1.6). Past the end of a segment the decoder feeds ZERO
  bytes: the encoder's flush discards trailing zero bytes (D.1.8),
  so the decoder must regenerate them.
* Scalar python by design: arithmetic JPEGs are a small fraction of
  real corpora (most encoders never enable it), so this path stays
  the readable reference implementation; the lockstep batch decoder
  keeps handling the dominant baseline huffman streams.
* Statistics areas reset at every scan start and at every restart
  marker (T.81 F.1.4.4 / G.1.3), as do DC predictors and contexts.
"""

from __future__ import annotations

# T.81 Table D.3: (Qe, NMPS, NLPS, SWITCH); index 113 = fixed 0.5 state.
_ARI_TAB = [
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1),
    (0x5A1D, 113, 113, 0),   # fixed ~0.5 (sign / refinement bits)
]

_FIXED = 113


class _Stats:
    """One statistics area: per-bin estimator index + current MPS."""

    __slots__ = ("idx", "mps")

    def __init__(self, nbins: int):
        self.idx = bytearray(nbins)
        self.mps = bytearray(nbins)


def _fixed_stats() -> _Stats:
    s = _Stats(1)
    s.idx[0] = _FIXED
    return s


class ArithDecoder:
    """QM decoder over one destuffed entropy segment (T.81 D.2,
    software conventions: MPS sub-interval at the bottom of [0, A))."""

    __slots__ = ("data", "n", "bp", "c", "a", "ct")

    def __init__(self, seg: bytes):
        self.data = seg
        self.n = len(seg)
        self.bp = 0
        # INITDEC: the code value's top 16 bits land in Chigh at FULL
        # scale (A starts at 0x10000, mirroring INITENC) — verified
        # empirically against libjpeg-encoded streams; the C<<7 /
        # A=0x8000 half-scale form in some renderings of Figure D.20
        # does NOT invert the D.1 encoder.
        self.c = (self._byte() << 24) | (self._byte() << 16)
        self._bytein()
        self.a = 0x10000

    def _byte(self) -> int:
        if self.bp < self.n:
            b = self.data[self.bp]
            self.bp += 1
            return b
        return 0  # zero-fill past the marker (encoder discards 0x00 tail)

    def _bytein(self) -> None:
        self.c = (self.c + (self._byte() << 8)) & 0xFFFFFFFF
        self.ct = 8

    def decode(self, st: _Stats, i: int) -> int:
        qe, nmps, nlps, sw = _ARI_TAB[st.idx[i]]
        a = self.a - qe
        chigh = (self.c >> 16) & 0xFFFF
        if chigh < a:
            if a & 0x8000:
                self.a = a
                return st.mps[i]
            # MPS_EXCHANGE (Figure D.22) + RENORMD
            if a < qe:
                d = 1 - st.mps[i]
                if sw:
                    st.mps[i] ^= 1
                st.idx[i] = nlps
            else:
                d = st.mps[i]
                st.idx[i] = nmps
        else:
            # LPS_EXCHANGE (Figure D.21) + RENORMD
            self.c = (self.c - (a << 16)) & 0xFFFFFFFF
            if a < qe:
                d = st.mps[i]
                st.idx[i] = nmps
            else:
                d = 1 - st.mps[i]
                if sw:
                    st.mps[i] ^= 1
                st.idx[i] = nlps
            a = qe
        # RENORMD (Figure D.18)
        while True:
            if self.ct == 0:
                self._bytein()
            a <<= 1
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if a & 0x8000:
                break
        self.a = a
        return d


class ArithEncoder:
    """QM encoder (T.81 D.1). Carry resolution rips backward through
    the raw byte list; stuffing and trailing-zero discard happen once
    in :meth:`flush` (bit-identical to resolving carries through the
    0xFF stack on the fly)."""

    __slots__ = ("out", "c", "a", "ct")

    def __init__(self):
        self.out = bytearray()
        self.c = 0
        self.a = 0x10000
        self.ct = 11

    def _carry(self) -> None:
        i = len(self.out) - 1
        while i >= 0:
            self.out[i] = (self.out[i] + 1) & 0xFF
            if self.out[i]:
                return
            i -= 1
        raise ValueError("arithmetic coder carry before first byte")

    def _byteout(self) -> None:
        t = self.c >> 19
        if t > 0xFF:
            self._carry()
        self.out.append(t & 0xFF)
        self.c &= 0x7FFFF
        self.ct = 8

    def encode(self, st: _Stats, i: int, d: int) -> None:
        qe, nmps, nlps, sw = _ARI_TAB[st.idx[i]]
        self.a -= qe
        if d == st.mps[i]:
            if self.a & 0x8000:
                return
            if self.a < qe:      # conditional exchange: MPS takes the top
                self.c += self.a
                self.a = qe
            st.idx[i] = nmps
        else:
            if self.a < qe:      # conditional exchange: LPS keeps the bottom
                pass
            else:
                self.c += self.a
                self.a = qe
            if sw:
                st.mps[i] ^= 1
            st.idx[i] = nlps
        # RENORME (Figure D.13)
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def flush(self) -> bytes:
        """FLUSH (Figure D.14) + discard trailing zeros + byte stuffing."""
        t = (self.c + self.a - 1) & 0xFFFF0000
        self.c = t + 0x8000 if t < self.c else t
        self.c <<= self.ct
        if self.c & 0xF8000000:
            self._carry()
        self.out.append((self.c >> 19) & 0xFF)
        self.out.append((self.c >> 11) & 0xFF)
        raw = self.out.rstrip(b"\x00")
        return raw.replace(b"\xFF", b"\xFF\x00")


# --------------------------------------------------------- DC / AC models

def _dc_decode(dec, st: _Stats, ctx: int, cond) -> tuple[int, int]:
    """Decode one DC difference (T.81 F.2.4.1). Returns (diff, new_ctx)."""
    low, up = cond
    if dec.decode(st, ctx) == 0:
        return 0, 0
    sign = dec.decode(st, ctx + 1)
    sp = ctx + 2 + sign
    m = 0
    if dec.decode(st, sp):
        m = 1
        x = 20
        while dec.decode(st, x):
            m <<= 1
            x += 1
            if m == 0x8000:
                raise ValueError("arith DC magnitude overflow")
        v = m
        bit = m >> 1
        while bit:
            if dec.decode(st, x + 14):
                v |= bit
            bit >>= 1
    else:
        v = 0
    if m < ((1 << low) >> 1):
        nctx = 0
    elif m > ((1 << up) >> 1):
        nctx = 12 + 4 * sign
    else:
        nctx = 4 + 4 * sign
    v += 1
    return (-v if sign else v), nctx


def _dc_encode(enc, st: _Stats, ctx: int, cond, diff: int) -> int:
    low, up = cond
    if diff == 0:
        enc.encode(st, ctx, 0)
        return 0
    enc.encode(st, ctx, 1)
    sign = 1 if diff < 0 else 0
    enc.encode(st, ctx + 1, sign)
    sz = (-diff if sign else diff) - 1
    sp = ctx + 2 + sign
    m = 0
    if sz:
        enc.encode(st, sp, 1)
        m = 1
        x = 20
        while sz >= (m << 1):
            enc.encode(st, x, 1)
            m <<= 1
            x += 1
        enc.encode(st, x, 0)
        bit = m >> 1
        while bit:
            enc.encode(st, x + 14, 1 if sz & bit else 0)
            bit >>= 1
    else:
        enc.encode(st, sp, 0)
    if m < ((1 << low) >> 1):
        return 0
    if m > ((1 << up) >> 1):
        return 12 + 4 * sign
    return 4 + 4 * sign


def _ac_decode_block(dec, st: _Stats, fixed: _Stats, kx: int, ss: int,
                     se: int, emit) -> None:
    """Decode AC coefficients k in [ss, se] (T.81 F.2.4.2); ``emit(k,
    v)`` receives each nonzero coefficient."""
    k = ss
    while k <= se:
        base = 3 * (k - 1)
        if dec.decode(st, base):          # SE: end of block
            return
        while dec.decode(st, base + 1) == 0:   # S0: zero run
            base += 3
            k += 1
            if k > se:
                raise ValueError("arith AC ran past Se")
        sign = dec.decode(fixed, 0)
        sp = base + 2
        if dec.decode(st, sp):
            if dec.decode(st, sp):        # X1 shares the SP bin (Table F.5)
                x = 189 if k <= kx else 217
                m = 2
                while dec.decode(st, x):
                    m <<= 1
                    x += 1
                    if m == 0x8000:
                        raise ValueError("arith AC magnitude overflow")
            else:
                m = 1
                x = sp
        else:
            m = 0
            x = sp
        v = m
        bit = m >> 1
        while bit:
            if dec.decode(st, x + 14):
                v |= bit
            bit >>= 1
        v += 1
        emit(k, -v if sign else v)
        k += 1


def _ac_encode_block(enc, st: _Stats, fixed: _Stats, kx: int, zz,
                     ss: int, se: int) -> None:
    nz = [k for k in range(ss, se + 1) if zz[k]]
    eob = nz[-1] if nz else ss - 1
    k = ss
    while k <= eob:
        base = 3 * (k - 1)
        enc.encode(st, base, 0)
        while zz[k] == 0:
            enc.encode(st, base + 1, 0)
            base += 3
            k += 1
        enc.encode(st, base + 1, 1)
        v = zz[k]
        sign = 1 if v < 0 else 0
        enc.encode(fixed, 0, sign)
        sz = (-v if sign else v) - 1
        sp = base + 2
        if sz:
            enc.encode(st, sp, 1)
            if sz >= 2:
                enc.encode(st, sp, 1)
                x = 189 if k <= kx else 217
                m = 2
                while sz >= (m << 1):
                    enc.encode(st, x, 1)
                    m <<= 1
                    x += 1
                enc.encode(st, x, 0)
            else:
                enc.encode(st, sp, 0)
                m = 1
                x = sp
        else:
            enc.encode(st, sp, 0)
            m = 0
            x = sp
        bit = m >> 1
        while bit:
            enc.encode(st, x + 14, 1 if sz & bit else 0)
            bit >>= 1
        k += 1
    if eob < se:
        enc.encode(st, 3 * (k - 1), 1)


# ----------------------------------------------------------- scan drivers

def _scan_tables(comps, scan_cis):
    """Fresh per-scan statistics areas keyed by conditioning-table id."""
    dc_st = {comps[ci]["td"]: _Stats(64) for ci in scan_cis}
    ac_st = {comps[ci]["ta"]: _Stats(256) for ci in scan_cis}
    return dc_st, ac_st


def decode_scan_seq(segs, comps, scan_cis, dc_cond, ac_cond,
                    restart_interval, mcux, mcuy, coefL, h, w,
                    ni_dims) -> None:
    """Sequential arithmetic scan (SOF9). Appends sparse
    ``(pos << 32) | coef`` pairs into ``coefL`` exactly like the
    huffman sequential path, so reconstruction is shared."""
    interleaved = len(scan_cis) > 1
    if interleaved:
        pat = []
        for ci in scan_cis:
            c = comps[ci]
            for by in range(c["vs"]):
                for bx in range(c["hs"]):
                    pat.append((ci, by, bx, c["vs"], c["hs"], c["bwf"]))
        nmcu = mcux * mcuy
    else:
        ci0 = scan_cis[0]
        bh, bw = ni_dims(comps[ci0], comps, h, w)
        pat = [(ci0, 0, 0, 1, 1, comps[ci0]["bwf"])]
        nmcu = bh * bw
    per_seg = restart_interval if restart_interval else nmcu
    fixed = _fixed_stats()
    seg_i = -1
    dec = dc_st = ac_st = None
    preds = ctxs = None
    in_seg = per_seg
    for m in range(nmcu):
        if in_seg == per_seg:
            seg_i += 1
            if seg_i >= len(segs):
                raise ValueError("entropy data exhausted at restart")
            dec = ArithDecoder(bytes(segs[seg_i]))
            dc_st, ac_st = _scan_tables(comps, scan_cis)
            preds = [0] * len(comps)
            ctxs = [0] * len(comps)
            in_seg = 0
        in_seg += 1
        if interleaved:
            my, mx = divmod(m, mcux)
        else:
            my, mx = divmod(m, bw)
        for ci, by, bx, vs, hs, bwf in pat:
            c = comps[ci]
            if interleaved:
                base = ((my * vs + by) * bwf + mx * hs + bx) * 64
            else:
                base = (my * comps[ci]["bwf"] + mx) * 64
            st = dc_st[c["td"]]
            diff, ctxs[ci] = _dc_decode(dec, st, ctxs[ci],
                                        dc_cond.get(c["td"], (0, 1)))
            preds[ci] += diff
            if preds[ci]:
                coefL[ci].append((base << 32) | (preds[ci] & 0xFFFFFFFF))
            ap = coefL[ci].append
            _ac_decode_block(
                dec, ac_st[c["ta"]], fixed, ac_cond.get(c["ta"], 5), 1, 63,
                lambda k, v, ap=ap, base=base:
                    ap(((base + k) << 32) | (v & 0xFFFFFFFF)))


def encode_scan_seq(comps, restart_interval, dc_cond, ac_cond) -> bytes:
    """Sequential arithmetic scan emitter — mirror of decode_scan_seq;
    returns the stuffed entropy bytes with RSTn markers interleaved."""
    pat = []
    for ci, c in enumerate(comps):
        for by in range(c["vs"]):
            for bx in range(c["hs"]):
                pat.append((ci, by, bx))
    mcuy = comps[0]["coef"].shape[0] // comps[0]["vs"]
    mcux = comps[0]["coef"].shape[1] // comps[0]["hs"]
    fixed = _fixed_stats()
    out = bytearray()
    enc = dc_st = ac_st = None
    preds = ctxs = None
    mcu = rst = 0
    scan_cis = list(range(len(comps)))
    for ci, c in enumerate(comps):
        c["td"] = c["ta"] = 0 if ci == 0 else 1
    for my in range(mcuy):
        for mx in range(mcux):
            if enc is None or (restart_interval and mcu
                               and mcu % restart_interval == 0):
                if enc is not None:
                    out += enc.flush()
                    out += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) & 7
                enc = ArithEncoder()
                dc_st, ac_st = _scan_tables(comps, scan_cis)
                preds = [0] * len(comps)
                ctxs = [0] * len(comps)
            for ci, by, bx in pat:
                c = comps[ci]
                zz = c["coef"][my * c["vs"] + by, mx * c["hs"] + bx].tolist()
                ctxs[ci] = _dc_encode(enc, dc_st[c["td"]], ctxs[ci],
                                      dc_cond.get(c["td"], (0, 1)),
                                      zz[0] - preds[ci])
                preds[ci] = zz[0]
                _ac_encode_block(enc, ac_st[c["ta"]], fixed,
                                 ac_cond.get(c["ta"], 5), zz, 1, 63)
            mcu += 1
    out += enc.flush()
    return bytes(out)


# ------------------------------------------------- progressive (SOF10)

def decode_scan_dc_first(segs, comps, scan_cis, dc_cond, ac_cond,
                         restart_interval, mcux, mcuy, coefL, al,
                         h, w, ni_dims) -> None:
    interleaved = len(scan_cis) > 1
    if interleaved:
        pat = []
        for ci in scan_cis:
            c = comps[ci]
            for by in range(c["vs"]):
                for bx in range(c["hs"]):
                    pat.append((ci, by, bx, c["vs"], c["hs"], c["bwf"]))
        nmcu = mcux * mcuy
    else:
        ci0 = scan_cis[0]
        bh, bw = ni_dims(comps[ci0], comps, h, w)
        pat = [(ci0, 0, 0, 1, 1, comps[ci0]["bwf"])]
        nmcu = bh * bw
    per_seg = restart_interval if restart_interval else nmcu
    seg_i = -1
    dec = dc_st = None
    preds = ctxs = None
    in_seg = per_seg
    for m in range(nmcu):
        if in_seg == per_seg:
            seg_i += 1
            dec = ArithDecoder(bytes(segs[seg_i]))
            dc_st, _ = _scan_tables(comps, scan_cis)
            preds = [0] * len(comps)
            ctxs = [0] * len(comps)
            in_seg = 0
        in_seg += 1
        if interleaved:
            my, mx = divmod(m, mcux)
        else:
            my, mx = divmod(m, bw)
        for ci, by, bx, vs, hs, bwf in pat:
            c = comps[ci]
            if interleaved:
                base = ((my * vs + by) * bwf + mx * hs + bx) * 64
            else:
                base = (my * comps[ci]["bwf"] + mx) * 64
            diff, ctxs[ci] = _dc_decode(dec, dc_st[c["td"]], ctxs[ci],
                                        dc_cond.get(c["td"], (0, 1)))
            preds[ci] += diff
            coefL[ci][base] = preds[ci] << al


def decode_scan_dc_refine(segs, comps, scan_cis, restart_interval,
                          mcux, mcuy, coefL, al, h, w, ni_dims) -> None:
    """DC successive-approximation refinement: one fixed-probability
    bit per block (T.81 G.2.1)."""
    interleaved = len(scan_cis) > 1
    if interleaved:
        pat = []
        for ci in scan_cis:
            c = comps[ci]
            for by in range(c["vs"]):
                for bx in range(c["hs"]):
                    pat.append((ci, by, bx, c["vs"], c["hs"], c["bwf"]))
        nmcu = mcux * mcuy
    else:
        ci0 = scan_cis[0]
        bh, bw = ni_dims(comps[ci0], comps, h, w)
        pat = [(ci0, 0, 0, 1, 1, comps[ci0]["bwf"])]
        nmcu = bh * bw
    per_seg = restart_interval if restart_interval else nmcu
    fixed = _fixed_stats()
    p1 = 1 << al
    seg_i = -1
    dec = None
    in_seg = per_seg
    for m in range(nmcu):
        if in_seg == per_seg:
            seg_i += 1
            dec = ArithDecoder(bytes(segs[seg_i]))
            fixed = _fixed_stats()
            in_seg = 0
        in_seg += 1
        if interleaved:
            my, mx = divmod(m, mcux)
        else:
            my, mx = divmod(m, bw)
        for ci, by, bx, vs, hs, bwf in pat:
            if interleaved:
                base = ((my * vs + by) * bwf + mx * hs + bx) * 64
            else:
                base = (my * comps[ci]["bwf"] + mx) * 64
            if dec.decode(fixed, 0):
                coefL[ci][base] |= p1


def decode_scan_ac_first(segs, comps, ci, ac_cond, restart_interval,
                         coefL, ss, se, al, h, w, ni_dims) -> None:
    c = comps[ci]
    bh, bw = ni_dims(c, comps, h, w)
    nblk = bh * bw
    per_seg = restart_interval if restart_interval else nblk
    kx = ac_cond.get(c["ta"], 5)
    col = coefL[ci]
    fixed = _fixed_stats()
    seg_i = -1
    dec = ac_st = None
    in_seg = per_seg
    for b in range(nblk):
        if in_seg == per_seg:
            seg_i += 1
            dec = ArithDecoder(bytes(segs[seg_i]))
            _, ac_sts = _scan_tables(comps, [ci])
            ac_st = ac_sts[c["ta"]]
            fixed = _fixed_stats()
            in_seg = 0
        in_seg += 1
        my, mx = divmod(b, bw)
        base = (my * c["bwf"] + mx) * 64
        _ac_decode_block(dec, ac_st, fixed, kx, ss, se,
                         lambda k, v, base=base: col.__setitem__(
                             base + k, v << al))


def decode_scan_ac_refine(segs, comps, ci, ac_cond, restart_interval,
                          coefL, ss, se, al, h, w, ni_dims) -> None:
    """AC successive-approximation refinement (T.81 G.2.2 model, the
    standard correction-bit walk over previously-nonzero positions)."""
    c = comps[ci]
    bh, bw = ni_dims(c, comps, h, w)
    nblk = bh * bw
    per_seg = restart_interval if restart_interval else nblk
    col = coefL[ci]
    p1 = 1 << al
    m1 = -1 << al
    fixed = _fixed_stats()
    seg_i = -1
    dec = ac_st = None
    in_seg = per_seg
    for b in range(nblk):
        if in_seg == per_seg:
            seg_i += 1
            dec = ArithDecoder(bytes(segs[seg_i]))
            _, ac_sts = _scan_tables(comps, [ci])
            ac_st = ac_sts[c["ta"]]
            fixed = _fixed_stats()
            in_seg = 0
        in_seg += 1
        my, mx = divmod(b, bw)
        base = (my * c["bwf"] + mx) * 64
        kex = se
        while kex > 0 and col[base + kex] == 0:
            kex -= 1
        k = ss
        while k <= se:
            st3 = 3 * (k - 1)
            if k > kex and dec.decode(ac_st, st3):
                break
            while True:
                cur = col[base + k]
                if cur:
                    if dec.decode(ac_st, st3 + 2):
                        col[base + k] = cur + (m1 if cur < 0 else p1)
                    break
                if dec.decode(ac_st, st3 + 1):
                    col[base + k] = m1 if dec.decode(fixed, 0) else p1
                    break
                st3 += 3
                k += 1
                if k > se:
                    raise ValueError("arith AC refine ran past Se")
            k += 1
