"""From-scratch GeoTIFF codec — pure numpy/stdlib, no GDAL wheel.

The reference reads every raster through GDAL's GeoTIFF driver
(/root/reference/gistools/raster.py:158-165 gdal.Open → ReadAsArray,
raster.py:99-141 windowed reads); this module closes that surface for
the engine's raster-tile model (image_id, bytes, w, h, fmt, gt_*):
``decode`` returns the pixel array plus the georeferencing parsed from
the GeoTIFF tags, ``encode`` writes a classic little-endian GeoTIFF any
conformant reader (GDAL, libtiff, QGIS) opens.

Reader — classic TIFF, II and MM byte orders:
  * striped and tiled layouts, chunky (PlanarConfig=1) AND separate-
    plane (PlanarConfig=2) samples
  * compressions: none (1), LZW (5, TIFF flavor with early change),
    JPEG (7 — abbreviated per-chunk streams + the shared JPEGTables
    tag, YCbCr photometric, through the from-scratch codec in
    raster/jpeg.py; the aerial-imagery layout), deflate (8 and the
    legacy 32946), PackBits (32773)
  * predictors: none (1), horizontal differencing (2), floating-point
    byte-split differencing (3)
  * dtypes: uint8/16/32, int8/16/32, float32/64 via
    BitsPerSample x SampleFormat
  * geo: ModelPixelScale+ModelTiepoint or ModelTransformation →
    GDAL-style (x0, rx, 0, y0, 0, -ry); GeoKeyDirectory → EPSG
    (GeographicType 2048 / ProjectedCSType 3072); GDAL_NODATA
  * BigTIFF (43-magic, 8-byte offsets, LONG8/SLONG8/IFD8) — the
    layout 100 TB-era rasters actually ship — both read and written
    (encode(bigtiff=True)); old-style JPEG (6) and raw subsampled
    YCbCr raise NotImplementedError — honest limits, never a garbage
    parse.
  * COG surface: multi-IFD overview pyramids (``overviews``,
    ``decode(ifd=n)``), windowed reads that decompress ONLY the
    intersecting tiles/strips (``decode_window`` — proven by the
    corrupt-other-tiles test), and geo-window reads with automatic
    overview-level selection under a pixel budget (``decode_bbox``)
    — the reference's GDAL windowed read (raster.py:99-141) and .ovr
    use, re-expressed for a 100 TB tile table where whole-raster
    decode is never acceptable.

Writer — classic little-endian strips (``encode``: none or deflate,
1- or 3-sample, all reader dtypes, ModelPixelScale/Tiepoint +
GeoKeyDirectory (geographic or projected EPSG) + GDAL_NODATA), and a
COG-style writer (``encode_cog``): tiled layout, reduced-resolution
overview IFD chain (2×2 mean pooling), deflate or per-tile baseline
JPEG (YCbCr + YCbCrSubSampling, edge-replicated padding).

Conformance is tested both directions against the system libtiff via
ctypes (tests/test_geotiff.py): libtiff reads this writer's files
pixel-exactly, and this reader reads libtiff-written files.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# TIFF tag ids
_T_SUBFILE = 254
_T_WIDTH, _T_LENGTH, _T_BPS, _T_COMP, _T_PHOTO = 256, 257, 258, 259, 262
_T_JPEGTABLES, _T_YCBCRSUB = 347, 530
_T_STRIP_OFF, _T_SPP, _T_RPS, _T_STRIP_CNT = 273, 277, 278, 279
_T_PLANAR, _T_PREDICTOR, _T_SFMT = 284, 317, 339
_T_TILE_W, _T_TILE_L, _T_TILE_OFF, _T_TILE_CNT = 322, 323, 324, 325
_T_PIXSCALE, _T_TIEPOINT, _T_TRANSFORM = 33550, 33922, 34264
_T_GEOKEYS = 34735
_T_GDAL_NODATA = 42113

_TYPE_FMT = {1: "B", 2: "s", 3: "H", 4: "I", 5: "II", 6: "b", 7: "B",
             8: "h", 9: "i", 10: "ii", 11: "f", 12: "d",
             16: "Q", 17: "q", 18: "Q"}
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
              10: 8, 11: 4, 12: 8, 16: 8, 17: 8, 18: 8}


def _sniff(buf: bytes):
    """TIFF header → (byte order, is_bigtiff). Classic 42 and BigTIFF
    43 headers (BigTIFF: 8-byte offsets, 20-byte IFD entries)."""
    if buf[:4] == b"II*\0":
        return "<", False
    if buf[:4] == b"MM\0*":
        return ">", False
    if buf[:2] == b"II" and buf[2:4] == b"+\0":
        bo = "<"
    elif buf[:2] == b"MM" and buf[2:4] == b"\0+":
        bo = ">"
    else:
        raise ValueError("not a TIFF file")
    if struct.unpack(bo + "HH", buf[4:8]) != (8, 0):
        raise ValueError("malformed BigTIFF header")
    return bo, True


def _read_ifd_at(buf: bytes, bo: str, big: bool, off: int):
    """IFD at ``off`` → ({tag: tuple(values)}, next_ifd_offset).
    Rationals come back as float. Handles classic (12-byte entries,
    4-byte offsets) and BigTIFF (20-byte entries, 8-byte offsets,
    LONG8/SLONG8/IFD8 types)."""
    if big:
        if off + 8 > len(buf):
            raise ValueError("truncated TIFF (no IFD)")
        n = struct.unpack(bo + "Q", buf[off:off + 8])[0]
        ent0, esz, inline = off + 8, 20, 8
    else:
        if off + 2 > len(buf):
            raise ValueError("truncated TIFF (no IFD)")
        n = struct.unpack(bo + "H", buf[off:off + 2])[0]
        ent0, esz, inline = off + 2, 12, 4
    if ent0 + esz * n > len(buf):
        raise ValueError("truncated TIFF (IFD overruns buffer)")
    tags: dict[int, tuple] = {}
    for i in range(n):
        e = ent0 + esz * i
        if big:
            tag, typ, cnt = struct.unpack(bo + "HHQ", buf[e:e + 12])
        else:
            tag, typ, cnt = struct.unpack(bo + "HHI", buf[e:e + 8])
        if typ not in _TYPE_SIZE:
            continue
        size = _TYPE_SIZE[typ] * cnt
        vpos = e + (12 if big else 8)
        voff = vpos if size <= inline else struct.unpack(
            bo + ("Q" if big else "I"), buf[vpos:vpos + inline])[0]
        raw = buf[voff:voff + size]
        if len(raw) < size:
            raise ValueError(f"truncated TIFF tag {tag}")
        if typ == 2:
            tags[tag] = (raw.split(b"\0")[0].decode("latin1"),)
        elif typ in (5, 10):
            pairs = struct.unpack(bo + "%d%s" % (2 * cnt,
                                                 _TYPE_FMT[typ][0]), raw)
            tags[tag] = tuple(pairs[2 * k] / (pairs[2 * k + 1] or 1)
                              for k in range(cnt))
        else:
            tags[tag] = struct.unpack(bo + "%d%s" % (cnt, _TYPE_FMT[typ]),
                                      raw)
    npos = ent0 + esz * n
    nsz = 8 if big else 4
    nxt = 0
    if npos + nsz <= len(buf):
        nxt = struct.unpack(bo + ("Q" if big else "I"),
                            buf[npos:npos + nsz])[0]
    return tags, nxt


def _read_ifd(buf: bytes, bo: str, big: bool = False):
    """First IFD → {tag: tuple(values)} (compat wrapper)."""
    off = struct.unpack(bo + "Q", buf[8:16])[0] if big else \
        struct.unpack(bo + "I", buf[4:8])[0]
    return _read_ifd_at(buf, bo, big, off)[0]


def _read_ifds(buf: bytes, bo: str, big: bool, limit: int = 64):
    """All IFDs in file order (IFD 0 = full resolution; later IFDs are
    the reduced-resolution overview pyramid in a COG). ``limit`` guards
    against offset cycles in corrupt files."""
    off = struct.unpack(bo + "Q", buf[8:16])[0] if big else \
        struct.unpack(bo + "I", buf[4:8])[0]
    out = []
    seen = set()
    while off and off not in seen and len(out) < limit:
        seen.add(off)
        tags, off = _read_ifd_at(buf, bo, big, off)
        out.append(tags)
    return out


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-flavor LZW: MSB-first codes, CLEAR=256, EOI=257, code width
    grows at 510/1022/2046 (early change)."""
    out = bytearray()
    table: list[bytes] = []

    def reset():
        table.clear()
        table.extend(bytes([i]) for i in range(256))
        table.extend((b"", b""))

    reset()
    width = 9
    acc = nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                reset()
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt LZW stream")
            out += entry
            prev = entry
            if len(table) >= (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        i += 1
        if n < 128:
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            out += data[i:i + 1] * (257 - n)
            i += 1
    return bytes(out)


def _undo_predictor(raw: np.ndarray, predictor: int, rows: int, cols: int,
                    spp: int, dtype: np.dtype, bo: str) -> np.ndarray:
    """raw uint8 bytes of one chunk → (rows, cols, spp) array."""
    itemsize = dtype.itemsize
    if predictor == 3:
        # floating-point predictor: per row, undo byte differencing then
        # de-interleave the byte planes (MSB plane first)
        b = raw.reshape(rows, cols * spp * itemsize)
        b = np.cumsum(b.astype(np.uint16), axis=1).astype(np.uint8)
        planes = b.reshape(rows, itemsize, cols * spp)
        be = np.ascontiguousarray(planes.transpose(0, 2, 1))
        arr = np.frombuffer(be.tobytes(),
                            dtype=np.dtype(dtype).newbyteorder(">"))
        return arr.reshape(rows, cols, spp).astype(dtype)
    arr = np.frombuffer(raw.tobytes(),
                        dtype=np.dtype(dtype).newbyteorder(
                            "<" if bo == "<" else ">"))
    arr = arr.reshape(rows, cols, spp).astype(dtype)
    if predictor == 2:
        if dtype.kind == "f":
            raise ValueError("predictor 2 on float samples")
        arr = np.cumsum(arr.astype(np.int64), axis=1)
        arr = arr.astype(dtype)
    return arr


def _dtype_of(bps: int, sfmt: int) -> np.dtype:
    kind = {1: "u", 2: "i", 3: "f"}.get(sfmt)
    if kind is None:
        raise NotImplementedError(f"SampleFormat {sfmt}")
    try:
        return np.dtype(f"{kind}{bps // 8}")
    except TypeError:
        raise NotImplementedError(f"{bps}-bit SampleFormat {sfmt}")


def read_info(buf: bytes) -> dict:
    """Header-only parse: {w, h, spp, dtype, gt_x0, gt_rx, gt_y0, gt_ry,
    epsg, nodata} without touching (or decompressing) a single pixel —
    the ingest path of a 100 TB tile table reads tags, not rasters."""
    buf = bytes(buf)
    bo, big = _sniff(buf)
    t = _read_ifd(buf, bo, big)
    bps = int(t.get(_T_BPS, (1,))[0])
    sfmt = int(t.get(_T_SFMT, (1,))[0])
    info = {"w": int(t[_T_WIDTH][0]), "h": int(t[_T_LENGTH][0]),
            "spp": int(t.get(_T_SPP, (1,))[0]),
            "dtype": str(_dtype_of(bps, sfmt)),
            "gt_x0": None, "gt_rx": None, "gt_y0": None, "gt_ry": None,
            "epsg": None, "nodata": None}
    _geo_info(t, info)
    return info


def _geo_info(t: dict, info: dict) -> None:
    if _T_TRANSFORM in t:
        m = t[_T_TRANSFORM]
        info.update(gt_x0=m[3], gt_rx=m[0], gt_y0=m[7], gt_ry=-m[5])
    elif _T_PIXSCALE in t and _T_TIEPOINT in t:
        sx, sy = t[_T_PIXSCALE][0], t[_T_PIXSCALE][1]
        i, j, _k, x, y = t[_T_TIEPOINT][:5]
        info.update(gt_x0=x - i * sx, gt_rx=sx, gt_y0=y + j * sy, gt_ry=sy)
    if _T_GEOKEYS in t:
        keys = t[_T_GEOKEYS]
        for k in range(4, len(keys), 4):
            kid, loc, _cnt, val = keys[k:k + 4]
            if kid in (2048, 3072) and loc == 0 and val not in (0, 32767):
                info["epsg"] = int(val)
    if _T_GDAL_NODATA in t:
        try:
            info["nodata"] = float(t[_T_GDAL_NODATA][0])
        except ValueError:
            pass


def _merge_jpegtables(tables: bytes | None, stream: bytes) -> bytes:
    """TIFF-EP abbreviated JPEG: the shared JPEGTables blob is a full
    SOI..EOI stream holding DQT/DHT segments; each tile/strip stream
    starts at its own SOI. Splice the table segments in right after the
    tile's SOI so the baseline decoder sees one self-contained JFIF."""
    if not tables or len(tables) < 4:
        return stream
    body = tables
    if body[:2] == b"\xff\xd8":
        body = body[2:]
    if body[-2:] == b"\xff\xd9":
        body = body[:-2]
    if stream[:2] != b"\xff\xd8":
        raise ValueError("TIFF JPEG chunk does not start with SOI")
    return stream[:2] + body + stream[2:]


def _decode_ifd(buf: bytes, bo: str, t: dict, window=None) -> np.ndarray:
    """One IFD's pixels → (rows, cols, spp) array, decompressing ONLY
    the tiles/strips that intersect ``window`` (row0, col0, nrows,
    ncols; None = full frame). This is the COG scan contract: an AOI
    read over a 100 TB mosaic touches the tile table plus the
    intersecting tile bytes, never the whole raster (reference windowed
    read: raster.py:99-141 gdal ReadAsArray(xoff, yoff, xsize, ysize))."""
    w = int(t[_T_WIDTH][0])
    h = int(t[_T_LENGTH][0])
    spp = int(t.get(_T_SPP, (1,))[0])
    bps = int(t.get(_T_BPS, (1,))[0])
    if any(b != bps for b in t.get(_T_BPS, (bps,))):
        raise NotImplementedError("mixed BitsPerSample")
    sfmt = int(t.get(_T_SFMT, (1,))[0])
    comp = int(t.get(_T_COMP, (1,))[0])
    planar = int(t.get(_T_PLANAR, (1,))[0])
    predictor = int(t.get(_T_PREDICTOR, (1,))[0])
    photo = int(t.get(_T_PHOTO, (1,))[0])
    if comp == 6:
        raise NotImplementedError("old-style TIFF JPEG (compression 6)")
    if photo == 6 and comp != 7:
        raise NotImplementedError("raw subsampled YCbCr TIFF")
    if comp == 7 and photo not in (1, 6):
        raise NotImplementedError(f"JPEG TIFF with photometric {photo}")
    if comp == 7 and planar != 1:
        raise NotImplementedError("planar JPEG TIFF")
    if bps < 8:
        raise NotImplementedError(f"{bps}-bit samples")
    dtype = _dtype_of(bps, sfmt)
    jpt = bytes(t[_T_JPEGTABLES]) if _T_JPEGTABLES in t else None

    if window is None:
        row0, col0, nrows, ncols = 0, 0, h, w
    else:
        row0, col0, nrows, ncols = window
        row0 = max(0, int(row0))
        col0 = max(0, int(col0))
        nrows = min(int(nrows), h - row0)
        ncols = min(int(ncols), w - col0)
        if nrows <= 0 or ncols <= 0:
            raise ValueError("window does not intersect the raster")

    def _chunk(raw: bytes) -> bytes:
        if comp == 1:
            return raw
        if comp in (8, 32946):
            return zlib.decompress(raw)
        if comp == 5:
            return _lzw_decode(raw)
        if comp == 32773:
            return _packbits_decode(raw)
        raise NotImplementedError(f"TIFF compression {comp}")

    def _pixels(raw: bytes, rows: int, cols: int, cs: int) -> np.ndarray:
        """One chunk's bytes → (rows, cols, cs) array."""
        if comp == 7:
            from . import jpeg
            a = jpeg.decode(_merge_jpegtables(jpt, raw))
            if a.ndim == 2:
                a = a[:, :, None]
            if a.shape[0] < rows or a.shape[1] < cols:
                raise ValueError("JPEG chunk smaller than its pixel span")
            return a[:rows, :cols].astype(dtype)
        data = np.frombuffer(_chunk(raw), dtype=np.uint8)
        need = rows * cols * cs * dtype.itemsize
        if len(data) < need:
            data = np.concatenate([data,
                                   np.zeros(need - len(data), np.uint8)])
        return _undo_predictor(data[:need], predictor, rows, cols, cs,
                               dtype, bo)

    nplanes = spp if planar == 2 else 1
    cs = 1 if planar == 2 else spp          # samples per chunk
    out = np.zeros((nrows, ncols, spp), dtype=dtype)

    if _T_TILE_OFF in t:
        tw = int(t[_T_TILE_W][0])
        tl = int(t[_T_TILE_L][0])
        offs, cnts = t[_T_TILE_OFF], t[_T_TILE_CNT]
        ntx = -(-w // tw)
        nty = -(-h // tl)
        if len(offs) < ntx * nty * nplanes:
            raise ValueError("tile table shorter than grid")
        ty0, ty1 = row0 // tl, (row0 + nrows - 1) // tl
        tx0, tx1 = col0 // tw, (col0 + ncols - 1) // tw
        for p in range(nplanes):
            for ty in range(ty0, ty1 + 1):
                for tx in range(tx0, tx1 + 1):
                    i = p * ntx * nty + ty * ntx + tx
                    # full tile rows/cols; JPEG tiles are always
                    # encoded at the padded tile size
                    a = _pixels(buf[offs[i]:offs[i] + cnts[i]], tl, tw, cs)
                    # tile pixel box ∩ window, in window coordinates
                    r0 = max(row0, ty * tl)
                    r1 = min(row0 + nrows, ty * tl + tl)
                    c0 = max(col0, tx * tw)
                    c1 = min(col0 + ncols, tx * tw + tw)
                    sub = a[r0 - ty * tl:r1 - ty * tl,
                            c0 - tx * tw:c1 - tx * tw]
                    if planar == 2:
                        out[r0 - row0:r1 - row0,
                            c0 - col0:c1 - col0, p] = sub[:, :, 0]
                    else:
                        out[r0 - row0:r1 - row0,
                            c0 - col0:c1 - col0] = sub
    else:
        rps = int(t.get(_T_RPS, (h,))[0]) or h
        offs, cnts = t[_T_STRIP_OFF], t[_T_STRIP_CNT]
        spb = -(-h // rps)                  # strips per plane
        if len(offs) < spb * nplanes:
            raise ValueError("strip table shorter than the image")
        s0, s1 = row0 // rps, (row0 + nrows - 1) // rps
        for p in range(nplanes):
            for si in range(s0, s1 + 1):
                rows = min(rps, h - si * rps)
                i = p * spb + si
                a = _pixels(buf[offs[i]:offs[i] + cnts[i]], rows, w, cs)
                r0 = max(row0, si * rps)
                r1 = min(row0 + nrows, si * rps + rows)
                sub = a[r0 - si * rps:r1 - si * rps, col0:col0 + ncols]
                if planar == 2:
                    out[r0 - row0:r1 - row0, :, p] = sub[:, :, 0]
                else:
                    out[r0 - row0:r1 - row0, :] = sub
    return out[:, :, 0] if spp == 1 else out


def _ifd_info(ifds: list, n: int) -> dict:
    """Georeferencing of IFD ``n``: its own geo tags when present, else
    IFD 0's transform scaled by the resolution ratio (COG overviews
    conventionally carry no geo tags — same origin, coarser pixels)."""
    info = {"gt_x0": None, "gt_rx": None, "gt_y0": None, "gt_ry": None,
            "epsg": None, "nodata": None}
    _geo_info(ifds[n], info)
    if info["gt_x0"] is None and n > 0:
        base = {"gt_x0": None, "gt_rx": None, "gt_y0": None,
                "gt_ry": None, "epsg": None, "nodata": None}
        _geo_info(ifds[0], base)
        if base["gt_x0"] is not None:
            fx = int(ifds[0][_T_WIDTH][0]) / int(ifds[n][_T_WIDTH][0])
            fy = int(ifds[0][_T_LENGTH][0]) / int(ifds[n][_T_LENGTH][0])
            info.update(gt_x0=base["gt_x0"], gt_y0=base["gt_y0"],
                        gt_rx=base["gt_rx"] * fx,
                        gt_ry=base["gt_ry"] * fy,
                        epsg=base["epsg"], nodata=base["nodata"])
        else:
            info.update(epsg=base["epsg"], nodata=base["nodata"])
    return info


def decode(buf: bytes, ifd: int = 0):
    """GeoTIFF bytes → (array, info) where array is (h, w) or (h, w, spp)
    and info = {gt_x0, gt_rx, gt_y0, gt_ry, epsg, nodata} (None where
    the file carries no such tag). ``ifd`` selects an overview level
    (0 = full resolution; COG pyramids store each level as one IFD)."""
    buf = bytes(buf)
    bo, big = _sniff(buf)
    ifds = _read_ifds(buf, bo, big)
    if ifd >= len(ifds):
        raise ValueError(f"IFD {ifd} out of range ({len(ifds)} present)")
    arr = _decode_ifd(buf, bo, ifds[ifd])
    return arr, _ifd_info(ifds, ifd)


def decode_window(buf: bytes, row0: int, col0: int, nrows: int,
                  ncols: int, ifd: int = 0):
    """AOI read: decode ONLY the tiles/strips intersecting the pixel
    window — the 100 TB scan path (a zonal query over one district of a
    continental mosaic decompresses that district, nothing else).
    Returns (array, info) with the geotransform shifted to the window
    origin, so downstream raster operators see a self-consistent tile."""
    buf = bytes(buf)
    bo, big = _sniff(buf)
    ifds = _read_ifds(buf, bo, big)
    if ifd >= len(ifds):
        raise ValueError(f"IFD {ifd} out of range ({len(ifds)} present)")
    t = ifds[ifd]
    h = int(t[_T_LENGTH][0])
    w = int(t[_T_WIDTH][0])
    row0 = max(0, int(row0))
    col0 = max(0, int(col0))
    nrows = min(int(nrows), h - row0)
    ncols = min(int(ncols), w - col0)
    arr = _decode_ifd(buf, bo, t, window=(row0, col0, nrows, ncols))
    info = _ifd_info(ifds, ifd)
    if info["gt_x0"] is not None:
        info["gt_x0"] = info["gt_x0"] + col0 * info["gt_rx"]
        info["gt_y0"] = info["gt_y0"] - row0 * info["gt_ry"]
    return arr, info


def overviews(buf: bytes) -> list[dict]:
    """Pyramid inventory without touching pixel data: one row per IFD
    with {ifd, w, h, tile_w, tile_l, comp, spp, dtype, reduced} — what
    a planner reads to pick the cheapest level for a target resolution."""
    buf = bytes(buf)
    bo, big = _sniff(buf)
    out = []
    for n, t in enumerate(_read_ifds(buf, bo, big)):
        bps = int(t.get(_T_BPS, (8,))[0])
        sfmt = int(t.get(_T_SFMT, (1,))[0])
        out.append({
            "ifd": n,
            "w": int(t[_T_WIDTH][0]),
            "h": int(t[_T_LENGTH][0]),
            "tile_w": int(t[_T_TILE_W][0]) if _T_TILE_W in t else None,
            "tile_l": int(t[_T_TILE_L][0]) if _T_TILE_L in t else None,
            "comp": int(t.get(_T_COMP, (1,))[0]),
            "spp": int(t.get(_T_SPP, (1,))[0]),
            "dtype": str(_dtype_of(bps, sfmt)),
            "reduced": bool(int(t.get(_T_SUBFILE, (0,))[0]) & 1),
        })
    return out


def decode_bbox(buf: bytes, bbox: tuple, max_px: int | None = None):
    """Geo-window read with overview selection: map ``bbox`` =
    (xmin, ymin, xmax, ymax) in the raster's CRS to a pixel window and
    decode it from the FINEST pyramid level whose window stays within
    ``max_px`` pixels (None = always full resolution) — the planner
    rule a tile server / zonal sampler uses so a continent-scale
    request reads a coarse overview while a city-scale request reads
    native pixels, both touching only intersecting tiles."""
    buf = bytes(buf)
    bo, big = _sniff(buf)
    ifds = _read_ifds(buf, bo, big)
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    chosen = None
    for n in range(len(ifds)):
        info = _ifd_info(ifds, n)
        if info["gt_x0"] is None:
            continue
        w = int(ifds[n][_T_WIDTH][0])
        h = int(ifds[n][_T_LENGTH][0])
        # snapped floor/ceil: a bbox edge that lands ON a pixel
        # boundary (the common aligned-AOI case) must not leak one
        # extra row/col to float rounding
        c0 = int(np.floor((xmin - info["gt_x0"]) / info["gt_rx"] + 1e-9))
        c1 = int(np.ceil((xmax - info["gt_x0"]) / info["gt_rx"] - 1e-9))
        r0 = int(np.floor((info["gt_y0"] - ymax) / info["gt_ry"] + 1e-9))
        r1 = int(np.ceil((info["gt_y0"] - ymin) / info["gt_ry"] - 1e-9))
        c0, r0 = max(0, c0), max(0, r0)
        c1, r1 = min(w, c1), min(h, r1)
        if c1 <= c0 or r1 <= r0:
            raise ValueError("bbox does not intersect the raster")
        win = (r0, c0, r1 - r0, c1 - c0)
        chosen = (n, win)              # coarsest-so-far as the fallback
        if max_px is None or (r1 - r0) * (c1 - c0) <= max_px:
            break                      # finest level within budget
    if chosen is None:
        raise ValueError("raster carries no geotransform")
    n, (r0, c0, nr, nc) = chosen
    arr, info = decode_window(buf, r0, c0, nr, nc, ifd=n)
    info["ifd"] = n
    return arr, info


# ------------------------------------------------------------------ encode

def _entry(tag: int, typ: int, values, heap: bytearray, heap_base: int):
    fmt = _TYPE_FMT[typ]
    if typ == 2:
        raw = values.encode("latin1") + b"\0"
        cnt = len(raw)
    else:
        cnt = len(values)
        raw = struct.pack("<%d%s" % (cnt, fmt), *values)
    if len(raw) <= 4:
        return struct.pack("<HHI", tag, typ, cnt) + raw.ljust(4, b"\0")
    off = heap_base + len(heap)
    heap.extend(raw)
    if len(heap) & 1:
        heap.append(0)
    return struct.pack("<HHII", tag, typ, cnt, off)


def _entry_big(tag: int, typ: int, values, heap: bytearray,
               heap_base: int):
    """BigTIFF 20-byte IFD entry (8-byte count + inline value)."""
    fmt = _TYPE_FMT[typ]
    if typ == 2:
        raw = values.encode("latin1") + b"\0"
        cnt = len(raw)
    else:
        cnt = len(values)
        raw = struct.pack("<%d%s" % (cnt, fmt), *values)
    if len(raw) <= 8:
        return struct.pack("<HHQ", tag, typ, cnt) + raw.ljust(8, b"\0")
    off = heap_base + len(heap)
    heap.extend(raw)
    if len(heap) & 1:
        heap.append(0)
    return struct.pack("<HHQQ", tag, typ, cnt, off)


def encode(arr: np.ndarray, gt: tuple | None = None,
           epsg: int | None = None, nodata: float | None = None,
           compression: str = "deflate", bigtiff: bool = False) -> bytes:
    """(h,w) or (h,w,spp) array → little-endian GeoTIFF (classic, or
    BigTIFF with ``bigtiff=True`` — 8-byte offsets, LONG8 strip
    tables; the container huge mosaics need).

    gt is the engine's (gt_x0, gt_rx, gt_y0, gt_ry) — north-up GDAL
    transform; epsg 4326-style geographic codes land in GeographicType,
    others in ProjectedCSType."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3:
        raise ValueError(f"unsupported shape {arr.shape}")
    h, w, spp = arr.shape
    dtype = arr.dtype
    if dtype.kind not in "uif" or dtype.itemsize not in (1, 2, 4, 8):
        raise ValueError(f"unsupported dtype {dtype}")
    sfmt = {"u": 1, "i": 2, "f": 3}[dtype.kind]
    arr = np.ascontiguousarray(arr.astype(dtype.newbyteorder("<")))

    # strips of ~256 KB (whole rows)
    rps = max(1, min(h, (256 << 10) // max(1, w * spp * dtype.itemsize)))
    strips = []
    for r0 in range(0, h, rps):
        raw = arr[r0:r0 + rps].tobytes()
        strips.append(zlib.compress(raw, 6)
                      if compression == "deflate" else raw)
    comp = 8 if compression == "deflate" else 1

    if bigtiff:
        header = b"II+\0" + struct.pack("<HH", 8, 0) + struct.pack("<Q", 16)
    else:
        header = b"II*\0" + struct.pack("<I", 8)
    off_typ = 16 if bigtiff else 4
    # lay out: header | IFD | heap | strip data
    tags = [
        (_T_WIDTH, 3, (w,)), (_T_LENGTH, 3, (h,)),
        (_T_BPS, 3, (dtype.itemsize * 8,) * spp),
        (_T_COMP, 3, (comp,)),
        (_T_PHOTO, 3, (2 if spp >= 3 else 1,)),
        (_T_STRIP_OFF, off_typ, [0] * len(strips)),   # patched below
        (_T_SPP, 3, (spp,)), (_T_RPS, 3, (rps,)),
        (_T_STRIP_CNT, off_typ, [len(s) for s in strips]),
        (_T_PLANAR, 3, (1,)), (_T_SFMT, 3, (sfmt,) * spp),
    ]
    if gt is not None:
        x0, rx, y0, ry = gt
        tags.append((_T_PIXSCALE, 12, (float(rx), float(ry), 0.0)))
        tags.append((_T_TIEPOINT, 12,
                     (0.0, 0.0, 0.0, float(x0), float(y0), 0.0)))
    if epsg is not None:
        geographic = 4000 <= epsg < 5000
        keys = [1, 1, 0, 3,
                1024, 0, 1, (2 if geographic else 1),
                1025, 0, 1, 1]
        keys += ([2048, 0, 1, epsg] if geographic
                 else [3072, 0, 1, epsg])
        tags.append((_T_GEOKEYS, 3, keys))
    if nodata is not None:
        tags.append((_T_GDAL_NODATA, 2, repr(float(nodata))))
    tags.sort(key=lambda e: e[0])

    nifd = len(tags)
    if bigtiff:
        ifd_size = 8 + 20 * nifd + 8
        heap_base = 16 + ifd_size
    else:
        ifd_size = 2 + 12 * nifd + 4
        heap_base = 8 + ifd_size
    # strip offsets depend on the total heap size, which is fixed by the
    # entry COUNT/SIZES alone: write a zero placeholder first (same byte
    # size as the real array), then patch once data_base is known
    heap = bytearray()
    entries = []
    strip_entry_idx = None
    strip_heap_pos = None
    for i, (tag, typ, vals) in enumerate(tags):
        if tag == _T_STRIP_OFF:
            strip_entry_idx = i
            if len(strips) > 1:      # single offset fits inline
                strip_heap_pos = len(heap)
        entries.append((_entry_big if bigtiff else _entry)(
            tag, typ, vals, heap, heap_base))
    data_base = heap_base + len(heap)
    offs = []
    pos = data_base
    for s in strips:
        offs.append(pos)
        pos += len(s) + (len(s) & 1)
    osz = 8 if bigtiff else 4
    ofmt = "Q" if bigtiff else "I"
    if strip_heap_pos is None:
        if bigtiff:
            entries[strip_entry_idx] = struct.pack(
                "<HHQQ", _T_STRIP_OFF, off_typ, 1, offs[0])
        else:
            entries[strip_entry_idx] = struct.pack(
                "<HHII", _T_STRIP_OFF, off_typ, 1, offs[0])
    else:
        heap[strip_heap_pos:strip_heap_pos + osz * len(offs)] = \
            struct.pack("<%d%s" % (len(offs), ofmt), *offs)

    out = bytearray(header)
    out += struct.pack("<Q" if bigtiff else "<H", nifd)
    for e in entries:
        out += e
    out += struct.pack("<" + ofmt, 0)    # no next IFD
    out += heap
    for s in strips:
        out += s
        if len(s) & 1:
            out += b"\0"
    return bytes(out)


# ------------------------------------------------------- COG writer

def _downsample2(a: np.ndarray) -> np.ndarray:
    """One pyramid step: 2×2 mean pooling with edge clamp on odd dims
    (GDAL 'average' overview semantics). Integer dtypes round half-up
    so the rule has one closed form on every platform."""
    if a.shape[0] & 1:
        a = np.concatenate([a, a[-1:]], axis=0)
    if a.shape[1] & 1:
        a = np.concatenate([a, a[:, -1:]], axis=1)
    m = (a[0::2, 0::2].astype(np.float64) + a[1::2, 0::2]
         + a[0::2, 1::2] + a[1::2, 1::2]) / 4.0
    if a.dtype.kind in "ui":
        m = np.floor(m + 0.5)
    return m.astype(a.dtype)


def encode_cog(arr: np.ndarray, gt: tuple | None = None,
               epsg: int | None = None, nodata: float | None = None, *,
               tile: int = 256, compression: str = "deflate",
               quality: int = 90, subsampling: str = "420",
               min_overview: int = 256) -> bytes:
    """Cloud-Optimized-GeoTIFF-style writer: tiled layout + reduced-
    resolution overview pyramid, one IFD per level, so ``decode_window``
    / ``decode_bbox`` on the result touch only intersecting tiles at
    the right level. Classic little-endian TIFF.

    compression: 'deflate' (any dtype), 'none', or 'jpeg' (uint8, 1 or
    3 samples — each tile a self-contained baseline JFIF stream from
    the from-scratch codec in raster/jpeg.py; photometric 6/YCbCr with
    the matching YCbCrSubSampling tag, the aerial-imagery layout).
    Overviews halve until max(w, h) ≤ min_overview (2×2 mean pooling).
    """
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3:
        raise ValueError(f"unsupported shape {arr.shape}")
    if tile % 16:
        raise ValueError("tile size must be a multiple of 16")
    dtype = arr.dtype
    if dtype.kind not in "uif" or dtype.itemsize not in (1, 2, 4, 8):
        raise ValueError(f"unsupported dtype {dtype}")
    if compression == "jpeg":
        if dtype != np.uint8:
            raise ValueError("JPEG tiles require uint8 samples")
        if arr.shape[2] not in (1, 3):
            raise ValueError("JPEG tiles require 1 or 3 samples")
    elif compression not in ("deflate", "none"):
        raise ValueError(f"unsupported compression {compression!r}")
    sfmt = {"u": 1, "i": 2, "f": 3}[dtype.kind]

    levels = [np.ascontiguousarray(arr.astype(dtype.newbyteorder("<")))]
    while max(levels[-1].shape[0], levels[-1].shape[1]) > min_overview:
        levels.append(_downsample2(levels[-1]))

    def _tile_bytes(a: np.ndarray, r0: int, c0: int) -> bytes:
        """One padded full-size tile, compressed."""
        t = a[r0:r0 + tile, c0:c0 + tile]
        if t.shape[0] < tile or t.shape[1] < tile:
            if compression == "jpeg":
                # edge-replicate: zero padding would ring across the
                # block boundary into real pixels
                t = np.pad(t, ((0, tile - t.shape[0]),
                               (0, tile - t.shape[1]), (0, 0)), "edge")
            else:
                t = np.pad(t, ((0, tile - t.shape[0]),
                               (0, tile - t.shape[1]), (0, 0)))
        if compression == "jpeg":
            from . import jpeg
            img = t[:, :, 0] if t.shape[2] == 1 else t
            return jpeg.encode(img, quality, subsampling=subsampling
                               if t.shape[2] == 3 else "444")
        raw = np.ascontiguousarray(t).tobytes()
        return zlib.compress(raw, 6) if compression == "deflate" else raw

    out = bytearray(b"II*\0" + struct.pack("<I", 8))
    pos = 8
    for li, a in enumerate(levels):
        h, w, spp = a.shape
        tiles = [_tile_bytes(a, r0, c0)
                 for r0 in range(0, h, tile)
                 for c0 in range(0, w, tile)]
        if compression == "jpeg":
            comp = 7
            photo = 6 if spp == 3 else 1
        else:
            comp = 8 if compression == "deflate" else 1
            photo = 2 if spp >= 3 else 1
        tags = [
            (_T_WIDTH, 3, (w,)), (_T_LENGTH, 3, (h,)),
            (_T_BPS, 3, (dtype.itemsize * 8,) * spp),
            (_T_COMP, 3, (comp,)), (_T_PHOTO, 3, (photo,)),
            (_T_SPP, 3, (spp,)), (_T_PLANAR, 3, (1,)),
            (_T_SFMT, 3, (sfmt,) * spp),
            (_T_TILE_W, 3, (tile,)), (_T_TILE_L, 3, (tile,)),
            (_T_TILE_OFF, 4, [0] * len(tiles)),     # patched below
            (_T_TILE_CNT, 4, [len(s) for s in tiles]),
        ]
        if li > 0:
            tags.append((_T_SUBFILE, 4, (1,)))       # reduced-resolution
        if photo == 6:
            sub = 2 if subsampling == "420" else 1
            tags.append((_T_YCBCRSUB, 3, (sub, sub)))
        if li == 0:
            if gt is not None:
                x0, rx, y0, ry = gt
                tags.append((_T_PIXSCALE, 12, (float(rx), float(ry), 0.0)))
                tags.append((_T_TIEPOINT, 12,
                             (0.0, 0.0, 0.0, float(x0), float(y0), 0.0)))
            if epsg is not None:
                geographic = 4000 <= epsg < 5000
                keys = [1, 1, 0, 3,
                        1024, 0, 1, (2 if geographic else 1),
                        1025, 0, 1, 1]
                keys += ([2048, 0, 1, epsg] if geographic
                         else [3072, 0, 1, epsg])
                tags.append((_T_GEOKEYS, 3, keys))
            if nodata is not None:
                tags.append((_T_GDAL_NODATA, 2, repr(float(nodata))))
        tags.sort(key=lambda e: e[0])

        nifd = len(tags)
        ifd_size = 2 + 12 * nifd + 4
        heap_base = pos + ifd_size
        heap = bytearray()
        entries = []
        off_entry_idx = off_heap_pos = None
        for i, (tag, typ, vals) in enumerate(tags):
            if tag == _T_TILE_OFF:
                off_entry_idx = i
                if len(tiles) > 1:
                    off_heap_pos = len(heap)
            entries.append(_entry(tag, typ, vals, heap, heap_base))
        data_base = heap_base + len(heap)
        offs = []
        p = data_base
        for s in tiles:
            offs.append(p)
            p += len(s) + (len(s) & 1)
        if off_heap_pos is None:
            entries[off_entry_idx] = struct.pack(
                "<HHII", _T_TILE_OFF, 4, 1, offs[0])
        else:
            heap[off_heap_pos:off_heap_pos + 4 * len(offs)] = \
                struct.pack("<%dI" % len(offs), *offs)
        next_ptr = p if li + 1 < len(levels) else 0

        out += struct.pack("<H", nifd)
        for e in entries:
            out += e
        out += struct.pack("<I", next_ptr)
        out += heap
        for s in tiles:
            out += s
            if len(s) & 1:
                out += b"\0"
        pos = p
    return bytes(out)
