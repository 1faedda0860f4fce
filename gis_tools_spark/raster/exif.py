"""EXIF metadata — GPS extraction from JPEG APP1 segments, from scratch.

The north-star pipeline's input is a table of GEOTAGGED images; in a
real crawl the geotag lives in the EXIF APP1 segment (a TIFF IFD tree
inside the JPEG), not in a parquet column.  ``image_exif`` turns blob
rows into (lon, lat, alt, timestamp, orientation, camera) columns that
feed ``pip_join``/``image_tile_assignment`` directly — closing the
loop from raw crawl bytes to the spatial join without any wheel.

Implements the public TIFF 6.0 + EXIF 2.3 layout: both byte orders,
IFD walking with sub-IFD pointers (ExifIFD 0x8769, GPS 0x8825),
rational decoding, and the GPS degree/minute/second + N/S/E/W ref
conventions.  ``build_exif``/``embed_exif`` write a conformant APP1
segment (used for fixtures and as the sink for annotating images).

Reference parity: gis-tools has no EXIF reader, but its entire query
surface assumes geolocated features; this is the missing ingest step
for the brief's image-table scale-out.  (TIFF IFD mechanics shared
with raster/geotiff.py; EXIF needs sub-IFD recursion + tag semantics,
so it gets its own walker.)
"""

from __future__ import annotations

import struct
from typing import Iterator

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 9: "i"}

TAG_ORIENTATION = 0x0112
TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_EXIF_IFD = 0x8769
TAG_GPS_IFD = 0x8825
TAG_DATETIME_ORIG = 0x9003
TAG_DATETIME = 0x0132
GPS_LAT_REF, GPS_LAT = 1, 2
GPS_LON_REF, GPS_LON = 3, 4
GPS_ALT_REF, GPS_ALT = 5, 6


class ExifError(ValueError):
    pass


def _read_ifd(buf: bytes, bo: str, off: int) -> dict[int, tuple]:
    if off + 2 > len(buf):
        raise ExifError("IFD offset past end")
    n = struct.unpack(bo + "H", buf[off:off + 2])[0]
    if off + 2 + 12 * n > len(buf):
        raise ExifError("IFD overruns buffer")
    tags: dict[int, tuple] = {}
    for i in range(n):
        e = off + 2 + 12 * i
        tag, typ, cnt = struct.unpack(bo + "HHI", buf[e:e + 8])
        if typ not in _TYPE_SIZE:
            continue
        size = _TYPE_SIZE[typ] * cnt
        voff = e + 8 if size <= 4 else struct.unpack(bo + "I",
                                                     buf[e + 8:e + 12])[0]
        raw = buf[voff:voff + size]
        if len(raw) < size:
            continue                      # tolerate truncated tail tags
        if typ == 2:
            tags[tag] = (raw.split(b"\0")[0].decode("latin1"),)
        elif typ in (5, 10):
            fmt = "I" if typ == 5 else "i"
            pairs = struct.unpack(bo + "%d%s" % (2 * cnt, fmt), raw)
            tags[tag] = tuple(pairs[2 * k] / (pairs[2 * k + 1] or 1)
                              for k in range(cnt))
        elif typ == 7:
            tags[tag] = (bytes(raw),)
        else:
            tags[tag] = struct.unpack(bo + "%d%s" % (cnt, _TYPE_FMT[typ]),
                                      raw)
    return tags


def _app1_payload(jpeg: bytes) -> bytes | None:
    """The Exif APP1 TIFF block, scanned from the JPEG marker stream."""
    if jpeg[:2] != b"\xff\xd8":
        raise ExifError("not a JPEG (no SOI)")
    i = 2
    while i + 4 <= len(jpeg):
        if jpeg[i] != 0xFF:
            return None
        marker = jpeg[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xDA:                # SOS: no headers beyond this
            return None
        seglen = int.from_bytes(jpeg[i + 2:i + 4], "big")
        if marker == 0xE1 and jpeg[i + 4:i + 10] == b"Exif\x00\x00":
            return jpeg[i + 10:i + 2 + seglen]
        i += 2 + seglen
    return None


def _dms_to_deg(dms: tuple, ref: str) -> float:
    d = dms[0] + (dms[1] if len(dms) > 1 else 0) / 60.0 \
        + (dms[2] if len(dms) > 2 else 0) / 3600.0
    return -d if ref in ("S", "W") else d


def parse_exif(jpeg: bytes) -> dict:
    """EXIF fields of one JPEG: lon/lat/alt (signed degrees/metres),
    timestamp string, orientation, make/model.  Missing APP1 -> {}."""
    tiff = _app1_payload(bytes(jpeg))
    if tiff is None:
        return {}
    try:
        return _parse_tiff(tiff)
    except struct.error as e:      # truncated mid-field: one error type
        raise ExifError(str(e)) from e


def _parse_tiff(tiff: bytes) -> dict:
    if tiff[:2] == b"II":
        bo = "<"
    elif tiff[:2] == b"MM":
        bo = ">"
    else:
        raise ExifError("bad TIFF byte-order mark")
    if struct.unpack(bo + "H", tiff[2:4])[0] != 42:
        raise ExifError("bad TIFF magic")
    ifd0 = _read_ifd(tiff, bo, struct.unpack(bo + "I", tiff[4:8])[0])
    out: dict = {}
    if TAG_ORIENTATION in ifd0:
        out["orientation"] = int(ifd0[TAG_ORIENTATION][0])
    make = ifd0.get(TAG_MAKE, ("",))[0]
    model = ifd0.get(TAG_MODEL, ("",))[0]
    if make or model:
        out["camera"] = (make + " " + model).strip()
    if TAG_DATETIME in ifd0:
        out["timestamp"] = ifd0[TAG_DATETIME][0]
    if TAG_EXIF_IFD in ifd0:
        exif = _read_ifd(tiff, bo, int(ifd0[TAG_EXIF_IFD][0]))
        if TAG_DATETIME_ORIG in exif:
            out["timestamp"] = exif[TAG_DATETIME_ORIG][0]
    if TAG_GPS_IFD in ifd0:
        gps = _read_ifd(tiff, bo, int(ifd0[TAG_GPS_IFD][0]))
        if GPS_LAT in gps and GPS_LON in gps:
            out["lat"] = _dms_to_deg(gps[GPS_LAT],
                                     gps.get(GPS_LAT_REF, ("N",))[0])
            out["lon"] = _dms_to_deg(gps[GPS_LON],
                                     gps.get(GPS_LON_REF, ("E",))[0])
        if GPS_ALT in gps:
            alt = float(gps[GPS_ALT][0])
            if gps.get(GPS_ALT_REF, (0,))[0] == 1:
                alt = -alt
            out["alt"] = alt
    return out


# ------------------------------------------------------------------ writer

def _deg_to_dms(v: float) -> tuple:
    v = abs(v)
    d = int(v)
    m = int((v - d) * 60)
    s = (v - d - m / 60.0) * 3600.0
    return d, m, s


def build_exif(*, lon: float | None = None, lat: float | None = None,
               alt: float | None = None, timestamp: str | None = None,
               orientation: int = 1, camera: str = "gis_tools_spark"
               ) -> bytes:
    """A conformant little-endian Exif APP1 TIFF block."""
    heap = bytearray()
    entries0: list[tuple] = []
    gps_entries: list[tuple] = []

    def rational(vals, signed=False):
        off = len(heap)
        for v in vals:
            den = 1_000_000
            heap.extend(struct.pack("<iI" if signed else "<II",
                                    int(round(v * den)), den))
        return off

    def add(entries, tag, typ, values):
        entries.append((tag, typ, values))

    add(entries0, TAG_ORIENTATION, 3, (orientation,))
    add(entries0, TAG_MODEL, 2, (camera,))
    if timestamp:
        add(entries0, TAG_DATETIME, 2, (timestamp,))
    if lat is not None and lon is not None:
        add(gps_entries, GPS_LAT_REF, 2, ("N" if lat >= 0 else "S",))
        add(gps_entries, GPS_LAT, 5, _deg_to_dms(lat))
        add(gps_entries, GPS_LON_REF, 2, ("E" if lon >= 0 else "W",))
        add(gps_entries, GPS_LON, 5, _deg_to_dms(lon))
    if alt is not None:
        add(gps_entries, GPS_ALT_REF, 1, (1 if alt < 0 else 0,))
        add(gps_entries, GPS_ALT, 5, (abs(alt),))

    def pack_ifd(entries, base):
        """(ifd bytes, heap) with value offsets relative to tiff start."""
        n = len(entries)
        ifd = bytearray(struct.pack("<H", n))
        local_heap = bytearray()
        heap_base = base + 2 + 12 * n + 4
        for tag, typ, values in sorted(entries):
            if typ == 2:
                raw = values[0].encode("latin1") + b"\x00"
                cnt = len(raw)
            elif typ == 5:
                raw = b"".join(struct.pack("<II", int(round(v * 1_000_000)),
                                           1_000_000) for v in values)
                cnt = len(values)
            elif typ == 1:
                raw = bytes(values)
                cnt = len(values)
            else:
                raw = b"".join(struct.pack("<H", v) for v in values)
                cnt = len(values)
            if len(raw) <= 4:
                val = raw.ljust(4, b"\x00")
            else:
                val = struct.pack("<I", heap_base + len(local_heap))
                local_heap.extend(raw)
            ifd += struct.pack("<HHI", tag, typ, cnt) + val
        ifd += struct.pack("<I", 0)
        return bytes(ifd) + bytes(local_heap)

    # layout: header(8) | IFD0 | IFD0 heap | GPS IFD | GPS heap
    # compute IFD0 size first (entries + gps pointer)
    n0 = len(entries0) + (1 if gps_entries else 0)
    ifd0_size_guess = 2 + 12 * n0 + 4
    # assemble with gps pointer placeholder resolved iteratively
    for _ in range(3):
        e0 = list(entries0)
        gps_off = None
        ifd0 = pack_ifd(e0, 8)
        gps_off = 8 + len(ifd0)
        if gps_entries:
            e0 = e0 + [(TAG_GPS_IFD, 4, (gps_off,))]
            ifd0b = pack_ifd(e0, 8)
            gps_off = 8 + len(ifd0b)
            e0 = list(entries0) + [(TAG_GPS_IFD, 4, (gps_off,))]
            ifd0 = pack_ifd(e0, 8)
        gps = pack_ifd(gps_entries, gps_off) if gps_entries else b""
        tiff = b"II" + struct.pack("<HI", 42, 8) + ifd0 + gps
        break
    return tiff


def embed_exif(jpeg: bytes, tiff: bytes) -> bytes:
    """Insert an Exif APP1 segment right after SOI."""
    if jpeg[:2] != b"\xff\xd8":
        raise ExifError("not a JPEG")
    payload = b"Exif\x00\x00" + tiff
    seg = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    return jpeg[:2] + seg + jpeg[2:]


# ------------------------------------------------------------------ Spark operator

EXIF_SCHEMA = ("image_id string, lon double, lat double, alt double, "
               "ts string, orientation int, camera string, has_gps boolean, "
               "ok boolean")


def image_exif(df, *, blob_col: str = "bytes", id_col: str = "image_id"):
    """Blob rows -> EXIF columns; rows without GPS keep has_gps=false,
    unparseable rows ok=false — the output's (lon, lat) feed pip_join /
    image_tile_assignment unchanged (the crawl->geotable ingest step)."""
    import pandas as pd

    def _run(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for iid, blob in zip(pdf[id_col], pdf[blob_col]):
                iid = str(iid)
                try:
                    e = parse_exif(bytes(blob))
                    rows.append((iid, e.get("lon"), e.get("lat"),
                                 e.get("alt"), e.get("timestamp"),
                                 e.get("orientation"), e.get("camera"),
                                 "lon" in e, True))
                except (ExifError, ValueError, IndexError, struct.error):
                    rows.append((iid, None, None, None, None, None, None,
                                 False, False))
            yield pd.DataFrame(rows, columns=[
                "image_id", "lon", "lat", "alt", "ts", "orientation",
                "camera", "has_gps", "ok"])

    return df.select(id_col, blob_col).mapInPandas(_run, schema=EXIF_SCHEMA)


# ------------------------------------------------- exact-microdegree writer

def _dms_rationals(udeg: int) -> tuple:
    """|microdegrees| -> ((d,1),(0,1),(9*rem,2500)) EXACT DMS rationals.

    ``rem`` microdegrees = ``9*rem/2500`` arc-seconds exactly, and the
    parse-side ``d + 0/60 + (9*rem/2500)/3600`` lands within a few ulp
    of ``udeg/1e6`` — so ``floor(deg*1e6 + 0.5)`` recovers ``udeg``
    bit-exactly (property-tested over hemisphere corners + 200 draws).
    The generic ``build_exif`` writer quantizes through round(x*1e6)
    float rationals instead, which is NOT exact at the last µdeg."""
    d, rem = divmod(abs(int(udeg)), 1_000_000)
    return ((d, 1), (0, 1), (9 * rem, 2500))


def build_exif_udeg(*, lat_udeg: int, lon_udeg: int,
                    alt_mm: int | None = None, dt: str | None = None,
                    orientation: int | None = None) -> bytes:
    """Little-endian EXIF TIFF block from integer microdegrees /
    millimetres — the exact-roundtrip companion of ``build_exif``
    (same layout: header | IFD0 | heap | GPS IFD | heap)."""
    def pack_ifd(entries, base):
        n = len(entries)
        ifd = bytearray(struct.pack("<H", n))
        local_heap = bytearray()
        heap_base = base + 2 + 12 * n + 4
        for tag, typ, values in sorted(entries):
            if typ == 2:
                raw = values[0].encode("latin1") + b"\x00"
                cnt = len(raw)
            elif typ == 5:
                raw = b"".join(struct.pack("<II", num, den)
                               for num, den in values)
                cnt = len(values)
            elif typ == 1:
                raw = bytes(values)
                cnt = len(values)
            elif typ == 4:
                raw = b"".join(struct.pack("<I", v) for v in values)
                cnt = len(values)
            else:
                raw = b"".join(struct.pack("<H", v) for v in values)
                cnt = len(values)
            if len(raw) <= 4:
                val = raw.ljust(4, b"\x00")
            else:
                val = struct.pack("<I", heap_base + len(local_heap))
                local_heap.extend(raw)
                if len(local_heap) & 1:
                    local_heap.append(0)
            ifd += struct.pack("<HHI", tag, typ, cnt) + val
        ifd += struct.pack("<I", 0)
        return bytes(ifd) + bytes(local_heap)

    entries0: list[tuple] = []
    gps: list[tuple] = []
    if orientation is not None:
        entries0.append((TAG_ORIENTATION, 3, (int(orientation),)))
    if dt is not None:
        entries0.append((TAG_DATETIME, 2, (dt,)))
    gps.append((GPS_LAT_REF, 2, ("N" if lat_udeg >= 0 else "S",)))
    gps.append((GPS_LAT, 5, _dms_rationals(lat_udeg)))
    gps.append((GPS_LON_REF, 2, ("E" if lon_udeg >= 0 else "W",)))
    gps.append((GPS_LON, 5, _dms_rationals(lon_udeg)))
    if alt_mm is not None:
        gps.append((GPS_ALT_REF, 1, (0 if alt_mm >= 0 else 1,)))
        gps.append((GPS_ALT, 5, ((abs(int(alt_mm)), 1000),)))
    # two-pass: IFD0 size depends only on entry COUNT, so one repack
    # with the real GPS offset converges
    e0 = entries0 + [(TAG_GPS_IFD, 4, (0,))]
    gps_off = 8 + len(pack_ifd(e0, 8))
    e0 = entries0 + [(TAG_GPS_IFD, 4, (gps_off,))]
    ifd0 = pack_ifd(e0, 8)
    assert 8 + len(ifd0) == gps_off
    return b"II" + struct.pack("<HI", 42, 8) + ifd0 + pack_ifd(gps, gps_off)


def geotag(jpeg: bytes, *, lat_udeg: int, lon_udeg: int,
           alt_mm: int | None = None, dt: str | None = None,
           orientation: int | None = None) -> bytes:
    """Stamp an exact-microdegree GPS APP1 into a JPEG (build + embed)."""
    return embed_exif(jpeg, build_exif_udeg(
        lat_udeg=lat_udeg, lon_udeg=lon_udeg, alt_mm=alt_mm, dt=dt,
        orientation=orientation))
