"""Vector file formats — GeoJSON and ESRI Shapefile — pure stdlib/
numpy, feeding the engine's WKB column model.

Reference parity: gis-tools constructs every layer through
geopandas/fiona file drivers (gistools/layer.py:188-210 ``GeoLayer``
from file; examples read .shp and .geojson). Here the same surface is
a pair of blob-table operators per format:

* GeoJSON — ``parse_geojson`` handles FeatureCollection / Feature /
  bare geometry / newline-delimited features; ``geojson_features``
  maps a DataFrame of JSON documents to (feature_id, geometry_wkb,
  geom_type, properties-JSON) rows; ``feature_to_geojson`` /
  ``to_geojson`` write Features back. All seven geometry types; rings
  are closed on read (GeoJSON requires closure, real files often
  violate it).
* Shapefile — ``parse_shp`` reads the public .shp binary layout
  (header file-code 9994, big-endian record frames, little-endian
  shapes): null/point/multipoint/polyline/polygon plus their Z/M
  variants (Z kept, M dropped — the engine's model is 2-D/3-D).
  Polygon records group rings by the spec's winding convention
  (clockwise = outer) with an even-odd containment test assigning
  holes to their outer ring; multiple outers become a MultiPolygon.
  ``write_shp`` emits conformant files for the roundtrip tests and the
  interchange sink.

Corrupt documents are marked (ok=false), never a task kill.
"""

from __future__ import annotations

import json
import struct
from typing import Iterator

import numpy as np

from ..geom import wkb


# ------------------------------------------------------------- GeoJSON

def _gj_geom_to_wkb(g: dict) -> bytes:
    t = g.get("type")
    c = g.get("coordinates")
    if t == "Point":
        return wkb.point(*c[:3])
    if t == "MultiPoint":
        return wkb.multipoint(np.asarray(c, dtype=float))
    if t == "LineString":
        return wkb.linestring(np.asarray(c, dtype=float))
    if t == "MultiLineString":
        return wkb.multilinestring([np.asarray(l, dtype=float) for l in c])
    if t == "Polygon":
        return wkb.polygon([np.asarray(r, dtype=float) for r in c])
    if t == "MultiPolygon":
        return wkb.multipolygon(
            [[np.asarray(r, dtype=float) for r in p] for p in c])
    if t == "GeometryCollection":
        raise NotImplementedError("GeometryCollection feature")
    raise ValueError(f"unknown GeoJSON geometry type {t!r}")


def _wkb_to_gj_geom(buf: bytes) -> dict:
    g = wkb.decode(buf)
    t = g["type"]

    def _c(a):
        return np.asarray(a, dtype=float).tolist()

    if t == "Point":
        return {"type": t, "coordinates": _c(g["coords"])}
    if t == "LineString":
        return {"type": t, "coordinates": _c(g["coords"])}
    if t == "Polygon":
        return {"type": t, "coordinates": [_c(r) for r in g["rings"]]}
    if t == "MultiPoint":
        return {"type": t, "coordinates": _c(g["points"])}
    if t == "MultiLineString":
        return {"type": t, "coordinates": [_c(l) for l in g["lines"]]}
    if t == "MultiPolygon":
        return {"type": t,
                "coordinates": [[_c(r) for r in p] for p in g["polygons"]]}
    raise ValueError(f"cannot serialize {t}")


def parse_geojson(text: str) -> list[tuple[bytes, str]]:
    """One GeoJSON document (FeatureCollection / Feature / geometry /
    ndjson lines of those) → [(geometry_wkb, properties_json)]."""
    text = text.strip()
    docs = []
    try:
        docs = [json.loads(text)]
    except json.JSONDecodeError:
        for line in text.splitlines():
            line = line.strip().rstrip(",")
            if line:
                docs.append(json.loads(line))
    out = []
    for doc in docs:
        t = doc.get("type")
        if t == "FeatureCollection":
            feats = doc.get("features", [])
        elif t == "Feature":
            feats = [doc]
        else:
            feats = [{"type": "Feature", "geometry": doc,
                      "properties": {}}]
        for f in feats:
            geom = f.get("geometry")
            if geom is None:
                continue
            out.append((_gj_geom_to_wkb(geom),
                        json.dumps(f.get("properties") or {},
                                   sort_keys=True)))
    return out


def feature_to_geojson(buf: bytes, properties_json: str = "{}") -> str:
    """WKB + properties JSON → one GeoJSON Feature string."""
    return json.dumps({"type": "Feature",
                       "geometry": _wkb_to_gj_geom(buf),
                       "properties": json.loads(properties_json or "{}")},
                      sort_keys=True)


# ----------------------------------------------------------- Shapefile

_SHP_NULL, _SHP_POINT, _SHP_POLYLINE, _SHP_POLYGON, _SHP_MULTIPOINT = \
    0, 1, 3, 5, 8


def _ring_signed_area(a: np.ndarray) -> float:
    x, y = a[:, 0], a[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def _point_in_ring(pt: np.ndarray, ring: np.ndarray) -> bool:
    """Even-odd rule (hole-to-outer assignment only)."""
    x, y = pt[0], pt[1]
    xa, ya = ring[:-1, 0], ring[:-1, 1]
    xb, yb = ring[1:, 0], ring[1:, 1]
    cross = (ya > y) != (yb > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = xa + (y - ya) * (xb - xa) / (yb - ya)
    return bool(np.count_nonzero(cross & (x < xi)) & 1)


def _rings_to_wkb(rings: list[np.ndarray]) -> bytes:
    """Shapefile ring soup → Polygon/MultiPolygon WKB. Spec: outer
    rings wind clockwise (negative signed area in xy-math), holes
    counterclockwise; holes attach to the outer containing them."""
    outers = [r for r in rings if _ring_signed_area(r) <= 0]
    holes = [r for r in rings if _ring_signed_area(r) > 0]
    if not outers:                       # degenerate: treat all as outer
        outers, holes = rings, []
    polys = [[o] for o in outers]
    for hole in holes:
        for poly in polys:
            if _point_in_ring(hole[0], poly[0]):
                poly.append(hole)
                break
        else:
            polys[0].append(hole)
    if len(polys) == 1:
        return wkb.polygon(polys[0])
    return wkb.multipolygon(polys)


def parse_shp(buf: bytes) -> list[bytes | None]:
    """.shp bytes → per-record WKB (None for null shapes)."""
    buf = bytes(buf)
    if len(buf) < 100 or struct.unpack(">i", buf[:4])[0] != 9994:
        raise ValueError("not a shapefile (.shp)")
    flen = struct.unpack(">i", buf[24:28])[0] * 2
    out: list[bytes | None] = []
    pos = 100
    while pos + 8 <= min(flen, len(buf)):
        _recno, clen = struct.unpack(">ii", buf[pos:pos + 8])
        body = buf[pos + 8:pos + 8 + clen * 2]
        pos += 8 + clen * 2
        if len(body) < 4:
            raise ValueError("truncated shapefile record")
        st = struct.unpack("<i", body[:4])[0]
        base = st % 10                    # 1x=Z(+M), 2x=M variants
        has_z = 10 < st < 20
        if st == _SHP_NULL:
            out.append(None)
        elif base == _SHP_POINT and st in (1, 11, 21):
            vals = struct.unpack("<%dd" % ((len(body) - 4) // 8),
                                 body[4:4 + 8 * ((len(body) - 4) // 8)])
            if has_z:
                out.append(wkb.point(vals[0], vals[1], vals[2]))
            else:
                out.append(wkb.point(vals[0], vals[1]))
        elif base == _SHP_MULTIPOINT and st in (8, 18, 28):
            n = struct.unpack("<i", body[36:40])[0]
            pts = np.frombuffer(body, dtype="<f8", count=2 * n,
                                offset=40).reshape(n, 2)
            if has_z:
                z = np.frombuffer(body, dtype="<f8", count=n,
                                  offset=40 + 16 * n + 16)
                pts = np.column_stack([pts, z])
            out.append(wkb.multipoint(pts))
        elif base in (_SHP_POLYLINE, _SHP_POLYGON) and \
                st in (3, 5, 13, 15, 23, 25):
            nparts, npts = struct.unpack("<ii", body[36:44])
            parts = np.frombuffer(body, dtype="<i4", count=nparts,
                                  offset=44)
            coff = 44 + 4 * nparts
            xy = np.frombuffer(body, dtype="<f8", count=2 * npts,
                               offset=coff).reshape(npts, 2)
            if has_z:
                z = np.frombuffer(body, dtype="<f8", count=npts,
                                  offset=coff + 16 * npts + 16)
                xy = np.column_stack([xy, z])
            bounds = list(parts) + [npts]
            pieces = [np.array(xy[bounds[i]:bounds[i + 1]])
                      for i in range(nparts)]
            pieces = [p for p in pieces if len(p)]
            if base == _SHP_POLYLINE:
                out.append(wkb.linestring(pieces[0]) if len(pieces) == 1
                           else wkb.multilinestring(pieces))
            else:
                out.append(_rings_to_wkb(pieces))
        else:
            raise NotImplementedError(f"shapefile shape type {st}")
    return out


# --------------------------------------------------------- shp writers

def _shp_record(buf: bytes | None):
    """WKB → (shape bytes little-endian body). Inverse of parse_shp for
    the 2-D types the engine emits."""
    if buf is None:
        return struct.pack("<i", _SHP_NULL)
    g = wkb.decode(buf)
    t = g["type"]
    if t == "Point":
        c = np.asarray(g["coords"], dtype=float)
        return struct.pack("<idd", _SHP_POINT, c[0], c[1])
    if t in ("Polygon", "MultiPolygon", "LineString", "MultiLineString"):
        if t == "Polygon":
            pieces, st = list(g["rings"]), _SHP_POLYGON
        elif t == "MultiPolygon":
            pieces = [r for p in g["polygons"] for r in p]
            st = _SHP_POLYGON
        elif t == "LineString":
            pieces, st = [g["coords"]], _SHP_POLYLINE
        else:
            pieces, st = list(g["lines"]), _SHP_POLYLINE
        pieces = [np.asarray(p, dtype=float)[:, :2] for p in pieces]
        if st == _SHP_POLYGON:
            fixed = []
            for i, r in enumerate(pieces):
                if not np.array_equal(r[0], r[-1]):
                    r = np.vstack([r, r[:1]])
                # spec winding: first ring of each poly outer (CW)
                area = _ring_signed_area(r)
                outer = (t == "Polygon" and i == 0) or \
                        (t == "MultiPolygon" and _is_outer(g, i))
                if outer == (area > 0):
                    r = r[::-1]
                fixed.append(r)
            pieces = fixed
        allc = np.concatenate(pieces)
        parts = np.cumsum([0] + [len(p) for p in pieces[:-1]])
        body = struct.pack("<i", st)
        body += struct.pack("<4d", allc[:, 0].min(), allc[:, 1].min(),
                            allc[:, 0].max(), allc[:, 1].max())
        body += struct.pack("<ii", len(pieces), len(allc))
        body += np.asarray(parts, dtype="<i4").tobytes()
        body += np.ascontiguousarray(allc, dtype="<f8").tobytes()
        return body
    if t == "MultiPoint":
        pts = np.asarray(g["points"], dtype=float)[:, :2]
        body = struct.pack("<i", _SHP_MULTIPOINT)
        body += struct.pack("<4d", pts[:, 0].min(), pts[:, 1].min(),
                            pts[:, 0].max(), pts[:, 1].max())
        body += struct.pack("<i", len(pts))
        body += np.ascontiguousarray(pts, dtype="<f8").tobytes()
        return body
    raise ValueError(f"cannot write {t} to .shp")


def _is_outer(g: dict, flat_idx: int) -> bool:
    i = 0
    for p in g["polygons"]:
        for j in range(len(p)):
            if i == flat_idx:
                return j == 0
            i += 1
    return False


def write_shp(wkbs: list[bytes | None]) -> bytes:
    recs = [_shp_record(b) for b in wkbs]
    # global shape type = first non-null record's
    st = struct.unpack("<i", recs[0][:4])[0] if recs else _SHP_NULL
    for r in recs:
        if struct.unpack("<i", r[:4])[0] != _SHP_NULL:
            st = struct.unpack("<i", r[:4])[0]
            break
    body = b""
    for i, r in enumerate(recs):
        body += struct.pack(">ii", i + 1, len(r) // 2) + r
    flen = (100 + len(body)) // 2
    xs, ys = [], []
    for b in wkbs:
        if b is None:
            continue
        g = wkb.decode(b)
        for a in _all_coords(g):
            xs.extend(a[:, 0].tolist())
            ys.extend(a[:, 1].tolist())
    bbox = (min(xs), min(ys), max(xs), max(ys)) if xs else (0, 0, 0, 0)
    hdr = struct.pack(">i5ii", 9994, 0, 0, 0, 0, 0, flen)
    hdr += struct.pack("<ii", 1000, st)
    hdr += struct.pack("<4d", *bbox) + struct.pack("<4d", 0, 0, 0, 0)
    return hdr + body


def _all_coords(g: dict):
    t = g["type"]
    if t == "Point":
        yield np.asarray([g["coords"][:2]], dtype=float)
    elif t == "LineString":
        yield np.asarray(g["coords"], dtype=float)[:, :2]
    elif t == "Polygon":
        for r in g["rings"]:
            yield np.asarray(r, dtype=float)[:, :2]
    elif t == "MultiPoint":
        yield np.asarray(g["points"], dtype=float)[:, :2]
    elif t == "MultiLineString":
        for l in g["lines"]:
            yield np.asarray(l, dtype=float)[:, :2]
    elif t == "MultiPolygon":
        for p in g["polygons"]:
            for r in p:
                yield np.asarray(r, dtype=float)[:, :2]


# ------------------------------------------------------ Spark operators

def geojson_features(df, id_col: str = "doc_id",
                     text_col: str = "json"):
    """(doc id, GeoJSON text) rows → one row per feature:
    (feature_id, geometry_wkb, geom_type, properties, ok)."""

    def _scan(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                try:
                    feats = parse_geojson(text)
                    for i, (b, props) in enumerate(feats):
                        rows.append((f"{did}/{i}", b, wkb.geom_type(b),
                                     props, True))
                except Exception:  # noqa: BLE001 — mark, never kill
                    rows.append((f"{did}/0", None, None, None, False))
            yield pd.DataFrame(rows, columns=[
                "feature_id", "geometry_wkb", "geom_type", "properties",
                "ok"])

    return df.select(id_col, text_col).mapInPandas(
        _scan, schema="feature_id string, geometry_wkb binary, "
                      "geom_type string, properties string, ok boolean")


def to_geojson(df, wkb_col: str = "geometry_wkb",
               props_col: str | None = "properties"):
    """Feature rows → (feature_id, GeoJSON Feature string)."""

    def _enc(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                try:
                    props = r[props_col] if props_col in pdf else "{}"
                    rows.append((str(r["feature_id"]),
                                 feature_to_geojson(r[wkb_col], props),
                                 True))
                except Exception:  # noqa: BLE001
                    rows.append((str(r["feature_id"]), None, False))
            yield pd.DataFrame(rows,
                               columns=["feature_id", "json", "ok"])

    cols = ["feature_id", wkb_col] + ([props_col] if props_col else [])
    return df.select(*cols).mapInPandas(
        _enc, schema="feature_id string, json string, ok boolean")
