"""Per-geometry scalar functions as vectorized Arrow UDF factories
(SURVEY.md §2.3 — each maps to one reference method: buffer
layer.py:469-488, centroid 490-499, convex_hull 1610-1621, envelope
622-633, to_2d 1139-1153, shape_factor 1888-1900, area/length/bounds
props 1356-1366).

Usage: ``df.withColumn("area", geom_area()(F.col("geometry_wkb")))``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

from ..geom import boolean, kernels as K, wkb


def _wkb_to_wkb(fn):
    @F.pandas_udf(T.BinaryType())
    def _udf(s: pd.Series) -> pd.Series:
        out = []
        for b in s:
            out.append(None if b is None else fn(wkb.decode(b)))
        return pd.Series(out, dtype=object)

    return _udf


def _wkb_to_double(fn):
    @F.pandas_udf(T.DoubleType())
    def _udf(s: pd.Series) -> pd.Series:
        return pd.Series([np.nan if b is None else fn(wkb.decode(b)) for b in s],
                         dtype=np.float64)

    return _udf


def geom_area():
    return _wkb_to_double(K.area)


def geom_length():
    return _wkb_to_double(K.length)


def geom_as_text():
    """WKB → WKT string (geom/wkt.py — shortest-round-trip decimals,
    so from_text(as_text(g)) is bit-exact)."""
    from ..geom import wkt as _wkt

    @F.pandas_udf(T.StringType())
    def _udf(s: pd.Series) -> pd.Series:
        return pd.Series([None if b is None
                          else _wkt.encode(wkb.decode(b)) for b in s])

    return _udf


def geom_from_text():
    """WKT string → WKB (None on unparseable input — crawl-dirty
    contract)."""
    from ..geom import wkt as _wkt

    @F.pandas_udf(T.BinaryType())
    def _udf(s: pd.Series) -> pd.Series:
        out = []
        for t in s:
            if t is None:
                out.append(None)
                continue
            try:
                out.append(wkb.encode(_wkt.decode(t)))
            except (ValueError, KeyError):
                out.append(None)
        return pd.Series(out)

    return _udf


def geom_smooth(iterations: int = 2):
    """WKB → WKB Chaikin corner-cut smoothing (geom/kernels.chaikin);
    dyadic arithmetic, exact binary floats of the inputs."""
    @F.pandas_udf(T.BinaryType())
    def _udf(s: pd.Series) -> pd.Series:
        return pd.Series([
            None if b is None else wkb.encode(
                K.chaikin(wkb.decode(b), iterations))
            for b in s])

    return _udf


def geom_label_point(precision: float | None = None):
    """(lx, ly, ldist) struct: pole of inaccessibility (Mapbox
    polylabel) — the interior point farthest from the boundary, the
    right label anchor for concave polygons where the centroid falls
    outside (geom/kernels.polylabel)."""
    @F.pandas_udf(T.StructType([T.StructField("lx", T.DoubleType()),
                                T.StructField("ly", T.DoubleType()),
                                T.StructField("ldist", T.DoubleType())]))
    def _udf(s: pd.Series) -> pd.DataFrame:
        rows = []
        for b in s:
            if b is None:
                rows.append((np.nan, np.nan, np.nan))
                continue
            rows.append(K.polylabel(wkb.decode(b), precision))
        return pd.DataFrame(rows, columns=["lx", "ly", "ldist"])

    return _udf


def geom_spherical_area(radius: float = 6_371_000.0):
    """Spherical polygon area in m² (lat/lon-linear edges, exact —
    geom/kernels.ring_area_spherical_signed); planar ``geom_area`` is
    degree² and distorts with latitude."""
    return _wkb_to_double(lambda g: K.spherical_area(g, radius))


def geom_shape_factor():
    """Circularity 4πA/L² (reference layer.py:1888-1900)."""
    return _wkb_to_double(
        lambda g: 4 * np.pi * K.area(g) / max(K.length(g) ** 2, K.EPS))


def geom_centroid_xy():
    @F.pandas_udf(T.StructType([T.StructField("cx", T.DoubleType()),
                                T.StructField("cy", T.DoubleType())]))
    def _udf(s: pd.Series) -> pd.DataFrame:
        rows = [(np.nan, np.nan) if b is None else K.centroid(wkb.decode(b)) for b in s]
        return pd.DataFrame(rows, columns=["cx", "cy"])

    return _udf


def geom_bounds_struct():
    @F.pandas_udf(T.StructType([T.StructField(n, T.DoubleType())
                                for n in ("minx", "miny", "maxx", "maxy")]))
    def _udf(s: pd.Series) -> pd.DataFrame:
        rows = [(np.nan,) * 4 if b is None else K.bounds(wkb.decode(b)) for b in s]
        return pd.DataFrame(rows, columns=["minx", "miny", "maxx", "maxy"])

    return _udf


def geom_envelope():
    def _env(g):
        return wkb.box(*K.bounds(g))

    return _wkb_to_wkb(_env)


def geom_convex_hull():
    def _hull(g):
        pts = np.vstack([r[:, :2] for r in K.ring_list(g)])
        return wkb.polygon([K.convex_hull(pts)])

    return _wkb_to_wkb(_hull)


def geom_force_2d():
    def _f2(g):
        t = g["type"]
        if t == "Point":
            return wkb.point(g["coords"][0], g["coords"][1])
        if t == "LineString":
            return wkb.linestring(g["coords"][:, :2])
        if t == "Polygon":
            return wkb.polygon([r[:, :2] for r in g["rings"]])
        if t == "MultiLineString":
            return wkb.multilinestring([l[:, :2] for l in g["lines"]])
        if t == "MultiPolygon":
            return wkb.multipolygon([[r[:, :2] for r in rings] for rings in g["polygons"]])
        if t == "MultiPoint":
            return wkb.multipoint(g["points"][:, :2])
        return wkb.encode(g)

    return _wkb_to_wkb(_f2)


def _segment_rect(p, q, d: float) -> np.ndarray | None:
    v = q[:2] - p[:2]
    ln = float(np.hypot(v[0], v[1]))
    if ln < K.EPS:
        return None
    n = np.array([-v[1], v[0]]) / ln * d
    return np.array([p[:2] + n, q[:2] + n, q[:2] - n, p[:2] - n, p[:2] + n])


def buffer_geom(g: dict, distance: float, resolution: int = 16) -> dict | None:
    """True positive buffer (Minkowski sum with a discretized disc) for
    any geometry type — reference layer.py:469-488 buffer semantics.

    P ⊕ D = P ∪ (∂P ⊕ D): the input polygon (if any) unioned with one
    rectangle per boundary segment and one disc per vertex, folded with
    the seam-decomposed region union (geom.boolean.union_parts). Exact
    for concave inputs and holes up to the disc discretization."""
    if distance <= 0:
        raise ValueError("buffer: only positive distances supported")
    parts: list[dict] = []
    if K.polygons_of(g):
        parts.append(g)
    for line in K.ring_list(g):
        pts = np.asarray(line, dtype=np.float64)[:, :2]
        for a, b in zip(pts[:-1], pts[1:]):
            r = _segment_rect(a, b, distance)
            if r is not None:
                parts.append({"type": "Polygon", "rings": [K.ensure_ccw(r)]})
        for x, y in pts:
            parts.append({"type": "Polygon",
                          "rings": [K.buffer_point(x, y, distance, resolution)]})
    # dedupe identical vertex discs (closed rings repeat the first point)
    return boolean.union_parts(parts)


def geom_buffer(distance: float, resolution: int = 16):
    """Buffer column fn. Points stay the exact regular 4×resolution-gon;
    lines and (concave) polygons use the segment-rect ∪ vertex-disc
    Minkowski construction (buffer_geom)."""
    def _buf(g):
        if g["type"] == "Point":
            c = g["coords"]
            return wkb.polygon([K.buffer_point(c[0], c[1], distance, resolution)])
        out = buffer_geom(g, distance, resolution)
        return None if out is None else wkb.encode(out)

    return _wkb_to_wkb(_buf)


def geom_make_valid():
    """Repair column fn (reference buffer(0) at load, layer.py:1543;
    clean_geometry layer.py:1584-1608): structural cleanup + bowtie
    split + containment-parity reassembly. Null for unsalvageable."""
    from ..geom import repair

    @F.pandas_udf(T.BinaryType())
    def _udf(s: pd.Series) -> pd.Series:
        out = []
        for b in s:
            if b is None:
                out.append(None)
                continue
            try:
                g = repair.make_valid(wkb.decode(b))
            except Exception:
                g = None
            out.append(None if g is None else wkb.encode(g))
        return pd.Series(out, dtype=object)

    return _udf


def geom_is_valid():
    """Validity predicate column fn (reference is_valid layer.py:755)."""
    from ..geom import repair

    @F.pandas_udf(T.BooleanType())
    def _udf(s: pd.Series) -> pd.Series:
        out = []
        for b in s:
            if b is None:
                out.append(False)
                continue
            try:
                out.append(repair.is_valid_geom(wkb.decode(b)))
            except Exception:
                out.append(False)
        return pd.Series(out)

    return _udf


def geom_type_of():
    @F.pandas_udf(T.StringType())
    def _udf(s: pd.Series) -> pd.Series:
        return pd.Series([None if b is None else wkb.geom_type(b) for b in s])

    return _udf
