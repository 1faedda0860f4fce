"""Proximity operators (SURVEY.md §2.5): distance-range joins
(reference nearest_neighbors layer.py:896-929 = features intersecting
buffer(d) ≡ ST_DWithin) and centroid-to-boundary distances.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .. import cells as C
from ..geom import kernels as K, wkb
from .core import CELL_COL
from .sjoin import _prepare_right


def dwithin_join(points: DataFrame, features: DataFrame, dist: float, *,
                 lon: str = "lon", lat: str = "lat",
                 feat_wkb: str = "geometry_wkb",
                 res: int | None = None) -> DataFrame:
    """All (point, feature) pairs with geometry distance ≤ dist —
    the reference's nearest_neighbors (buffer-intersects) as a range
    join: bbox-expanded cover equi-join (filter) + exact distance
    (refine). Adds a `dist` column."""
    features, feat_wkb = _prepare_right(points, features, feat_wkb)
    if res is None:
        # cells must be ≥ dist so ±1-cell disk covers the radius
        res = C.RES_MIN
        while res > 2 and 180.0 / (1 << res) < dist:
            res -= 1

    # feature cover expanded by one ring (bbox pad by dist)
    pad_udf = _padded_cover_udf(feat_wkb, dist, res)
    fc = (features.withColumn(CELL_COL, F.explode(pad_udf(F.col(feat_wkb)))))
    pts = points.withColumn(CELL_COL, C.cell_column(F.col(lon), F.col(lat), res))
    cand = pts.join(fc, on=CELL_COL).drop(CELL_COL)

    # scalar UDF: only (wkb, lon, lat) cross Arrow; other candidate
    # columns stay JVM-side (pruning/codegen hold around the refine)
    @F.pandas_udf(T.DoubleType())
    def _dist(wkbs: pd.Series, xs: pd.Series, ys: pd.Series) -> pd.Series:
        d = np.full(len(wkbs), np.inf)
        if len(wkbs):
            x = xs.to_numpy(dtype=np.float64)
            y = ys.to_numpy(dtype=np.float64)
            for buf, idx in wkbs.groupby(wkbs, sort=False).indices.items():
                if buf is None:
                    continue
                g = wkb.decode(buf)
                d[idx] = K.point_to_geom_distance(g, x[idx], y[idx])
        return pd.Series(d)

    return (cand.withColumn("dist", _dist(F.col(feat_wkb), F.col(lon), F.col(lat)))
            .where(F.col("dist") <= dist)
            .drop(feat_wkb))


def _padded_cover_udf(wkb_col: str, pad: float, res: int):
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _cover(s: pd.Series) -> pd.Series:
        out = []
        for b in s:
            if b is None:
                out.append([])
                continue
            mnx, mny, mxx, mxy = K.bounds(wkb.decode(b))
            out.append(C.bbox_to_cells(mnx - pad, mny - pad, mxx + pad, mxy + pad, res).tolist())
        return pd.Series(out)

    return _cover


def centroid_boundary_distance(df, *, wkb_col: str = "geometry_wkb"):
    """Min and max distance from each polygon's centroid to its boundary
    (reference distance_of_centroid_to_boundary layer.py:1623-1634:
    min = boundary.distance(centroid), max = hausdorff — for a point vs
    boundary, the hausdorff distance is the farthest boundary vertex/
    segment distance). Adds columns (cb_min_dist, cb_max_dist)."""
    from pyspark.sql import types as T

    cb_t = T.StructType([T.StructField("cb_min_dist", T.DoubleType()),
                         T.StructField("cb_max_dist", T.DoubleType())])

    @F.pandas_udf(cb_t)
    def _cb(bs: pd.Series) -> pd.DataFrame:
        mins, maxs = [], []
        for b in bs:
            if b is None:
                mins.append(None); maxs.append(None)
                continue
            g = wkb.decode(b)
            cx, cy = K.centroid(g)
            dmin, dmax = np.inf, 0.0
            for ring in K.ring_list(g):
                pts = ring[:, :2]
                # min: exact point-to-segment; max: farthest vertex
                # (the hausdorff max over a segment is at an endpoint)
                d = K.point_to_geom_distance(
                    {"type": "LineString", "coords": ring},
                    np.array([cx]), np.array([cy]))[0]
                dmin = min(dmin, float(d))
                dv = np.sqrt((pts[:, 0] - cx) ** 2 + (pts[:, 1] - cy) ** 2)
                dmax = max(dmax, float(dv.max()))
            mins.append(dmin); maxs.append(dmax)
        return pd.DataFrame({"cb_min_dist": mins, "cb_max_dist": maxs})

    return (df.withColumn("__cb", _cb(F.col(wkb_col)))
            .select("*", "__cb.cb_min_dist", "__cb.cb_max_dist")
            .drop("__cb"))
