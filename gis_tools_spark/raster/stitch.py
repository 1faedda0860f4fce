"""Cross-tile raster stitching (SURVEY.md §7 hard part 3).

The reference operates on ONE global array (polygonize raster.py:683-702,
slope via gdal.DEMProcessing raster.py:794-824), so it has no seams. The
engine's rasters are tiled across rows; these passes restore mosaic-level
semantics:

- slope_aspect_stitched: 1-pixel halo EXCHANGE between grid neighbors
  (shuffle = 4 edge strips + 4 corner pixels per tile, not whole tiles),
  then the Horn kernel — border pixels now exact wherever a neighbor
  tile exists; mosaic-outer borders keep edge-replicate.
- polygonize_stitched: per-tile polygonize, then same-value regions that
  touch across tile borders are merged via connected components + the
  seam-decomposed region union. Interior regions pass through untouched.

Tiles are assumed to sit on a regular grid (equal size, aligned origins
— the SRTM/mosaic layout); the grid indices are derived from each
tile's geotransform against the global origin (one summary, which
also counts the mosaic's pixels and rejects mixed tile sizes).

Driver path: every halo pass goes through ``stitched_apply``, which
skips the strip shuffle for a mosaic of at most core.DRIVER_MAX_ROWS
pixels. It collects the tiles once and runs the same strip emitter and
kernel on the driver, so the tiles it returns are bit-identical.
"""

from __future__ import annotations

import logging
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..geom import boolean, kernels as K, wkb
from . import codec

_log = logging.getLogger("gis_tools_spark")


def _half_up(v):
    """Spark's ``round`` (HALF_UP) of non-negative doubles, on the
    driver: ``v - floor(v)`` is exact, so only a true .5 rounds up."""
    lo = np.floor(v)
    return lo + (v - lo >= 0.5)


def _grid_indexed(df: DataFrame):
    """Add (col, row) grid indices from the geotransforms; returns
    (indexed_df, pixels, collect): pixels = cols × rows × w × h of the
    grid's extent, the size of the whole mosaic as one array (tiles ×
    w × h when no tile is missing), and ``collect()`` the indexed tiles
    as pandas. A loaded cache within sjoin.BROADCAST_MAX_BYTES or a
    local relation is collected first and summarized on the driver,
    by the same formulas and rounding; any other input takes one
    scalar aggregate (2 jobs under AQE), and ``collect`` collects."""
    from ..operators import core
    from ..operators.sjoin import BROADCAST_MAX_BYTES

    _, _, nbytes, local = (core.plan_size(df, df.columns)
                           or (None, None, None, False))
    tiles = None
    if local or nbytes is not None and nbytes <= BROADCAST_MAX_BYTES:
        tiles = df.toPandas()
        gx, gy = tiles["gt_x0"], tiles["gt_y0"]
        o = {"x0": gx.min(), "y0": gy.max(), "x1": gx.max(),
             "y1": gy.min(), "tw": (tiles["gt_rx"] * tiles["w"]).max(),
             "th": (tiles["gt_ry"] * tiles["h"]).max(),
             "w0": tiles["w"].min(), "w": tiles["w"].max(),
             "h0": tiles["h"].min(), "h": tiles["h"].max()}
    else:
        o = df.agg(F.min("gt_x0").alias("x0"), F.max("gt_y0").alias("y0"),
                   F.max("gt_x0").alias("x1"), F.min("gt_y0").alias("y1"),
                   F.max(F.col("gt_rx") * F.col("w")).alias("tw"),
                   F.max(F.col("gt_ry") * F.col("h")).alias("th"),
                   F.min("w").alias("w0"), F.max("w").alias("w"),
                   F.min("h").alias("h0"), F.max("h").alias("h")).collect()[0]
    if o["w0"] != o["w"] or o["h0"] != o["h"]:
        raise ValueError(
            "stitched raster passes require a uniform tile grid (equal "
            f"w×h, aligned origins); found tile widths {o['w0']}–{o['w']} "
            f"and heights {o['h0']}–{o['h']}. Resample or retile the "
            "mosaic first.")
    tw, th = float(o["tw"]), float(o["th"])
    out = (df.withColumn("__col", F.round((F.col("gt_x0") - F.lit(o["x0"])) / tw).cast("int"))
             .withColumn("__row", F.round((F.lit(o["y0"]) - F.col("gt_y0")) / th).cast("int")))
    if tiles is not None:
        tiles["__col"] = _half_up((gx - o["x0"]) / tw).astype(np.int32)
        tiles["__row"] = _half_up((o["y0"] - gy) / th).astype(np.int32)
    cols = int(_half_up((o["x1"] - o["x0"]) / tw)) + 1
    rows = int(_half_up((o["y0"] - o["y1"]) / th)) + 1
    return (out, cols * rows * int(o["w"]) * int(o["h"]),
            out.toPandas if tiles is None else lambda: tiles)


def slope_aspect_stitched(df: DataFrame, *, mode: str = "slope",
                          no_data: float = codec.NO_DATA_F32,
                          azimuth: float = 315.0,
                          altitude: float = 45.0) -> DataFrame:
    """Horn slope/aspect/hillshade with cross-tile halo exchange: exact
    at interior tile borders (equals the single-global-array
    computation there)."""
    from .kernels import horn_output

    def _fn(p: np.ndarray) -> np.ndarray:
        dzdx = ((p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:])
                - (p[:-2, :-2] + 2 * p[1:-1, :-2] + p[2:, :-2])) / 8.0
        dzdy = ((p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:])
                - (p[:-2, :-2] + 2 * p[:-2, 1:-1] + p[:-2, 2:])) / 8.0
        return horn_output(dzdx, dzdy, mode, azimuth, altitude)

    return stitched_apply(df, _fn, no_data=no_data)


def focal_stats_stitched(df: DataFrame, *, stat: str = "mean",
                         no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """Focal (moving-window 3×3) statistics with the same cross-tile
    halo exchange as slope: per-pixel nan-aware mean/min/max/sum/range
    over the 8 edge-clamped neighbors + center — the standard raster
    smoothing/neighborhood-analysis op. Available-neighbor semantics:
    no-data slots are simply excluded (a pixel is no-data in the output
    only when its whole window is)."""
    ops = {"mean": np.nanmean, "min": np.nanmin, "max": np.nanmax,
           "sum": np.nansum,
           "range": lambda s, axis: np.nanmax(s, axis=axis)
           - np.nanmin(s, axis=axis)}
    if stat not in ops:
        raise ValueError(f"unknown stat {stat!r}")

    def _fn(p: np.ndarray) -> np.ndarray:
        stack = np.stack([p[1 + dy:p.shape[0] - 1 + dy,
                            1 + dx:p.shape[1] - 1 + dx]
                          for dy in (-1, 0, 1) for dx in (-1, 0, 1)])
        with np.errstate(invalid="ignore"):
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                return ops[stat](stack, axis=0)

    return stitched_apply(df, _fn, no_data=no_data)


def curvature_stitched(df: DataFrame, *, mode: str = "total",
                       no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """Surface curvature (Zevenbergen & Thorne 1987 — the ArcGIS
    "Curvature" tool's quadratic-patch coefficients) with the same
    cross-tile halo exchange as slope. Pixel units (multiply by
    100/cellsize² downstream for per-100-m values):

        D = ((z_W + z_E)/2 − z_C),   E = ((z_N + z_S)/2 − z_C)
        F = (−z_NW + z_NE + z_SW − z_SE)/4
        G = (−z_W + z_E)/2,          H = (z_N − z_S)/2

    mode='total'   : −2(D + E)·100          (ArcGIS sign convention)
    mode='profile' : −2(D·G² + E·H² + F·G·H)/(G² + H²)·100, 0 when flat
    mode='plan'    :  2(D·H² + E·G² − F·G·H)/(G² + H²)·100, 0 when flat

    Pure rational arithmetic — no libm — so a SQL oracle mirrors it
    exactly through the float32 output cast. NaN neighbors propagate
    (a pixel is no-data when any input its mode reads is)."""
    if mode not in ("total", "profile", "plan"):
        raise ValueError(f"unknown mode {mode!r}")

    def _fn(p: np.ndarray) -> np.ndarray:
        zC = p[1:-1, 1:-1]
        zN, zS = p[:-2, 1:-1], p[2:, 1:-1]
        zW, zE = p[1:-1, :-2], p[1:-1, 2:]
        zNW, zNE = p[:-2, :-2], p[:-2, 2:]
        zSW, zSE = p[2:, :-2], p[2:, 2:]
        D = (zW + zE) / 2.0 - zC
        E = (zN + zS) / 2.0 - zC
        if mode == "total":
            return -2.0 * (D + E) * 100.0
        Fc = (-zNW + zNE + zSW - zSE) / 4.0
        G = (-zW + zE) / 2.0
        H = (zN - zS) / 2.0
        den = G * G + H * H
        with np.errstate(invalid="ignore", divide="ignore"):
            if mode == "profile":
                num = -2.0 * (D * G * G + E * H * H + Fc * G * H)
            else:
                num = 2.0 * (D * H * H + E * G * G - Fc * G * H)
            out = np.where(den == 0, 0.0, num / den * 100.0)
        out[np.isnan(zC) | np.isnan(den) | np.isnan(D) | np.isnan(E)
            | np.isnan(Fc)] = np.nan
        return out

    return stitched_apply(df, _fn, no_data=no_data)


def terrain_index_stitched(df: DataFrame, *, mode: str = "tri",
                           no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """gdaldem-family terrain indices through the same cross-tile halo
    exchange as slope (reference exposes them via gdal.DEMProcessing,
    raster.py:794-824):

    mode='tri'        : Riley et al. 1999 Terrain Ruggedness Index —
                        sqrt(Σ over the 8 neighbors of (z_n − z_C)²)
    mode='tri_wilson' : Wilson et al. 2007 (gdaldem default) —
                        mean |z_n − z_C| over the 8 neighbors
    mode='tpi'        : Topographic Position Index — z_C minus the mean
                        of the 8 neighbors
    mode='roughness'  : max − min over the full 3×3 window

    All four are rational arithmetic plus one IEEE-exact sqrt over
    integer-valued inputs, so a SQL oracle mirrors them bit-for-bit
    through the float32 output cast. NaN propagation matches gdaldem:
    any NaN in the slots a mode reads makes the output pixel no-data;
    mosaic-outer borders keep edge-replicate via the halo pad."""
    if mode not in ("tri", "tri_wilson", "tpi", "roughness"):
        raise ValueError(f"unknown mode {mode!r}")

    def _fn(p: np.ndarray) -> np.ndarray:
        zC = p[1:-1, 1:-1]
        nb = [p[1 + dy:p.shape[0] - 1 + dy, 1 + dx:p.shape[1] - 1 + dx]
              for dy in (-1, 0, 1) for dx in (-1, 0, 1)
              if not (dx == 0 and dy == 0)]
        if mode == "tri":
            s = np.zeros_like(zC)
            for z in nb:
                d = z - zC
                s = s + d * d
            return np.sqrt(s)
        if mode == "tri_wilson":
            s = np.zeros_like(zC)
            for z in nb:
                s = s + np.abs(z - zC)
            return s / 8.0
        if mode == "tpi":
            s = np.zeros_like(zC)
            for z in nb:
                s = s + z
            return zC - s / 8.0
        hi = zC.copy()
        lo = zC.copy()
        for z in nb:
            hi = np.maximum(hi, z)
            lo = np.minimum(lo, z)
        return hi - lo

    return stitched_apply(df, _fn, no_data=no_data)


# ESRI D8 codes in tie-break preference order (smallest code wins a
# tie): E, SE, S, SW, W, NW, N, NE. dx = east offset, dy = south offset
# (row indices grow southward in the tile layout).
_D8 = [(1, 0, 1), (1, 1, 2), (0, 1, 4), (-1, 1, 8),
       (-1, 0, 16), (-1, -1, 32), (0, -1, 64), (1, -1, 128)]


def d8_flow_direction(df: DataFrame, *,
                      no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """D8 flow direction (the ArcGIS/GRASS hydrology primitive —
    reference scope: gdal.DEMProcessing-style terrain derivatives,
    raster.py:794-824) with the same cross-tile halo exchange as slope,
    so interior tile borders equal the single-global-array result.

    Per pixel: steepest positive drop (Δz / distance, distance √2 on
    diagonals) among the 8 neighbors, encoded as the ESRI power-of-two
    code (E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64, NE=128). Ties take
    the smallest code. Pits/flats (no positive drop) → 0. No-data
    neighbors are excluded; a no-data center stays no-data. Mosaic-outer
    borders use the same edge-replicate clamp as the slope path (the
    replicated neighbor sits at drop 0 and is never chosen).

    Codes ≤ 128 are exact in the float32 tile encoding; downstream
    hydrology (accumulation, watershed) consumes the (pixel → downhill
    pixel) edge list this induces."""
    sqrt2 = float(np.sqrt(2.0))

    def _fn(p: np.ndarray) -> np.ndarray:
        z = p[1:-1, 1:-1]
        h, w = z.shape
        best_drop = np.zeros((h, w))
        best_code = np.zeros((h, w), dtype=np.float32)
        for dx, dy, code in _D8:
            nb = p[1 + dy:1 + dy + h, 1 + dx:1 + dx + w]
            drop = (z - nb) / (sqrt2 if dx and dy else 1.0)
            with np.errstate(invalid="ignore"):
                take = np.isfinite(drop) & (drop > best_drop)
            best_drop = np.where(take, drop, best_drop)
            best_code = np.where(take, np.float32(code), best_code)
        best_code[np.isnan(z)] = np.nan
        return best_code

    return stitched_apply(df, _fn, no_data=no_data)


def apply_halo(p: np.ndarray, halo, no_data: float,
               dtype: str = "<f4") -> np.ndarray:
    """Overwrite the edge-replicate pad of `p` ((h+2, w+2), NaN nodata)
    with the collected neighbor strips (rows of {dc, dr, strip}); the
    corner rule replicates the GLOBAL array's clamped pad. Shared by
    stitched_apply and the cost-distance sweep loop (which exchanges
    float64 strips — accumulation surfaces must not round per sweep)."""
    strips = {}
    if halo is not None:
        for piece in halo:
            s = np.frombuffer(piece["strip"], dtype=dtype).astype(np.float64)
            strips[(int(piece["dc"]), int(piece["dr"]))] = \
                np.where(s == no_data, np.nan, s)
    # a strip emitted with offset (dc,dr) came FROM the neighbor at
    # (-dc,-dr) relative to this tile
    W, E = strips.get((1, 0)), strips.get((-1, 0))
    N, S = strips.get((0, 1)), strips.get((0, -1))
    if W is not None:
        p[1:-1, 0] = W
    if E is not None:
        p[1:-1, -1] = E
    if N is not None:
        p[0, 1:-1] = N
    if S is not None:
        p[-1, 1:-1] = S

    def _corner(diag, row_s, row_i, col_s, col_i):
        if diag is not None:
            return diag[0]
        if row_s is not None:              # N/S exists, E/W missing
            return row_s[row_i]
        if col_s is not None:              # E/W exists, N/S missing
            return col_s[col_i]
        return None

    for (py, px), v in {
        (0, 0): _corner(strips.get((1, 1)), N, 0, W, 0),
        (0, -1): _corner(strips.get((-1, 1)), N, -1, E, 0),
        (-1, 0): _corner(strips.get((1, -1)), S, 0, W, -1),
        (-1, -1): _corner(strips.get((-1, -1)), S, -1, E, -1),
    }.items():
        if v is not None:
            p[py, px] = v
    return p


def emit_strip_rows(a: np.ndarray, c: int, w_: int,
                    dtype: str = "<f4") -> list[tuple]:
    """The 4 edge strips + 4 corner pixels of one tile, keyed by the
    consuming neighbor's grid position (shared strip protocol)."""
    pieces = {
        (1, 0): a[:, -1], (-1, 0): a[:, 0],
        (0, 1): a[-1, :], (0, -1): a[0, :],
        (1, 1): a[-1:, -1], (-1, 1): a[-1:, 0],
        (1, -1): a[:1, -1], (-1, -1): a[:1, 0],
    }
    return [(c + dc, w_ + dr, dc, dr,
             np.ascontiguousarray(s, dtype=dtype).tobytes())
            for (dc, dr), s in pieces.items()]


STRIP_SCHEMA = T.StructType([
    T.StructField("__col", T.IntegerType()),
    T.StructField("__row", T.IntegerType()),
    T.StructField("dc", T.IntegerType()),
    T.StructField("dr", T.IntegerType()),
    T.StructField("strip", T.BinaryType()),
])


def stitched_apply(df: DataFrame, padded_fn, *,
                   no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """Generic 1-px halo-exchange pass: decode each tile, exchange edge
    strips/corners with grid neighbors, hand ``padded_fn`` the (h+2,
    w+2) edge-clamped+halo'd float64 array (no-data as NaN), and
    re-encode its (h, w) float32 result (NaN → no-data). The shuffle is
    4 strips + 4 corner pixels per tile, never whole tiles.

    A mosaic of at most core.DRIVER_MAX_ROWS pixels (the count comes
    from the grid summary) skips the shuffle: its tiles are collected
    once (by the summary itself, where it collected them) and the same
    strip emitter and kernel run on the driver, with the strips grouped
    into the same ``__halo`` lists, so the output is bit-identical."""
    from ..operators import core

    t, pixels, collect = _grid_indexed(df)

    def _emit_strips(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                arr = codec.decode(r["bytes"], int(r["w"]), int(r["h"]), r["fmt"])
                if arr.ndim == 3:
                    arr = arr.mean(axis=2)
                # (dc, dr) is the OFFSET of the neighbor that will consume
                # the strip; the strip is this tile's edge facing it
                rows.extend(emit_strip_rows(arr.astype(np.float32),
                                            int(r["__col"]), int(r["__row"])))
            if rows:
                yield pd.DataFrame(rows, columns=["__col", "__row", "dc", "dr", "strip"])

    out_schema = df.schema
    out_cols = list(df.columns)

    def _kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            bufs = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                arr = codec.decode(r["bytes"], int(r["w"]), int(r["h"]), r["fmt"])
                if arr.ndim == 3:
                    arr = arr.mean(axis=2)
                a = np.where(arr == no_data, np.nan, arr.astype(np.float64))
                # halo corners replicate the GLOBAL array's clamped pad:
                # diagonal neighbor if present, else the clamped element
                # of whichever edge neighbor exists, else self-replicate
                p = apply_halo(np.pad(a, 1, mode="edge"), r["__halo"],
                               no_data)
                o = padded_fn(p)
                o = np.where(np.isnan(o), no_data, o)
                bufs.append(codec.encode(o.astype(np.float32), "raw_f32"))
            out = pdf[out_cols].copy()
            out["bytes"] = pd.Series(bufs, index=pdf.index, dtype=object)
            # the result is a float32 surface whatever the source format
            # was (an RGB png DEM would otherwise crash the re-encode)
            out["fmt"] = "raw_f32"
            yield out

    if pixels <= core.DRIVER_MAX_ROWS:
        _log.debug("stitched_apply path=driver pixels=%d", pixels)
        tiles = collect()
        halo = {k: g[["dc", "dr", "strip"]].to_dict("records")
                for k, g in pd.concat(list(_emit_strips(iter([tiles]))))
                .groupby(["__col", "__row"])}
        tiles["__halo"] = [halo.get(k) for k in
                           zip(tiles["__col"], tiles["__row"])]
        return df.sparkSession.createDataFrame(
            next(_kernel(iter([tiles]))), schema=out_schema)
    _log.debug("stitched_apply path=distributed pixels=%d", pixels)
    strips = (t.mapInPandas(_emit_strips, schema=STRIP_SCHEMA)
              .groupBy("__col", "__row")
              .agg(F.collect_list(F.struct("dc", "dr", "strip")).alias("__halo")))
    joined = t.join(strips, on=["__col", "__row"], how="left")
    return joined.mapInPandas(_kernel, schema=out_schema)


def polygonize_stitched(df: DataFrame, *, no_data: float = codec.NO_DATA_F32,
                        res: int | None = None) -> DataFrame:
    """Mosaic-level polygonize: per-tile regions, then same-value regions
    touching across tile borders are merged (connected components over
    the touch graph + region union). Output: (value, region_wkb,
    region_area, px_count, n_tiles)."""
    from ..operators.core import CELL_COL, explode_cover
    from ..operators.network import connected_components
    from .polygonize import polygonize
    from .zonal import auto_res

    if res is None:
        res = auto_res(df)
    regions = (polygonize(df, no_data=no_data)
               .withColumn("__rid", F.monotonically_increasing_id().cast("string"))
               .localCheckpoint(eager=True))

    # border flag: region bbox within half a pixel of its tile's edge
    tiles = df.select("image_id", "gt_x0", "gt_rx", "gt_y0", "gt_ry", "w", "h")
    r2 = regions.join(tiles, on="image_id")

    bbox_schema = T.StructType(list(r2.schema.fields)
                               + [T.StructField("__border", T.BooleanType())])

    def _flag(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            flags = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                mnx, mny, mxx, mxy = K.bounds(wkb.decode(r["region_wkb"]))
                ex0 = r["gt_x0"]
                ex1 = r["gt_x0"] + r["gt_rx"] * int(r["w"])
                ey1 = r["gt_y0"]
                ey0 = r["gt_y0"] - r["gt_ry"] * int(r["h"])
                tol = min(r["gt_rx"], r["gt_ry"]) * 0.5
                flags.append(bool(mnx <= ex0 + tol or mxx >= ex1 - tol
                                  or mny <= ey0 + tol or mxy >= ey1 - tol))
            out = pdf.copy()
            out["__border"] = flags
            yield out

    flagged = r2.mapInPandas(_flag, schema=bbox_schema)
    interior = (flagged.where(~F.col("__border"))
                .select("value", "region_wkb", "region_area", "px_count")
                .withColumn("n_tiles", F.lit(1)))
    border = flagged.where(F.col("__border")).localCheckpoint(eager=True)

    # candidate touch pairs: cover-cell join, same value, different tiles
    bc = explode_cover(border.select("__rid", "region_wkb"), "region_wkb",
                       CELL_COL, res, res, max_cells=4096).drop("region_wkb")
    meta = border.select("__rid", "image_id", "value", "region_wkb")
    a = bc.join(meta, on="__rid")
    # qualified aliases: a self-join on derived lineage otherwise makes
    # `region_wkb` ambiguous at the projection
    A, B = a.alias("A"), a.alias("B")
    cand = (A.join(B, F.col(f"A.{CELL_COL}") == F.col(f"B.{CELL_COL}"))
            .where((F.col("A.__rid") < F.col("B.__rid"))
                   & (F.col("A.value") == F.col("B.value"))
                   & (F.col("A.image_id") != F.col("B.image_id")))
            .select(F.col("A.__rid").alias("__rid"),
                    F.col("B.__rid").alias("__rid_b"),
                    F.col("A.region_wkb").alias("region_wkb"),
                    F.col("B.region_wkb").alias("wkb_b"))
            .dropDuplicates(["__rid", "__rid_b"]))

    pair_schema = T.StructType([T.StructField("src_key", T.StringType()),
                                T.StructField("dst_key", T.StringType())])

    def _touch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            cache: dict[bytes, dict] = {}

            def dec(bb):
                g = cache.get(bb)
                if g is None:
                    g = cache[bb] = wkb.decode(bb)
                return g

            for i in range(len(pdf)):
                if K.intersects(dec(pdf["region_wkb"].iloc[i]),
                                dec(pdf["wkb_b"].iloc[i])):
                    rows.append((pdf["__rid"].iloc[i], pdf["__rid_b"].iloc[i]))
            if rows:
                yield pd.DataFrame(rows, columns=["src_key", "dst_key"])

    edges = cand.mapInPandas(_touch, schema=pair_schema)
    # self-loops keep isolated border regions in the component table
    selfloops = border.select(F.col("__rid").alias("src_key"),
                              F.col("__rid").alias("dst_key"))
    comp = connected_components(edges.unionByName(selfloops))

    merged_in = (border.select("__rid", "value", "region_wkb",
                               "region_area", "px_count")
                 .join(comp.withColumnRenamed("node", "__rid"), on="__rid"))

    out_schema = T.StructType([
        T.StructField("value", T.DoubleType()),
        T.StructField("region_wkb", T.BinaryType()),
        T.StructField("region_area", T.DoubleType()),
        T.StructField("px_count", T.LongType()),
        T.StructField("n_tiles", T.IntegerType()),
    ])

    def _merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        geoms = [wkb.decode(b) for b in pdf["region_wkb"]]
        if len(geoms) == 1:
            g = geoms[0]
        else:
            g = boolean.union_parts(geoms)
        if g is None:
            return pd.DataFrame(columns=["value", "region_wkb", "region_area",
                                         "px_count", "n_tiles"])
        return pd.DataFrame([{
            "value": float(pdf["value"].iloc[0]),
            "region_wkb": wkb.encode(g),
            "region_area": float(pdf["region_area"].sum()),
            "px_count": int(pdf["px_count"].sum()),
            "n_tiles": int(len(pdf)),
        }])

    merged = merged_in.groupBy("component").applyInPandas(
        lambda k, p: _merge(k, p), schema=out_schema)
    return interior.unionByName(merged)
