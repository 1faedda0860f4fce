"""ZonalStatistics — raster→vector zonal extraction (SURVEY.md §2.6).

Reference: /root/reference/gistools/stats.py:20-151 — rasterize the
polygon layer onto the raster grid (zone-id array), then per zone mask
the raster and compute mean/std/min/max/sum/density/no_data_count,
optionally surface-weighted (weights = per-pixel geodesic areas,
stats.py:154-203 + surface.py:15-53).

Spark design: the raster is tiled across image rows. Per (tile, zone)
candidate pair (cell cover join), an Arrow-batched kernel rasterizes the
zone mask over the tile's pixel grid and emits PARTIAL aggregates
(count, sum, sumsq, min, max, nodata, wsum, wsumsq, wtotal); a final
groupBy(zone) combines them — a classic partial/final aggregation, so
the big raster never concentrates on one node and tiles stream through.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .. import cells as C
from ..geom import kernels as K, wkb
from . import codec

PARTIAL_SCHEMA = [
    T.StructField("px_count", T.LongType()),
    T.StructField("px_sum", T.DoubleType()),
    T.StructField("px_sumsq", T.DoubleType()),
    T.StructField("px_min", T.DoubleType()),
    T.StructField("px_max", T.DoubleType()),
    T.StructField("nodata_count", T.LongType()),
    T.StructField("patch_count", T.LongType()),
    T.StructField("w_sum", T.DoubleType()),
    T.StructField("w_val_sum", T.DoubleType()),
    T.StructField("w_val_sumsq", T.DoubleType()),
]


def pixel_centers(gt_x0, gt_rx, gt_y0, gt_ry, w, h):
    xs = gt_x0 + (np.arange(w) + 0.5) * gt_rx
    ys = gt_y0 - (np.arange(h) + 0.5) * gt_ry
    return xs, ys


def pixel_surface(xs: np.ndarray, ys: np.ndarray, gt_rx: float, gt_ry: float,
                  radius: float = 6_371_000.0) -> np.ndarray:
    """Per-pixel geodesic area on the local sphere (reference
    surface.py:46-49: dx·dy·R²·cos(lat) in radians) → (h, w) array."""
    dlam = np.deg2rad(gt_rx)
    dphi = np.deg2rad(gt_ry)
    return np.broadcast_to(
        (radius ** 2) * dlam * dphi * np.cos(np.deg2rad(ys))[:, None],
        (len(ys), len(xs)),
    )


def rasterize_mask(g: dict, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """(h, w) bool mask: pixel CENTER inside polygon (rasterio default,
    all_touched=False — reference conversion.py:146-151)."""
    h, w = len(ys), len(xs)
    # vectorize over full grid: flatten
    gx, gy = np.meshgrid(xs, ys)
    return K.covers_xy(g, gx.ravel(), gy.ravel(), boundary_tol=0).reshape(h, w)


def auto_res(rasters: DataFrame, max_cells_per_tile: int = 64) -> int:
    """Pick the finest cover res whose cells keep every tile's bbox cover
    ≤ max_cells_per_tile (bounds the cover fan-out; the equi-join needs a
    single common res)."""
    row = rasters.agg(
        F.max(F.col("gt_rx") * F.col("w")).alias("sx"),
        F.max(F.col("gt_ry") * F.col("h")).alias("sy"),
    ).collect()[0]
    sx, sy = float(row["sx"]), float(row["sy"])
    side = int(np.sqrt(max_cells_per_tile))
    for res in range(C.MAX_RES, -1, -1):
        cw, ch = 360.0 / (1 << res), 180.0 / (1 << res)
        if sx / cw <= side - 1 and sy / ch <= side - 1:
            return res
    return 0


def tile_cover(tiles: DataFrame, res: int, *,
               pad_deg: float | None = None) -> DataFrame:
    """Each tile row once per grid cell at ``res`` that its bbox covers
    (pure column arithmetic — tiles are rectangles), in column
    ``operators.core.CELL_COL``. ``pad_deg`` widens the bbox by that many
    degrees of ground distance: latitude by ``pad_deg``, longitude by
    ``pad_deg / cos(lat)`` at the padded bbox's poleward edge, so a flat
    pad does not miss in-radius pixels at high latitude."""
    from ..operators.core import CELL_COL  # deferred: circular

    x0 = F.col("gt_x0")
    x1 = F.col("gt_x0") + F.col("gt_rx") * F.col("w")
    y0 = F.col("gt_y0") - F.col("gt_ry") * F.col("h")
    y1 = F.col("gt_y0")
    if pad_deg is not None:
        lat_abs = F.greatest(F.abs(y0), F.abs(y1)) + F.lit(pad_deg)
        pad_x = (F.lit(pad_deg)
                 / F.greatest(F.cos(F.radians(F.least(lat_abs, F.lit(89.0)))),
                              F.lit(1e-6)))
        x0, x1, y0, y1 = x0 - pad_x, x1 + pad_x, y0 - pad_deg, y1 + pad_deg
    n = 1 << res
    ix0 = F.floor((x0 + 180.0) / 360.0 * n).cast("long")
    ix1 = F.floor((x1 + 180.0) / 360.0 * n).cast("long")
    iy0 = F.floor((y0 + 90.0) / 180.0 * n).cast("long")
    iy1 = F.floor((y1 + 90.0) / 180.0 * n).cast("long")
    return (tiles
            .withColumn("__ix", F.explode(F.sequence(ix0, ix1)))
            .withColumn("__iy", F.explode(F.sequence(iy0, iy1)))
            .withColumn(CELL_COL,
                        F.lit(res).cast("long") * F.lit(1 << C.RES_SHIFT)
                        + F.col("__ix") * F.lit(1 << C.IX_SHIFT)
                        + F.col("__iy"))
            .drop("__ix", "__iy"))


def tile_zone_pairs(rasters: DataFrame, zones: DataFrame, *,
                    zone_wkb: str = "geometry_wkb", zone_id: str = "gid",
                    res: int | None = None,
                    max_cells: int = 1024) -> DataFrame:
    """Candidate (tile, zone) pairs via the cell-cover equi-join: tile
    bbox covers (pure arithmetic — tiles are rectangles) ⋈ zone covers.
    rasters needs (image_id, bytes, w, h, fmt, gt_x0, gt_rx, gt_y0,
    gt_ry). res=None → auto-pick so tile covers stay bounded."""
    # deferred import: operators package pulls topography which needs this
    # module (circular otherwise)
    from ..operators.core import CELL_COL, explode_cover

    if res is None:
        res = auto_res(rasters)
    t = tile_cover(rasters, res)
    zc = explode_cover(zones.select(zone_id, zone_wkb), zone_wkb, CELL_COL,
                       res, res, max_cells)
    return (t.join(zc, on=CELL_COL).drop(CELL_COL)
            .dropDuplicates(["image_id", zone_id]))


def zonal_partials(rasters: DataFrame, zones: DataFrame, *,
                   zone_wkb: str = "geometry_wkb", zone_id: str = "gid",
                   no_data: float = codec.NO_DATA_F32,
                   patch_value: float | None = None,
                   res: int | None = None, max_cells: int = 1024) -> DataFrame:
    """(tile, zone) partial aggregates — see tile_zone_pairs for the
    candidate join."""
    pairs = tile_zone_pairs(rasters, zones, zone_wkb=zone_wkb,
                            zone_id=zone_id, res=res, max_cells=max_cells)

    fields = ([T.StructField("image_id", T.StringType()),
               pairs.schema[zone_id]] + PARTIAL_SCHEMA)

    def _partial(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                arr = codec.decode(r["bytes"], int(r["w"]), int(r["h"]), r["fmt"]).astype(np.float64)
                if arr.ndim == 3:
                    arr = arr.mean(axis=2)
                xs, ys = pixel_centers(r["gt_x0"], r["gt_rx"], r["gt_y0"], r["gt_ry"],
                                       int(r["w"]), int(r["h"]))
                g = wkb.decode(r[zone_wkb])
                mask = rasterize_mask(g, xs, ys)
                if not mask.any():
                    continue
                vals = arr[mask]
                nod = vals == no_data
                good = vals[~nod]
                surf = pixel_surface(xs, ys, r["gt_rx"], r["gt_ry"])[mask][~nod]
                rows.append({
                    "image_id": r["image_id"], zone_id: r[zone_id],
                    "px_count": int(good.size),
                    "px_sum": float(good.sum()) if good.size else 0.0,
                    "px_sumsq": float((good ** 2).sum()) if good.size else 0.0,
                    "px_min": float(good.min()) if good.size else np.inf,
                    "px_max": float(good.max()) if good.size else -np.inf,
                    "nodata_count": int(nod.sum()),
                    "patch_count": int((good == patch_value).sum()) if patch_value is not None else 0,
                    "w_sum": float(surf.sum()),
                    "w_val_sum": float((surf * good).sum()),
                    "w_val_sumsq": float((surf * good ** 2).sum()),
                })
            if rows:
                yield pd.DataFrame(rows)

    return pairs.mapInPandas(_partial, schema=T.StructType(fields))


def zonal_statistics(rasters: DataFrame, zones: DataFrame, *,
                     zone_id: str = "gid",
                     surface_weighted: bool = False, **kw) -> DataFrame:
    """Final per-zone stats: mean/std/min/max/sum/count/nodata/density.

    std is population std (numpy default, reference stats.py:126-138);
    surface-weighted variants per stats.py:154-203.
    """
    p = zonal_partials(rasters, zones, zone_id=zone_id, **kw)
    agg = p.groupBy(zone_id).agg(
        F.sum("px_count").alias("n"),
        F.sum("px_sum").alias("s"),
        F.sum("px_sumsq").alias("ss"),
        F.min("px_min").alias("zonal_min"),
        F.max("px_max").alias("zonal_max"),
        F.sum("nodata_count").alias("no_data_count"),
        F.sum("patch_count").alias("patch"),
        F.sum("w_sum").alias("wsum"),
        F.sum("w_val_sum").alias("wvs"),
        F.sum("w_val_sumsq").alias("wvss"),
    )
    if surface_weighted:
        mean = F.col("wvs") / F.col("wsum")
        var = F.col("wvss") / F.col("wsum") - mean * mean
    else:
        mean = F.col("s") / F.col("n")
        var = F.col("ss") / F.col("n") - mean * mean
    return agg.select(
        zone_id,
        F.col("n").alias("zonal_count"),
        mean.alias("zonal_mean"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("zonal_std"),
        "zonal_min", "zonal_max",
        F.col("s").alias("zonal_sum"),
        "no_data_count",
        (F.col("patch") / F.col("n")).alias("density"),
    )


def zonal_value_counts(rasters: DataFrame, zones: DataFrame, *,
                       zone_wkb: str = "geometry_wkb", zone_id: str = "gid",
                       no_data: float = codec.NO_DATA_F32,
                       decimals: int = 6,
                       res: int | None = None,
                       max_cells: int = 1024) -> DataFrame:
    """Zonal histogram (QGIS "Zonal histogram" / GDAL class stats): one
    row per (zone, value) with the pixel count, no-data excluded.
    Values are rounded to `decimals` before counting so float rasters
    bin stably; categorical/integer rasters pass through exactly.

    Partial/final: the Arrow kernel emits per-(tile, zone) np.unique
    counts — O(distinct values) rows per pair, never the pixels — and
    one groupBy(zone, value) combines them. Same scale shape as
    zonal_statistics."""
    pairs = tile_zone_pairs(rasters, zones, zone_wkb=zone_wkb,
                            zone_id=zone_id, res=res, max_cells=max_cells)
    fields = T.StructType([pairs.schema[zone_id],
                           T.StructField("value", T.DoubleType()),
                           T.StructField("n", T.LongType())])

    def _partial(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            frames = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                arr = codec.decode(r["bytes"], int(r["w"]), int(r["h"]),
                                   r["fmt"]).astype(np.float64)
                if arr.ndim == 3:
                    arr = arr.mean(axis=2)
                xs, ys = pixel_centers(r["gt_x0"], r["gt_rx"], r["gt_y0"],
                                       r["gt_ry"], int(r["w"]), int(r["h"]))
                mask = rasterize_mask(wkb.decode(r[zone_wkb]), xs, ys)
                if not mask.any():
                    continue
                vals = arr[mask]
                vals = np.round(vals[vals != no_data], decimals)
                if not vals.size:
                    continue
                uniq, cnt = np.unique(vals, return_counts=True)
                frames.append(pd.DataFrame({
                    zone_id: r[zone_id], "value": uniq,
                    "n": cnt.astype(np.int64)}))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    partial = pairs.mapInPandas(_partial, schema=fields)
    return partial.groupBy(zone_id, "value").agg(F.sum("n").alias("n"))


def zonal_majority(rasters: DataFrame, zones: DataFrame, *,
                   zone_id: str = "gid", **kw) -> DataFrame:
    """Per-zone categorical summary (the zonal analog of the reference's
    majority_filter stub, raster.py:740, and of ArcGIS MAJORITY /
    MINORITY / VARIETY zonal statistics):

      variety       distinct values in the zone
      total_n       pixels counted (no-data excluded)
      majority      most frequent value  (ties → smallest value)
      majority_n    its count
      minority      least frequent value (ties → smallest value)
      minority_n    its count

    One extra groupBy over zonal_value_counts' (zone, value) rows."""
    vc = zonal_value_counts(rasters, zones, zone_id=zone_id, **kw)
    # lexicographic struct orderings pin the tie-breaks deterministically
    maj = F.max_by(F.struct("value", "n"),
                   F.struct(F.col("n"), -F.col("value")))
    mino = F.min_by(F.struct("value", "n"),
                    F.struct(F.col("n"), F.col("value")))
    return (vc.groupBy(zone_id).agg(
        F.count("*").alias("variety"),
        F.sum("n").alias("total_n"),
        maj.alias("__maj"), mino.alias("__min"))
        .select(zone_id, "variety", "total_n",
                F.col("__maj.value").alias("majority"),
                F.col("__maj.n").alias("majority_n"),
                F.col("__min.value").alias("minority"),
                F.col("__min.n").alias("minority_n")))
