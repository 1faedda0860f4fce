"""ZonalStatistics — raster→vector zonal extraction (SURVEY.md §2.6).

Reference: /root/reference/gistools/stats.py:20-151 — rasterize the
polygon layer onto the raster grid (zone-id array), then per zone mask
the raster and compute mean/std/min/max/sum/density/no_data_count,
optionally surface-weighted (weights = per-pixel geodesic areas,
stats.py:154-203 + surface.py:15-53).

Spark design: the raster is tiled across image rows. `map_tile_zones`,
the one tile–zone pair builder of the raster–vector ops (this module
and `burn.py`), hands each tile and its candidate zones to a per-tile
kernel. `operators.sjoin._strategy` picks its plan:

- broadcast (zones within the broadcast limits): `sjoin._BroadcastIndex`
  collects and decodes the zones once and broadcasts them with a
  `_cell_index` of their bboxes; one mapInPandas pass over the tiles
  decodes each tile once, looks up its candidate zones and runs the
  kernel, with no shuffle;
- cell (above the limits): a cell cover equi-join of tile bbox cells
  (and their ancestors, which a zone too large for the cover's cell cap
  is covered with) with zone cover cells carries each tile with each
  candidate zone.

Per (tile, zone) the zonal kernel rasterizes the zone mask over the
tile's pixel grid and emits PARTIAL aggregates (count, sum, sumsq, min,
max, nodata, wsum, wsumsq, wtotal); a final groupBy(zone) combines
them — a classic partial/final aggregation, so the big raster never
concentrates on one node and tiles stream through.
"""

from __future__ import annotations

from typing import Callable, Iterator

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
               pad_deg: float | None = None,
               coarser: bool = False) -> DataFrame:
    """Each tile row once per grid cell at ``res`` that its bbox covers
    (pure column arithmetic — tiles are rectangles), in column
    ``operators.core.CELL_COL``. ``pad_deg`` widens the bbox by that many
    degrees of ground distance: latitude by ``pad_deg``, longitude by
    ``pad_deg / cos(lat)`` at the padded bbox's poleward edge, so a flat
    pad does not miss in-radius pixels at high latitude. With
    ``coarser``, also once per cell it covers at each res below ``res``:
    the ancestors of its cells at ``res``, which is what a cover
    coarsened below ``res`` is made of."""
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
    # the res of each cell: ``res``, or with ``coarser`` each res down
    # to 0; floor(u * 2^r) at res r is floor(u * 2^res) >> (res - r)
    # (u scaled by a power of two is exact), so these are ancestors.
    # Plain explodes: a nested `transform` over the levels took 2.4x as
    # long to count the cover of 36 tiles
    r = F.col("__r")
    n = F.pow(F.lit(2.0), r)
    ix0 = F.floor((x0 + 180.0) / 360.0 * n).cast("long")
    ix1 = F.floor((x1 + 180.0) / 360.0 * n).cast("long")
    iy0 = F.floor((y0 + 90.0) / 180.0 * n).cast("long")
    iy1 = F.floor((y1 + 90.0) / 180.0 * n).cast("long")
    return (tiles
            .withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(res)))
                        if coarser else F.lit(res))
            .withColumn("__ix", F.explode(F.sequence(ix0, ix1)))
            .withColumn("__iy", F.explode(F.sequence(iy0, iy1)))
            .withColumn(CELL_COL,
                        r.cast("long") * F.lit(1 << C.RES_SHIFT)
                        + F.col("__ix") * F.lit(1 << C.IX_SHIFT)
                        + F.col("__iy"))
            .drop("__r", "__ix", "__iy"))


# the tile columns the pixel kernels read
_PIXEL_COLS = ("image_id", "bytes", "w", "h", "fmt",
               "gt_x0", "gt_rx", "gt_y0", "gt_ry")


def map_tile_zones(op: str, tiles: DataFrame, zones: DataFrame,
                   per_tile: Callable, schema: T.StructType, *,
                   zone_id: str = "gid", zone_wkb: str = "geometry_wkb",
                   attrs: tuple[str, ...] = (), grouped: bool = False,
                   res: int | None = None,
                   max_cells: int = 1024) -> DataFrame:
    """The one tile–zone pair builder of the raster–vector ops.

    ``per_tile(tile, zs)`` gets a tile row (``tile[c]`` for each tiles
    column) and a list of candidate ``(zone, geometry)`` pairs in
    ascending ``zone_id``: ``zone[c]`` for ``zone_id`` and ``attrs``,
    and the decoded ``zone_wkb``; zones with null WKB never appear. It
    returns a pandas frame of ``schema``, or None for no rows.
    Candidates are a superset of the zones whose bbox meets the tile's,
    so the kernel makes the exact test.

    ``op`` names the call in `sjoin._strategy`'s DEBUG record, which
    picks the plan from the zones' size:

    - broadcast: each tile gets one call with all its candidates (an
      empty list when it meets none), on the tiles' own partitions;
    - cell: with ``grouped``, the same, after a shuffle by tile;
      without it, one call per candidate (tile, zone) pair, and none
      for a tile without candidates. ``res`` (None: `auto_res` of the
      tiles) and ``max_cells`` size the cover.
    """
    from ..operators.sjoin import (  # deferred: circular
        _BroadcastIndex,
        _bbox_candidates,
        _spread,
        _strategy,
    )

    cols = list(dict.fromkeys((zone_id, zone_wkb, *attrs)))
    zones = zones.select(*cols)
    if _strategy(op, "auto", ("zones", zones, zone_wkb)) == "cell":
        return _cell_map(tiles, zones, per_tile, schema, zone_id=zone_id,
                         zone_wkb=zone_wkb, grouped=grouped, res=res,
                         max_cells=max_cells)

    index = _BroadcastIndex(zones, zone_wkb, _index_res,
                            key=lambda r: (r[zone_id] is None, r[zone_id]))
    bc = index.bc
    bz = tiles.sparkSession.sparkContext.broadcast((
        [{c: r[c] for c in cols if c != zone_wkb} for r in index.rows],
        index.boxes))

    def _zones_of(t) -> list:
        geoms_, index_, res_ = bc.value
        zattrs_, boxes_ = bz.value
        # the tile bbox padded by half a pixel: every pixel centre and
        # pixel rectangle lies inside it
        rx, ry = t["gt_rx"], t["gt_ry"]
        x0, y1 = t["gt_x0"] - rx / 2, t["gt_y0"] + ry / 2
        x1 = t["gt_x0"] + rx * (int(t["w"]) + 0.5)
        y0 = t["gt_y0"] - ry * (int(t["h"]) + 0.5)
        cand = _bbox_candidates(index_, res_, (x0, y0, x1, y1), len(geoms_))
        b = boxes_[cand]  # NaN for a null geometry: never passes
        cand = cand[(b[:, 0] <= x1) & (b[:, 2] >= x0)
                    & (b[:, 1] <= y1) & (b[:, 3] >= y0)]
        return [(zattrs_[j], geoms_[j]) for j in cand]

    return _spread(tiles).mapInPandas(
        lambda it: _each_row(it, lambda t: per_tile(t, _zones_of(t))),
        schema=schema)


def _each_row(it: Iterator[pd.DataFrame], fn: Callable):
    """A mapInPandas body: ``fn(row)``, a frame or None, for each row of
    each batch, concatenated into one frame per batch."""
    for pdf in it:
        frames = [f for f in (fn(pdf.iloc[i]) for i in range(len(pdf)))
                  if f is not None]
        if frames:
            yield pd.concat(frames, ignore_index=True)


def _index_res(boxes: np.ndarray) -> int:
    """Res of the broadcast zone index: the finest whose cells are as
    large as the median zone bbox (NaN rows skipped), so a typical zone
    sits in ≤ 4 cells (picked from the collected zones: no job over the
    tiles)."""
    boxes = boxes[~np.isnan(boxes[:, 0])]
    if not len(boxes):
        return 0
    sx = float(np.median(boxes[:, 2] - boxes[:, 0]))
    sy = float(np.median(boxes[:, 3] - boxes[:, 1]))
    for res in range(C.MAX_RES, -1, -1):
        if 360.0 / (1 << res) >= sx and 180.0 / (1 << res) >= sy:
            return res
    return 0


def _cell_map(tiles: DataFrame, zones: DataFrame, per_tile: Callable,
              schema: T.StructType, *, zone_id: str, zone_wkb: str,
              grouped: bool, res: int | None, max_cells: int) -> DataFrame:
    """`map_tile_zones` above the broadcast limits: the cell-cover pairs
    of `_cell_pairs`, then one mapInPandas call per pair or, with
    ``grouped``, one applyInPandas call per tile."""
    pairs = _cell_pairs(tiles, zones, zone_id=zone_id, zone_wkb=zone_wkb,
                        res=res, max_cells=max_cells,
                        how="left" if grouped else "inner")
    if grouped:
        def _tile(pdf: pd.DataFrame) -> pd.DataFrame:
            zs = pdf[pdf[zone_wkb].notna()].sort_values(zone_id)
            return per_tile(pdf.iloc[0], [(z, wkb.decode(z[zone_wkb]))
                                          for _, z in zs.iterrows()])

        return pairs.groupBy("image_id").applyInPandas(_tile, schema=schema)

    return pairs.mapInPandas(lambda it: _each_row(
        it, lambda r: per_tile(r, [(r, wkb.decode(r[zone_wkb]))])),
        schema=schema)


def _cell_pairs(tiles: DataFrame, zones: DataFrame, *, zone_id: str,
                zone_wkb: str, res: int | None, max_cells: int,
                how: str) -> DataFrame:
    """Candidate (tile, zone) rows, each pair once: tile bbox cells at
    ``res`` (None: `auto_res`) ⋈ zone cover cells (``how``='left' keeps
    tiles without candidates, with null zone columns). The cover of a
    zone whose bbox spans more than ``max_cells`` cells at ``res`` is
    coarsened, so the tile side also carries its cells' ancestors at
    every coarser res: one equi-join matches both."""
    from ..operators.core import CELL_COL, explode_cover  # deferred: circular

    if res is None:
        res = auto_res(tiles)
    zc = explode_cover(zones, zone_wkb, CELL_COL, res, res, max_cells)
    return (tile_cover(tiles, res, coarser=True)
            .join(zc, on=CELL_COL, how=how).drop(CELL_COL)
            .dropDuplicates(["image_id", zone_id]))


def _tile_pixels(t) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A tile row's pixels as float64 (the band mean for multi-band
    tiles) and its pixel-centre x and y coordinates."""
    w, h = int(t["w"]), int(t["h"])
    arr = codec.decode(t["bytes"], w, h, t["fmt"]).astype(np.float64)
    if arr.ndim == 3:
        arr = arr.mean(axis=2)
    xs, ys = pixel_centers(t["gt_x0"], t["gt_rx"], t["gt_y0"], t["gt_ry"],
                           w, h)
    return arr, xs, ys


def _partial_row(arr: np.ndarray, xs: np.ndarray, ys: np.ndarray,
                 rx: float, ry: float, g: dict, no_data: float,
                 patch_value: float | None) -> dict | None:
    """The PARTIAL_SCHEMA aggregates of the tile pixels whose centres
    ``g`` covers; None when it covers none."""
    mask = rasterize_mask(g, xs, ys)
    if not mask.any():
        return None
    vals = arr[mask]
    nod = vals == no_data
    good = vals[~nod]
    surf = pixel_surface(xs, ys, rx, ry)[mask][~nod]
    return {
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
    }


def _value_counts(arr: np.ndarray, xs: np.ndarray, ys: np.ndarray,
                  g: dict, no_data: float, decimals: int):
    """Distinct values (rounded to ``decimals``) and their counts over
    the tile pixels whose centres ``g`` covers, no-data excluded; None
    when there are none."""
    vals = arr[rasterize_mask(g, xs, ys)]
    vals = np.round(vals[vals != no_data], decimals)
    if not vals.size:
        return None
    return np.unique(vals, return_counts=True)


def zonal_partials(rasters: DataFrame, zones: DataFrame, *,
                   zone_wkb: str = "geometry_wkb", zone_id: str = "gid",
                   no_data: float = codec.NO_DATA_F32,
                   patch_value: float | None = None,
                   res: int | None = None, max_cells: int = 1024) -> DataFrame:
    """(tile, zone) partial aggregates — see map_tile_zones for the
    candidate pairs; ``res`` and ``max_cells`` size its cell plan's
    cover."""
    fields = ([T.StructField("image_id", T.StringType()),
               zones.schema[zone_id]] + PARTIAL_SCHEMA)

    def _tile(t, zs) -> pd.DataFrame | None:
        if not zs:
            return None
        arr, xs, ys = _tile_pixels(t)
        rows = []
        for z, g in zs:
            p = _partial_row(arr, xs, ys, t["gt_rx"], t["gt_ry"], g,
                             no_data, patch_value)
            if p is not None:
                rows.append({"image_id": t["image_id"], zone_id: z[zone_id],
                             **p})
        return pd.DataFrame(rows) if rows else None

    return map_tile_zones("zonal_statistics", rasters.select(*_PIXEL_COLS),
                          zones, _tile, T.StructType(fields),
                          zone_id=zone_id, zone_wkb=zone_wkb, res=res,
                          max_cells=max_cells)


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
    fields = T.StructType([zones.schema[zone_id],
                           T.StructField("value", T.DoubleType()),
                           T.StructField("n", T.LongType())])

    def _tile(t, zs) -> pd.DataFrame | None:
        if not zs:
            return None
        arr, xs, ys = _tile_pixels(t)
        frames = []
        for z, g in zs:
            vc = _value_counts(arr, xs, ys, g, no_data, decimals)
            if vc is not None:
                frames.append(pd.DataFrame({zone_id: z[zone_id],
                                            "value": vc[0],
                                            "n": vc[1].astype(np.int64)}))
        return pd.concat(frames, ignore_index=True) if frames else None

    partial = map_tile_zones("zonal_value_counts",
                             rasters.select(*_PIXEL_COLS), zones, _tile,
                             fields, zone_id=zone_id, zone_wkb=zone_wkb,
                             res=res, max_cells=max_cells)
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
