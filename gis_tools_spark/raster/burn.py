"""Vector→raster tile burning (SURVEY.md §2.10; reference
shape_to_raster / geopandas_to_raster conversion.py:48-153 via
rasterio.features.rasterize, and ZonalStatistics' zone-id rasterization
stats.py:49-56).

Spark design: tiles are rows (either existing image rows carrying a
pixel grid, or a generated fishnet of cells at a resolution); zones join
to the tiles they intersect (cell-cover equi-join), then a per-(tile)
kernel burns all its zones into one array — pixel-center test by
default (rasterio all_touched=False) or bbox-overlap for all_touched.
Output: one row per tile with the burned array as raw_f32 bytes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..geom import kernels as K, wkb
from . import codec
from .zonal import auto_res, pixel_centers, tile_cover


def burn_zones_to_tiles(tiles: DataFrame, zones: DataFrame, *,
                        zone_wkb: str = "geometry_wkb",
                        burn_attr: str | None = None, burn_value: float = 1.0,
                        zone_id: str = "gid",
                        background: float = 0.0,
                        all_touched: bool = False,
                        res: int | None = None) -> DataFrame:
    """Burn zone polygons onto each tile's pixel grid.

    tiles: (image_id, w, h, gt_x0, gt_rx, gt_y0, gt_ry) rows.
    burn_attr: zone column whose value fills covered pixels (last zone in
    gid order wins on overlap, like rasterize's sequential burn);
    otherwise `burn_value`. Tiles intersecting no zone are filled with
    `background` (kept — the grid stays complete).
    """
    from ..operators.core import CELL_COL, explode_cover  # deferred: circular

    if res is None:
        res = auto_res(tiles)
    t = tile_cover(tiles, res)

    burn_cols = [zone_id, zone_wkb]
    if burn_attr and burn_attr not in burn_cols:
        burn_cols.append(burn_attr)
    zc = explode_cover(zones.select(*burn_cols), zone_wkb, CELL_COL,
                       res, res, max_cells=4096)
    pairs = (t.join(zc, on=CELL_COL, how="left").drop(CELL_COL)
             .dropDuplicates(["image_id", zone_id]))

    tile_cols = [c for c in tiles.columns]
    out_schema = T.StructType(
        [tiles.schema[c] for c in tile_cols if c != "bytes"]
        + [T.StructField("bytes", T.BinaryType()),
           T.StructField("n_zones", T.IntegerType())])

    def _burn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        r0 = pdf.iloc[0]
        w, h = int(r0["w"]), int(r0["h"])
        xs, ys = pixel_centers(r0["gt_x0"], r0["gt_rx"], r0["gt_y0"], r0["gt_ry"], w, h)
        arr = np.full((h, w), background, dtype=np.float32)
        nz = 0
        zrows = pdf[pdf[zone_wkb].notna()]
        for _, zr in zrows.sort_values(zone_id).iterrows():
            g = wkb.decode(zr[zone_wkb])
            if all_touched:
                mask = _mask_all_touched(g, xs, ys, r0["gt_rx"], r0["gt_ry"])
            else:
                gx, gy = np.meshgrid(xs, ys)
                mask = K.covers_xy(g, gx.ravel(), gy.ravel(), boundary_tol=0).reshape(h, w)
            if not mask.any():
                continue
            val = float(zr[burn_attr]) if burn_attr else burn_value
            arr[mask] = val
            nz += 1
        row = {c: r0[c] for c in tile_cols if c != "bytes"}
        row["bytes"] = codec.encode_raw_f32(arr)
        row["n_zones"] = nz
        return pd.DataFrame([row])

    return pairs.groupBy("image_id").applyInPandas(
        lambda key, pdf: _burn(key, pdf), schema=out_schema)


def _mask_all_touched(g: dict, xs: np.ndarray, ys: np.ndarray,
                      rx: float, ry: float) -> np.ndarray:
    """all_touched=True: any pixel whose RECT intersects the polygon.
    Approximated exactly for convex parts via rect-clip non-emptiness."""
    h, w = len(ys), len(xs)
    out = np.zeros((h, w), dtype=bool)
    mnx, mny, mxx, mxy = K.bounds(g)
    for yi in range(h):
        py0, py1 = ys[yi] - ry / 2, ys[yi] + ry / 2
        if py1 < mny or py0 > mxy:
            continue
        for xi in range(w):
            px0, px1 = xs[xi] - rx / 2, xs[xi] + rx / 2
            if px1 < mnx or px0 > mxx:
                continue
            out[yi, xi] = K.clip_rect(g, px0, py0, px1, py1) is not None
    return out
