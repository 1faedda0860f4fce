"""Vector→raster tile burning (SURVEY.md §2.10; reference
shape_to_raster / geopandas_to_raster conversion.py:48-153 via
rasterio.features.rasterize, and ZonalStatistics' zone-id rasterization
stats.py:49-56).

Spark design: tiles are rows (either existing image rows carrying a
pixel grid, or a generated fishnet of cells at a resolution). The tile–
zone pair builder `zonal.map_tile_zones` hands each tile all the zones
it may meet: a broadcast zone index looked up in one pass over the
tiles for a zone layer within the broadcast limits, a cell-cover join
grouped by tile above them. A per-tile kernel burns its zones into one
array — pixel-center test by default (rasterio all_touched=False) or
pixel-rectangle overlap for all_touched. Output: one row per tile with
the burned array as raw_f32 bytes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..geom import kernels as K
from . import codec
from .zonal import map_tile_zones, pixel_centers, rasterize_mask


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
    gid order wins on overlap, like rasterize's sequential burn; a null
    value burns NaN); otherwise `burn_value`. Tiles intersecting no zone
    are filled with `background` (kept — the grid stays complete).
    res: the cover res of the cell plan (`zonal.map_tile_zones`).
    """
    tile_cols = [c for c in tiles.columns if c != "bytes"]
    out_schema = T.StructType(
        [tiles.schema[c] for c in tile_cols]
        + [T.StructField("bytes", T.BinaryType()),
           T.StructField("n_zones", T.IntegerType())])

    def _burn(t, zs) -> pd.DataFrame:
        w, h = int(t["w"]), int(t["h"])
        xs, ys = pixel_centers(t["gt_x0"], t["gt_rx"], t["gt_y0"], t["gt_ry"], w, h)
        arr = np.full((h, w), background, dtype=np.float32)
        nz = 0
        for z, g in zs:  # ascending zone_id: the last zone wins
            if all_touched:
                mask = _mask_all_touched(g, xs, ys, t["gt_rx"], t["gt_ry"])
            else:
                mask = rasterize_mask(g, xs, ys)
            if not mask.any():
                continue
            v = z[burn_attr] if burn_attr else burn_value
            arr[mask] = np.nan if v is None else float(v)  # null: NaN
            nz += 1
        row = {c: t[c] for c in tile_cols}
        row["bytes"] = codec.encode_raw_f32(arr)
        row["n_zones"] = nz
        return pd.DataFrame([row])

    return map_tile_zones("burn_zones_to_tiles", tiles.select(*tile_cols),
                          zones, _burn,
                          out_schema, zone_id=zone_id, zone_wkb=zone_wkb,
                          attrs=(burn_attr,) if burn_attr else (),
                          grouped=True, res=res, max_cells=4096)


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
