"""Topography: 360° horizon from DEM tiles (SURVEY.md §2.12; reference
get_horizon topography.py:122-201 — per observer: azimuth/elevation to
every DEM pixel within a radius, digitized into azimuth sectors, max
elevation angle per sector; example_1.py is the reference's de-facto
test for this).

Distributed shape: observers ⋈ DEM tiles within `radius` (bbox-pad cell
join, same pattern as dwithin) → per (observer, tile) partial: max
elevation angle per azimuth sector → groupBy(observer, sector).max() —
partial/final agg, so a 100 TB DEM never concentrates.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .. import cells as C
from ..raster import codec
from ..raster.zonal import pixel_centers, tile_cover
from .core import CELL_COL

EARTH_R = 6_371_000.0


def get_horizon(observers: DataFrame, dem_tiles: DataFrame, *,
                lon: str = "lon", lat: str = "lat", obs_id: str = "pid",
                elev_col: str | None = None,
                radius_deg: float = 0.5, n_sectors: int = 36,
                no_data: float = codec.NO_DATA_F32,
                res: int | None = None) -> DataFrame:
    """Horizon elevation-angle profile per observer:
    (obs_id, sector [0..n_sectors), azimuth_deg, horizon_deg).

    Observer height = DEM value at its own pixel unless `elev_col` given.
    Flat-earth small-angle model matching the reference's get_elevation
    (topography.py:242-259: atan(Δh / ground_distance)).
    """
    if res is None:
        res = C.RES_MIN
        while res > 2 and 180.0 / (1 << res) < radius_deg:
            res -= 1
    if elev_col is None:
        # observer height = DEM value at its own pixel — resolve once via
        # the point-sampling join, THEN fan out to tiles (a tile that
        # doesn't contain the observer must still use this height)
        from ..raster.ops import sample_at_points

        sampled = sample_at_points(dem_tiles, observers, lon=lon, lat=lat,
                                   point_id=obs_id, no_data=no_data)
        observers = (sampled.withColumn("__own", F.coalesce(F.col("value"), F.lit(0.0)))
                     .drop("value", "image_id"))
        elev_col = "__own"
    # observers ⋈ tiles whose bbox (padded by radius) covers the observer cell
    tc = tile_cover(dem_tiles, res, pad_deg=radius_deg)
    oc = observers.withColumn(CELL_COL, C.cell_column(F.col(lon), F.col(lat), res))
    pairs = oc.join(tc, on=CELL_COL).drop(CELL_COL) \
              .dropDuplicates([obs_id, "image_id"])

    part_fields = T.StructType([
        observers.schema[obs_id],
        T.StructField("sector", T.IntegerType()),
        T.StructField("horizon_deg", T.DoubleType()),
        T.StructField("own_elev", T.DoubleType()),
    ])

    def _partial(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                arr = codec.decode(r["bytes"], int(r["w"]), int(r["h"]), r["fmt"]).astype(np.float64)
                xs, ys = pixel_centers(r["gt_x0"], r["gt_rx"], r["gt_y0"], r["gt_ry"],
                                       int(r["w"]), int(r["h"]))
                ox, oy = float(r[lon]), float(r[lat])
                gx, gy = np.meshgrid(xs, ys)
                dx = (gx - ox) * np.cos(np.deg2rad(oy)) * np.pi / 180 * EARTH_R
                dy = (gy - oy) * np.pi / 180 * EARTH_R
                # sqrt(dx²+dy²) rather than np.hypot: bit-identical to the
                # SQL oracle's sqrt form (hypot rounds differently)
                dist = np.sqrt(dx * dx + dy * dy)
                good = (arr != no_data) & (dist > 1.0) & (dist <= radius_deg * np.pi / 180 * EARTH_R)
                own = float(r[elev_col])
                if not good.any():
                    continue
                az = (np.degrees(np.arctan2(dx[good], dy[good])) + 360.0) % 360.0
                elev_ang = np.degrees(np.arctan2(arr[good] - own, dist[good]))
                sector = np.minimum((az / (360.0 / n_sectors)).astype(int), n_sectors - 1)
                for s in np.unique(sector):
                    rows.append((r[obs_id], int(s),
                                 float(elev_ang[sector == s].max()), own))
            if rows:
                yield pd.DataFrame(rows, columns=[obs_id, "sector", "horizon_deg", "own_elev"])

    partials = pairs.mapInPandas(_partial, schema=part_fields)
    out = (partials.groupBy(obs_id, "sector")
           .agg(F.max("horizon_deg").alias("horizon_deg"))
           .withColumn("azimuth_deg", (F.col("sector") + 0.5) * (360.0 / n_sectors)))
    return out


def viewshed(dem_tiles: DataFrame, observer_cell: tuple[int, int], *,
             observer_height: float = 2.0, max_d2: int | None = None,
             n_sectors: int = 16,
             no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """Sector viewshed from one observer pixel (the XDraw-family
    approximation every raster GIS ships — reference scope: the same
    elevation-angle model as get_horizon, topography.py:122-201):
    a pixel is visible iff its elevation angle from the observer
    exceeds that of EVERY strictly closer pixel in its azimuth sector.

    Distributed shape — no rays, no iteration: decode tiles to pixel
    rows, derive (sector, d², tan) in whole-stage codegen, then ONE
    window per sector: running max(tan) over strictly smaller d²
    (RANGE … 1 PRECEDING on the integer d²). Equal-d² pixels never
    block each other (deterministic, mirrored in the SQL oracle).

    n_sectors=16 uses EXACT integer octant+half-octant binning (no
    atan2, so the oracle can't drift on a libm ulp); other values bin
    by atan2 azimuth (documented last-ulp sector-boundary caveat).

    Returns (gix, giy, sector, d2, tan_angle, visible) for every valid
    pixel except the observer's own cell.
    """
    px = decode_pixels(dem_tiles, no_data=no_data)
    ogx, ogy = int(observer_cell[0]), int(observer_cell[1])
    oz = (px.where((F.col("gix") == ogx) & (F.col("giy") == ogy))
          .select((F.col("z") + F.lit(float(observer_height)))
                  .alias("__oz")))
    j = px.crossJoin(F.broadcast(oz))
    dx = F.col("gix") - F.lit(ogx)
    dy = F.col("giy") - F.lit(ogy)
    d2 = (dx * dx + dy * dy).cast("long")
    j = j.withColumn("d2", d2).where(F.col("d2") > 0)
    if max_d2 is not None:
        j = j.where(F.col("d2") <= int(max_d2))
    if n_sectors == 16:
        ax, ay = F.abs(dx), F.abs(dy)
        octant = ((F.when(dy < 0, 1).otherwise(0) * 4)
                  + (F.when(dx < 0, 1).otherwise(0) * 2)
                  + F.when(ay > ax, 1).otherwise(0))
        sub = F.when(F.least(ax, ay) * 2 >= F.greatest(ax, ay), 1) \
            .otherwise(0)
        sector = (octant * 2 + sub).cast("int")
    else:
        two_pi = 2.0 * float(np.pi)
        az = F.atan2(dy.cast("double"), dx.cast("double")) + F.lit(float(np.pi))
        sector = F.least(F.floor(az / F.lit(two_pi) * n_sectors),
                         F.lit(n_sectors - 1)).cast("int")
    tan = (F.col("z") - F.col("__oz")) / F.sqrt(F.col("d2").cast("double"))
    j = j.withColumn("sector", sector).withColumn("tan_angle", tan)
    from pyspark.sql import Window
    w = (Window.partitionBy("sector").orderBy("d2")
         .rangeBetween(Window.unboundedPreceding, -1))
    mx = F.max("tan_angle").over(w)
    return j.select(
        "gix", "giy", "sector", "d2", "tan_angle",
        (mx.isNull() | (F.col("tan_angle") > mx)).alias("visible"))


def decode_pixels(dem_tiles: DataFrame, *,
                  no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """(gix, giy, z) pixel rows from a tiled mosaic (valid pixels
    only); grid indices derived from each tile's geotransform."""
    from ..raster.stitch import _grid_indexed

    t, _, _ = _grid_indexed(dem_tiles)

    def _px(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                arr = codec.decode(r["bytes"], int(r["w"]), int(r["h"]),
                                   r["fmt"])
                rows_, cols_ = np.nonzero(arr != no_data)
                recs.append(pd.DataFrame(
                    {"gix": int(r["__col"]) * int(r["w"]) + cols_,
                     "giy": int(r["__row"]) * int(r["h"]) + rows_,
                     "z": arr[rows_, cols_].astype(np.float64)}))
            if recs:
                yield pd.concat(recs, ignore_index=True)

    return t.mapInPandas(_px, schema="gix long, giy long, z double")


def dozier_horizon_1d(elev: np.ndarray, spacing: float) -> np.ndarray:
    """Dozier & Frew 1-D forward-horizon stack algorithm (reference
    topography.py:74-108, numba kernel): for each point, the max
    elevation angle looking forward along the profile."""
    n = len(elev)
    out = np.zeros(n)
    stack = [n - 1]
    for i in range(n - 2, -1, -1):
        while stack:
            j = stack[-1]
            ang_j = (elev[j] - elev[i]) / ((j - i) * spacing)
            if len(stack) >= 2:
                k = stack[-2]
                ang_k = (elev[k] - elev[i]) / ((k - i) * spacing)
                if ang_k >= ang_j:
                    stack.pop()
                    continue
            break
        j = stack[-1]
        ang = (elev[j] - elev[i]) / ((j - i) * spacing)
        out[i] = max(0.0, np.degrees(np.arctan(ang)))
        stack.append(i)
    return out
