"""Raster ↔ vector composite ops (SURVEY.md §2.10): point sampling
(get_value_at, raster.py:312-348), the tile pyramid and the two-raster
crosstab.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from . import codec


def sample_at_points(rasters: DataFrame, points: DataFrame, *,
                     lon: str = "lon", lat: str = "lat", point_id: str = "pid",
                     no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """Raster value at each point (reference get_value_at): PIP join
    points ⋈ tile footprints (bbox arithmetic, no UDF) + pixel index
    math. Points under several tiles take the min image_id (mosaic
    first-wins)."""
    t = (rasters
         .withColumn("__maxx", F.col("gt_x0") + F.col("gt_rx") * F.col("w"))
         .withColumn("__miny", F.col("gt_y0") - F.col("gt_ry") * F.col("h")))
    cond = ((F.col(lon) >= F.col("gt_x0")) & (F.col(lon) < F.col("__maxx"))
            & (F.col(lat) > F.col("__miny")) & (F.col(lat) <= F.col("gt_y0")))
    j = points.join(t, cond, "inner")
    w = Window.partitionBy(point_id).orderBy("image_id")
    j = (j.withColumn("__rn", F.row_number().over(w)).where("__rn = 1").drop("__rn"))

    fields = T.StructType(list(points.schema.fields)
                          + [T.StructField("image_id", T.StringType()),
                             T.StructField("value", T.DoubleType())])
    pcols = list(points.columns)

    def _sample(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            vals = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                arr = codec.decode(r["bytes"], int(r["w"]), int(r["h"]), r["fmt"])
                ci = int((r[lon] - r["gt_x0"]) / r["gt_rx"])
                ri = int((r["gt_y0"] - r[lat]) / r["gt_ry"])
                ci = min(max(ci, 0), int(r["w"]) - 1)
                ri = min(max(ri, 0), int(r["h"]) - 1)
                v = float(arr[ri, ci] if arr.ndim == 2 else arr[ri, ci].mean())
                vals.append(np.nan if v == no_data else v)
            out = pdf[pcols + ["image_id"]].copy()
            out["value"] = vals
            yield out

    return j.mapInPandas(_sample, schema=fields)


def raster_pyramid(tiles: DataFrame, *, levels: int, origin: tuple,
                   nodata_mode: str = "ignore",
                   no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """Distributed overview-pyramid builder over an aligned tile mosaic
    — the op that BUILDS the reduced-resolution levels a COG lake
    serves (raster/geotiff.encode_cog writes one raster's pyramid
    in-task; this builds the pyramid of a MOSAIC whose full-resolution
    level spans many rows). Level k+1 tiles form by merging 2×2
    level-k tiles and 2×2 mean-pooling the pixels, so each level is
    one shuffle on the parent tile key and holds 4× fewer rows — a
    tree reduction whose plan is identical at 16 tiles or 16 million
    (reference parity: gdaladdo-style overview build over the mosaic
    of raster.py:517-536).

    Input rows follow the raster-tile model (image_id, bytes, w, h,
    fmt, gt_x0, gt_rx, gt_y0, gt_ry) on an ALIGNED grid: equal square
    tiles, equal resolution, corners on origin + integer multiples of
    the tile span. ``origin`` = (x, y) of the mosaic's upper-left.

    nodata_mode:
    * 'ignore' (GDAL average semantics): mean over the valid children
      of each 2×2 block; nodata only when all four are nodata.
    * 'propagate': a block with ANY nodata child pools to nodata —
      every surviving value is sum-of-4/4, which keeps integer-valued
      mosaics exactly representable at every level (the property the
      driver gate's closed-form oracle pins).

    Missing quadrant tiles fill with nodata. Returns tiles of the SAME
    pixel size at levels 1..levels with (level, tile_x, tile_y) keys,
    fmt='raw_f32'.
    """
    if nodata_mode not in ("ignore", "propagate"):
        raise ValueError(f"unknown nodata_mode {nodata_mode!r}")
    ox, oy = float(origin[0]), float(origin[1])

    out_schema = T.StructType([
        T.StructField("level", T.IntegerType()),
        T.StructField("tile_x", T.LongType()),
        T.StructField("tile_y", T.LongType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("gt_x0", T.DoubleType()),
        T.StructField("gt_rx", T.DoubleType()),
        T.StructField("gt_y0", T.DoubleType()),
        T.StructField("gt_ry", T.DoubleType()),
    ])

    def _pool(a: np.ndarray) -> np.ndarray:
        """(2T, 2T) float32 → (T, T) float32, nodata-aware."""
        hh, ww = a.shape[0] // 2, a.shape[1] // 2
        b = (a.reshape(hh, 2, ww, 2).transpose(0, 2, 1, 3)
             .reshape(hh, ww, 4).astype(np.float64))
        valid = b != no_data
        cnt = valid.sum(-1)
        if nodata_mode == "propagate":
            s = b.sum(-1)                      # exact: 4 integer-ish adds
            return np.where(cnt == 4, s / 4.0, no_data).astype(np.float32)
        s = np.where(valid, b, 0.0).sum(-1)
        return np.where(cnt > 0, s / np.maximum(cnt, 1),
                        no_data).astype(np.float32)

    def _merge(level: int, tpx: int, rx: float, ry: float):
        span_x, span_y = rx * tpx * 2, ry * tpx * 2

        def inner(key, pdf: pd.DataFrame) -> pd.DataFrame:
            ptx, pty = int(key[0]), int(key[1])
            big = np.full((tpx * 2, tpx * 2), no_data, dtype=np.float32)
            for r in pdf.itertuples(index=False):
                arr = codec.decode(r.bytes, int(r.w), int(r.h), r.fmt)
                qx = int(r.tile_x) - 2 * ptx
                qy = int(r.tile_y) - 2 * pty
                big[qy * tpx:(qy + 1) * tpx,
                    qx * tpx:(qx + 1) * tpx] = arr.astype(np.float32)
            out = _pool(big)
            x0 = ox + ptx * span_x
            y0 = oy - pty * span_y
            return pd.DataFrame([{
                "level": level, "tile_x": ptx, "tile_y": pty,
                "image_id": f"pyr_{level}_{ptx}_{pty}",
                "bytes": codec.encode_raw_f32(out),
                "w": tpx, "h": tpx, "fmt": "raw_f32",
                "gt_x0": x0, "gt_rx": rx * 2, "gt_y0": y0,
                "gt_ry": ry * 2,
            }])
        return inner

    # normalize level 0: derive integer tile indices from the transform
    first = tiles.select("w", "h", "gt_rx", "gt_ry").first()
    tpx = int(first["w"])
    if int(first["h"]) != tpx:
        raise ValueError("pyramid needs square tiles")
    rx0, ry0 = float(first["gt_rx"]), float(first["gt_ry"])
    cur = tiles.select(
        F.round((F.col("gt_x0") - F.lit(ox)) / F.lit(rx0 * tpx))
        .cast("long").alias("tile_x"),
        F.round((F.lit(oy) - F.col("gt_y0")) / F.lit(ry0 * tpx))
        .cast("long").alias("tile_y"),
        "image_id", "bytes", "w", "h", "fmt")

    outs = []
    rx, ry = rx0, ry0
    for lvl in range(1, levels + 1):
        parent = (cur
                  .withColumn("__px", F.floor(F.col("tile_x") / 2)
                              .cast("long"))
                  .withColumn("__py", F.floor(F.col("tile_y") / 2)
                              .cast("long"))
                  .groupBy("__px", "__py")
                  .applyInPandas(_merge(lvl, tpx, rx, ry),
                                 schema=out_schema))
        if lvl < levels:
            # each level feeds BOTH the next level and the returned
            # union — without a checkpoint, level k's whole subtree
            # re-evaluates once per deeper level (O(levels^2) stages)
            parent = parent.localCheckpoint(eager=True)
        outs.append(parent)
        cur = parent.select("tile_x", "tile_y", "image_id", "bytes",
                            "w", "h", "fmt")
        rx, ry = rx * 2, ry * 2
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def raster_crosstab(a: DataFrame, b: DataFrame, *, id_col: str = "image_id",
                    bytes_col: str = "bytes",
                    no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """Change-detection cross-tabulation of two co-gridded categorical
    raster layers: (val_a, val_b, n_pixels) over every pixel where
    BOTH layers have data — the transition matrix behind land-cover
    change analysis (reference runs this through two gdal reads + numpy
    in memory, raster.py:104-141; here each tile pair crosstabs
    locally and one groupBy sums the partial matrices).

    Tiles join on ``id_col`` (same tiling both layers — the engine's
    raster contract); per-tile partial crosstabs are tiny
    (distinct-pair counts), so the shuffle after the Arrow stage is
    O(tiles × distinct transitions), not O(pixels)."""
    need = [id_col, bytes_col, "w", "h", "fmt"]
    j = (a.select(*[F.col(c).alias(f"a_{c}") for c in need])
         .join(b.select(*[F.col(c).alias(f"b_{c}") for c in need]),
               F.col(f"a_{id_col}") == F.col(f"b_{id_col}")))

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            parts = []
            for r in pdf.itertuples(index=False):
                va = codec.decode(getattr(r, f"a_{bytes_col}"),
                                  int(r.a_w), int(r.a_h), r.a_fmt)
                vb = codec.decode(getattr(r, f"b_{bytes_col}"),
                                  int(r.b_w), int(r.b_h), r.b_fmt)
                if va.shape != vb.shape:
                    raise ValueError(
                        f"tile {getattr(r, f'a_{id_col}')}: shape "
                        f"{va.shape} vs {vb.shape} — layers not co-gridded")
                ok = (va != no_data) & (vb != no_data) \
                    & ~np.isnan(va) & ~np.isnan(vb)
                if not ok.any():
                    continue
                pair = pd.DataFrame({"val_a": va[ok], "val_b": vb[ok]})
                g = (pair.groupby(["val_a", "val_b"], sort=False)
                     .size().reset_index(name="n"))
                parts.append(g)
            if parts:
                yield pd.concat(parts, ignore_index=True)

    partial = j.mapInPandas(_run,
                            schema="val_a double, val_b double, n long")
    return (partial.groupBy("val_a", "val_b")
            .agg(F.sum("n").alias("n_pixels")))
