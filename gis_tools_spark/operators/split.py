"""Tiling / splitting operators (SURVEY.md §2.4 — the reference's
"geotile splitting" surface: katana geometry.py:489-543, fishnet/mesh
geometry.py:311-318+646-679, hexana geometry.py:321-425, line cuts
geometry.py:136-249, split dispatch layer.py:1116-1137).

All fan-out operators are Arrow-batched UDFs producing array columns,
exploded by Catalyst — the distributed version of the reference's
`iterate_over_geometry` row-replication (layer.py:197-274).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from .. import cells as C
from ..geom import kernels as K, wkb


# ------------------------------------------------------------------ fishnet

def fishnet(df: DataFrame, *, wkb_col: str = "geometry_wkb",
            res: int | None = None, threshold: float | None = None,
            keep_piece_geom: bool = True) -> DataFrame:
    """Clip each polygon to the regular cell grid (reference mesh/fishnet:
    clip polygon to square grid of given cell area, geometry.py:311-318).

    `res` picks the grid; alternatively `threshold` (max piece bbox area
    in deg²) chooses the finest res whose cells are ≥ threshold.
    Output: input row × piece → (cell, piece_wkb, piece_area).
    """
    if res is None:
        if threshold is None:
            raise ValueError("need res or threshold")
        res = 0
        while res < C.MAX_RES:
            w = 360.0 / (1 << (res + 1))
            h = 180.0 / (1 << (res + 1))
            if w * h < threshold:
                break
            res += 1

    fields = list(df.schema.fields) + [
        T.StructField("cell", T.LongType()),
        T.StructField("piece_wkb", T.BinaryType()),
        T.StructField("piece_area", T.DoubleType()),
    ]

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_rows = []
            for i in range(len(pdf)):
                buf = pdf[wkb_col].iloc[i]
                if buf is None:
                    continue
                g = wkb.decode(buf)
                mnx, mny, mxx, mxy = K.bounds(g)
                for c in C.bbox_to_cells(mnx, mny, mxx, mxy, res).tolist():
                    cb = C.cell_to_bounds(np.int64(c))
                    clipped = K.clip_rect(g, *cb)
                    if clipped is None:
                        continue
                    a = K.area(clipped)
                    if a <= K.EPS:
                        continue
                    row = pdf.iloc[i].to_dict()
                    row["cell"] = int(c)
                    row["piece_wkb"] = wkb.encode(clipped)
                    row["piece_area"] = a
                    out_rows.append(row)
            if out_rows:
                yield pd.DataFrame(out_rows)

    out = df.mapInPandas(_run, schema=T.StructType(fields))
    return out if keep_piece_geom else out.drop("piece_wkb")


# ------------------------------------------------------------------ katana

def katana_split(g: dict, threshold: float, centroid_mode: bool = False,
                 max_depth: int = 250) -> list[dict]:
    """Recursive bbox-halving split until piece bbox area ≤ threshold
    (reference katana geometry.py:489-543; katana_centroid 546-582;
    same max recursion depth 250)."""
    out = []
    stack = [(g, 0)]
    while stack:
        geom, depth = stack.pop()
        mnx, mny, mxx, mxy = K.bounds(geom)
        w, h = mxx - mnx, mxy - mny
        if w * h <= threshold or depth >= max_depth:
            out.extend({"type": "Polygon", "rings": rings}
                       for rings in K.polygons_of(geom))
            continue
        if centroid_mode:
            cx, cy = K.centroid(geom)
        else:
            cx, cy = mnx + w / 2, mny + h / 2
        if h >= w:  # split horizontally
            parts = [K.clip_rect(geom, mnx, mny, mxx, cy),
                     K.clip_rect(geom, mnx, cy, mxx, mxy)]
        else:
            parts = [K.clip_rect(geom, mnx, mny, cx, mxy),
                     K.clip_rect(geom, cx, mny, mxx, mxy)]
        for p in parts:
            if p is not None and K.area(p) > K.EPS:
                stack.append((p, depth + 1))
    return out


def split_polygons(df: DataFrame, *, wkb_col: str = "geometry_wkb",
                   threshold: float, method: str = "katana") -> DataFrame:
    """Layer-level split dispatch (reference layer.py:1116-1137):
    method ∈ {katana, katana_centroid, fishnet(hexana→cell grid)}.
    Adds (part_index, piece_wkb, piece_area); attributes replicated."""
    if method == "fishnet":
        out = fishnet(df, wkb_col=wkb_col, threshold=threshold)
        w = Window.partitionBy(*df.columns).orderBy("cell")
        return (out.withColumn("part_index", F.row_number().over(w) - 1)
                .withColumnRenamed("cell", "__cell").drop("__cell"))

    centroid_mode = method == "katana_centroid"
    fields = list(df.schema.fields) + [
        T.StructField("part_index", T.IntegerType()),
        T.StructField("piece_wkb", T.BinaryType()),
        T.StructField("piece_area", T.DoubleType()),
    ]

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_rows = []
            for i in range(len(pdf)):
                buf = pdf[wkb_col].iloc[i]
                if buf is None:
                    continue
                pieces = katana_split(wkb.decode(buf), threshold, centroid_mode)
                # deterministic part order: by (minx, miny) of each piece
                pieces.sort(key=lambda p: K.bounds(p)[:2])
                for j, p in enumerate(pieces):
                    row = pdf.iloc[i].to_dict()
                    row["part_index"] = j
                    row["piece_wkb"] = wkb.encode(p)
                    row["piece_area"] = K.area(p)
                    out_rows.append(row)
            if out_rows:
                yield pd.DataFrame(out_rows)

    return df.mapInPandas(_run, schema=T.StructType(fields))


# ------------------------------------------------------------------ line merge


def _line_merge(segs: list[np.ndarray]) -> list[np.ndarray]:
    """Greedy chaining of segments at shared degree-2 endpoints (shapely
    line_merge semantics: only merge where exactly two lines meet)."""
    def key(p):
        return (round(float(p[0]), 9), round(float(p[1]), 9))

    endpoints: dict[tuple, list[int]] = {}
    for i, s in enumerate(segs):
        for p in (s[0], s[-1]):
            endpoints.setdefault(key(p), []).append(i)
    used = [False] * len(segs)
    out = []
    for i in range(len(segs)):
        if used[i]:
            continue
        used[i] = True
        path = [segs[i]]
        # extend forward from tail, backward from head at degree-2 nodes
        for direction in (1, 0):
            while True:
                cur = path[-1] if direction else path[0]
                p = cur[-1] if direction else cur[0]
                cands = [j for j in endpoints.get(key(p), []) if not used[j]]
                if len(endpoints.get(key(p), [])) != 2 or not cands:
                    break
                j = cands[0]
                s = segs[j]
                used[j] = True
                if direction:  # need segment STARTING at p
                    nxt = s if key(s[0]) == key(p) else s[::-1]
                    path.append(nxt)
                else:          # need segment ENDING at p
                    nxt = s if key(s[-1]) == key(p) else s[::-1]
                    path.insert(0, nxt)
        coords = [path[0]]
        for s in path[1:]:
            coords.append(s[1:])
        out.append(np.vstack(coords))
    return out


# ------------------------------------------------------------------ image tile assignment

def image_tile_assignment(images: DataFrame, *, res: int = C.RES_MAX,
                          minx: str = "minx", miny: str = "miny",
                          maxx: str = "maxx", maxy: str = "maxy") -> DataFrame:
    """Per-image tile (cell) assignment from its footprint bbox — the
    'tile assignment derived from its pixel grid' of the north star.

    PURE column arithmetic (no UDF): when a footprint is smaller than a
    cell, its cover is exactly the distinct cells of its 4 bbox corners;
    we emit those via array+explode+distinct. For bigger footprints use
    `gis_tools_spark.operators.core.explode_cover`.
    """
    corners = F.array(
        C.cell_column(F.col(minx), F.col(miny), res),
        C.cell_column(F.col(maxx), F.col(miny), res),
        C.cell_column(F.col(minx), F.col(maxy), res),
        C.cell_column(F.col(maxx), F.col(maxy), res),
    )
    return (images.withColumn("cell", F.explode(F.array_distinct(corners))))
