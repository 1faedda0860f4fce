"""polygonize — raster→vector: connected same-value regions become
polygons (SURVEY.md §2.10; reference raster.py:405-417 + 683-702 via
GDAL Polygonize, 4-connectivity).

Per-tile kernel: 4-connected labeling (union-find) → exact boundary
tracing on the pixel-edge lattice (each region becomes one polygon whose
exterior/holes follow pixel boundaries, exactly like GDALPolygonize) →
explode polygon rows. Cross-tile stitching = dissolve on touching tile
borders (SURVEY §7 hard-part 3), available via
operators.overlay.dissolve on the region value.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..geom import kernels as K, wkb
from . import codec
from .kernels import _label_regions


def _trace_region(mask: np.ndarray, gt_x0: float, gt_rx: float,
                  gt_y0: float, gt_ry: float) -> list[np.ndarray]:
    """All boundary rings (exterior + holes) of a pixel mask.

    Walks the directed edge lattice: every boundary edge is oriented so
    the region lies on its LEFT; loops are extracted by following
    next-edge chains. Vertices are pixel-corner coordinates in world
    space (x = gt_x0 + col*gt_rx, y = gt_y0 - row*gt_ry).
    """
    h, w = mask.shape
    # directed boundary edges between lattice points (row, col) grid of
    # (h+1, w+1) corners. Edge encoding: ((r, c), (r2, c2)).
    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(a, b):
        edges.setdefault(a, []).append(b)

    pad = np.zeros((h + 2, w + 2), dtype=bool)
    pad[1:-1, 1:-1] = mask
    for y in range(h):
        for x in range(w):
            if not mask[y, x]:
                continue
            # neighbors in padded coords
            if not pad[y, x + 1]:       # top neighbor empty → top edge, left→right
                add((y, x), (y, x + 1))
            if not pad[y + 2, x + 1]:   # bottom → right→left
                add((y + 1, x + 1), (y + 1, x))
            if not pad[y + 1, x]:       # left → bottom→top
                add((y + 1, x), (y, x))
            if not pad[y + 1, x + 2]:   # right → top→bottom
                add((y, x + 1), (y + 1, x + 1))
    rings = []
    while edges:
        start = next(iter(edges))
        ring = [start]
        cur = start
        prev_dir = None
        while True:
            outs = edges.get(cur)
            if not outs:
                break
            # prefer turning left (keeps region on left at corner meetings)
            if len(outs) == 1 or prev_dir is None:
                nxt = outs.pop(0)
            else:
                def turn(d_new):
                    cross = prev_dir[0] * d_new[1] - prev_dir[1] * d_new[0]
                    return cross
                outs.sort(key=lambda b: turn((b[0] - cur[0], b[1] - cur[1])))
                nxt = outs.pop(0)
            if not edges.get(cur):
                edges.pop(cur, None)
            prev_dir = (nxt[0] - cur[0], nxt[1] - cur[1])
            cur = nxt
            if cur == start:
                break
            ring.append(cur)
        if len(ring) >= 4:
            # collapse collinear runs
            pts = []
            for i, (r, c) in enumerate(ring):
                if 0 < i < len(ring) - 0:
                    pass
                pts.append((gt_x0 + c * gt_rx, gt_y0 - r * gt_ry))
            pts.append(pts[0])
            arr = np.asarray(pts)
            arr = _collapse_collinear(arr)
            rings.append(arr)
    return rings


def _collapse_collinear(ring: np.ndarray) -> np.ndarray:
    if len(ring) < 4:
        return ring
    keep = [0]
    n = len(ring) - 1  # closed
    for i in range(1, n):
        a, b, c = ring[i - 1], ring[i], ring[(i + 1)]
        cross = (b[0] - a[0]) * (c[1] - b[1]) - (b[1] - a[1]) * (c[0] - b[0])
        if abs(cross) > 1e-15:
            keep.append(i)
    out = ring[keep]
    return np.vstack([out, out[:1]])


def polygonize_region(mask: np.ndarray, gt) -> dict | None:
    """One region mask → Polygon dict (exterior = largest |area| ring,
    holes = rings of opposite orientation inside)."""
    rings = _trace_region(mask, *gt)
    if not rings:
        return None
    rings.sort(key=lambda r: -abs(K.ring_area_signed(r)))
    return {"type": "Polygon", "rings": rings}


def polygonize(df: DataFrame, *, no_data: float = codec.NO_DATA_F32,
               connectivity: int = 4) -> DataFrame:
    """Per-tile polygonize: one output row per connected same-value
    region: (image_id, value, region_wkb, region_area, px_count).
    Regions are 4-connected; any other `connectivity` raises."""
    if connectivity != 4:
        raise ValueError(f"polygonize: connectivity={connectivity!r} is "
                         "not supported, only 4")
    fields = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("region_wkb", T.BinaryType()),
        T.StructField("region_area", T.DoubleType()),
        T.StructField("px_count", T.LongType()),
    ])

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                arr = codec.decode(r["bytes"], int(r["w"]), int(r["h"]), r["fmt"])
                if arr.ndim == 3:
                    arr = arr.mean(axis=2)
                labels, sizes, vals = _label_regions(arr)
                gt = (r["gt_x0"], r["gt_rx"], r["gt_y0"], r["gt_ry"])
                for lbl in range(len(sizes)):
                    if sizes[lbl] == 0:
                        continue
                    v = float(vals[lbl])
                    if v == no_data:
                        continue
                    g = polygonize_region(labels == lbl, gt)
                    if g is None:
                        continue
                    rows.append((r["image_id"], v, wkb.encode(g),
                                 K.area(g), int(sizes[lbl])))
            if rows:
                yield pd.DataFrame(rows, columns=["image_id", "value", "region_wkb",
                                                  "region_area", "px_count"])

    return df.mapInPandas(_run, schema=fields)
