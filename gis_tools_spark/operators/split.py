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


# ------------------------------------------------------------------ explode multiparts

def explode_multiparts(df: DataFrame, *, wkb_col: str = "geometry_wkb") -> DataFrame:
    """multi→single, attributes replicated (reference explode
    layer.py:376-379; geometry.py:292-308)."""

    @F.pandas_udf(T.ArrayType(T.BinaryType()))
    def _parts(s: pd.Series) -> pd.Series:
        out = []
        for b in s:
            if b is None:
                out.append([])
                continue
            g = wkb.decode(b)
            t = g["type"]
            if t == "MultiPolygon":
                out.append([wkb.encode({"type": "Polygon", "rings": r}) for r in g["polygons"]])
            elif t == "MultiLineString":
                out.append([wkb.encode({"type": "LineString", "coords": l}) for l in g["lines"]])
            elif t == "MultiPoint":
                out.append([wkb.point(*p) for p in g["points"]])
            else:
                out.append([b])
        return pd.Series(out)

    return (df.withColumn("__parts", _parts(F.col(wkb_col)))
            .select("*", F.posexplode("__parts").alias("part_index", "part_wkb"))
            .drop("__parts", wkb_col)
            .withColumnRenamed("part_wkb", wkb_col))


# ------------------------------------------------------------------ line cuts

def cut_lines_fixed_length(df: DataFrame, *, wkb_col: str = "geometry_wkb",
                           piece_len: float) -> DataFrame:
    """Cut lines into fixed-length pieces (reference cut_
    geometry.py:161-187)."""
    fields = list(df.schema.fields) + [
        T.StructField("part_index", T.IntegerType()),
        T.StructField("piece_wkb", T.BinaryType()),
        T.StructField("piece_len", T.DoubleType()),
    ]

    def _cut_one(coords: np.ndarray) -> list[np.ndarray]:
        pts = coords[:, :2]
        seg = np.sqrt((np.diff(pts, axis=0) ** 2).sum(axis=1))
        cum = np.concatenate([[0.0], np.cumsum(seg)])
        total = cum[-1]
        if total <= piece_len:
            return [pts]
        cuts = np.arange(piece_len, total, piece_len)
        pieces, cur, d0 = [], [pts[0]], 0.0
        ci = 0
        for i in range(len(seg)):
            a, b, L = pts[i], pts[i + 1], seg[i]
            start = cum[i]
            while ci < len(cuts) and cuts[ci] <= start + L + K.EPS:
                t = (cuts[ci] - start) / L if L > 0 else 0.0
                p = a + t * (b - a)
                cur.append(p)
                pieces.append(np.asarray(cur))
                cur = [p]
                ci += 1
            cur.append(b)
        if len(cur) >= 2:
            pieces.append(np.asarray(cur))
        return pieces

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in range(len(pdf)):
                buf = pdf[wkb_col].iloc[i]
                if buf is None:
                    continue
                g = wkb.decode(buf)
                lines = [g["coords"]] if g["type"] == "LineString" else g.get("lines", [])
                j = 0
                for l in lines:
                    for piece in _cut_one(l):
                        row = pdf.iloc[i].to_dict()
                        row["part_index"] = j
                        row["piece_wkb"] = wkb.linestring(piece)
                        d = np.diff(piece, axis=0)
                        row["piece_len"] = float(np.sqrt((d * d).sum(axis=1)).sum())
                        rows.append(row)
                        j += 1
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(_run, schema=T.StructType(fields))


# ------------------------------------------------------------------ split at points

def split_lines_at_points(lines: DataFrame, points: DataFrame, *,
                          line_wkb: str = "geometry_wkb", line_id: str = "lid",
                          lon: str = "lon", lat: str = "lat",
                          tol: float = 1e-9,
                          res: int | None = None) -> DataFrame:
    """Split lines at intersecting points (reference split_at_points
    layer.py:2123-2155 + cut_at_points geometry.py:190-249): join lines
    to points within tol (cell filter), then cut each line at the sorted
    line-distances of its points."""
    from .. import cells as CC
    from .core import CELL_COL

    if res is None:
        res = CC.RES_MAX
    # line cover cells (bbox-based) ⋈ point cells
    from .core import explode_cover

    lc = explode_cover(lines, line_wkb, CELL_COL, res, res, max_cells=4096)
    pc = points.withColumn(CELL_COL, CC.cell_column(F.col(lon), F.col(lat), res))
    cand = lc.join(pc.select(CELL_COL, lon, lat), on=CELL_COL).drop(CELL_COL)
    # group candidate points per line
    grouped = (cand.groupBy(*lines.columns)
               .agg(F.collect_list(F.struct(F.col(lon).alias("x"),
                                            F.col(lat).alias("y"))).alias("__pts")))
    # lines with no candidate point pass through whole
    no_pts = lines.join(grouped.select(line_id), on=line_id, how="left_anti") \
                  .withColumn("__pts", F.array().cast("array<struct<x:double,y:double>>"))
    allrows = grouped.unionByName(no_pts)

    fields = list(lines.schema.fields) + [
        T.StructField("part_index", T.IntegerType()),
        T.StructField("piece_wkb", T.BinaryType()),
    ]

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                g = wkb.decode(r[line_wkb])
                coords = g["coords"] if g["type"] == "LineString" else g["lines"][0]
                dists = []
                plist = r["__pts"] if r["__pts"] is not None else []
                for p in plist:
                    d = K.point_to_geom_distance(
                        {"type": "LineString", "coords": coords},
                        np.array([p["x"]]), np.array([p["y"]]))[0]
                    if d <= tol:
                        dists.append(K.project_on_line(coords, p["x"], p["y"]))
                pieces = _cut_at_distances(coords, sorted(set(dists)))
                base = {c: r[c] for c in pdf.columns if c != "__pts"}
                for j, piece in enumerate(pieces):
                    row = dict(base)
                    row["part_index"] = j
                    row["piece_wkb"] = wkb.linestring(piece)
                    rows.append(row)
            if rows:
                yield pd.DataFrame(rows)

    return allrows.mapInPandas(_run, schema=T.StructType(fields))


def _cut_at_distances(coords: np.ndarray, dists: list[float]) -> list[np.ndarray]:
    """Cut a line at the given sorted arc-length distances (reference
    cut_at_distance geometry.py:190-213)."""
    pts = coords[:, :2]
    seg = np.sqrt((np.diff(pts, axis=0) ** 2).sum(axis=1))
    cum = np.concatenate([[0.0], np.cumsum(seg)])
    total = cum[-1]
    dists = [d for d in dists if K.EPS < d < total - K.EPS]
    if not dists:
        return [pts]
    pieces, cur = [], [pts[0]]
    ci = 0
    for i in range(len(seg)):
        a, b, L, start = pts[i], pts[i + 1], seg[i], cum[i]
        while ci < len(dists) and dists[ci] <= start + L + K.EPS:
            t = 0.0 if L <= 0 else (dists[ci] - start) / L
            p = a + np.clip(t, 0, 1) * (b - a)
            if not np.allclose(p, cur[-1]):
                cur.append(p)
            pieces.append(np.asarray(cur))
            cur = [p]
            ci += 1
        if not np.allclose(b, cur[-1]):
            cur.append(b)
    if len(cur) >= 2:
        pieces.append(np.asarray(cur))
    return pieces


# ------------------------------------------------------------------ linemerge

def linemerge(df: DataFrame, by: str, *, wkb_col: str = "geometry_wkb") -> DataFrame:
    """Group lines by attribute and merge contiguous pieces into maximal
    paths (reference linemerge layer.py:1974-2027 / shapely line_merge):
    per group, chain segments that share endpoints; output one row per
    merged path with part_index."""

    def _merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        segs = []
        for b in pdf[wkb_col]:
            g = wkb.decode(b)
            if g["type"] == "LineString":
                segs.append(g["coords"][:, :2])
            else:
                segs.extend(l[:, :2] for l in g.get("lines", []))
        merged = _line_merge(segs)
        rows = []
        for j, path in enumerate(merged):
            rows.append({by: key[0], "part_index": j,
                         wkb_col: wkb.linestring(path)})
        return pd.DataFrame(rows)

    schema = T.StructType([df.schema[by],
                           T.StructField("part_index", T.IntegerType()),
                           T.StructField(wkb_col, T.BinaryType())])
    return df.groupBy(by).applyInPandas(lambda k, p: _merge(k, p), schema=schema)


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


def cut_lines_recursive_midpoint(df: DataFrame, *,
                                 wkb_col: str = "geometry_wkb",
                                 threshold: float) -> DataFrame:
    """Recursive midpoint cut (reference `cut` geometry.py:136-158):
    halve each line at its length midpoint until every piece is shorter
    than `threshold` (recursion capped at 250 like the reference).
    Output: input columns + (part_index, piece_wkb, piece_len)."""
    fields = list(df.schema.fields) + [
        T.StructField("part_index", T.IntegerType()),
        T.StructField("piece_wkb", T.BinaryType()),
        T.StructField("piece_len", T.DoubleType()),
    ]

    def _length(pts: np.ndarray) -> float:
        d = np.diff(pts[:, :2], axis=0)
        return float(np.sqrt((d * d).sum(axis=1)).sum())

    def _cut(pts: np.ndarray, count: int = 0) -> list[np.ndarray]:
        total = _length(pts)
        if threshold < 0 or threshold >= total or count == 250:
            return [pts]
        halves = _cut_at_distances(pts[:, :2], [total / 2.0])
        if len(halves) < 2:
            return [pts]
        out = []
        for h in halves:
            out.extend(_cut(h, count + 1))
        return out

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in range(len(pdf)):
                buf = pdf[wkb_col].iloc[i]
                if buf is None:
                    continue
                g = wkb.decode(buf)
                lines = [g["coords"]] if g["type"] == "LineString" else g.get("lines", [])
                j = 0
                for l in lines:
                    for piece in _cut(np.asarray(l, dtype=np.float64)):
                        row = pdf.iloc[i].to_dict()
                        row["part_index"] = j
                        row["piece_wkb"] = wkb.linestring(piece)
                        row["piece_len"] = _length(piece)
                        rows.append(row)
                        j += 1
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(_run, schema=T.StructType(fields))


def split_lines_at_underlying_points(lines: DataFrame, locations: DataFrame, *,
                                     wkb_col: str = "geometry_wkb",
                                     line_id: str = "lid",
                                     idx_col: str = "vertex_index") -> DataFrame:
    """Split lines at their OWN vertices (reference
    split_at_underlying_points layer.py:2157-2186 + split_list_by_index
    list.py:27-44, include=True): `locations` is a (line_id,
    vertex_index) table; each valid interior index becomes a shared
    pivot vertex of two pieces; rows without locations pass through.
    MultiLineString rows are split per part (indices are part-local, the
    same interpretation as cut_lines_recursive_midpoint); part_index
    numbers pieces across all parts. Output: line columns +
    (part_index, piece_wkb)."""
    locs = (locations.groupBy(line_id)
            .agg(F.collect_set(F.col(idx_col)).alias("__breaks")))
    src = lines.join(locs, on=line_id, how="left")

    fields = list(lines.schema.fields) + [
        T.StructField("part_index", T.IntegerType()),
        T.StructField("piece_wkb", T.BinaryType()),
    ]
    lcols = list(lines.columns)

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in range(len(pdf)):
                buf = pdf[wkb_col].iloc[i]
                if buf is None:
                    continue
                g = wkb.decode(buf)
                parts = ([g["coords"]] if g["type"] == "LineString"
                         else g.get("lines", []))
                raw = pdf["__breaks"].iloc[i]
                breaks = {int(b) for b in (raw if raw is not None else [])}
                base = {c: pdf[c].iloc[i] for c in lcols}
                j = 0
                for part in parts:
                    coords = np.asarray(part, dtype=np.float64)
                    n = len(coords)
                    idx = sorted(b for b in breaks if 0 < b < n - 1)
                    if not idx:
                        row = dict(base)
                        row["part_index"] = j
                        row["piece_wkb"] = wkb.linestring(coords)
                        rows.append(row)
                        j += 1
                        continue
                    for a, b in zip([0] + idx, idx + [n - 1]):
                        row = dict(base)
                        row["part_index"] = j
                        row["piece_wkb"] = wkb.linestring(coords[a:b + 1])
                        rows.append(row)
                        j += 1
            if rows:
                yield pd.DataFrame(rows, columns=lcols + ["part_index", "piece_wkb"])

    return src.mapInPandas(_run, schema=T.StructType(fields))


def honeycomb(df: DataFrame, *, wkb_col: str = "geometry_wkb",
              hex_area: float, keep_piece_geom: bool = True) -> DataFrame:
    """Clip each polygon to a TRUE hexagonal grid of the given cell area
    (reference hexana/honeycomb geometry.py:321-425 — numba hex-grid
    generation + intersection; round-1 used square cells as a stand-in).

    Flat-top hexagons on a deterministic origin-(0,0) grid: side
    s = sqrt(2A/(3*sqrt(3))), centers at (1.5*s*i, sqrt(3)*s*(j + (i&1)/2)).
    Hexagons are convex, so each clip is the exact Sutherland–Hodgman
    fast path. Output: input row × piece → (hex_i, hex_j, piece_wkb,
    piece_area)."""
    s = float(np.sqrt(hex_area * 2.0 / (3.0 * np.sqrt(3.0))))
    dx, dy = 1.5 * s, np.sqrt(3.0) * s
    ang = np.arange(7) * (np.pi / 3.0)
    template = np.stack([s * np.cos(ang), s * np.sin(ang)], axis=1)

    fields = list(df.schema.fields) + [
        T.StructField("hex_i", T.LongType()),
        T.StructField("hex_j", T.LongType()),
        T.StructField("piece_wkb", T.BinaryType()),
        T.StructField("piece_area", T.DoubleType()),
    ]

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for k in range(len(pdf)):
                buf = pdf[wkb_col].iloc[k]
                if buf is None:
                    continue
                g = wkb.decode(buf)
                mnx, mny, mxx, mxy = K.bounds(g)
                i0 = int(np.floor((mnx - s) / dx))
                i1 = int(np.ceil((mxx + s) / dx))
                j0 = int(np.floor((mny - dy) / dy))
                j1 = int(np.ceil((mxy + dy) / dy))
                for i in range(i0, i1 + 1):
                    yoff = 0.5 * dy if (i & 1) else 0.0
                    for j in range(j0, j1 + 1):
                        c = np.array([i * dx, j * dy + yoff])
                        # template is CCW and CLOSED — pass as-is
                        # (ensure_ccw on an OPEN ring mis-reads the
                        # truncated shoelace and can flip orientation)
                        ring = template + c
                        clipped = K.clip_polygon_convex(g, ring)
                        if clipped is None:
                            continue
                        a = K.area(clipped)
                        if a <= K.EPS:
                            continue
                        row = pdf.iloc[k].to_dict()
                        row["hex_i"] = i
                        row["hex_j"] = j
                        row["piece_wkb"] = wkb.encode(clipped)
                        row["piece_area"] = a
                        rows.append(row)
            if rows:
                yield pd.DataFrame(rows)

    out = df.mapInPandas(_run, schema=T.StructType(fields))
    return out if keep_piece_geom else out.drop("piece_wkb")
