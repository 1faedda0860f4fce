"""Overlay operators: intersection join, shared area, dissolve
(SURVEY.md §2.5/§2.6; reference layer.py:965-1005 `overlay`,
geometry.py:925-961 `shared_area`, layer.py:501-516 `dissolve`).

Round-1 scope note: geometric intersection is exact when the *clipping*
side is convex (rect tiles, convex zones — Sutherland–Hodgman). The
general concave∩concave / difference cases need a full clipping
algorithm (Greiner–Hormann) — planned, see kernels.clip_polygon_convex.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .. import cells as C
from ..geom import boolean, kernels as K, wkb
from .core import CELL_COL, explode_cover
from .sjoin import _dedupe_names, candidate_pairs


def intersection_join(left: DataFrame, right: DataFrame, *,
                      left_wkb: str = "geometry_wkb",
                      right_wkb: str = "geometry_wkb",
                      left_id: str = "lid", right_id: str = "gid",
                      res: int = C.RES_MIN, max_cells: int = 256,
                      keep_geometry: bool = True) -> DataFrame:
    """Pairwise geometric intersection (overlay 'intersection',
    reference layer.py:103-131): inner cell-join candidates → exact clip
    → rows with `inter_wkb` + `inter_area` (empty results dropped, as the
    reference keeps only non-empty consistent-type geometries).

    General polygons supported (concave, holes, multiparts) via the
    Greiner–Hormann kernel (geom.boolean); the Sutherland–Hodgman fast
    path is used when the clipper part is convex.
    """
    right = _dedupe_names(left, right)
    if right_wkb not in right.columns:
        right_wkb = f"{right_wkb}_right"
    if right_id not in right.columns:
        right_id = f"{right_id}_right"

    pairs = candidate_pairs(left, right, left_id=left_id, left_wkb=left_wkb,
                            right_id=right_id, right_wkb=right_wkb,
                            res_min=res, res_max=C.RES_MAX,
                            max_cells=max_cells)
    cand = pairs.join(left, on=left_id).join(right, on=right_id)

    # struct scalar UDF: only the two WKB columns cross Arrow; empty
    # intersections yield a null struct and are filtered JVM-side, so
    # attribute columns never round-trip through Python
    clip_t = T.StructType([T.StructField("inter_wkb", T.BinaryType()),
                           T.StructField("inter_area", T.DoubleType())])

    @F.pandas_udf(clip_t)
    def _clip(lbs: pd.Series, rbs: pd.Series) -> pd.DataFrame:
        cache: dict[bytes, dict] = {}

        def _dec(b):
            g = cache.get(b)
            if g is None:
                g = cache[b] = wkb.decode(b)
            return g

        inter_wkbs, inter_areas = [], []
        for lb, rb in zip(lbs, rbs):
            if lb is None or rb is None:
                inter_wkbs.append(None); inter_areas.append(None)
                continue
            res_g = boolean.intersection(_dec(lb), _dec(rb))
            pieces = K.polygons_of(res_g) if res_g is not None else []
            if not pieces:
                inter_wkbs.append(None); inter_areas.append(None)
                continue
            merged = ({"type": "Polygon", "rings": pieces[0]} if len(pieces) == 1
                      else {"type": "MultiPolygon", "polygons": pieces})
            a = K.area(merged)
            if a <= K.EPS:
                inter_wkbs.append(None); inter_areas.append(None)
                continue
            inter_wkbs.append(wkb.encode(merged))
            inter_areas.append(a)
        return pd.DataFrame({"inter_wkb": pd.Series(inter_wkbs, dtype=object),
                             "inter_area": inter_areas})

    result = (cand.withColumn("__cl", _clip(F.col(left_wkb), F.col(right_wkb)))
              .where(F.col("__cl.inter_wkb").isNotNull())
              .select("*", "__cl.inter_wkb", "__cl.inter_area")
              .drop("__cl"))
    if not keep_geometry:
        result = result.drop("inter_wkb")
    return result


def difference_join(left: DataFrame, right: DataFrame, *,
                    left_wkb: str = "geometry_wkb",
                    right_wkb: str = "geometry_wkb",
                    left_id: str = "lid", right_id: str = "gid",
                    res: int = C.RES_MIN, max_cells: int = 256,
                    explode_parts: bool = True) -> DataFrame:
    """Overlay 'difference' (reference layer.py:72-100): subtract the
    union of all intersecting right geometries from each left geometry
    (implemented as the sequential pairwise fold, which is equal), then
    explode multi-part results; left rows with no intersecting partner
    pass through unchanged.

    Output: left columns with geometry replaced by the difference part
    (+ part_index, diff_area).
    """
    right = _dedupe_names(left, right)
    if right_wkb not in right.columns:
        right_wkb = f"{right_wkb}_right"
    if right_id not in right.columns:
        right_id = f"{right_id}_right"

    pairs = candidate_pairs(left, right, left_id=left_id, left_wkb=left_wkb,
                            right_id=right_id, right_wkb=right_wkb,
                            res_min=res, res_max=C.RES_MAX,
                            max_cells=max_cells)
    cand = (pairs.join(left, on=left_id)
            .join(right.select(right_id, right_wkb), on=right_id))

    out_fields = [f for f in left.schema.fields] + [
        T.StructField("part_index", T.IntegerType()),
        T.StructField("diff_area", T.DoubleType()),
    ]
    lcols = list(left.columns)

    def _diff(key, pdf: pd.DataFrame) -> pd.DataFrame:
        g = wkb.decode(pdf[left_wkb].iloc[0])
        for rb in pdf[right_wkb]:
            if rb is None:
                continue
            if g is None:
                break
            g = boolean.difference(g, wkb.decode(rb))
        rows = []
        base = {c: pdf[c].iloc[0] for c in lcols}
        if g is not None:
            parts = (K.polygons_of(g) if explode_parts
                     else [None])
            if explode_parts:
                for j, rings in enumerate(sorted(parts, key=lambda r: K.bounds(
                        {"type": "Polygon", "rings": r})[:2])):
                    pg = {"type": "Polygon", "rings": rings}
                    row = dict(base)
                    row[left_wkb] = wkb.encode(pg)
                    row["part_index"] = j
                    row["diff_area"] = K.area(pg)
                    rows.append(row)
            else:
                row = dict(base)
                row[left_wkb] = wkb.encode(g)
                row["part_index"] = 0
                row["diff_area"] = K.area(g)
                rows.append(row)
        return pd.DataFrame(rows, columns=lcols + ["part_index", "diff_area"])

    diffed = cand.groupBy(left_id).applyInPandas(
        lambda k, p: _diff(k, p), schema=T.StructType(out_fields))
    # pass-through: left rows with no candidate partner
    untouched = (left.join(pairs.select(left_id).distinct(), on=left_id, how="left_anti")
                 .withColumn("part_index", F.lit(0))
                 .withColumn("diff_area", F.lit(None).cast("double")))
    return diffed.unionByName(untouched)


def shared_area(left: DataFrame, right: DataFrame, *, normalized: bool = False,
                **kw) -> DataFrame:
    """(left_id, right_id, shared_area) long-form matrix (reference
    intersecting_area layer.py:1728-1747 / shared_area geometry.py:925)."""
    left_wkb = kw.get("left_wkb", "geometry_wkb")
    if normalized:
        @F.pandas_udf(T.DoubleType())
        def _area(s: pd.Series) -> pd.Series:
            return pd.Series([K.area(wkb.decode(b)) if b is not None else 0.0 for b in s])

        left = left.withColumn("__larea", _area(F.col(left_wkb)))
        out = intersection_join(left, right, keep_geometry=False, **kw)
        return (out.withColumn("shared_area", F.col("inter_area") / F.col("__larea"))
                .drop("inter_area", "__larea"))
    out = intersection_join(left, right, keep_geometry=False, **kw)
    return out.withColumnRenamed("inter_area", "shared_area")


def areal_interpolate(src: DataFrame, dst: DataFrame,
                      value_cols: list[str], *,
                      extensive: bool = True,
                      src_id: str = "sid", dst_id: str = "gid",
                      src_wkb: str = "geometry_wkb",
                      dst_wkb: str = "geometry_wkb", **kw) -> DataFrame:
    """Area-weighted areal interpolation (Goodchild & Lam 1980 — the
    pysal/tobler ``area_interpolate`` semantics): transfer attribute
    values from one polygon layer onto another through intersection
    areas.

    extensive=True (counts, totals — mass-preserving):
        dst_v = sum_src  v_src * A(src ∩ dst) / A(src)
    extensive=False (rates, densities — area-weighted mean):
        dst_v = sum_src v_src * A(src ∩ dst) / sum_src A(src ∩ dst)

    Plan: one :func:`intersection_join` (bounded cell-cover candidates
    → exact clip; the only Python is the Arrow clip kernel over the two
    WKB columns) plus one groupBy(dst_id) — the same shuffle profile as
    `shared_area`, so it scales exactly as the gated overlay path does.
    Source areas are computed once per src row, not per pair.

    Returns one row per dst polygon that intersects ≥1 src polygon:
    (dst_id, <value_cols...>).
    """
    if extensive:
        @F.pandas_udf(T.DoubleType())
        def _area(s: pd.Series) -> pd.Series:
            return pd.Series([K.area(wkb.decode(b)) if b is not None else 0.0
                              for b in s])

        src = src.withColumn("__sarea", _area(F.col(src_wkb)))
    inter = intersection_join(src, dst, left_wkb=src_wkb, right_wkb=dst_wkb,
                              left_id=src_id, right_id=dst_id,
                              keep_geometry=False, **kw)
    if dst_id not in inter.columns:          # renamed on collision
        dst_id = f"{dst_id}_right"
    if extensive:
        w = F.col("inter_area") / F.col("__sarea")
        aggs = [F.sum(F.col(c) * w).alias(c) for c in value_cols]
        return inter.groupBy(dst_id).agg(*aggs)
    aggs = [(F.sum(F.col(c) * F.col("inter_area"))
             / F.sum("inter_area")).alias(c) for c in value_cols]
    return inter.groupBy(dst_id).agg(*aggs)


def mask(left: DataFrame, mask_layer: DataFrame, *,
         left_wkb: str = "geometry_wkb", mask_wkb: str = "geometry_wkb",
         left_id: str = "lid", mask_id: str = "gid",
         split_threshold: float | None = None, **kw) -> DataFrame:
    """Subtract the mask collection from each left geometry (reference
    mask geometry.py:594-630: katana pre-split 'for faster intersection'
    then difference + dissolve). The katana pre-split is the engine's
    adaptive cell cover (bounded candidate pairs), so this reduces to
    difference_join; optional split_threshold pre-splits very large
    left geometries first (skew control)."""
    if split_threshold is not None:
        from .split import split_polygons

        left = (split_polygons(left, threshold=split_threshold)
                .drop(left_wkb)
                .withColumnRenamed("piece_wkb", left_wkb)
                .withColumn(left_id, F.concat_ws("#", F.col(left_id).cast("string"),
                                                 F.col("part_index").cast("string")))
                .drop("part_index", "piece_area"))
    return difference_join(left, mask_layer, left_wkb=left_wkb,
                           right_wkb=mask_wkb, left_id=left_id,
                           right_id=mask_id, **kw)


def dissolve(df: DataFrame, by: str, *, wkb_col: str = "geometry_wkb",
             agg: dict[str, str] | None = None,
             assume_disjoint: bool = True) -> DataFrame:
    """Group by attribute, union geometries, aggregate attrs
    (reference dissolve layer.py:501-516, aggfunc='first').

    assume_disjoint=True returns the collection-union (MultiPolygon of
    all parts) — exact union when group members don't overlap, which is
    the reference's dominant fixture case. assume_disjoint=False folds
    the true region union (boolean.union_parts) so overlapping members
    aren't double-counted (seam-decomposed pieces; exact area).
    """
    agg = agg or {}

    def _union(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if not assume_disjoint:
            merged = boolean.union_parts([wkb.decode(b) for b in pdf[wkb_col]
                                          if b is not None])
            if merged is None:
                return pd.DataFrame(
                    columns=[by, wkb_col, "union_area", *agg.keys()])
        else:
            polys = []
            for b in pdf[wkb_col]:
                g = wkb.decode(b)
                polys.extend(K.polygons_of(g))
            merged = ({"type": "Polygon", "rings": polys[0]} if len(polys) == 1
                      else {"type": "MultiPolygon", "polygons": polys})
        row = {by: key[0], wkb_col: wkb.encode(merged),
               "union_area": K.area(merged)}
        for col, how in agg.items():
            row[col] = pdf[col].iloc[0] if how == "first" else getattr(pdf[col], how)()
        return pd.DataFrame([row])

    fields = [df.schema[by], T.StructField(wkb_col, T.BinaryType()),
              T.StructField("union_area", T.DoubleType())]
    for col in agg:
        fields.append(df.schema[col])
    return df.groupBy(by).applyInPandas(_union, schema=T.StructType(fields))


def overlay(left: DataFrame, right: DataFrame, *, how: str = "union",
            left_wkb: str = "geometry_wkb", right_wkb: str = "geometry_wkb",
            left_id: str = "lid", right_id: str = "gid",
            res: int = C.RES_MIN, max_cells: int = 256) -> DataFrame:
    """Full overlay (reference PolygonLayer.overlay layer.py:1749-1763 →
    gpd.overlay(how)): standard decomposition into

      intersection pieces  — attrs of BOTH sides
      left-difference      — left attrs, right attrs null
      right-difference     — right attrs, left attrs null

    how='union' emits all three, 'identity' = intersection + left-diff,
    'symmetric_difference' = both diffs, 'intersection'/'difference'
    delegate to the dedicated joins. Output columns: left attrs + right
    attrs (collisions suffixed _right) + `geometry_wkb` piece + `origin`
    ∈ {both,left,right} + `piece_area`. Each leg is the cell-join
    filter-refine plan, so the whole overlay is 2-3 equi-joins — no
    cross product at any scale.
    """
    if how == "intersection":
        return intersection_join(left, right, left_wkb=left_wkb,
                                 right_wkb=right_wkb, left_id=left_id,
                                 right_id=right_id, res=res, max_cells=max_cells)
    if how == "difference":
        return difference_join(left, right, left_wkb=left_wkb,
                               right_wkb=right_wkb, left_id=left_id,
                               right_id=right_id, res=res, max_cells=max_cells)
    if how not in ("union", "identity", "symmetric_difference"):
        raise ValueError(f"how={how!r}")

    rightd = _dedupe_names(left, right)
    r_wkb = right_wkb if right_wkb in rightd.columns else f"{right_wkb}_right"
    r_id = right_id if right_id in rightd.columns else f"{right_id}_right"
    l_attrs = [c for c in left.columns if c != left_wkb]
    r_attrs = [c for c in rightd.columns if c != r_wkb]
    out_geom = "geometry_wkb"

    def _nulls(df, cols, like):
        for c in cols:
            df = df.withColumn(c, F.lit(None).cast(like.schema[c].dataType))
        return df

    legs = []
    if how in ("union", "identity"):
        inter = intersection_join(left, rightd, left_wkb=left_wkb,
                                  right_wkb=r_wkb, left_id=left_id,
                                  right_id=r_id, res=res, max_cells=max_cells)
        legs.append(inter.select(
            *l_attrs, *r_attrs,
            F.col("inter_wkb").alias(out_geom),
            F.lit("both").alias("origin"),
            F.col("inter_area").alias("piece_area")))
    if how in ("union", "identity", "symmetric_difference"):
        ld = difference_join(left, rightd, left_wkb=left_wkb, right_wkb=r_wkb,
                             left_id=left_id, right_id=r_id,
                             res=res, max_cells=max_cells)
        ld = _nulls(ld, r_attrs, rightd).select(
            *l_attrs, *r_attrs,
            F.col(left_wkb).alias(out_geom),
            F.lit("left").alias("origin"),
            F.col("diff_area").alias("piece_area"))
        legs.append(ld)
    if how in ("union", "symmetric_difference"):
        rd = difference_join(rightd, left, left_wkb=r_wkb, right_wkb=left_wkb,
                             left_id=r_id, right_id=left_id,
                             res=res, max_cells=max_cells)
        rd = _nulls(rd, l_attrs, left).select(
            *l_attrs, *r_attrs,
            F.col(r_wkb).alias(out_geom),
            F.lit("right").alias("origin"),
            F.col("diff_area").alias("piece_area"))
        legs.append(rd)
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def line_zone_length(segments: DataFrame, zones: DataFrame, *,
                     x0: str = "x0", y0: str = "y0",
                     x1: str = "x1", y1: str = "y1",
                     zone_id: str = "gid",
                     zminx: str = "zminx", zminy: str = "zminy",
                     zmaxx: str = "zmaxx", zmaxy: str = "zmaxy",
                     quantize_decimals: int | None = None) -> DataFrame:
    """Total segment length clipped into each axis-aligned zone
    rectangle — "km of road per district" for bbox/tile-shaped zones
    (general polygons: run the overlay intersection; this is the
    pure-codegen fast path for the rectangular case, same parametric
    interval arithmetic as hotspot.line_density but against arbitrary
    per-zone walls instead of a uniform grid).

    Per (segment, zone): the inside interval along t is
    [max(txlo, tylo, 0), min(txhi, tyhi, 1)] with the wall crossings
    ordered by the sign of dx/dy; zero-extent axes pass iff the
    coordinate lies inside the slab. Candidates come from a broadcast
    bbox-overlap join (zones are a dimension table); one groupBy(zone)
    sums. ``quantize_decimals`` makes each contribution an exact
    integer so the sum is partition-order independent (the oracle
    contract).

    Returns (zone_id, n_segments, length)."""
    a0x, a0y = F.col(x0), F.col(y0)
    a1x, a1y = F.col(x1), F.col(y1)
    seg = segments.select(a0x.alias("__x0"), a0y.alias("__y0"),
                          a1x.alias("__x1"), a1y.alias("__y1"))
    zz = zones.select(F.col(zone_id).alias("__zid"),
                      F.col(zminx).alias("__zx0"),
                      F.col(zminy).alias("__zy0"),
                      F.col(zmaxx).alias("__zx1"),
                      F.col(zmaxy).alias("__zy1"))
    cand = seg.join(
        F.broadcast(zz),
        (F.least("__x0", "__x1") <= F.col("__zx1"))
        & (F.greatest("__x0", "__x1") >= F.col("__zx0"))
        & (F.least("__y0", "__y1") <= F.col("__zy1"))
        & (F.greatest("__y0", "__y1") >= F.col("__zy0")))
    dx = F.col("__x1") - F.col("__x0")
    dy = F.col("__y1") - F.col("__y0")

    def slab(d, p0, wlo, whi):
        ta = (F.col(wlo) - p0) / d
        tb = (F.col(whi) - p0) / d
        inside0 = (p0 >= F.col(wlo)) & (p0 <= F.col(whi))
        lo = F.when(d != 0, F.least(ta, tb)) \
            .otherwise(F.when(inside0, F.lit(0.0)).otherwise(F.lit(1.0)))
        hi = F.when(d != 0, F.greatest(ta, tb)) \
            .otherwise(F.when(inside0, F.lit(1.0)).otherwise(F.lit(0.0)))
        return lo, hi

    txlo, txhi = slab(dx, F.col("__x0"), "__zx0", "__zx1")
    tylo, tyhi = slab(dy, F.col("__y0"), "__zy0", "__zy1")
    tlo = F.greatest(txlo, tylo, F.lit(0.0))
    thi = F.least(txhi, tyhi, F.lit(1.0))
    seg_len = F.sqrt(dx * dx + dy * dy)
    clip = F.greatest(thi - tlo, F.lit(0.0)) * seg_len
    if quantize_decimals is not None:
        q = 10.0 ** int(quantize_decimals)
        contrib = F.floor(clip * F.lit(q) + F.lit(0.5))
        out = (cand.where(clip > 0)
               .groupBy("__zid")
               .agg(F.count("*").alias("n_segments"),
                    (F.sum(contrib) / F.lit(q)).alias("length")))
    else:
        out = (cand.where(clip > 0)
               .groupBy("__zid")
               .agg(F.count("*").alias("n_segments"),
                    F.sum(clip).alias("length")))
    return out.withColumnRenamed("__zid", zone_id)
