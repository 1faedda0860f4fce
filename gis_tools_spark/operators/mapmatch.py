"""Road snapping over segment tables.

The reference stops at per-point projection (`project`,
layer.py:1030-1057); GPS pipelines additionally need a pure-codegen
snap against a ROAD SEGMENT table at billions of pings.

Segments are rows (seg_id, x1, y1, x2, y2) — the exploded form of a
road network's polylines (one row per 2-point piece). Planar
coordinates; reproject first for metric radii.

Scale design: segments explode to the cells of their radius-padded
bbox (sequence() bounds — bounded fan-out for road-length segments),
pings carry ONE cell; cell equi-join + closed-form point-segment
distance in whole-stage codegen; per-ping argmin via one window. Two
shuffles total (cell join, window), zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .. import cells as C

__all__ = ["snap_to_segments"]


def _seg_cells(segs: DataFrame, radius: float, res: int) -> DataFrame:
    """Explode each segment to the cells of its radius-padded bbox."""
    n = 1 << res
    pad = float(radius)
    jx0 = F.floor((F.least("x1", "x2") - pad + 180.0) / 360.0 * n)
    jx1 = F.floor((F.greatest("x1", "x2") + pad + 180.0) / 360.0 * n)
    jy0 = F.floor((F.least("y1", "y2") - pad + 90.0) / 180.0 * n)
    jy1 = F.floor((F.greatest("y1", "y2") + pad + 90.0) / 180.0 * n)
    clamp = lambda c: F.least(F.greatest(c, F.lit(0)), F.lit(n - 1))  # noqa: E731
    out = (segs
           .withColumn("__sx", F.explode(F.sequence(clamp(jx0).cast("long"),
                                                    clamp(jx1).cast("long"))))
           .withColumn("__sy", F.explode(F.sequence(clamp(jy0).cast("long"),
                                                    clamp(jy1).cast("long")))))
    cell = (F.lit(res).cast("long") * F.lit(1 << C.RES_SHIFT)
            + F.col("__sx") * F.lit(1 << C.IX_SHIFT) + F.col("__sy"))
    return out.withColumn("__cell", cell).drop("__sx", "__sy")


def _point_seg_dist2():
    """Closed-form squared point→segment distance + clamped parameter t
    as pure Column expressions over (lon, lat, x1, y1, x2, y2)."""
    dx, dy = F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1")
    len2 = dx * dx + dy * dy
    raw_t = ((F.col("__px") - F.col("x1")) * dx
             + (F.col("__py") - F.col("y1")) * dy) / len2
    t = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.least(F.greatest(raw_t, F.lit(0.0)), F.lit(1.0)))
    qx = F.col("x1") + t * dx
    qy = F.col("y1") + t * dy
    d2 = ((F.col("__px") - qx) * (F.col("__px") - qx)
          + (F.col("__py") - qy) * (F.col("__py") - qy))
    return d2, t, qx, qy


def _candidates(points: DataFrame, segs: DataFrame, radius: float, *,
                lon: str, lat: str, res: int) -> DataFrame:
    sc = _seg_cells(segs, radius, res)
    pts = points.withColumn("__px", F.col(lon)) \
                .withColumn("__py", F.col(lat)) \
                .withColumn("__cell", C.cell_column(F.col(lon), F.col(lat),
                                                    res))
    j = pts.join(sc, on="__cell").drop("__cell")
    d2, t, qx, qy = _point_seg_dist2()
    return (j.withColumn("__d2", d2).withColumn("seg_t", t)
            .withColumn("snap_x", qx).withColumn("snap_y", qy)
            .where(F.col("__d2") <= F.lit(float(radius) ** 2)))


def snap_to_segments(points: DataFrame, segs: DataFrame, *,
                     radius: float, lon: str = "lon", lat: str = "lat",
                     point_id: str = "pid", seg_id: str = "seg_id",
                     res: int = 12) -> DataFrame:
    """Nearest road segment per point within `radius` — 100% whole-stage
    codegen. Returns point columns + (seg_id, seg_t, snap_x, snap_y,
    snap_dist); points with no segment in range are dropped. Ties on
    exact equal distance take the smallest seg_id (deterministic)."""
    cand = _candidates(points, segs, radius, lon=lon, lat=lat, res=res)
    w = Window.partitionBy(point_id).orderBy(F.col("__d2").asc(),
                                             F.col(seg_id).asc())
    return (cand.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .withColumn("snap_dist", F.sqrt("__d2"))
            .drop("__rn", "__d2", "__px", "__py"))
