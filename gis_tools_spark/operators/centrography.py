"""Centrographic statistics — the standard deviational ellipse (with its
mean center and standard distance) and the median center (Yuill 1971 / CrimeStat III chap. 4), the
classic first-look descriptive layer of point-pattern analysis (the
reference exposes the centroid/statistics building blocks in
gistools layer.py:905-934 and stats.py:60-151; the ellipse itself is
the standard published composition over the same moments).

Physical plan: ONE partial-aggregable groupBy collapses any point
volume to six sufficient statistics per group — n, Σx, Σy, Σx², Σy²,
Σxy — and every derived quantity (center, distance, rotation, axes) is
closed-form column arithmetic on that tiny aggregate. No Python, no
second shuffle, no window: at 100 TB this is a single map-side-combined
aggregation, the cheapest distributed shape there is.

Numerics: the moments are exact for integer-valued inputs; the derived
columns use only +,-,*,/ , sqrt (IEEE correctly-rounded) and atan2 /
degrees, mirrored expression-for-expression in the DuckDB oracle and
rounded before comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _moments(points: DataFrame, by: list[str], lon: str, lat: str,
             weight: str | None) -> DataFrame:
    x, y = F.col(lon), F.col(lat)
    w = F.col(weight) if weight else F.lit(1.0)
    return points.groupBy(*by).agg(
        F.sum(w).alias("w_n"),
        F.sum(w * x).alias("s_x"),
        F.sum(w * y).alias("s_y"),
        F.sum(w * x * x).alias("s_xx"),
        F.sum(w * y * y).alias("s_yy"),
        F.sum(w * x * y).alias("s_xy"),
    )


def _ellipse_cols(n: Column, sx: Column, sy: Column, sxx: Column,
                  syy: Column, sxy: Column) -> list[Column]:
    """Closed-form SDE columns from the six moments (shared shape with
    the SQL oracle — keep expression-for-expression in sync)."""
    # central second moments (×n, no division yet — exact for int input)
    a = (sxx - sx * sx / n) - (syy - sy * sy / n)       # Σdx² - Σdy²
    b = sxy - sx * sy / n                               # Σdxdy
    # rotation: tan θ = (A + sqrt(A² + 4B²)) / 2B  (Yuill); B = 0 →
    # axes already aligned: θ = 0 when A ≥ 0 (x-spread dominant) else 90°
    theta = F.when(b == 0.0,
                   F.when(a >= 0.0, F.lit(0.0)).otherwise(F.lit(1.5707963267948966))
                   ).otherwise(F.atan((a + F.sqrt(a * a + 4.0 * b * b)) / (2.0 * b)))
    # wrap into [0, π): atan lands in (-π/2, π/2)
    theta = F.when(theta < 0.0, theta + 3.141592653589793).otherwise(theta)
    ct, st = F.cos(theta), F.sin(theta)
    dxx = sxx - sx * sx / n
    dyy = syy - sy * sy / n
    # Σ(dx cosθ - dy sinθ)² = cos²θ Σdx² - 2 sinθcosθ Σdxdy + sin²θ Σdy²
    sig_x = F.sqrt(F.lit(2.0)) * F.sqrt((ct * ct * dxx - 2.0 * ct * st * b + st * st * dyy) / n)
    sig_y = F.sqrt(F.lit(2.0)) * F.sqrt((st * st * dxx + 2.0 * ct * st * b + ct * ct * dyy) / n)
    return [theta.alias("theta_rad"), sig_x.alias("sigma_x"), sig_y.alias("sigma_y")]


def std_deviational_ellipse(points: DataFrame, *, by: list[str] | None = None,
                            lon: str = "lon", lat: str = "lat",
                            weight: str | None = None) -> DataFrame:
    """Standard deviational ellipse per group: center, rotation θ
    (radians, clockwise from north in the ArcGIS convention is NOT used
    — θ here is the standard math angle of the major-candidate axis from
    +x, in [0, π)), and the two semi-axis lengths (√2-scaled standard
    deviations along/across the rotated axes)."""
    by = by or []
    m = _moments(points, by, lon, lat, weight)
    n, sx, sy = F.col("w_n"), F.col("s_x"), F.col("s_y")
    sxx, syy, sxy = F.col("s_xx"), F.col("s_yy"), F.col("s_xy")
    dxx = sxx - sx * sx / n
    dyy = syy - sy * sy / n
    return m.select(*by,
                    n.alias("n"),
                    (sx / n).alias("mean_x"),
                    (sy / n).alias("mean_y"),
                    F.sqrt((dxx + dyy) / n).alias("std_dist"),
                    *_ellipse_cols(n, sx, sy, sxx, syy, sxy))


def median_center(points: DataFrame, *, by: list[str] | None = None,
                  lon: str = "lon", lat: str = "lat",
                  iters: int = 12, eps: float = 1e-12) -> DataFrame:
    """Median center (geometric median / Weber point) per group via
    ``iters`` fixed Weiszfeld steps from the mean center — the robust
    companion of the mean center (ArcGIS "Median Center"): the point
    minimizing Σ distance, insensitive to outliers that drag the mean.

    Weiszfeld step: c' = Σ(pᵢ/dᵢ) / Σ(1/dᵢ) with dᵢ = max(‖pᵢ−c‖, eps)
    (the clamp is the standard coincident-point fix and is mirrored in
    the oracle).  Physical plan: each step is one broadcast join of the
    tiny center table + one map-side-combined aggregation — iters
    scans, the Lloyd-iteration shape kmeans already uses; cache the
    input for repeated passes.  Fixed iteration count keeps the result
    deterministic and SQL-replayable (gate median_center)."""
    by = by or []
    pts = points.select(*by, F.col(lon).alias("__px"),
                        F.col(lat).alias("__py"))
    base = pts.groupBy(*by).agg(
        F.count("*").alias("n"),
        (F.sum("__px") / F.count("*")).alias("cx"),
        (F.sum("__py") / F.count("*")).alias("cy"))
    centers = base.select(*by, "cx", "cy")
    for _ in range(iters):
        small = F.broadcast(centers)
        j = pts.join(small, on=by) if by else pts.crossJoin(small)
        dx = F.col("__px") - F.col("cx")
        dy = F.col("__py") - F.col("cy")
        d = F.greatest(F.sqrt(dx * dx + dy * dy), F.lit(float(eps)))
        centers = (j.groupBy(*by)
                   .agg(F.sum(F.col("__px") / d).alias("sx"),
                        F.sum(F.col("__py") / d).alias("sy"),
                        F.sum(F.lit(1.0) / d).alias("sw"))
                   .select(*by, (F.col("sx") / F.col("sw")).alias("cx"),
                           (F.col("sy") / F.col("sw")).alias("cy")))
    out = base.select(*by, "n").join(centers, on=by) if by else \
        base.select("n").crossJoin(centers)
    return out.select(*by, "n", F.col("cx").alias("median_x"),
                      F.col("cy").alias("median_y"))
