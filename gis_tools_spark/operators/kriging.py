"""Geostatistics: the distributed empirical variogram.

``empirical_variogram`` — the experimental semivariogram
   γ̂(h) = 1/(2 N(h)) Σ (z_i − z_j)² over point pairs binned by lag
   distance h. Distributed exactly like the DBSCAN pair phase: grid-bin
   at the cutoff lag, 3×3 neighbor-bin equi-join, so pair volume is
   O(n · local density), never O(n²). Coordinates and values are
   quantized to int64 BEFORE pairing, so every squared difference is an
   exact integer and the per-bin sums are partition-order independent —
   the same contract that makes kde/idw value-gateable: an ANSI-SQL
   oracle can mirror the whole expression tree (the only floats are one
   IEEE sqrt — correctly rounded everywhere — and the final divisions).

Plan shape: one equi-join shuffle on the lag-cutoff bin + one
map-side-combinable groupBy(bin) — output is n_bins rows.

Reference scope: gis-tools wraps DEM surfaces but has no geostatistics;
brief-scope (gap-filling sensor/elevation/quality surfaces at lake
scale). IDW (interpolate.py) is the deterministic-weights sibling; TIN
(triangulate.py) the exact-surface one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["empirical_variogram"]


# ------------------------------------------------------------- variogram

def empirical_variogram(points: DataFrame, *, value_col: str,
                        lon: str = "lon", lat: str = "lat",
                        max_lag: float, n_bins: int = 12,
                        scale_xy: float = 1e6,
                        scale_v: float = 100.0) -> DataFrame:
    """Experimental semivariogram over all point pairs with planar
    distance < ``max_lag``. Returns one row per non-empty lag bin:
    (lag_bin, n_pairs, gamma, mean_lag), gamma in value² units,
    mean_lag in coordinate units.

    Quantization: coordinates round to 1/scale_xy, values to 1/scale_v
    — every pair contribution is exact int64, so the result is a pure
    function of the input set (and SQL-mirrorable)."""
    L = int(round(max_lag * scale_xy))          # cutoff in int units
    if L <= 0:
        raise ValueError("max_lag too small for scale_xy")
    w = L / float(n_bins)                        # lag bin width, int units
    xi = F.floor(F.col(lon) * scale_xy + 0.5).cast("long")
    yi = F.floor(F.col(lat) * scale_xy + 0.5).cast("long")
    vi = F.floor(F.col(value_col) * scale_v + 0.5).cast("long")
    b = points.select(xi.alias("xi"), yi.alias("yi"), vi.alias("vi"),
                      F.monotonically_increasing_id().alias("__rid"))
    # forward-stencil grid pair join (round-6, guide §2.3): the classic
    # 9-offset explode emits every adjacent-bin pair TWICE and dedups
    # with ra<rb after the shuffle; the 5-offset forward stencil
    # {(0,0),(1,0),(0,1),(1,1),(1,-1)} emits each cross-bin pair exactly
    # once (only the same-bin offset still needs the id tiebreak), so
    # candidate volume — and the shuffle feeding it — drops to 5/9
    bx = (F.col("xi") - F.col("xi") % L) / L
    by = (F.col("yi") - F.col("yi") % L) / L
    offs = [(0, 0), (1, 0), (0, 1), (1, 1), (1, -1)]
    left = b.select(
        F.col("xi").alias("ax"), F.col("yi").alias("ay"),
        F.col("vi").alias("av"), F.col("__rid").alias("ra"),
        F.explode(F.array(*[
            F.struct((bx.cast("long") + dx).alias("bx"),
                     (by.cast("long") + dy).alias("by"),
                     F.lit(dx == 0 and dy == 0).alias("sm"))
            for dx, dy in offs])).alias("t")
    ).select("ax", "ay", "av", "ra",
             F.col("t.bx").alias("bx"), F.col("t.by").alias("by"),
             F.col("t.sm").alias("sm"))
    right = b.select(F.col("xi").alias("cx"), F.col("yi").alias("cy"),
                     F.col("vi").alias("cv"), F.col("__rid").alias("rb"),
                     bx.cast("long").alias("bx"), by.cast("long").alias("by"))
    dx = F.col("ax") - F.col("cx")
    dy = F.col("ay") - F.col("cy")
    d2 = dx * dx + dy * dy
    dv = F.col("av") - F.col("cv")
    pairs = (left.join(right, on=["bx", "by"])
             .where((~F.col("sm") | (F.col("ra") < F.col("rb")))
                    & (d2 < F.lit(L * L).cast("long")) & (d2 > 0))
             .select(d2.alias("d2"), (dv * dv).alias("dv2")))
    lag = F.floor(F.sqrt(F.col("d2").cast("double")) / F.lit(w)).cast("int")
    out = (pairs.groupBy(lag.alias("lag_bin"))
           .agg(F.count("*").alias("n_pairs"),
                F.sum("dv2").alias("__sdv2"),
                F.sum(F.floor(F.sqrt(F.col("d2").cast("double")))
                      .cast("long")).alias("__sd")))
    return out.select(
        "lag_bin", "n_pairs",
        (F.col("__sdv2").cast("double")
         / (2.0 * F.col("n_pairs").cast("double") * scale_v * scale_v)
         ).alias("gamma"),
        (F.col("__sd").cast("double")
         / (F.col("n_pairs").cast("double") * scale_xy)).alias("mean_lag"))
