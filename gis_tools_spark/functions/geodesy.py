"""Geodesic distance column functions — pure Spark SQL column math, no
UDF (SURVEY.md §2.11; reference great_circle distance.py:22-53 uses
haversine × local-sphere radius, euclidean distance.py:56-66)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

EARTH_RADIUS_M = 6_371_000.0


def great_circle_meters(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
                        radius: float = EARTH_RADIUS_M) -> Column:
    """Haversine great-circle distance in meters — whole-stage codegen."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) ** 2 + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) ** 2
    return F.lit(2.0 * radius) * F.asin(F.sqrt(a))


def rhumb_distance_meters(lon1: Column, lat1: Column, lon2: Column,
                          lat2: Column,
                          radius: float = EARTH_RADIUS_M) -> Column:
    """Loxodrome (constant-bearing) distance in meters — what a ship
    holding one compass course actually sails; always >= the great
    circle. Pure column math (ln/tan/sqrt), whole-stage codegen.
    Standard inverse-Mercator form: q = Δφ/Δψ with
    ψ = ln tan(π/4 + φ/2) (q → cos φ as Δφ → 0);
    d = R·√(Δφ² + q²·Δλ²).

    Δλ is normalized to the shorter arc [−180°, 180°) so pairs
    straddling the antimeridian (179°E → 179°W) take the ~222 km hop,
    not the long way around (round-4 ADVICE; haversine/slerp are
    inherently periodic in Δλ, the rhumb family is not)."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = p2 - p1
    # F.pmod, not %: Spark's % takes the dividend's sign, so the
    # +540 trick only holds for lons in [-270, 270]; pmod is correct
    # for unwrapped inputs too (round-5 ADVICE)
    dlam = F.radians(F.pmod(lon2 - lon1 + F.lit(180.0), F.lit(360.0))
                     - F.lit(180.0))
    dpsi = (F.log(F.tan(F.lit(np.pi / 4) + p2 / 2)
                  / F.tan(F.lit(np.pi / 4) + p1 / 2)))
    q = F.when(F.abs(dphi) > F.lit(1e-12), dphi / dpsi) \
        .otherwise(F.cos(p1))
    return F.lit(float(radius)) * F.sqrt(dphi * dphi
                                         + q * q * dlam * dlam)


def rhumb_bearing_deg(lon1: Column, lat1: Column, lon2: Column,
                      lat2: Column) -> Column:
    """Constant compass course from point 1 to point 2, degrees
    clockwise from north in [0, 360).  Δλ normalized to the shorter
    arc, matching rhumb_distance_meters (antimeridian-safe)."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    # F.pmod, not %: Spark's % takes the dividend's sign, so the
    # +540 trick only holds for lons in [-270, 270]; pmod is correct
    # for unwrapped inputs too (round-5 ADVICE)
    dlam = F.radians(F.pmod(lon2 - lon1 + F.lit(180.0), F.lit(360.0))
                     - F.lit(180.0))
    dpsi = (F.log(F.tan(F.lit(np.pi / 4) + p2 / 2)
                  / F.tan(F.lit(np.pi / 4) + p1 / 2)))
    th = F.degrees(F.atan2(dlam, dpsi))
    return (th + F.lit(360.0)) % F.lit(360.0)


def great_circle_interpolate(lon1: Column, lat1: Column,
                             lon2: Column, lat2: Column,
                             frac) -> tuple[Column, Column]:
    """Point at fraction ``frac`` ∈ [0, 1] along the great circle from
    1 to 2 — spherical linear interpolation (the published slerp
    form): with δ the angular distance and A=sin((1−f)δ)/sinδ,
    B=sin(fδ)/sinδ, the interpolated unit vector is A·v₁ + B·v₂.
    Degenerate δ→0 falls back to linear lon/lat blending.  Pure
    codegen; the track-densification primitive (flight paths, geodesic
    segment midpoints).  f=0/1 endpoints and midpoint symmetry are
    pytest-pinned; the s2_interp gate mirrors the identical formula in
    SQL with float32 rounding."""
    f = frac if isinstance(frac, Column) else F.lit(float(frac))
    p1, p2 = F.radians(lat1), F.radians(lat2)
    l1, l2 = F.radians(lon1), F.radians(lon2)
    # angular distance via haversine (stable for small δ)
    a = (F.sin((p2 - p1) / 2) ** 2
         + F.cos(p1) * F.cos(p2) * F.sin((l2 - l1) / 2) ** 2)
    delta = 2 * F.asin(F.sqrt(F.least(a, F.lit(1.0))))
    sd = F.sin(delta)
    ka = F.sin((1 - f) * delta) / sd
    kb = F.sin(f * delta) / sd
    x = (ka * F.cos(p1) * F.cos(l1) + kb * F.cos(p2) * F.cos(l2))
    y = (ka * F.cos(p1) * F.sin(l1) + kb * F.cos(p2) * F.sin(l2))
    z = ka * F.sin(p1) + kb * F.sin(p2)
    lon = F.degrees(F.atan2(y, x))
    lat = F.degrees(F.atan2(z, F.sqrt(x * x + y * y)))
    tiny = delta < F.lit(1e-9)
    lon = F.when(tiny, lon1 + (lon2 - lon1) * f).otherwise(lon)
    lat = F.when(tiny, lat1 + (lat2 - lat1) * f).otherwise(lat)
    return lon, lat


def great_circle_interpolate_sql(lon1: str, lat1: str, lon2: str,
                                 lat2: str, frac: float) -> tuple[str, str]:
    """ANSI-SQL mirror of great_circle_interpolate at a literal
    fraction (identical formula text on both engines; gate rounds the
    outputs through float32 so libm drift cannot flip the compare)."""
    f = float(frac)
    p1, p2 = f"radians({lat1})", f"radians({lat2})"
    l1, l2 = f"radians({lon1})", f"radians({lon2})"
    a = (f"(power(sin(({p2} - {p1}) / 2), 2) + cos({p1}) * cos({p2})"
         f" * power(sin(({l2} - {l1}) / 2), 2))")
    delta = f"(2 * asin(sqrt(least({a}, 1.0))))"
    ka = f"(sin((1.0 - {f}) * {delta}) / sin({delta}))"
    kb = f"(sin({f} * {delta}) / sin({delta}))"
    x = f"({ka} * cos({p1}) * cos({l1}) + {kb} * cos({p2}) * cos({l2}))"
    y = f"({ka} * cos({p1}) * sin({l1}) + {kb} * cos({p2}) * sin({l2}))"
    z = f"({ka} * sin({p1}) + {kb} * sin({p2}))"
    tiny = f"({delta} < 1e-9)"
    lon = (f"CASE WHEN {tiny} THEN {lon1} + ({lon2} - {lon1}) * {f}"
           f" ELSE degrees(atan2({y}, {x})) END")
    lat = (f"CASE WHEN {tiny} THEN {lat1} + ({lat2} - {lat1}) * {f}"
           f" ELSE degrees(atan2({z}, sqrt({x} * {x} + {y} * {y}))) END")
    return lon, lat


def initial_bearing_deg(lon1: Column, lat1: Column, lon2: Column,
                        lat2: Column) -> Column:
    """Great-circle forward azimuth at point 1, degrees clockwise from
    north in [0, 360) — θ = atan2(sinΔλ·cosφ₂, cosφ₁·sinφ₂ −
    sinφ₁·cosφ₂·cosΔλ). Pure codegen."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dl = F.radians(lon2 - lon1)
    th = F.degrees(F.atan2(
        F.sin(dl) * F.cos(p2),
        F.cos(p1) * F.sin(p2) - F.sin(p1) * F.cos(p2) * F.cos(dl)))
    return (th + F.lit(360.0)) % F.lit(360.0)
