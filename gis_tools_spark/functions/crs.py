"""Coordinate reprojection (reference to_crs: layer.py:1196-1229 and
raster to_crs raster.py:438-451 via pyproj/GDAL — neither wheel exists
in this sandbox, so the transforms ship as closed-form numpy kernels).

Supported CRS ids:
  4326  — WGS84 lon/lat (degrees)
  3857  — Web Mercator (meters; spherical, exact closed form)
  utm:N — UTM zone N north (transverse Mercator, Karney/Krüger series,
          ~0.1 mm accuracy within the zone; WGS84 ellipsoid)

``transform_xy`` is the raw numpy kernel (used by the SQL functions,
tests and raster warps).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T


R = 6_378_137.0           # WGS84 semi-major
F_INV = 298.257223563
E2 = 1 - (1 - 1 / F_INV) ** 2


def _to_mercator(lon, lat):
    x = np.deg2rad(lon) * R
    y = R * np.log(np.tan(np.pi / 4 + np.deg2rad(np.clip(lat, -89.9999, 89.9999)) / 2))
    return x, y


def _from_mercator(x, y):
    lon = np.rad2deg(x / R)
    lat = np.rad2deg(2 * np.arctan(np.exp(y / R)) - np.pi / 2)
    return lon, lat


# --- transverse Mercator (Krüger series, 4th order) for UTM ------------

_N = (1 / F_INV) / (2 - 1 / F_INV)
_A_CAP = R / (1 + _N) * (1 + _N ** 2 / 4 + _N ** 4 / 64)
_ALPHA = [
    _N / 2 - 2 * _N ** 2 / 3 + 5 * _N ** 3 / 16,
    13 * _N ** 2 / 48 - 3 * _N ** 3 / 5,
    61 * _N ** 3 / 240,
]
_BETA = [
    _N / 2 - 2 * _N ** 2 / 3 + 37 * _N ** 3 / 96,
    _N ** 2 / 48 + _N ** 3 / 15,
    17 * _N ** 3 / 480,
]
_K0 = 0.9996


def _to_utm(lon, lat, zone: int):
    lon0 = np.deg2rad(zone * 6 - 183)
    phi = np.deg2rad(lat)
    lam = np.deg2rad(lon) - lon0
    e = np.sqrt(E2)
    t = np.sinh(np.arctanh(np.sin(phi)) - e * np.arctanh(e * np.sin(phi)))
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arcsinh(np.sin(lam) / np.hypot(t, np.cos(lam)))
    x = eta.copy()
    y = xi.copy()
    for j, (a,) in enumerate(zip(_ALPHA), start=1):
        x += a * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
        y += a * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
    return _K0 * _A_CAP * x + 500_000.0, _K0 * _A_CAP * y


def _from_utm(x, y, zone: int):
    lon0 = np.deg2rad(zone * 6 - 183)
    xi = y / (_K0 * _A_CAP)
    eta = (x - 500_000.0) / (_K0 * _A_CAP)
    xi_p = xi.copy()
    eta_p = eta.copy()
    for j, (b,) in enumerate(zip(_BETA), start=1):
        xi_p -= b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p -= b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    e = np.sqrt(E2)
    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))
    # conformal → geodetic latitude: fixed-point iteration on
    # artanh(sin φ) = artanh(sin χ) + e·artanh(e·sin φ)
    phi = chi.copy()
    for _ in range(6):
        phi = np.arcsin(np.tanh(
            np.arctanh(np.sin(chi)) + e * np.arctanh(e * np.sin(phi))))
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    return np.rad2deg(lam + lon0), np.rad2deg(phi)


def transform_xy(x: np.ndarray, y: np.ndarray, src, dst):
    """Transform coordinate arrays between supported CRS ids: 4326,
    3857, utm:N, EPSG 326xx/327xx, and any code in EPSG_REGISTRY
    (LCC/AEA/LAEA closed forms)."""
    src, dst = str(src), str(dst)
    if src == dst:
        return x, y
    # normalize to 4326 first
    if src == "3857":
        x, y = _from_mercator(x, y)
    elif src.startswith("utm:"):
        x, y = _from_utm(x, y, int(src.split(":")[1]))
    elif src != "4326":
        r = _resolve(src)
        if isinstance(r, tuple):
            _, zone, south = r
            x, y = _from_utm(x, y - (10_000_000.0 if south else 0.0), zone)
        else:
            x, y = r.inv(x, y)
    if dst == "4326":
        return x, y
    if dst == "3857":
        return _to_mercator(x, y)
    if dst.startswith("utm:"):
        return _to_utm(x, y, int(dst.split(":")[1]))
    r = _resolve(dst)
    if isinstance(r, tuple):
        _, zone, south = r
        x, y = _to_utm(x, y, zone)
        return x, y + (10_000_000.0 if south else 0.0)
    return r.fwd(x, y)


# --- conic / azimuthal projections (Snyder closed forms) ----------------
# The reference reprojects through pyproj (layer.py:1196-1229). Without
# that wheel, the engine ships ellipsoidal Lambert Conformal Conic (2SP),
# Albers Equal-Area (2SP) and Lambert Azimuthal Equal-Area as numpy
# kernels plus a registry of common EPSG codes. GRS80 and WGS84 differ
# by <1e-9 in flattening — treated as identical.

_E = np.sqrt(E2)


def _m(phi):
    return np.cos(phi) / np.sqrt(1 - E2 * np.sin(phi) ** 2)


def _t(phi):
    s = np.sin(phi)
    return (np.tan(np.pi / 4 - phi / 2)
            / ((1 - _E * s) / (1 + _E * s)) ** (_E / 2))


def _phi_from_t(t):
    phi = np.pi / 2 - 2 * np.arctan(t)
    for _ in range(8):
        s = np.sin(phi)
        phi = np.pi / 2 - 2 * np.arctan(
            t * ((1 - _E * s) / (1 + _E * s)) ** (_E / 2))
    return phi


def _q(phi):
    s = np.sin(phi)
    return (1 - E2) * (s / (1 - E2 * s * s)
                       - (1 / (2 * _E)) * np.log((1 - _E * s) / (1 + _E * s)))


class LCC:
    """Lambert Conformal Conic, 2 standard parallels (Snyder 15)."""

    def __init__(self, lat0, lon0, sp1, sp2, fe, fn):
        p0, p1, p2 = map(np.deg2rad, (lat0, sp1, sp2))
        self.lon0 = np.deg2rad(lon0)
        self.n = ((np.log(_m(p1)) - np.log(_m(p2)))
                  / (np.log(_t(p1)) - np.log(_t(p2))))
        self.F = _m(p1) / (self.n * _t(p1) ** self.n)
        self.rho0 = R * self.F * _t(p0) ** self.n
        self.fe, self.fn = fe, fn

    def fwd(self, lon, lat):
        rho = R * self.F * _t(np.deg2rad(lat)) ** self.n
        th = self.n * (np.deg2rad(lon) - self.lon0)
        return self.fe + rho * np.sin(th), self.fn + self.rho0 - rho * np.cos(th)

    def inv(self, x, y):
        xr, yr = x - self.fe, self.rho0 - (y - self.fn)
        rho = np.sign(self.n) * np.hypot(xr, yr)
        t = (rho / (R * self.F)) ** (1 / self.n)
        th = np.arctan2(np.sign(self.n) * xr, np.sign(self.n) * yr)
        return (np.rad2deg(th / self.n + self.lon0),
                np.rad2deg(_phi_from_t(t)))


class AEA:
    """Albers Equal-Area Conic, 2 standard parallels (Snyder 14)."""

    def __init__(self, lat0, lon0, sp1, sp2, fe, fn):
        p0, p1, p2 = map(np.deg2rad, (lat0, sp1, sp2))
        self.lon0 = np.deg2rad(lon0)
        m1, m2 = _m(p1), _m(p2)
        q0, q1, q2 = _q(p0), _q(p1), _q(p2)
        self.n = (m1 * m1 - m2 * m2) / (q2 - q1)
        self.C = m1 * m1 + self.n * q1
        self.rho0 = R * np.sqrt(self.C - self.n * q0) / self.n
        self.fe, self.fn = fe, fn

    def fwd(self, lon, lat):
        rho = R * np.sqrt(self.C - self.n * _q(np.deg2rad(lat))) / self.n
        th = self.n * (np.deg2rad(lon) - self.lon0)
        return self.fe + rho * np.sin(th), self.fn + self.rho0 - rho * np.cos(th)

    def inv(self, x, y):
        xr, yr = x - self.fe, self.rho0 - (y - self.fn)
        rho = np.hypot(xr, yr)
        q = (self.C - (rho * self.n / R) ** 2) / self.n
        th = np.arctan2(xr, yr)
        phi = np.arcsin(np.clip(q / 2, -1, 1))
        for _ in range(8):
            s = np.sin(phi)
            phi = phi + (1 - E2 * s * s) ** 2 / (2 * np.cos(phi)) * (
                q / (1 - E2) - s / (1 - E2 * s * s)
                + (1 / (2 * _E)) * np.log((1 - _E * s) / (1 + _E * s)))
        return (np.rad2deg(th / self.n + self.lon0), np.rad2deg(phi))


class LAEA:
    """Lambert Azimuthal Equal-Area, ellipsoidal (Snyder 24)."""

    def __init__(self, lat0, lon0, fe, fn):
        self.lon0 = np.deg2rad(lon0)
        p0 = np.deg2rad(lat0)
        self.qp = _q(np.pi / 2)
        self.rq = R * np.sqrt(self.qp / 2)
        self.b1 = np.arcsin(_q(p0) / self.qp)
        self.D = R * _m(p0) / (self.rq * np.cos(self.b1))
        self.fe, self.fn = fe, fn

    def fwd(self, lon, lat):
        b = np.arcsin(np.clip(_q(np.deg2rad(lat)) / self.qp, -1, 1))
        lp = np.deg2rad(lon) - self.lon0
        B = self.rq * np.sqrt(np.maximum(
            2 / (1 + np.sin(self.b1) * np.sin(b)
                 + np.cos(self.b1) * np.cos(b) * np.cos(lp)), 0))
        x = B * self.D * np.cos(b) * np.sin(lp)
        y = (B / self.D) * (np.cos(self.b1) * np.sin(b)
                            - np.sin(self.b1) * np.cos(b) * np.cos(lp))
        return self.fe + x, self.fn + y

    def inv(self, x, y):
        xr, yr = (x - self.fe) / self.D, (y - self.fn) * self.D
        rho = np.hypot(xr, yr)
        ce = 2 * np.arcsin(np.clip(rho / (2 * self.rq), -1, 1))
        with np.errstate(invalid="ignore", divide="ignore"):
            b = np.where(rho == 0, self.b1, np.arcsin(np.clip(
                np.cos(ce) * np.sin(self.b1)
                + yr * np.sin(ce) * np.cos(self.b1) / np.where(rho == 0, 1, rho),
                -1, 1)))
            lp = np.arctan2(xr * np.sin(ce),
                            rho * np.cos(self.b1) * np.cos(ce)
                            - yr * np.sin(self.b1) * np.sin(ce))
        # authalic → geodetic latitude: iterate on q (exact, like AEA)
        q = self.qp * np.sin(b)
        phi = b
        for _ in range(8):
            s = np.sin(phi)
            phi = phi + (1 - E2 * s * s) ** 2 / (2 * np.cos(phi)) * (
                q / (1 - E2) - s / (1 - E2 * s * s)
                + (1 / (2 * _E)) * np.log((1 - _E * s) / (1 + _E * s)))
        return np.rad2deg(self.lon0 + lp), np.rad2deg(phi)


class PolarStereo:
    """Polar Stereographic variant B (Snyder 21-33..35 ellipsoidal):
    lat_ts = standard parallel (true scale), projection centered on the
    pole nearer lat_ts. Covers EPSG 3031/3976 (Antarctic) and 3413/3995
    (Arctic) — the standard polar raster/sea-ice CRSes."""

    def __init__(self, lat_ts, lon0, fe, fn, a: float = R,
                 f_inv: float = F_INV):
        f = 1.0 / f_inv
        self.e = np.sqrt(1 - (1 - f) ** 2)
        self.a = a
        self.south = lat_ts < 0
        self.lon0 = np.deg2rad(lon0)
        self.fe, self.fn = fe, fn
        e = self.e
        phi_ts = np.deg2rad(abs(lat_ts))
        s = np.sin(phi_ts)
        t_ts = (np.tan(np.pi / 4 - phi_ts / 2)
                / ((1 - e * s) / (1 + e * s)) ** (e / 2))
        m_ts = np.cos(phi_ts) / np.sqrt(1 - e * e * s * s)
        # k0 implied by the standard parallel (variant B)
        self._rho_factor = a * m_ts / t_ts if phi_ts < np.pi / 2 - 1e-12 \
            else 2 * a / np.sqrt((1 + e) ** (1 + e) * (1 - e) ** (1 - e))

    def _t(self, phi_abs):
        s = np.sin(phi_abs)
        return (np.tan(np.pi / 4 - phi_abs / 2)
                / ((1 - self.e * s) / (1 + self.e * s)) ** (self.e / 2))

    def fwd(self, lon, lat):
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        sign = -1.0 if self.south else 1.0
        phi = np.deg2rad(np.clip(sign * lat, -89.999999, 90.0))
        lam = sign * (np.deg2rad(lon) - self.lon0)
        rho = self._rho_factor * self._t(phi)
        x = rho * np.sin(lam)
        y = -rho * np.cos(lam)
        return self.fe + sign * x, self.fn + sign * y

    def inv(self, x, y):
        sign = -1.0 if self.south else 1.0
        xs = sign * (np.asarray(x, dtype=np.float64) - self.fe)
        ys = sign * (np.asarray(y, dtype=np.float64) - self.fn)
        rho = np.hypot(xs, ys)
        t = rho / self._rho_factor
        phi = np.pi / 2 - 2 * np.arctan(t)
        for _ in range(8):
            s = np.sin(phi)
            phi = np.pi / 2 - 2 * np.arctan(
                t * ((1 - self.e * s) / (1 + self.e * s)) ** (self.e / 2))
        lam = np.arctan2(xs, -ys)          # = sign * (λ − lon0)
        lon = np.rad2deg(self.lon0 + sign * lam)
        return lon, np.rad2deg(sign * phi)


class SwissObliqueMercator:
    """Swiss Oblique Mercator ('somerc', EPSG method 9815 in its Swiss
    double-projection form): ellipsoid → Gauss conformal sphere →
    rotation taking the projection center to the pseudo-equator →
    equatorial Mercator. Rigorous swisstopo formulation (public
    'Formulas and constants for the Swiss conformal cylindrical
    projection'); covers EPSG 2056 (CH1903+/LV95) and 21781
    (CH1903/LV03). Reference parity: the reference reprojects any CRS
    via pyproj (layer.py:1196-1229); this is the no-wheel closed form."""

    def __init__(self, lat0, lon0, k0, fe, fn, a: float = R,
                 f_inv: float = F_INV):
        f = 1.0 / f_inv
        self.e = e = np.sqrt(1 - (1 - f) ** 2)
        phi0 = np.deg2rad(lat0)
        self.lam0 = np.deg2rad(lon0)
        self.fe, self.fn = fe, fn
        s0 = np.sin(phi0)
        self.alpha = np.sqrt(1 + e * e / (1 - e * e) * np.cos(phi0) ** 4)
        self.Rs = k0 * a * np.sqrt(1 - e * e) / (1 - e * e * s0 * s0)
        self.b0 = np.arcsin(s0 / self.alpha)
        self.K = (np.log(np.tan(np.pi / 4 + self.b0 / 2))
                  - self.alpha * np.log(np.tan(np.pi / 4 + phi0 / 2))
                  + self.alpha * e / 2 * np.log((1 + e * s0) / (1 - e * s0)))

    def fwd(self, lon, lat):
        e, al = self.e, self.alpha
        phi = np.deg2rad(np.asarray(lat, dtype=np.float64))
        lam = np.deg2rad(np.asarray(lon, dtype=np.float64))
        s = np.sin(phi)
        S = (al * np.log(np.tan(np.pi / 4 + phi / 2))
             - al * e / 2 * np.log((1 + e * s) / (1 - e * s)) + self.K)
        b = 2 * (np.arctan(np.exp(S)) - np.pi / 4)
        l = al * (lam - self.lam0)
        cb0, sb0 = np.cos(self.b0), np.sin(self.b0)
        xv = cb0 * np.cos(b) * np.cos(l) + sb0 * np.sin(b)
        yv = np.cos(b) * np.sin(l)
        zv = -sb0 * np.cos(b) * np.cos(l) + cb0 * np.sin(b)
        bbar = np.arcsin(np.clip(zv, -1.0, 1.0))
        lbar = np.arctan2(yv, xv)
        return (self.fe + self.Rs * lbar,
                self.fn + self.Rs * np.log(np.tan(np.pi / 4 + bbar / 2)))

    def inv(self, x, y):
        e, al = self.e, self.alpha
        lbar = (np.asarray(x, dtype=np.float64) - self.fe) / self.Rs
        bbar = 2 * (np.arctan(np.exp(
            (np.asarray(y, dtype=np.float64) - self.fn) / self.Rs)) - np.pi / 4)
        cb0, sb0 = np.cos(self.b0), np.sin(self.b0)
        xv = np.cos(bbar) * np.cos(lbar)
        yv = np.cos(bbar) * np.sin(lbar)
        zv = np.sin(bbar)
        x2 = cb0 * xv - sb0 * zv
        z2 = sb0 * xv + cb0 * zv
        b = np.arcsin(np.clip(z2, -1.0, 1.0))
        l = np.arctan2(yv, x2)
        lam = self.lam0 + l / al
        # invert the conformal latitude: ψ(φ) = (ln tan(π/4+b/2) − K)/α
        C = (np.log(np.tan(np.pi / 4 + b / 2)) - self.K) / al
        phi = 2 * np.arctan(np.exp(C)) - np.pi / 2
        for _ in range(8):
            s = np.sin(phi)
            phi = 2 * np.arctan(np.exp(
                C + e / 2 * np.log((1 + e * s) / (1 - e * s)))) - np.pi / 2
        return np.rad2deg(lam), np.rad2deg(phi)


class TMerc:
    """Transverse Mercator (Krüger series, 4th order) with arbitrary
    ellipsoid, natural origin, scale factor and false origin — the
    generic form of the UTM kernel above (which stays as the fast path
    for the fixed WGS84/zone parameterization)."""

    def __init__(self, lat0, lon0, k0, fe, fn,
                 a: float = R, f_inv: float = F_INV):
        f = 1.0 / f_inv
        self.e = np.sqrt(1 - (1 - f) ** 2)
        n = f / (2 - f)
        self.A = a / (1 + n) * (1 + n ** 2 / 4 + n ** 4 / 64)
        self.alpha = [
            n / 2 - 2 * n ** 2 / 3 + 5 * n ** 3 / 16,
            13 * n ** 2 / 48 - 3 * n ** 3 / 5,
            61 * n ** 3 / 240,
        ]
        self.beta = [
            n / 2 - 2 * n ** 2 / 3 + 37 * n ** 3 / 96,
            n ** 2 / 48 + n ** 3 / 15,
            17 * n ** 3 / 480,
        ]
        self.k0, self.fe, self.fn = k0, fe, fn
        self.lon0 = np.deg2rad(lon0)
        # meridian distance to lat0 (Krüger xi at lam=0, eta=0)
        xi0, _ = self._xi_eta(np.deg2rad(np.asarray([lat0])), np.asarray([0.0]))
        self.m0 = float(self.A * xi0[0])

    def _xi_eta(self, phi, lam):
        t = np.sinh(np.arctanh(np.sin(phi))
                    - self.e * np.arctanh(self.e * np.sin(phi)))
        xi = np.arctan2(t, np.cos(lam))
        eta = np.arcsinh(np.sin(lam) / np.hypot(t, np.cos(lam)))
        x, y = eta.copy(), xi.copy()
        for j, a_ in enumerate(self.alpha, start=1):
            x += a_ * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
            y += a_ * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        return y, x  # (xi_sum, eta_sum)

    def fwd(self, lon, lat):
        phi = np.deg2rad(np.asarray(lat, dtype=np.float64))
        lam = np.deg2rad(np.asarray(lon, dtype=np.float64)) - self.lon0
        xi, eta = self._xi_eta(phi, lam)
        return (self.fe + self.k0 * self.A * eta,
                self.fn + self.k0 * (self.A * xi - self.m0))

    def inv(self, x, y):
        xi = (np.asarray(y, dtype=np.float64) - self.fn + self.k0 * self.m0) \
            / (self.k0 * self.A)
        eta = (np.asarray(x, dtype=np.float64) - self.fe) / (self.k0 * self.A)
        xi_p, eta_p = xi.copy(), eta.copy()
        for j, b_ in enumerate(self.beta, start=1):
            xi_p -= b_ * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
            eta_p -= b_ * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
        chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))
        phi = chi.copy()
        for _ in range(8):
            phi = np.arcsin(np.tanh(
                np.arctanh(np.sin(chi)) + self.e * np.arctanh(self.e * np.sin(phi))))
        lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
        return np.rad2deg(lam + self.lon0), np.rad2deg(phi)


class Merc:
    """Ellipsoidal Mercator (Snyder 7) with scale factor / lat_ts."""

    def __init__(self, lon0, k0, fe, fn, a: float = R, f_inv: float = F_INV):
        f = 1.0 / f_inv
        self.e = np.sqrt(1 - (1 - f) ** 2)
        self.a, self.k0 = a, k0
        self.lon0 = np.deg2rad(lon0)
        self.fe, self.fn = fe, fn

    def _t(self, phi):
        s = np.sin(phi)
        return (np.tan(np.pi / 4 - phi / 2)
                / ((1 - self.e * s) / (1 + self.e * s)) ** (self.e / 2))

    def fwd(self, lon, lat):
        phi = np.deg2rad(np.clip(np.asarray(lat, dtype=np.float64),
                                 -89.9999, 89.9999))
        x = self.a * self.k0 * (np.deg2rad(np.asarray(lon)) - self.lon0)
        y = -self.a * self.k0 * np.log(self._t(phi))
        return self.fe + x, self.fn + y

    def inv(self, x, y):
        lam = (np.asarray(x, dtype=np.float64) - self.fe) / (self.a * self.k0)
        t = np.exp(-(np.asarray(y, dtype=np.float64) - self.fn)
                   / (self.a * self.k0))
        phi = np.pi / 2 - 2 * np.arctan(t)
        for _ in range(8):
            s = np.sin(phi)
            phi = np.pi / 2 - 2 * np.arctan(
                t * ((1 - self.e * s) / (1 + self.e * s)) ** (self.e / 2))
        return np.rad2deg(self.lon0 + lam), np.rad2deg(phi)


# named ellipsoids for the declarative constructor: (a, 1/f)
ELLIPSOIDS: dict[str, tuple[float, float]] = {
    "WGS84": (6_378_137.0, 298.257223563),
    "GRS80": (6_378_137.0, 298.257222101),
    "airy": (6_377_563.396, 299.3249646),
    "intl": (6_378_388.0, 297.0),
    "bessel": (6_377_397.155, 299.1528128),
}


class Krovak:
    """Krovak oblique conformal conic (EPSG method 9819) — S-JTSK,
    the Czech/Slovak national projection (EPSG 5514 'Krovak East
    North': easting = −Westing, northing = −Southing). Double
    projection: Bessel ellipsoid → Gauss conformal sphere → oblique
    cone through the pseudo standard parallel. Formulation per the
    public EPSG Guidance Note 7-2. Reference parity: the reference
    reprojects any CRS via pyproj (layer.py:1196-1229)."""

    def __init__(self, latC, lon0, alphaC, latP, k0, fe, fn,
                 a: float = 6_377_397.155, f_inv: float = 299.1528128,
                 east_north: bool = True):
        f = 1.0 / f_inv
        self.e = e = np.sqrt(1 - (1 - f) ** 2)
        phiC = np.deg2rad(latC)
        self.lam0 = np.deg2rad(lon0)
        self.alphaC = np.deg2rad(alphaC)
        phiP = np.deg2rad(latP)
        self.fe, self.fn = fe, fn
        self.east_north = east_north
        sC = np.sin(phiC)
        self.A = a * np.sqrt(1 - e * e) / (1 - e * e * sC * sC)
        self.B = np.sqrt(1 + e * e * np.cos(phiC) ** 4 / (1 - e * e))
        self.gamma0 = np.arcsin(sC / self.B)
        self.t0 = (np.tan(np.pi / 4 + self.gamma0 / 2)
                   * ((1 + e * sC) / (1 - e * sC)) ** (e * self.B / 2)
                   / np.tan(np.pi / 4 + phiC / 2) ** self.B)
        self.n = np.sin(phiP)
        self.r0 = k0 * self.A / np.tan(phiP)
        self.phiP = phiP

    def _gauss_lat(self, phi):
        """Ellipsoid latitude → conformal-sphere latitude U."""
        e, B = self.e, self.B
        s = np.sin(phi)
        return 2 * (np.arctan(
            self.t0 * np.tan(phi / 2 + np.pi / 4) ** B
            / ((1 + e * s) / (1 - e * s)) ** (e * B / 2)) - np.pi / 4)

    def fwd(self, lon, lat):
        phi = np.deg2rad(np.asarray(lat, dtype=np.float64))
        lam = np.deg2rad(np.asarray(lon, dtype=np.float64))
        U = self._gauss_lat(phi)
        V = self.B * (self.lam0 - lam)
        aC = self.alphaC
        T = np.arcsin(np.clip(np.cos(aC) * np.sin(U)
                              + np.sin(aC) * np.cos(U) * np.cos(V),
                              -1.0, 1.0))
        D = np.arcsin(np.clip(np.cos(U) * np.sin(V) / np.cos(T), -1.0, 1.0))
        theta = self.n * D
        r = (self.r0 * np.tan(np.pi / 4 + self.phiP / 2) ** self.n
             / np.tan(T / 2 + np.pi / 4) ** self.n)
        Xp = r * np.cos(theta)   # Southing
        Yp = r * np.sin(theta)   # Westing
        if self.east_north:
            return -(Yp + self.fe), -(Xp + self.fn)
        return Xp + self.fn, Yp + self.fe

    def inv(self, x, y):
        if self.east_north:
            Yp = -np.asarray(x, dtype=np.float64) - self.fe
            Xp = -np.asarray(y, dtype=np.float64) - self.fn
        else:
            Xp = np.asarray(x, dtype=np.float64) - self.fn
            Yp = np.asarray(y, dtype=np.float64) - self.fe
        r = np.hypot(Xp, Yp)
        theta = np.arctan2(Yp, Xp)
        D = theta / self.n
        T = 2 * (np.arctan(
            (self.r0 / r) ** (1.0 / self.n)
            * np.tan(np.pi / 4 + self.phiP / 2)) - np.pi / 4)
        aC = self.alphaC
        U = np.arcsin(np.clip(np.cos(aC) * np.sin(T)
                              - np.sin(aC) * np.cos(T) * np.cos(D),
                              -1.0, 1.0))
        V = np.arcsin(np.clip(np.cos(T) * np.sin(D) / np.cos(U), -1.0, 1.0))
        lam = self.lam0 - V / self.B
        # invert the Gauss sphere latitude by fixed point on φ
        e, B = self.e, self.B
        phi = U.copy()
        for _ in range(10):
            s = np.sin(phi)
            phi = 2 * (np.arctan(
                np.tan(U / 2 + np.pi / 4) ** (1.0 / B)
                * ((1 + e * s) / (1 - e * s)) ** (e / 2)
                / self.t0 ** (1.0 / B)) - np.pi / 4)
        return np.rad2deg(lam), np.rad2deg(phi)


class HotineObliqueMercator:
    """Hotine Oblique Mercator, EPSG methods 9812 (variant A,
    'no_uoff') and 9815 (variant B, natural origin at the projection
    centre) — Borneo RSO, Malaysia RSO, Alaska zone 1. Formulation per
    the public EPSG Guidance Note 7-2 / Snyder 1987 §9."""

    def __init__(self, latC, lonC, alphaC, gammaC, k0, fe, fn,
                 a: float, f_inv: float, variant: str = "B"):
        f = 1.0 / f_inv
        self.e = e = np.sqrt(1 - (1 - f) ** 2)
        phiC = np.deg2rad(latC)
        lamC = np.deg2rad(lonC)
        aC = np.deg2rad(alphaC)
        self.gammaC = np.deg2rad(gammaC)
        self.fe, self.fn = fe, fn
        self.variant = variant
        sC = np.sin(phiC)
        self.B = np.sqrt(1 + e * e * np.cos(phiC) ** 4 / (1 - e * e))
        self.A = (a * self.B * k0 * np.sqrt(1 - e * e)
                  / (1 - e * e * sC * sC))
        t0 = (np.tan(np.pi / 4 - phiC / 2)
              / ((1 - e * sC) / (1 + e * sC)) ** (e / 2))
        D = (self.B * np.sqrt(1 - e * e)
             / (np.cos(phiC) * np.sqrt(1 - e * e * sC * sC)))
        D2 = max(D * D, 1.0)
        sign = 1.0 if latC >= 0 else -1.0
        Fc = D + np.sqrt(D2 - 1.0) * sign
        self.H = Fc * t0 ** self.B
        G = (Fc - 1.0 / Fc) / 2.0
        self.gamma0 = np.arcsin(np.sin(aC) / D)
        self.lam0 = lamC - np.arcsin(G * np.tan(self.gamma0)) / self.B
        if variant == "B":
            self.uc = ((self.A / self.B)
                       * np.arctan2(np.sqrt(D2 - 1.0), np.cos(aC)) * sign)
        else:
            self.uc = 0.0

    def fwd(self, lon, lat):
        e, B, A = self.e, self.B, self.A
        phi = np.deg2rad(np.asarray(lat, dtype=np.float64))
        lam = np.deg2rad(np.asarray(lon, dtype=np.float64))
        s = np.sin(phi)
        t = np.tan(np.pi / 4 - phi / 2) / ((1 - e * s) / (1 + e * s)) ** (e / 2)
        Q = self.H / t ** B
        S = (Q - 1.0 / Q) / 2.0
        T = (Q + 1.0 / Q) / 2.0
        dl = B * (lam - self.lam0)
        V = np.sin(dl)
        U = (-V * np.cos(self.gamma0) + S * np.sin(self.gamma0)) / T
        v = A * np.log((1.0 - U) / (1.0 + U)) / (2.0 * B)
        u = (A * np.arctan2(S * np.cos(self.gamma0)
                            + V * np.sin(self.gamma0), np.cos(dl)) / B)
        u = u - self.uc
        cg, sg = np.cos(self.gammaC), np.sin(self.gammaC)
        return v * cg + u * sg + self.fe, u * cg - v * sg + self.fn

    def inv(self, x, y):
        e, B, A = self.e, self.B, self.A
        cg, sg = np.cos(self.gammaC), np.sin(self.gammaC)
        xs = np.asarray(x, dtype=np.float64) - self.fe
        ys = np.asarray(y, dtype=np.float64) - self.fn
        v = xs * cg - ys * sg
        u = ys * cg + xs * sg + self.uc
        Qp = np.exp(-B * v / A)
        Sp = (Qp - 1.0 / Qp) / 2.0
        Tp = (Qp + 1.0 / Qp) / 2.0
        Vp = np.sin(B * u / A)
        Up = (Vp * np.cos(self.gamma0) + Sp * np.sin(self.gamma0)) / Tp
        tp = (self.H / np.sqrt((1.0 + Up) / (1.0 - Up))) ** (1.0 / B)
        chi = np.pi / 2 - 2 * np.arctan(tp)
        phi = chi.copy()
        for _ in range(10):
            s = np.sin(phi)
            phi = np.pi / 2 - 2 * np.arctan(
                tp * ((1 - e * s) / (1 + e * s)) ** (e / 2))
        lam = self.lam0 - np.arctan2(
            Sp * np.cos(self.gamma0) - Vp * np.sin(self.gamma0),
            np.cos(B * u / A)) / B
        return np.rad2deg(lam), np.rad2deg(phi)


class _MeridianArc:
    """Snyder meridional-arc series M(phi) + footpoint inverse —
    shared by the Cassini-Soldner and Equidistant Cylindrical forms
    (public closed forms, Snyder 1987 eq. 3-21/3-26 & 7-19)."""

    def __init__(self, a: float, f_inv: float):
        f = 1.0 / f_inv
        self.a = a
        e2 = 1 - (1 - f) ** 2
        self.e2 = e2
        self.c0 = 1 - e2 / 4 - 3 * e2 ** 2 / 64 - 5 * e2 ** 3 / 256
        self.c2 = 3 * e2 / 8 + 3 * e2 ** 2 / 32 + 45 * e2 ** 3 / 1024
        self.c4 = 15 * e2 ** 2 / 256 + 45 * e2 ** 3 / 1024
        self.c6 = 35 * e2 ** 3 / 3072
        se = np.sqrt(1 - e2)
        e1 = (1 - se) / (1 + se)
        self.f2 = 3 * e1 / 2 - 27 * e1 ** 3 / 32
        self.f4 = 21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32
        self.f6 = 151 * e1 ** 3 / 96
        self.f8 = 1097 * e1 ** 4 / 512

    def m(self, phi):
        return self.a * (self.c0 * phi - self.c2 * np.sin(2 * phi)
                         + self.c4 * np.sin(4 * phi)
                         - self.c6 * np.sin(6 * phi))

    def footpoint(self, m):
        mu = m / (self.a * self.c0)
        phi = (mu + self.f2 * np.sin(2 * mu) + self.f4 * np.sin(4 * mu)
               + self.f6 * np.sin(6 * mu) + self.f8 * np.sin(8 * mu))
        # polish the series with Newton on the exact arc: d(m)/d(phi)
        # is the meridian radius rho — removes the ~1e-9 rad series
        # truncation that tan(phi) amplifies in high-latitude inverses
        for _ in range(2):
            s2 = np.sin(phi) ** 2
            rho = self.a * (1 - self.e2) / (1 - self.e2 * s2) ** 1.5
            phi = phi - (self.m(phi) - m) / rho
        return phi

    def nu(self, phi):
        return self.a / np.sqrt(1 - self.e2 * np.sin(phi) ** 2)


class Cassini:
    """Cassini-Soldner (EPSG method 9806) on any ellipsoid — the
    classic cadastral grid family (Trinidad, Palestine, old German
    Soldner nets). reference: layer.py reprojects via pyproj."""

    def __init__(self, lat0, lon0, fe, fn, a: float = R,
                 f_inv: float = F_INV):
        self.ma = _MeridianArc(a, f_inv)
        self.lat0 = np.deg2rad(lat0)
        self.lon0 = np.deg2rad(lon0)
        self.fe, self.fn = fe, fn
        self.m0 = float(self.ma.m(self.lat0))

    def fwd(self, lon, lat):
        phi = np.deg2rad(np.asarray(lat, dtype=np.float64))
        lam = np.deg2rad(np.asarray(lon, dtype=np.float64)) - self.lon0
        e2 = self.ma.e2
        nu = self.ma.nu(phi)
        T = np.tan(phi) ** 2
        A = lam * np.cos(phi)
        C = e2 * np.cos(phi) ** 2 / (1 - e2)
        x = self.fe + nu * (A - T * A ** 3 / 6
                            - (8 - T + 8 * C) * T * A ** 5 / 120)
        M = self.ma.m(phi)
        y = self.fn + (M - self.m0
                       + nu * np.tan(phi) * (A ** 2 / 2
                                             + (5 - T + 6 * C) * A ** 4 / 24))
        return x, y

    def inv(self, x, y):
        e2 = self.ma.e2
        m1 = self.m0 + (np.asarray(y, dtype=np.float64) - self.fn)
        phi1 = self.ma.footpoint(m1)
        nu1 = self.ma.nu(phi1)
        rho1 = self.ma.a * (1 - e2) / (1 - e2 * np.sin(phi1) ** 2) ** 1.5
        T1 = np.tan(phi1) ** 2
        D = (np.asarray(x, dtype=np.float64) - self.fe) / nu1
        phi = phi1 - (nu1 * np.tan(phi1) / rho1) * (
            D ** 2 / 2 - (1 + 3 * T1) * D ** 4 / 24)
        lam = (D - T1 * D ** 3 / 3
               + (1 + 3 * T1) * T1 * D ** 5 / 15) / np.cos(phi1)
        return np.rad2deg(self.lon0 + lam), np.rad2deg(phi)


class EqCyl:
    """Equidistant Cylindrical / Plate Carree (EPSG method 1028) on
    any ellipsoid: x scales by the standard parallel's parallel
    radius, y is the true meridional arc."""

    def __init__(self, lat_ts, lon0, fe, fn, a: float = R,
                 f_inv: float = F_INV):
        self.ma = _MeridianArc(a, f_inv)
        phi1 = np.deg2rad(lat_ts)
        self.kx = float(self.ma.nu(phi1) * np.cos(phi1))
        self.lon0 = np.deg2rad(lon0)
        self.fe, self.fn = fe, fn

    def fwd(self, lon, lat):
        lam = np.deg2rad(np.asarray(lon, dtype=np.float64)) - self.lon0
        phi = np.deg2rad(np.asarray(lat, dtype=np.float64))
        return self.fe + self.kx * lam, self.fn + self.ma.m(phi)

    def inv(self, x, y):
        lam = (np.asarray(x, dtype=np.float64) - self.fe) / self.kx
        phi = self.ma.footpoint(np.asarray(y, dtype=np.float64) - self.fn)
        return np.rad2deg(self.lon0 + lam), np.rad2deg(phi)


class Sinusoidal:
    """Sinusoidal (Sanson-Flamsteed) — equal-area, the MODIS land-grid
    projection (spherical, R=6371007.181) and ESRI:54008 World
    Sinusoidal (ellipsoidal): x = nu(phi)*cos(phi)*lam, y = M(phi).
    Snyder 1987 eq. 30-8/30-9; reference does any CRS via pyproj
    (layer.py:1196-1229)."""

    def __init__(self, lon0, fe, fn, a: float = R, f_inv: float = F_INV):
        self.ma = _MeridianArc(a, f_inv)
        self.lon0 = np.deg2rad(lon0)
        self.fe, self.fn = fe, fn

    def fwd(self, lon, lat):
        phi = np.deg2rad(np.asarray(lat, dtype=np.float64))
        lam = np.deg2rad(np.asarray(lon, dtype=np.float64)) - self.lon0
        x = self.ma.nu(phi) * np.cos(phi) * lam
        return self.fe + x, self.fn + self.ma.m(phi)

    def inv(self, x, y):
        phi = self.ma.footpoint(np.asarray(y, dtype=np.float64) - self.fn)
        denom = self.ma.nu(phi) * np.cos(phi)
        lam = np.where(np.abs(denom) > 1e-9,
                       (np.asarray(x, dtype=np.float64) - self.fe)
                       / np.where(np.abs(denom) > 1e-9, denom, 1.0),
                       0.0)
        return np.rad2deg(self.lon0 + lam), np.rad2deg(phi)


class Mollweide:
    """Mollweide — equal-area pseudocylindrical (spherical, like
    PROJ's ``moll`` which zeroes eccentricity): solve
    2*theta + sin(2*theta) = pi*sin(phi) by Newton, then
    x = (2*sqrt(2)/pi) R lam cos(theta), y = sqrt(2) R sin(theta)."""

    def __init__(self, lon0, fe, fn, a: float = R):
        self.r = a
        self.lon0 = np.deg2rad(lon0)
        self.fe, self.fn = fe, fn

    def _theta(self, phi):
        rhs = np.pi * np.sin(phi)
        th = np.array(phi, dtype=np.float64, copy=True)
        for _ in range(12):
            f = 2 * th + np.sin(2 * th) - rhs
            d = 2 + 2 * np.cos(2 * th)
            step = np.where(np.abs(d) > 1e-14, f / np.where(
                np.abs(d) > 1e-14, d, 1.0), 0.0)
            th -= step
        # poles: d -> 0 with th -> ±pi/2 exactly
        return np.where(np.abs(phi) >= np.pi / 2 - 1e-12,
                        np.sign(phi) * np.pi / 2, th)

    def fwd(self, lon, lat):
        phi = np.deg2rad(np.asarray(lat, dtype=np.float64))
        lam = np.deg2rad(np.asarray(lon, dtype=np.float64)) - self.lon0
        th = self._theta(phi)
        x = (2.0 * np.sqrt(2.0) / np.pi) * self.r * lam * np.cos(th)
        y = np.sqrt(2.0) * self.r * np.sin(th)
        return self.fe + x, self.fn + y

    def inv(self, x, y):
        th = np.arcsin(np.clip(
            (np.asarray(y, dtype=np.float64) - self.fn)
            / (np.sqrt(2.0) * self.r), -1.0, 1.0))
        phi = np.arcsin(np.clip((2 * th + np.sin(2 * th)) / np.pi,
                                -1.0, 1.0))
        cth = np.cos(th)
        lam = np.where(np.abs(cth) > 1e-12,
                       np.pi * (np.asarray(x, dtype=np.float64) - self.fe)
                       / (2 * np.sqrt(2.0) * self.r
                          * np.where(np.abs(cth) > 1e-12, cth, 1.0)),
                       0.0)
        return np.rad2deg(self.lon0 + lam), np.rad2deg(phi)


def register_crs(code, params: dict):
    """Declaratively register an EPSG code from a pyproj-style parameter
    dict — the no-wheel analog of the reference's any-CRS reprojection
    (layer.py:1196-1229 via pyproj). Supported families:
    proj ∈ {tmerc, lcc, aea, laea, merc, stere, somerc, krovak,
    omerc, cass, eqc, sinu, moll};
    keys lat_0/lat_1/lat_2/lon_0/lonc/alpha/gamma/no_uoff/
    x_0/y_0/k_0/lat_ts/ellps (named or (a, 1/f) tuple; tmerc and merc
    honor any ellipsoid, the conic/azimuthal forms are WGS84/GRS80-only
    — sub-µm apart — and raise otherwise). Datum shifts (towgs84/nadgrids)
    are out of scope: coordinates are taken in the projection's own
    geographic datum.

    Example::

        register_crs(27700, dict(proj="tmerc", lat_0=49, lon_0=-2,
                                 k_0=0.9996012717, x_0=400_000,
                                 y_0=-100_000, ellps="airy"))
    """
    proj = params["proj"]
    ellps = params.get("ellps", "WGS84")
    a, rf = ELLIPSOIDS[ellps] if isinstance(ellps, str) else ellps
    lat0 = float(params.get("lat_0", 0.0))
    lon0 = float(params.get("lon_0", 0.0))
    x0 = float(params.get("x_0", 0.0))
    y0 = float(params.get("y_0", 0.0))
    k0 = float(params.get("k_0", 1.0))
    wgs_like = abs(a - R) < 1.0 and abs(rf - F_INV) < 0.01
    if proj == "tmerc":
        p = TMerc(lat0, lon0, k0, x0, y0, a, rf)
    elif proj == "merc":
        if "lat_ts" in params:  # k0 from the true-scale latitude
            phi = np.deg2rad(float(params["lat_ts"]))
            e = np.sqrt(1 - (1 - 1 / rf) ** 2)
            k0 = float(np.cos(phi) / np.sqrt(1 - e * e * np.sin(phi) ** 2))
        p = Merc(lon0, k0, x0, y0, a, rf)
    elif proj == "stere":
        if abs(lat0) != 90.0:
            raise NotImplementedError(
                "stere: only the polar aspect is implemented (lat_0=±90)")
        lat_ts = float(params.get("lat_ts", lat0))
        p = PolarStereo(lat_ts, lon0, x0, y0, a, rf)
    elif proj == "somerc":
        p = SwissObliqueMercator(lat0, lon0, k0, x0, y0, a, rf)
    elif proj == "cass":
        p = Cassini(lat0, lon0, x0, y0, a, rf)
    elif proj == "eqc":
        p = EqCyl(float(params.get("lat_ts", lat0)), lon0, x0, y0, a, rf)
    elif proj == "sinu":
        p = Sinusoidal(lon0, x0, y0, a, rf)
    elif proj == "moll":
        p = Mollweide(lon0, x0, y0, a)
    elif proj == "krovak":
        p = Krovak(lat0, lon0, float(params.get("alpha", 30.28813972222222)),
                   float(params.get("lat_ps", 78.5)), k0, x0, y0, a, rf,
                   east_north=bool(params.get("east_north", True)))
    elif proj == "omerc":
        p = HotineObliqueMercator(
            lat0, float(params.get("lonc", lon0)), float(params["alpha"]),
            float(params.get("gamma", params["alpha"])), k0, x0, y0, a, rf,
            variant="A" if params.get("no_uoff") else "B")
    elif proj in ("lcc", "aea", "laea"):
        if not wgs_like:
            raise NotImplementedError(
                f"{proj} is implemented for WGS84/GRS80 only (got a={a})")
        if proj == "lcc":
            p = LCC(lat0, lon0, float(params["lat_1"]),
                    float(params.get("lat_2", params["lat_1"])), x0, y0)
        elif proj == "aea":
            p = AEA(lat0, lon0, float(params["lat_1"]),
                    float(params.get("lat_2", params["lat_1"])), x0, y0)
        else:
            p = LAEA(lat0, lon0, x0, y0)
    else:
        raise NotImplementedError(
            f"proj={proj!r}: supported families are "
            "tmerc/lcc/aea/laea/merc/stere/somerc/krovak/omerc/cass/eqc/"
            "sinu/moll")
    EPSG_REGISTRY[str(code)] = p
    return p


# common EPSG codes → parameterized projections (extend freely)
EPSG_REGISTRY: dict = {
    "2154": LCC(46.5, 3.0, 49.0, 44.0, 700_000.0, 6_600_000.0),   # RGF93 / Lambert-93
    "5070": AEA(23.0, -96.0, 29.5, 45.5, 0.0, 0.0),               # NAD83 / CONUS Albers
    "3035": LAEA(52.0, 10.0, 4_321_000.0, 3_210_000.0),           # ETRS89-extended / LAEA Europe
    "102039": AEA(23.0, -96.0, 29.5, 45.5, 0.0, 0.0),             # ESRI USA Albers (alias)
}

# round-3: registry-only additions through the declarative constructor
register_crs(27700, dict(proj="tmerc", lat_0=49.0, lon_0=-2.0,          # OSGB36 / British National Grid
                         k_0=0.9996012717, x_0=400_000.0, y_0=-100_000.0,
                         ellps="airy"))
register_crs(25832, dict(proj="tmerc", lat_0=0.0, lon_0=9.0,            # ETRS89 / UTM 32N
                         k_0=0.9996, x_0=500_000.0, y_0=0.0,
                         ellps="GRS80"))
register_crs(3310, dict(proj="aea", lat_0=0.0, lon_0=-120.0,            # NAD83 / California Albers
                        lat_1=34.0, lat_2=40.5, x_0=0.0, y_0=-4_000_000.0,
                        ellps="GRS80"))
register_crs(3395, dict(proj="merc", lon_0=0.0, k_0=1.0,                # WGS84 / World Mercator
                        x_0=0.0, y_0=0.0, ellps="WGS84"))
register_crs(3031, dict(proj="stere", lat_0=-90.0, lat_ts=-71.0,        # WGS84 / Antarctic Polar Stereographic
                        lon_0=0.0, x_0=0.0, y_0=0.0, ellps="WGS84"))
register_crs(3413, dict(proj="stere", lat_0=90.0, lat_ts=70.0,          # WGS84 / NSIDC Sea Ice Polar Stereographic North
                        lon_0=-45.0, x_0=0.0, y_0=0.0, ellps="WGS84"))
_BERN_LAT = 46 + 57 / 60 + 8.66 / 3600      # 46°57'08.66"
_BERN_LON = 7 + 26 / 60 + 22.50 / 3600      # 7°26'22.50"
register_crs(2056, dict(proj="somerc", lat_0=_BERN_LAT, lon_0=_BERN_LON,  # CH1903+ / LV95
                        k_0=1.0, x_0=2_600_000.0, y_0=1_200_000.0,
                        ellps="bessel"))
register_crs(21781, dict(proj="somerc", lat_0=_BERN_LAT, lon_0=_BERN_LON,  # CH1903 / LV03
                         k_0=1.0, x_0=600_000.0, y_0=200_000.0,
                         ellps="bessel"))
# round-4 declarative families (verdict next-round #7): krovak + omerc
register_crs(4087, dict(proj="eqc", lat_ts=0.0, lon_0=0.0,               # WGS84 / World Equidistant Cylindrical
                        x_0=0.0, y_0=0.0, ellps="WGS84"))
register_crs(30200, dict(proj="cass", lat_0=10.441666666667,             # Trinidad 1903 / Trinidad Grid
                         lon_0=-61.333333333333, x_0=430000.0,           # (Clarke 1858, CLARKE'S LINKS)
                         y_0=325000.0, ellps=(31706587.88, 294.2606764)))
register_crs(5514, dict(proj="krovak", lat_0=49.5, lon_0=24.8333333333333,  # S-JTSK / Krovak East North
                        alpha=30.28813972222222, lat_ps=78.5, k_0=0.9999,
                        x_0=0.0, y_0=0.0, ellps="bessel"))
register_crs(29873, dict(proj="omerc", lat_0=4.0, lonc=115.0,               # Timbalai 1948 / RSO Borneo (m)
                         alpha=53.31582045555556, gamma=53.13010236111111,
                         k_0=0.99984, x_0=590_476.87, y_0=442_857.65,
                         ellps=(6_377_298.556, 300.8017)))
register_crs(3375, dict(proj="omerc", lat_0=4.0, lonc=102.25,               # GDM2000 / Peninsular RSO
                        alpha=323.0257964666666, gamma=323.1301023611111,
                        k_0=0.99984, x_0=804_671.0, y_0=0.0,
                        ellps="GRS80", no_uoff=True))

# round-4: equal-area pseudocylindrical families (remote-sensing grids)
register_crs("54008", dict(proj="sinu", lon_0=0.0, x_0=0.0, y_0=0.0,     # ESRI World Sinusoidal (ellipsoidal)
                           ellps="WGS84"))
register_crs("54009", dict(proj="moll", lon_0=0.0, x_0=0.0, y_0=0.0,     # ESRI World Mollweide (spherical, a=6378137)
                           ellps="WGS84"))
register_crs("modis_sinu", dict(proj="sinu", lon_0=0.0, x_0=0.0,         # MODIS land grid: sphere R=6371007.181
                                y_0=0.0, ellps=(6_371_007.181, float("inf"))))


def _resolve(code: str):
    """EPSG string → ('builtin', None) | ('utm', zone, south) | projection."""
    if code in ("4326", "3857") or code.startswith("utm:"):
        return None
    if code in EPSG_REGISTRY:
        return EPSG_REGISTRY[code]
    if code.isdigit():
        c = int(code)
        if 32601 <= c <= 32660:
            return ("utm", c - 32600, False)
        if 32701 <= c <= 32760:
            return ("utm", c - 32700, True)
        if c == 2972:  # RGFG95 / UTM 22N (the reference's example CRS)
            return ("utm", 22, False)
    raise NotImplementedError(
        f"CRS {code}: not in the built-in set (4326, 3857, utm:N, "
        f"EPSG 326xx/327xx/2972/{'/'.join(EPSG_REGISTRY)}); extend "
        f"EPSG_REGISTRY with LCC/AEA/LAEA parameters")


def transform_points(df, *, lon_col: str = "lon", lat_col: str = "lat",
                     src="4326", dst="3857", out_x: str = "x",
                     out_y: str = "y"):
    """Reproject a point table between registry CRS ids: a struct
    pandas UDF over exactly the two coordinate columns (everything else
    stays JVM-side, pruning/codegen hold around the stage — the
    scalar-UDF enrich pattern from PLANS.md)."""
    @F.pandas_udf(T.StructType([T.StructField("x", T.DoubleType()),
                                T.StructField("y", T.DoubleType())]))
    def _t(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        x, y = transform_xy(lon.to_numpy(dtype=np.float64),
                            lat.to_numpy(dtype=np.float64), src, dst)
        return pd.DataFrame({"x": x, "y": y})

    tmp = "__crs_xy"
    return (df.withColumn(tmp, _t(F.col(lon_col), F.col(lat_col)))
            .withColumn(out_x, F.col(tmp + ".x"))
            .withColumn(out_y, F.col(tmp + ".y"))
            .drop(tmp))
