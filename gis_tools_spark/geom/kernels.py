"""Pure-numpy computational-geometry kernels.

These are the vectorized bodies that run inside pandas/Arrow UDFs — the
engine's replacement for the reference's shapely calls (e.g.
/root/reference/gistools/geometry.py:441-458 R-tree filter + exact
``intersects`` refine) and numba kernels (geometry.py:332). Everything
operates on the geom dicts produced by :mod:`gis_tools_spark.geom.wkb`.

Boundary semantics: ``covers_xy`` counts boundary points as inside
(matching shapely ``intersects`` used by the reference's sjoin at
layer.py:1099-1114); ``contains_xy`` excludes the boundary.
"""

from __future__ import annotations

import numpy as np

EPS = 1e-12


# ---------------------------------------------------------------- bounds

def ring_list(g: dict) -> list[np.ndarray]:
    """All rings/lines/points of a geometry as a flat list of (n,d) arrays."""
    t = g["type"]
    if t == "Point":
        return [g["coords"].reshape(1, -1)]
    if t == "LineString":
        return [g["coords"]]
    if t == "Polygon":
        return list(g["rings"])
    if t == "MultiPoint":
        return [g["points"]]
    if t == "MultiLineString":
        return list(g["lines"])
    if t == "MultiPolygon":
        return [r for rings in g["polygons"] for r in rings]
    if t == "GeometryCollection":
        return [r for sub in g["geoms"] for r in ring_list(sub)]
    raise ValueError(t)


def polygons_of(g: dict) -> list[list[np.ndarray]]:
    """List of polygons (each a list of rings, exterior first)."""
    if g["type"] == "Polygon":
        return [g["rings"]]
    if g["type"] == "MultiPolygon":
        return list(g["polygons"])
    if g["type"] == "GeometryCollection":
        return [p for sub in g["geoms"] for p in polygons_of(sub)]
    return []


def bounds(g: dict) -> tuple[float, float, float, float]:
    rl = ring_list(g)
    mins = np.min([r[:, :2].min(axis=0) for r in rl], axis=0)
    maxs = np.max([r[:, :2].max(axis=0) for r in rl], axis=0)
    return float(mins[0]), float(mins[1]), float(maxs[0]), float(maxs[1])


# ---------------------------------------------------------------- measures

def ring_area_signed(r: np.ndarray) -> float:
    """Shoelace. Positive = CCW."""
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def area(g: dict) -> float:
    """Unsigned area; holes subtracted (ring 0 = exterior, rest = holes)."""
    total = 0.0
    for rings in polygons_of(g):
        total += abs(ring_area_signed(rings[0]))
        for hole in rings[1:]:
            total -= abs(ring_area_signed(hole))
    return total


def ring_area_spherical_signed(r: np.ndarray,
                               radius: float = 6_371_000.0) -> float:
    """EXACT signed spherical area (m²) of a ring whose edges are
    straight in the (lon, lat) plane — the interpretation every other
    operator gives WKB lon/lat polygons.  Green's theorem on the
    sphere: A = R² ∮ sin(φ) dλ with φ(λ) linear per edge, so each
    edge contributes (Δλ/Δφ)·(cos φ₁ − cos φ₂) exactly (Δλ·sin φ for
    the constant-latitude case).  Positive = CCW.  Antimeridian-naive
    by design: Δλ is taken literally, matching the planar kernels
    (split at ±180 upstream, as for planar area)."""
    lam = np.radians(r[:-1, 0]), np.radians(r[1:, 0])
    phi = np.radians(r[:-1, 1]), np.radians(r[1:, 1])
    dlam = lam[1] - lam[0]
    dphi = phi[1] - phi[0]
    flat = np.abs(dphi) < 1e-15
    with np.errstate(divide="ignore", invalid="ignore"):
        sloped = (dlam / dphi) * (np.cos(phi[0]) - np.cos(phi[1]))
    contrib = np.where(flat, dlam * np.sin(phi[0]), sloped)
    return float(radius * radius * contrib.sum())


def spherical_area(g: dict, radius: float = 6_371_000.0) -> float:
    """Unsigned spherical area in m² (holes subtracted) — the
    geodesic-aware counterpart of ``area`` for global-scale layers,
    where planar degree² area is meaningless."""
    total = 0.0
    for rings in polygons_of(g):
        total += abs(ring_area_spherical_signed(rings[0], radius))
        for hole in rings[1:]:
            total -= abs(ring_area_spherical_signed(hole, radius))
    return total


def length(g: dict) -> float:
    t = g["type"]
    if t in ("Point", "MultiPoint"):
        return 0.0
    lines = (
        [g["coords"]] if t == "LineString"
        else g["lines"] if t == "MultiLineString"
        else ring_list(g)
    )
    total = 0.0
    for l in lines:
        d = np.diff(l[:, :2], axis=0)
        total += float(np.sqrt((d * d).sum(axis=1)).sum())
    return total


def centroid(g: dict) -> tuple[float, float]:
    t = g["type"]
    if t == "Point":
        c = g["coords"]
        return float(c[0]), float(c[1])
    if t == "MultiPoint":
        c = g["points"][:, :2].mean(axis=0)
        return float(c[0]), float(c[1])
    if t in ("LineString", "MultiLineString"):
        lines = [g["coords"]] if t == "LineString" else g["lines"]
        sw = 0.0
        acc = np.zeros(2)
        for l in lines:
            p, q = l[:-1, :2], l[1:, :2]
            seg = np.sqrt(((q - p) ** 2).sum(axis=1))
            acc += ((p + q) / 2 * seg[:, None]).sum(axis=0)
            sw += seg.sum()
        if sw < EPS:  # degenerate
            return centroid({"type": "MultiPoint", "points": np.vstack(lines)})
        return float(acc[0] / sw), float(acc[1] / sw)
    # polygonal: area-weighted, holes negative
    sw = 0.0
    acc = np.zeros(2)
    for rings in polygons_of(g):
        for i, r in enumerate(rings):
            x, y = r[:, 0], r[:, 1]
            cross = x[:-1] * y[1:] - x[1:] * y[:-1]
            a = 0.5 * cross.sum()
            if abs(a) < EPS:
                continue
            cx = ((x[:-1] + x[1:]) * cross).sum() / (6 * a)
            cy = ((y[:-1] + y[1:]) * cross).sum() / (6 * a)
            w = abs(a) * (1 if i == 0 else -1)
            acc += w * np.array([cx, cy])
            sw += w
    if abs(sw) < EPS:
        rl = np.vstack([r[:, :2] for r in ring_list(g)])
        c = rl.mean(axis=0)
        return float(c[0]), float(c[1])
    return float(acc[0] / sw), float(acc[1] / sw)


# ---------------------------------------------------------------- point in polygon

def _ring_crossings(r: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Ray-cast crossing parity of points vs one closed ring. (npts,) int."""
    x0, y0 = r[:-1, 0], r[:-1, 1]
    x1, y1 = r[1:, 0], r[1:, 1]
    # For each point, edges whose y-span straddles the point's y.
    ys_ = ys[:, None]
    xs_ = xs[:, None]
    cond = (y0[None, :] > ys_) != (y1[None, :] > ys_)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0[None, :] + (ys_ - y0[None, :]) * (x1 - x0)[None, :] / (y1 - y0)[None, :]
    hits = cond & (xs_ < xint)
    return hits.sum(axis=1)


def _on_ring(r: np.ndarray, xs: np.ndarray, ys: np.ndarray, tol: float = 1e-12) -> np.ndarray:
    """Boolean (npts,): point lies on any segment of the ring."""
    p = r[:-1, :2][None, :, :]          # (1, nseg, 2)
    q = r[1:, :2][None, :, :]
    pt = np.stack([xs, ys], axis=1)[:, None, :]   # (npts, 1, 2)
    d = q - p
    seg_len2 = (d * d).sum(axis=2)
    t = ((pt - p) * d).sum(axis=2) / np.where(seg_len2 < EPS, 1.0, seg_len2)
    t = np.clip(t, 0.0, 1.0)
    proj = p + t[:, :, None] * d
    dist2 = ((pt - proj) ** 2).sum(axis=2)
    return (dist2 <= tol * tol + EPS).any(axis=1)


class _PreparedRing:
    """Y-bucketed segment index over one closed ring.

    Both PIP queries only need, per point, the segments whose y-span
    straddles (crossings) or nearly touches (boundary) the point's y —
    a dense (npts × nseg) matrix tests every segment. Bucketing the
    y-extent into ~nseg/8 bins and binning segments by their y-span
    (CSR layout) turns each query into small per-bucket dense blocks:
    ~8-64× fewer segment tests for admin-boundary-sized rings, which is
    what makes the prepared refine path worth caching per WKB (see
    operators/core.py decode_cached / prepared_cached)."""

    # build-time y-span margin — queries with tol ≤ this stay exact
    TOL_MARGIN = 1e-6

    __slots__ = ("x0", "y0", "x1", "y1", "ymin", "ymax", "inv_h", "nb",
                 "starts", "segs")

    def __init__(self, r: np.ndarray):
        r = np.asarray(r, dtype=np.float64)
        self.x0, self.y0 = r[:-1, 0].copy(), r[:-1, 1].copy()
        self.x1, self.y1 = r[1:, 0].copy(), r[1:, 1].copy()
        slo = np.minimum(self.y0, self.y1) - self.TOL_MARGIN
        shi = np.maximum(self.y0, self.y1) + self.TOL_MARGIN
        self.ymin = float(slo.min())
        self.ymax = float(shi.max())
        n = len(self.x0)
        self.nb = nb = max(1, min(256, n // 8))
        h = (self.ymax - self.ymin) / nb
        self.inv_h = 1.0 / h if h > 0 else 0.0
        b0 = np.clip(((slo - self.ymin) * self.inv_h).astype(np.int64), 0, nb - 1)
        b1 = np.clip(((shi - self.ymin) * self.inv_h).astype(np.int64), 0, nb - 1)
        spans = b1 - b0 + 1
        seg_ids = np.repeat(np.arange(n), spans)
        # per-seg bucket ranges, flattened without a python loop:
        # offsets within each span via a cumsum-reset trick
        tot = int(spans.sum())
        idx = np.arange(tot)
        span_start = np.repeat(np.cumsum(spans) - spans, spans)
        bucket_ids = np.repeat(b0, spans) + (idx - span_start)
        order = np.argsort(bucket_ids, kind="stable")
        self.segs = seg_ids[order]
        counts = np.bincount(bucket_ids, minlength=nb)
        self.starts = np.concatenate([[0], np.cumsum(counts)])

    def _buckets(self, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        in_band = (ys >= self.ymin) & (ys <= self.ymax)
        pb = np.clip(((ys - self.ymin) * self.inv_h).astype(np.int64), 0, self.nb - 1)
        return in_band, pb

    def crossings(self, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
        out = np.zeros(len(xs), dtype=np.int64)
        in_band, pb = self._buckets(ys)
        if not in_band.any():
            return out
        for b in np.unique(pb[in_band]):
            s = self.segs[self.starts[b]:self.starts[b + 1]]
            if len(s) == 0:
                continue
            m = in_band & (pb == b)
            x0, y0, x1, y1 = self.x0[s], self.y0[s], self.x1[s], self.y1[s]
            ys_, xs_ = ys[m][:, None], xs[m][:, None]
            cond = (y0[None, :] > ys_) != (y1[None, :] > ys_)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x0[None, :] + (ys_ - y0[None, :]) * (x1 - x0)[None, :] / (y1 - y0)[None, :]
            out[m] = (cond & (xs_ < xint)).sum(axis=1)
        return out

    def on_ring(self, xs: np.ndarray, ys: np.ndarray, tol: float) -> np.ndarray:
        out = np.zeros(len(xs), dtype=bool)
        in_band, pb = self._buckets(ys)
        if not in_band.any():
            return out
        for b in np.unique(pb[in_band]):
            s = self.segs[self.starts[b]:self.starts[b + 1]]
            if len(s) == 0:
                continue
            m = in_band & (pb == b)
            p = np.stack([self.x0[s], self.y0[s]], axis=1)[None, :, :]
            q = np.stack([self.x1[s], self.y1[s]], axis=1)[None, :, :]
            pt = np.stack([xs[m], ys[m]], axis=1)[:, None, :]
            d = q - p
            seg_len2 = (d * d).sum(axis=2)
            t = ((pt - p) * d).sum(axis=2) / np.where(seg_len2 < EPS, 1.0, seg_len2)
            t = np.clip(t, 0.0, 1.0)
            proj = p + t[:, :, None] * d
            dist2 = ((pt - proj) ** 2).sum(axis=2)
            out[m] = (dist2 <= tol * tol + EPS).any(axis=1)
        return out


class PreparedGeom:
    """Prepared polygon/multipolygon: per-ring y-bucket indexes, built
    once and reused across refine batches (cached per WKB content).
    Query results are bit-identical to covers_xy / contains_xy."""

    __slots__ = ("polys",)

    def __init__(self, g: dict):
        self.polys = [[_PreparedRing(r) for r in rings]
                      for rings in polygons_of(g)]

    def covers_xy(self, xs: np.ndarray, ys: np.ndarray,
                  boundary_tol: float = 1e-9) -> np.ndarray:
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        inside = np.zeros(len(xs), dtype=bool)
        for rings in self.polys:
            poly_in = (rings[0].crossings(xs, ys) % 2) == 1
            for hole in rings[1:]:
                poly_in &= (hole.crossings(xs, ys) % 2) == 0
            inside |= poly_in
        if boundary_tol > 0:
            bnd = np.zeros(len(xs), dtype=bool)
            for rings in self.polys:
                for r in rings:
                    bnd |= r.on_ring(xs, ys, boundary_tol)
            inside |= bnd
        return inside

    def contains_xy(self, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        inside = np.zeros(len(xs), dtype=bool)
        on_b = np.zeros(len(xs), dtype=bool)
        for rings in self.polys:
            poly_in = (rings[0].crossings(xs, ys) % 2) == 1
            for hole in rings[1:]:
                poly_in &= (hole.crossings(xs, ys) % 2) == 0
            inside |= poly_in
            for r in rings:
                on_b |= r.on_ring(xs, ys, 1e-12)
        return inside & ~on_b


def prepare(g: dict) -> PreparedGeom:
    """Index a (multi)polygon for repeated PIP queries."""
    return PreparedGeom(g)


def covers_xy(g: dict, xs: np.ndarray, ys: np.ndarray, boundary_tol: float = 1e-9) -> np.ndarray:
    """Boundary-inclusive point-in-polygon over many points (vectorized).

    Replaces the reference's per-point shapely ``intersects`` refine
    (/root/reference/gistools/geometry.py:450-458).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    inside = np.zeros(len(xs), dtype=bool)
    for rings in polygons_of(g):
        cross = _ring_crossings(rings[0], xs, ys)
        poly_in = (cross % 2) == 1
        for hole in rings[1:]:
            hc = _ring_crossings(hole, xs, ys)
            poly_in &= (hc % 2) == 0
        inside |= poly_in
    if boundary_tol > 0:
        # chunk to bound memory: npts x nseg matrix
        bnd = np.zeros(len(xs), dtype=bool)
        for rings in polygons_of(g):
            for r in rings:
                bnd |= _on_ring(r, xs, ys, boundary_tol)
        inside |= bnd
    return inside


def contains_xy(g: dict, xs, ys) -> np.ndarray:
    """Strict interior test (boundary excluded)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    inside = np.zeros(len(xs), dtype=bool)
    on_b = np.zeros(len(xs), dtype=bool)
    for rings in polygons_of(g):
        cross = _ring_crossings(rings[0], xs, ys)
        poly_in = (cross % 2) == 1
        for hole in rings[1:]:
            hc = _ring_crossings(hole, xs, ys)
            poly_in &= (hc % 2) == 0
        inside |= poly_in
        for r in rings:
            on_b |= _on_ring(r, xs, ys)
    return inside & ~on_b


# ---------------------------------------------------------------- segment intersection

def _segments_intersect(p, q, a, b) -> bool:
    def orient(o, s, t):
        return (s[0] - o[0]) * (t[1] - o[1]) - (s[1] - o[1]) * (t[0] - o[0])

    d1, d2 = orient(a, b, p), orient(a, b, q)
    d3, d4 = orient(p, q, a), orient(p, q, b)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
        return True

    def on_seg(o, s, t):
        return (
            abs((s[0] - o[0]) * (t[1] - o[1]) - (s[1] - o[1]) * (t[0] - o[0])) < EPS
            and min(o[0], s[0]) - EPS <= t[0] <= max(o[0], s[0]) + EPS
            and min(o[1], s[1]) - EPS <= t[1] <= max(o[1], s[1]) + EPS
        )

    return on_seg(a, b, p) or on_seg(a, b, q) or on_seg(p, q, a) or on_seg(p, q, b)


def _rings_cross(r1: np.ndarray, r2: np.ndarray) -> bool:
    """Any edge of r1 intersects any edge of r2 (vectorized orientation test)."""
    p = r1[:-1, :2]; q = r1[1:, :2]
    a = r2[:-1, :2]; b = r2[1:, :2]
    # orientation of (a,b) vs p and q, for all pairs (i edges of r1, j edges of r2)
    ab = b - a                                        # (m,2)
    ap = p[:, None, :] - a[None, :, :]                # (n,m,2)
    aq = q[:, None, :] - a[None, :, :]
    d1 = ab[None, :, 0] * ap[:, :, 1] - ab[None, :, 1] * ap[:, :, 0]
    d2 = ab[None, :, 0] * aq[:, :, 1] - ab[None, :, 1] * aq[:, :, 0]
    pq = q - p                                        # (n,2)
    pa = a[None, :, :] - p[:, None, :]
    pb = b[None, :, :] - p[:, None, :]
    d3 = pq[:, None, 0] * pa[:, :, 1] - pq[:, None, 1] * pa[:, :, 0]
    d4 = pq[:, None, 0] * pb[:, :, 1] - pq[:, None, 1] * pb[:, :, 0]
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
    if proper.any():
        return True
    # collinear/touching fallbacks only where some determinant is ~0
    touch = (np.abs(d1) < EPS) | (np.abs(d2) < EPS) | (np.abs(d3) < EPS) | (np.abs(d4) < EPS)
    if not touch.any():
        return False
    idx = np.argwhere(touch)
    for i, j in idx:
        if _segments_intersect(tuple(p[i]), tuple(q[i]), tuple(a[j]), tuple(b[j])):
            return True
    return False


def intersects(g1: dict, g2: dict) -> bool:
    """Exact geometry-intersects for polygon/line/point combos."""
    b1, b2 = bounds(g1), bounds(g2)
    if b1[0] > b2[2] or b2[0] > b1[2] or b1[1] > b2[3] or b2[1] > b1[3]:
        return False
    t1, t2 = g1["type"], g2["type"]
    if t1 in ("Point", "MultiPoint") or t2 in ("Point", "MultiPoint"):
        pt_g, other = (g1, g2) if t1 in ("Point", "MultiPoint") else (g2, g1)
        pts = pt_g["coords"].reshape(1, -1) if pt_g["type"] == "Point" else pt_g["points"]
        if other["type"] in ("Point", "MultiPoint"):
            opts = other["coords"].reshape(1, -1) if other["type"] == "Point" else other["points"]
            for p in pts:
                if (np.abs(opts[:, :2] - p[:2]) < EPS).all(axis=1).any():
                    return True
            return False
        if polygons_of(other):
            return bool(covers_xy(other, pts[:, 0], pts[:, 1]).any())
        for l in ring_list(other):
            if _on_any_segment(l, pts):
                return True
        return False
    # line/polygon combos: edge crossing or containment
    rl1, rl2 = ring_list(g1), ring_list(g2)
    for r1 in rl1:
        for r2 in rl2:
            if _rings_cross(r1, r2):
                return True
    # containment: one representative vertex per ring/part (a disjoint
    # part of a multi-geometry can sit fully inside the other with no
    # edge crossings — testing only the first ring misses it)
    if polygons_of(g2):
        for v in rl1:
            if covers_xy(g2, v[:1, 0], v[:1, 1]).any():
                return True
    if polygons_of(g1):
        for v in rl2:
            if covers_xy(g1, v[:1, 0], v[:1, 1]).any():
                return True
    return False


def _on_any_segment(line: np.ndarray, pts: np.ndarray) -> bool:
    return bool(_on_ring(line, pts[:, 0], pts[:, 1], 1e-9).any())


def intersects_batch(lefts: list, g2: dict) -> np.ndarray:
    """Vectorized `intersects(lefts[i], g2)` for MANY left geometries
    against ONE right geometry (the sjoin refine hot path: candidate
    batches repeat right geometries heavily).

    All candidate left edges are concatenated into one (N,2,2) array and
    tested against each right ring in a single chunked orientation
    computation — one numpy pass per right ring per batch instead of one
    `_rings_cross` call per pair. Point/MultiPoint operands (either
    side) fall back to the scalar kernel (rare in poly×poly joins).
    Semantics identical to `intersects` (proper crossing, collinear
    touch via the scalar fallback on near-zero determinants, and
    representative-vertex containment for crossing-free pairs)."""
    n = len(lefts)
    out = np.zeros(n, dtype=bool)
    if n == 0 or g2 is None:
        return out
    if g2["type"] in ("Point", "MultiPoint"):
        for i, g in enumerate(lefts):
            out[i] = g is not None and intersects(g, g2)
        return out
    b2 = bounds(g2)
    cand: list[int] = []
    scalar: list[int] = []
    for i, g in enumerate(lefts):
        if g is None:
            continue
        b1 = bounds(g)
        if b1[0] > b2[2] or b2[0] > b1[2] or b1[1] > b2[3] or b2[1] > b1[3]:
            continue
        if g["type"] in ("Point", "MultiPoint"):
            scalar.append(i)
        else:
            cand.append(i)
    for i in scalar:
        out[i] = intersects(lefts[i], g2)
    if not cand:
        return out

    # concatenate all candidate left edges, tagged by owner
    P_list, Q_list, owner_list = [], [], []
    reps_x, reps_y, rep_owner = [], [], []  # one vertex per left ring
    for i in cand:
        for r in ring_list(lefts[i]):
            P_list.append(r[:-1, :2])
            Q_list.append(r[1:, :2])
            owner_list.append(np.full(len(r) - 1, i, dtype=np.int64))
            reps_x.append(r[0, 0])
            reps_y.append(r[0, 1])
            rep_owner.append(i)
    P = np.concatenate(P_list)
    Q = np.concatenate(Q_list)
    owner = np.concatenate(owner_list)
    pq = Q - P

    for r2 in ring_list(g2):
        alive = ~out[owner]
        if not alive.any():
            break
        a = r2[:-1, :2]
        b = r2[1:, :2]
        ab = b - a
        m = len(a)
        idx_alive = np.nonzero(alive)[0]
        chunk = max(1, (1 << 21) // max(m, 1))
        for s in range(0, len(idx_alive), chunk):
            sel = idx_alive[s:s + chunk]
            p, q, pqs = P[sel], Q[sel], pq[sel]
            ap = p[:, None, :] - a[None, :, :]
            aq = q[:, None, :] - a[None, :, :]
            d1 = ab[None, :, 0] * ap[:, :, 1] - ab[None, :, 1] * ap[:, :, 0]
            d2 = ab[None, :, 0] * aq[:, :, 1] - ab[None, :, 1] * aq[:, :, 0]
            pa = a[None, :, :] - p[:, None, :]
            pb = b[None, :, :] - p[:, None, :]
            d3 = pqs[:, None, 0] * pa[:, :, 1] - pqs[:, None, 1] * pa[:, :, 0]
            d4 = pqs[:, None, 0] * pb[:, :, 1] - pqs[:, None, 1] * pb[:, :, 0]
            proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
            hit_rows = proper.any(axis=1)
            if hit_rows.any():
                out[owner[sel[hit_rows]]] = True
            # collinear/touching fallback only where a determinant ~0
            # and no proper crossing resolved the owner yet
            touch = ((np.abs(d1) < EPS) | (np.abs(d2) < EPS)
                     | (np.abs(d3) < EPS) | (np.abs(d4) < EPS)) & ~proper
            if touch.any():
                for ii, jj in np.argwhere(touch):
                    oi = owner[sel[ii]]
                    if out[oi]:
                        continue
                    if _segments_intersect(tuple(p[ii]), tuple(q[ii]),
                                           tuple(a[jj]), tuple(b[jj])):
                        out[oi] = True

    # containment for crossing-free candidates
    rem = [i for i in cand if not out[i]]
    if rem:
        if polygons_of(g2):
            rx = np.asarray(reps_x)
            ry = np.asarray(reps_y)
            ro = np.asarray(rep_owner)
            keep = np.isin(ro, rem)
            if keep.any():
                inside = covers_xy(g2, rx[keep], ry[keep])
                out[ro[keep][inside]] = True
        for i in rem:
            if out[i] or not polygons_of(lefts[i]):
                continue
            for v in ring_list(g2):
                if covers_xy(lefts[i], v[:1, 0], v[:1, 1]).any():
                    out[i] = True
                    break
    return out


# ---------------------------------------------------------------- clipping

def clip_ring_halfplane(ring: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman single step: keep points left of directed a→b."""
    if len(ring) == 0:
        return ring
    pts = ring[:, :2]
    d = b - a
    side = d[0] * (pts[:, 1] - a[1]) - d[1] * (pts[:, 0] - a[0])
    out = []
    n = len(pts) - 1 if np.array_equal(pts[0], pts[-1]) else len(pts)
    for i in range(n):
        j = (i + 1) % n
        ci, cj = side[i] >= -EPS, side[j] >= -EPS
        if ci:
            out.append(pts[i])
        if ci != cj:
            t = side[i] / (side[i] - side[j])
            out.append(pts[i] + t * (pts[j] - pts[i]))
    if not out:
        return np.empty((0, 2))
    out.append(out[0])
    return np.asarray(out)


def clip_ring_convex(ring: np.ndarray, clip_ccw: np.ndarray) -> np.ndarray:
    """Clip a (possibly concave) ring by a CCW convex ring (S-H)."""
    r = ring[:, :2]
    cp = clip_ccw[:, :2]
    n = len(cp) - 1 if np.array_equal(cp[0], cp[-1]) else len(cp)
    for i in range(n):
        r = clip_ring_halfplane(r, cp[i], cp[(i + 1) % n])
        if len(r) == 0:
            return r
    return r


def ensure_ccw(ring: np.ndarray) -> np.ndarray:
    """Orientation check tolerant of OPEN rings: the shoelace must run
    over the closed ring or the truncated sum flips sign depending on
    absolute position (round-2 honeycomb bug)."""
    r = ring
    if not np.array_equal(r[0, :2], r[-1, :2]):
        r = np.vstack([r[:, :2], r[:1, :2]])
    return ring if ring_area_signed(r) >= 0 else ring[::-1]


def clip_polygon_convex(g: dict, clip_ring: np.ndarray) -> dict | None:
    """Intersect a polygonal geometry with a convex clipper.

    Returns a Polygon/MultiPolygon geom dict or None if empty. Holes are
    clipped independently and subtracted (valid when clipper is convex).
    Mirrors the semantics of the reference's overlay "intersection"
    (/root/reference/gistools/layer.py:103-131) for convex partners.
    """
    clip_ccw = ensure_ccw(clip_ring[:, :2])
    out_polys = []
    for rings in polygons_of(g):
        ext = clip_ring_convex(ensure_ccw(rings[0]), clip_ccw)
        if len(ext) < 4 or abs(ring_area_signed(ext)) < EPS:
            continue
        new_rings = [ext]
        for hole in rings[1:]:
            h = clip_ring_convex(ensure_ccw(hole), clip_ccw)
            if len(h) >= 4 and abs(ring_area_signed(h)) > EPS:
                new_rings.append(h)
        out_polys.append(new_rings)
    if not out_polys:
        return None
    if len(out_polys) == 1:
        return {"type": "Polygon", "rings": out_polys[0]}
    return {"type": "MultiPolygon", "polygons": out_polys}


def clip_rect(g: dict, minx, miny, maxx, maxy) -> dict | None:
    rect = np.array([(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy), (minx, miny)])
    return clip_polygon_convex(g, rect)


# ---------------------------------------------------------------- distance

def point_to_geom_distance(g: dict, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Min euclidean distance from each point to the geometry (0 if inside)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    d = np.full(len(xs), np.inf)
    for r in ring_list(g):
        if len(r) == 1:
            dd = np.sqrt((xs - r[0, 0]) ** 2 + (ys - r[0, 1]) ** 2)
        else:
            dd = _pts_to_segments_min(r, xs, ys)
        d = np.minimum(d, dd)
    if polygons_of(g):
        inside = covers_xy(g, xs, ys, boundary_tol=0)
        d[inside] = 0.0
    return d


def _pts_to_segments_min(r: np.ndarray, xs, ys) -> np.ndarray:
    p = r[:-1, :2][None, :, :]
    q = r[1:, :2][None, :, :]
    pt = np.stack([xs, ys], axis=1)[:, None, :]
    dseg = q - p
    l2 = (dseg * dseg).sum(axis=2)
    t = np.clip(((pt - p) * dseg).sum(axis=2) / np.where(l2 < EPS, 1.0, l2), 0, 1)
    proj = p + t[:, :, None] * dseg
    return np.sqrt(((pt - proj) ** 2).sum(axis=2)).min(axis=1)


def geom_distance(g1: dict, g2: dict) -> float:
    """Min distance between two geometries (vertex/segment based; exact for
    non-overlapping convex shapes, and 0 when they intersect)."""
    if intersects(g1, g2):
        return 0.0
    best = np.inf
    for r1 in ring_list(g1):
        for r2 in ring_list(g2):
            best = min(best, float(_pts_to_segments_min(r2 if len(r2) > 1 else np.vstack([r2, r2]), r1[:, 0], r1[:, 1]).min()))
            best = min(best, float(_pts_to_segments_min(r1 if len(r1) > 1 else np.vstack([r1, r1]), r2[:, 0], r2[:, 1]).min()))
    return best


# ---------------------------------------------------------------- misc ops

def convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain → closed CCW ring."""
    pts = np.unique(np.asarray(pts, dtype=np.float64)[:, :2], axis=0)
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]
    if len(pts) <= 2:
        return np.vstack([pts, pts[:1]])

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    return np.vstack([hull, hull[:1]])


def buffer_point(x: float, y: float, dist: float, resolution: int = 16) -> np.ndarray:
    """Circle approximation ring, CCW, shapely-style 4*resolution segments."""
    n = 4 * resolution
    th = np.linspace(0, 2 * np.pi, n + 1)
    out = np.stack([x + dist * np.cos(th), y + dist * np.sin(th)], axis=1)
    out[-1] = out[0]  # exact closure (sin(2π) ≠ 0.0 in floats; a 1e-16
    # residual creates a zero-length edge the clipper flags degenerate)
    return out


def _signed_boundary_dist(g: dict, xs: np.ndarray,
                          ys: np.ndarray) -> np.ndarray:
    """Signed distance to the polygon boundary: positive inside,
    negative outside (the polylabel objective)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    d = np.full(len(xs), np.inf)
    for r in ring_list(g):
        d = np.minimum(d, _pts_to_segments_min(r, xs, ys))
    inside = covers_xy(g, xs, ys, boundary_tol=0)
    return np.where(inside, d, -d)


def polylabel(g: dict, precision: float | None = None) -> tuple:
    """Pole of inaccessibility (Mapbox polylabel, Agafonkin 2016): the
    interior point farthest from the polygon boundary — the right
    label/anchor point for concave shapes, where the centroid can fall
    outside.  Quadtree cell refinement with the standard
    max-possible = dist + r·√2 bound; returns (x, y, dist).
    ``precision`` defaults to bbox diagonal / 1e4."""
    import heapq

    minx, miny, maxx, maxy = bounds(g)
    w, h = maxx - minx, maxy - miny
    if w <= 0 and h <= 0:
        return float(minx), float(miny), 0.0
    if precision is None:
        precision = max(np.hypot(w, h) / 1e4, 1e-12)
    size = min(w, h) or max(w, h)
    half = size / 2.0

    def cell(cx, cy, hw):
        d = float(_signed_boundary_dist(g, np.array([cx]),
                                        np.array([cy]))[0])
        return (-(d + hw * np.sqrt(2.0)), d, cx, cy, hw)

    heap = []
    y = miny
    while y < maxy:
        x = minx
        while x < maxx:
            heapq.heappush(heap, cell(x + half, y + half, half))
            x += size
        y += size
    # seeds: centroid + bbox center
    cgx, cgy = centroid(g)
    best = cell(cgx, cgy, 0.0)
    cand = cell(minx + w / 2, miny + h / 2, 0.0)
    if cand[1] > best[1]:
        best = cand
    while heap:
        neg_max, d, cx, cy, hw = heapq.heappop(heap)
        if -neg_max - best[1] <= precision:
            break
        if d > best[1]:
            best = (neg_max, d, cx, cy, hw)
        if hw > precision / 2:
            q = hw / 2.0
            for dx in (-q, q):
                for dy in (-q, q):
                    heapq.heappush(heap, cell(cx + dx, cy + dy, q))
    return float(best[2]), float(best[3]), float(best[1])


def _chaikin_once(v: np.ndarray, closed: bool) -> np.ndarray:
    """One Chaikin corner-cut pass: each edge (P,Q) contributes
    (3P+Q)/4 and (P+3Q)/4.  Open lines keep their endpoints; closed
    rings stay closed (first == last)."""
    pts = v[:-1] if closed else v
    p = pts
    q = np.roll(pts, -1, axis=0) if closed else pts[1:]
    if not closed:
        p = pts[:-1]
    a = 0.75 * p + 0.25 * q
    b = 0.25 * p + 0.75 * q
    out = np.empty((len(a) * 2, v.shape[1]))
    out[0::2] = a
    out[1::2] = b
    if closed:
        return np.vstack([out, out[:1]])
    return np.vstack([v[:1], out, v[-1:]])


def chaikin(g: dict, iterations: int = 2) -> dict:
    """Chaikin corner-cutting smoothing (Chaikin 1974 — the standard
    cartographic line/ring smoother; converges to a quadratic
    B-spline).  All arithmetic is dyadic (×0.75/×0.25), so results are
    exact binary floats of the inputs — an ANSI-SQL oracle can replay
    the passes bit-for-bit.  Applies to LineString/MultiLineString
    (open, endpoints pinned) and Polygon/MultiPolygon rings (closed)."""
    it = int(iterations)
    t = g["type"]
    if t in ("Point", "MultiPoint"):
        return g
    if t == "LineString":
        v = np.asarray(g["coords"], dtype=np.float64)
        for _ in range(it):
            v = _chaikin_once(v, closed=False)
        return {"type": "LineString", "coords": v}
    if t == "MultiLineString":
        lines = []
        for l in g["lines"]:
            v = np.asarray(l, dtype=np.float64)
            for _ in range(it):
                v = _chaikin_once(v, closed=False)
            lines.append(v)
        return {"type": "MultiLineString", "lines": lines}
    polys = []
    for rings in polygons_of(g):
        out_rings = []
        for r in rings:
            v = np.asarray(r, dtype=np.float64)
            for _ in range(it):
                v = _chaikin_once(v, closed=True)
            out_rings.append(v)
        polys.append(out_rings)
    if t == "Polygon":
        return {"type": "Polygon", "rings": polys[0]}
    return {"type": "MultiPolygon", "polygons": polys}
