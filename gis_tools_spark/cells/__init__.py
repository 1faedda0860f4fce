"""Hierarchical grid-cell index ("qcell") — the engine's H3 stand-in.

The north star calls for H3/S2 cell indexing at resolutions 7–11; the h3
wheel is unavailable in this sandbox, so we use a quadtree grid over
lon/lat with the *same semantics* (hierarchical cover cells, parent /
children, k-ring disks). Design goal: point encoding is **pure column
arithmetic** — floor + bit shifts — so the join hot path needs NO Python
UDF and the same expression runs in Spark SQL and DuckDB (oracle).

Replaces the reference's in-memory R-tree prefilter
(/root/reference/gistools/coordinates.py:303-317): equi-join on cell ids
is the distributed filter phase; exact geometry tests are the refine.

Cell id layout (int64): ``(res << 58) | (ix << 29) | iy``
  res ∈ [0, 26];  ix = floor((lon+180)/360 * 2^res) ∈ [0, 2^res)
                  iy = floor((lat+90)/180 * 2^res)  ∈ [0, 2^res)

Resolution guide (cell width in degrees = 360 / 2^res):
  res 12 ≈ 0.088°(~9.8 km)   ≈ H3 res 5-6
  res 15 ≈ 0.011°(~1.2 km)   ≈ H3 res 7
  res 20 ≈ 3.4e-4°(~38 m)    ≈ H3 res 11
Default join resolutions RES_MIN..RES_MAX mirror the north star's 7–11.
"""

from __future__ import annotations

import numpy as np

RES_SHIFT = 58
IX_SHIFT = 29
MAX_RES = 26

# default multi-resolution band for filter-refine joins (≈ H3 7–11)
RES_MIN = 12
RES_MAX = 16
DEFAULT_RES = 14


def latlng_to_cell(lon, lat, res: int):
    """Vectorized numpy encode. Clamps to the valid grid."""
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return (np.int64(res) << RES_SHIFT) | (ix << IX_SHIFT) | iy


def cell_res(cell):
    return np.asarray(cell, dtype=np.int64) >> RES_SHIFT


def cell_ixiy(cell):
    c = np.asarray(cell, dtype=np.int64)
    return (c >> IX_SHIFT) & ((1 << RES_SHIFT - IX_SHIFT) - 1), c & ((1 << IX_SHIFT) - 1)


def make_cell(res, ix, iy):
    return (np.int64(res) << RES_SHIFT) | (np.asarray(ix, dtype=np.int64) << IX_SHIFT) | np.asarray(iy, dtype=np.int64)


def cell_to_bounds(cell):
    """(minx, miny, maxx, maxy) of one or many cells."""
    c = np.asarray(cell, dtype=np.int64)
    res = c >> RES_SHIFT
    n = np.left_shift(np.int64(1), res).astype(np.float64)
    ix, iy = cell_ixiy(c)
    w, h = 360.0 / n, 180.0 / n
    minx = -180.0 + ix * w
    miny = -90.0 + iy * h
    return minx, miny, minx + w, miny + h


def cell_to_boundary(cell) -> np.ndarray:
    minx, miny, maxx, maxy = cell_to_bounds(cell)
    return np.array([(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy), (minx, miny)])


def parent(cell, parent_res: int):
    c = np.asarray(cell, dtype=np.int64)
    res = c >> RES_SHIFT
    ix, iy = cell_ixiy(c)
    shift = res - parent_res
    return make_cell(parent_res, ix >> shift, iy >> shift)


def children(cell) -> np.ndarray:
    c = int(cell)
    res = c >> RES_SHIFT
    ix = (c >> IX_SHIFT) & ((1 << RES_SHIFT - IX_SHIFT) - 1)
    iy = c & ((1 << IX_SHIFT) - 1)
    out = []
    for dx in (0, 1):
        for dy in (0, 1):
            out.append(make_cell(res + 1, 2 * ix + dx, 2 * iy + dy))
    return np.array(out, dtype=np.int64)


def grid_disk(cell, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the H3 ``grid_disk`` analog,
    used by the kNN ring-expansion join — SURVEY §2.5 nearest_feature)."""
    c = int(cell)
    res = c >> RES_SHIFT
    n = 1 << res
    ix = (c >> IX_SHIFT) & ((1 << RES_SHIFT - IX_SHIFT) - 1)
    iy = c & ((1 << IX_SHIFT) - 1)
    xs = np.arange(max(0, ix - k), min(n - 1, ix + k) + 1, dtype=np.int64)
    ys = np.arange(max(0, iy - k), min(n - 1, iy + k) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return make_cell(res, gx.ravel(), gy.ravel())


def grid_ring(cell, k: int) -> np.ndarray:
    """Only the cells at exactly Chebyshev distance k."""
    if k == 0:
        return np.array([int(cell)], dtype=np.int64)
    disk = grid_disk(cell, k)
    inner = set(grid_disk(cell, k - 1).tolist())
    return np.array([c for c in disk.tolist() if c not in inner], dtype=np.int64)


def bbox_to_cells(minx, miny, maxx, maxy, res: int) -> np.ndarray:
    """All cells at `res` intersecting the bbox (inclusive of edges)."""
    n = 1 << res
    ix0 = int(np.clip(np.floor((minx + 180.0) / 360.0 * n), 0, n - 1))
    ix1 = int(np.clip(np.floor((maxx + 180.0) / 360.0 * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((miny + 90.0) / 180.0 * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((maxy + 90.0) / 180.0 * n), 0, n - 1))
    xs = np.arange(ix0, ix1 + 1, dtype=np.int64)
    ys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return make_cell(res, gx.ravel(), gy.ravel())


def adaptive_res(minx, miny, maxx, maxy,
                 res_min: int = RES_MIN, res_max: int = RES_MAX,
                 max_cells: int = 64) -> int:
    """Finest res in [res_min, res_max] whose bbox cover stays ≤ max_cells.

    This is the engine's analog of the reference's katana pre-split 'for
    faster intersection' (/root/reference/gistools/geometry.py:489): big
    geometries get coarse cells (bounded fan-out → bounded skew), small
    ones get fine cells (selective join keys).
    """
    for res in range(res_max, res_min - 1, -1):
        if bbox_cell_count(minx, miny, maxx, maxy, res) <= max_cells:
            return res
    return res_min


def bbox_cell_count(minx, miny, maxx, maxy, res: int) -> int:
    """Number of cells at `res` the bbox spans (unclipped): the fan-out
    a cover of it would have."""
    n = 1 << res
    ncx = int((maxx + 180.0) / 360.0 * n) - int((minx + 180.0) / 360.0 * n) + 1
    ncy = int((maxy + 90.0) / 180.0 * n) - int((miny + 90.0) / 180.0 * n) + 1
    return ncx * ncy


def polygon_to_cells(geom: dict, res: int, exact: bool = True) -> np.ndarray:
    """Cover cells of a polygonal geometry at `res` (H3 polygon_to_cells
    analog). exact=True drops bbox-cover cells that don't intersect."""
    from ..geom import kernels

    minx, miny, maxx, maxy = kernels.bounds(geom)
    cand = bbox_to_cells(minx, miny, maxx, maxy, res)
    if not exact or len(cand) <= 4:
        return cand
    keep = []
    for c in cand.tolist():
        cx0, cy0, cx1, cy1 = cell_to_bounds(np.int64(c))
        # cheap: cell center or corners covered, or polygon vertex in cell,
        # or edge crossing — use the exact rect-clip (empty → no intersect)
        clipped = kernels.clip_rect(geom, cx0, cy0, cx1, cy1)
        if clipped is not None:
            keep.append(c)
    return np.array(keep, dtype=np.int64) if keep else cand[:1]


# ----------------------------------------------------------- Z-order keys
#
# The cell id above is row-major (res | ix | iy) — ideal as an EQUI-join
# key, useless as a RANGE key (a bbox is one ix-stripe per column). The
# Morton (Z-order) key interleaves ix/iy bits, so every quadtree cell's
# descendants at a finer res form ONE contiguous key range: sort a table
# by zkey and any bbox becomes a handful of BETWEENs that parquet
# row-group min/max statistics can prune (sources/clustered.py). Classic
# public bit-interleaving via the 0x5555…/0x3333… spread masks.

_SPREAD_MASKS = ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                 (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                 (1, 0x5555555555555555))


def _spread_bits(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.int64)
    for sh, mask in _SPREAD_MASKS:
        v = (v | (v << sh)) & mask
    return v


def morton_key(lon, lat, res: int):
    """Vectorized numpy Z-order key at `res` (2*res bits, res ≤ 26)."""
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(lon, dtype=np.float64) + 180.0)
                          / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((np.asarray(lat, dtype=np.float64) + 90.0)
                          / 180.0 * n), 0, n - 1).astype(np.int64)
    return (_spread_bits(ix) << 1) | _spread_bits(iy)


def cell_morton_range(cell, zres: int) -> tuple[int, int]:
    """Inclusive [lo, hi] range of res-`zres` Morton keys covered by
    `cell` (requires zres ≥ the cell's own res)."""
    c = int(cell)
    res = c >> RES_SHIFT
    d = zres - res
    if d < 0:
        raise ValueError(f"zres {zres} finer than cell res {res} required")
    ix = (c >> IX_SHIFT) & ((1 << (RES_SHIFT - IX_SHIFT)) - 1)
    iy = c & ((1 << IX_SHIFT) - 1)
    z0 = int((_spread_bits(np.int64(ix)) << 1) | _spread_bits(np.int64(iy)))
    lo = z0 << (2 * d)
    return lo, lo + (1 << (2 * d)) - 1


def morton_column(lon_col, lat_col, res: int):
    """PySpark Column for morton_key — pure JVM bit arithmetic inside
    whole-stage codegen, no UDF."""
    from pyspark.sql import functions as F

    n = 1 << res
    ix = F.floor((lon_col + F.lit(180.0)) / 360.0 * n)
    iy = F.floor((lat_col + F.lit(90.0)) / 180.0 * n)
    ix = F.least(F.greatest(ix, F.lit(0)), F.lit(n - 1)).cast("long")
    iy = F.least(F.greatest(iy, F.lit(0)), F.lit(n - 1)).cast("long")

    def spread(col):
        for sh, mask in _SPREAD_MASKS:
            col = col.bitwiseOR(F.shiftleft(col, sh)).bitwiseAND(F.lit(mask))
        return col

    return F.shiftleft(spread(ix), 1).bitwiseOR(spread(iy))


# ------------------------------------------------------------------ SQL/Column builders

def cell_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """ANSI-SQL expression (runs in both Spark SQL and DuckDB) for
    latlng_to_cell — used to keep query & oracle byte-identical."""
    n = 1 << res
    ix = f"CAST(least(greatest(floor((({lon_expr}) + 180.0) / 360.0 * {n}), 0), {n - 1}) AS BIGINT)"
    iy = f"CAST(least(greatest(floor((({lat_expr}) + 90.0) / 180.0 * {n}), 0), {n - 1}) AS BIGINT)"
    return f"(CAST({res} AS BIGINT) * {1 << RES_SHIFT} + {ix} * {1 << IX_SHIFT} + {iy})"


def cell_column(lon_col, lat_col, res: int):
    """PySpark Column for latlng_to_cell (pure JVM arithmetic, no UDF)."""
    from pyspark.sql import functions as F

    n = 1 << res
    ix = F.floor((lon_col + F.lit(180.0)) / 360.0 * n)
    iy = F.floor((lat_col + F.lit(90.0)) / 180.0 * n)
    ix = F.least(F.greatest(ix, F.lit(0)), F.lit(n - 1)).cast("long")
    iy = F.least(F.greatest(iy, F.lit(0)), F.lit(n - 1)).cast("long")
    return (F.lit(res).cast("long") * F.lit(1 << RES_SHIFT) + ix * F.lit(1 << IX_SHIFT) + iy)


# ------------------------------------------------------------------ geohash

GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lon, lat, precision: int = 8):
    """Vectorized numpy geohash encode (standard base32 geohash:
    alternating lon/lat bisection, MSB = longitude)."""
    bits = 5 * precision
    nlon = (bits + 1) // 2
    nlat = bits // 2
    ix = np.clip(np.floor((np.asarray(lon, dtype=np.float64) + 180.0)
                          / 360.0 * (1 << nlon)), 0, (1 << nlon) - 1
                 ).astype(np.int64)
    iy = np.clip(np.floor((np.asarray(lat, dtype=np.float64) + 90.0)
                          / 180.0 * (1 << nlat)), 0, (1 << nlat) - 1
                 ).astype(np.int64)
    flat_ix, flat_iy = np.atleast_1d(ix), np.atleast_1d(iy)
    out = []
    for a, b in zip(flat_ix.tolist(), flat_iy.tolist()):
        s = []
        for c in range(precision):
            v = 0
            for j in range(5):
                k = 5 * c + j
                bit = ((a >> (nlon - 1 - k // 2)) if k % 2 == 0
                       else (b >> (nlat - 1 - k // 2))) & 1
                v = (v << 1) | bit
            s.append(GEOHASH32[v])
        out.append("".join(s))
    return out[0] if np.isscalar(lon) else np.array(out)


def _geohash_char_terms(precision: int):
    """Per-character (j, source, index) bit plans shared by the Column
    and SQL builders — guarantees the two stay identical."""
    bits = 5 * precision
    nlon = (bits + 1) // 2
    nlat = bits // 2
    plans = []
    for c in range(precision):
        terms = []
        for j in range(5):
            k = 5 * c + j
            if k % 2 == 0:
                terms.append(("x", nlon - 1 - k // 2, 4 - j))
            else:
                terms.append(("y", nlat - 1 - k // 2, 4 - j))
        plans.append(terms)
    return nlon, nlat, plans


def geohash_column(lon_col, lat_col, precision: int = 8):
    """PySpark Column: standard geohash string, pure codegen (floor +
    shifts + substring on the base32 alphabet literal — no UDF)."""
    from pyspark.sql import functions as F

    nlon, nlat, plans = _geohash_char_terms(precision)
    ix = F.floor((lon_col + F.lit(180.0)) / 360.0 * (1 << nlon))
    iy = F.floor((lat_col + F.lit(90.0)) / 180.0 * (1 << nlat))
    ix = F.least(F.greatest(ix, F.lit(0)),
                 F.lit((1 << nlon) - 1)).cast("long")
    iy = F.least(F.greatest(iy, F.lit(0)),
                 F.lit((1 << nlat) - 1)).cast("long")
    chars = []
    for terms in plans:
        v = F.lit(0)
        for src, sh, out_sh in terms:
            bit = F.shiftright(ix if src == "x" else iy, sh) \
                .bitwiseAND(F.lit(1))
            v = v + F.shiftleft(bit, out_sh)
        chars.append(F.substring(F.lit(GEOHASH32), F.lit(1) + v.cast("int"),
                                 F.lit(1)))
    return F.concat(*chars)


def geohash_sql(lon_expr: str, lat_expr: str, precision: int = 8) -> str:
    """ANSI-SQL mirror of geohash_column (identical bit plan — both are
    generated from _geohash_char_terms)."""
    nlon, nlat, plans = _geohash_char_terms(precision)
    ix = (f"CAST(least(greatest(floor((({lon_expr}) + 180.0) / 360.0 "
          f"* {1 << nlon}), 0), {(1 << nlon) - 1}) AS BIGINT)")
    iy = (f"CAST(least(greatest(floor((({lat_expr}) + 90.0) / 180.0 "
          f"* {1 << nlat}), 0), {(1 << nlat) - 1}) AS BIGINT)")
    chars = []
    for terms in plans:
        parts = []
        for src, sh, out_sh in terms:
            base = "__gx" if src == "x" else "__gy"
            parts.append(f"((({base} >> {sh}) & 1) << {out_sh})")
        v = " + ".join(parts)
        chars.append(f"substr('{GEOHASH32}', CAST(({v}) AS INT) + 1, 1)")
    concat = " || ".join(chars)
    return (f"(SELECT {concat} FROM (SELECT {ix} AS __gx, {iy} AS __gy)"
            f" AS __g)")

def geohash_decode(gh_col):
    """(lon, lat) cell-center Columns from a geohash string Column of
    any per-row length 1..12 — the inverse of geohash_column.

    Linear-size expression tree: the de-interleaved lon/lat integers
    accumulate as flat sums of bit terms per possible precision, then
    one CASE on length picks the matching closed-form center.  (The
    naive interval-bisection column build doubles the tree per bit —
    2^60 nodes — and OOMs the driver; this form is ~400 small terms,
    still pure codegen.)  Unknown lengths / characters yield NULL."""
    from pyspark.sql import functions as F

    n = F.length(gh_col)
    codes = [(F.instr(F.lit(GEOHASH32), F.substring(gh_col, c + 1, 1))
              - F.lit(1)).cast("long") for c in range(12)]
    lon_e = lat_e = None
    for p in range(1, 13):
        nlon, nlat, plans = _geohash_char_terms(p)
        ix = F.lit(0).cast("long")
        iy = F.lit(0).cast("long")
        for c, terms in enumerate(plans):
            for src, sh, out_sh in terms:
                bit = F.shiftright(codes[c], out_sh).bitwiseAND(F.lit(1))
                if src == "x":
                    ix = ix + bit * F.lit(1 << sh)
                else:
                    iy = iy + bit * F.lit(1 << sh)
        clon = F.lit(-180.0) + (ix.cast("double") + F.lit(0.5)) * \
            F.lit(360.0 / float(1 << nlon))
        clat = F.lit(-90.0) + (iy.cast("double") + F.lit(0.5)) * \
            F.lit(180.0 / float(1 << nlat))
        cond = n == p
        lon_e = F.when(cond, clon) if lon_e is None else \
            lon_e.when(cond, clon)
        lat_e = F.when(cond, clat) if lat_e is None else \
            lat_e.when(cond, clat)
    return (lon_e.otherwise(F.lit(None)), lat_e.otherwise(F.lit(None)))
