"""S2-analog spherical cell index: cube-face gnomonic projection +
quadratic st reparametrization + Hilbert-curve ordering, packed into a
64-bit id — the cube-sphere member of the engine's cell-index family
(qcell lat/lon grid, Morton keys, geohash, MGRS).

This is a from-scratch *analog* of the published S2 design (cube faces,
the quadratic s(u) = ½√(1+3u) area-equalizing transform, Hilbert-order
cell ids with a trailing sentinel bit encoding the level) — it follows
the same construction but does NOT claim bit-compatibility with the
s2geometry library's ids.  Reference operator surface: the reference
builds GeoGrid/tile keys from lat/lon only (/root/reference/gistools/
grid.py GeoGrid); the cube-sphere index removes its polar cell-area
blow-up (cells here vary <~2.1× in true area vs unbounded sec(lat) for
a lat/lon grid).

Why Hilbert instead of the qcell Morton order: consecutive ids at one
level are always edge-adjacent on the face, so id-range partitioning
yields spatially compact shards — the property that makes range-sharded
spatial joins and bucketed layouts skew-resistant at 100 TB.

Drift-proofing vs the DuckDB oracle: the only non-integer math is
trig + one sqrt; both s and t round through float32 before
quantization, so a ≤1-ulp libm difference between the JVM, numpy and
DuckDB cannot flip a cell index (a flip needs the double to sit within
2⁻²⁴ of a float32 rounding boundary AND that boundary to be a cell
edge).  All Hilbert state arithmetic is exact BIGINT.

Id layout (level L ≤ 29, top bit always 0 so BIGINT stays positive):

    [0][face:3][hilbert pos:2L][1][0…]      bits 63 … 0
    id = face·2⁶⁰ + pos·2^(60−2L) + 2^(59−2L)

Level is recovered from the lowest set bit of the low 60 bits (the
sentinel), exactly like the published scheme.
"""
from __future__ import annotations

import numpy as np

S2_MAX_LEVEL = 29          # id layout bound (numpy kernels)
S2_MAX_SQL_LEVEL = 16      # column/SQL builders: unrolled Hilbert loop

_FACE_SHIFT = 60

# Face uv conventions (published S2 axis assignment): face -> (u, v)
# as ratios of the unit vector (x, y, z); the dominant component is
# the denominator so |u|,|v| <= 1 on the owning face.
#   0:+x (y/x,  z/x)   1:+y (-x/y, z/y)   2:+z (-x/z, -y/z)
#   3:-x (z/x,  y/x)   4:-y (z/y, -x/y)   5:-z (-y/z, -x/z)


def _check_level(level: int, cap: int = S2_MAX_LEVEL) -> None:
    if not 0 <= level <= cap:
        raise ValueError(f"s2 level must be in [0, {cap}], got {level}")


# ------------------------------------------------------------------ numpy kernels

def _face_uv(lon, lat):
    """(face, u, v) arrays from lon/lat degrees."""
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    x = np.cos(lat) * np.cos(lon)
    y = np.cos(lat) * np.sin(lon)
    z = np.sin(lat)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    # tie order must match the SQL CASE chain exactly
    fx = (ax >= ay) & (ax >= az)
    fy = ~fx & (ay >= az)
    fz = ~fx & ~fy
    face = np.where(fx, np.where(x >= 0, 0, 3),
                    np.where(fy, np.where(y >= 0, 1, 4),
                             np.where(z >= 0, 2, 5))).astype(np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y], default=-y / z)
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y], default=-x / z)
    return face, u, v


def _uv_to_st(u):
    """Quadratic area-equalizing transform uv [-1,1] -> st [0,1]."""
    # maximum() keeps the unused np.where branch out of sqrt(<0)
    return np.where(u >= 0,
                    0.5 * np.sqrt(np.maximum(1.0 + 3.0 * u, 0.0)),
                    1.0 - 0.5 * np.sqrt(np.maximum(1.0 - 3.0 * u, 0.0)))


def _st_to_uv(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(s >= 0.5, (4.0 * s * s - 1.0) / 3.0,
                    (1.0 - 4.0 * (1.0 - s) * (1.0 - s)) / 3.0)


def _st_to_ij(s, level: int):
    """Quantize st to [0, 2^level).  Levels with a SQL mirror round
    through float32 first (libm drift-proofing vs DuckDB/JVM); above
    S2_MAX_SQL_LEVEL a float32 ulp (2⁻²⁴) would exceed the cell width,
    so the quantization stays float64 there."""
    n = 1 << level
    s = np.asarray(s, dtype=np.float64)
    if level <= S2_MAX_SQL_LEVEL:
        s = s.astype(np.float32).astype(np.float64)
    return np.clip(np.floor(s * n), 0, n - 1).astype(np.int64)


def _hilbert_d(ix, iy, level: int):
    """Vectorized Hilbert xy→d (top-down rotate-and-accumulate form of
    the published curve; exact integer arithmetic)."""
    x = np.asarray(ix, dtype=np.int64).copy()
    y = np.asarray(iy, dtype=np.int64).copy()
    d = np.zeros_like(x)
    n = np.int64(1 << level)
    s = np.int64(1 << (level - 1)) if level > 0 else np.int64(0)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * (3 * rx + ry - 2 * rx * ry)      # (3*rx) XOR ry
        flip = (ry == 0) & (rx == 1)
        swap = ry == 0
        nx = np.where(swap, np.where(flip, n - 1 - y, y), x)
        ny = np.where(swap, np.where(flip, n - 1 - x, x), y)
        x, y = nx, ny
        s >>= 1
    return d


def _hilbert_xy(d, level: int):
    """Vectorized Hilbert d→(x, y) — inverse of _hilbert_d."""
    t = np.asarray(d, dtype=np.int64).copy()
    x = np.zeros_like(t)
    y = np.zeros_like(t)
    s = np.int64(1)
    n = np.int64(1 << level)
    while s < n:
        rx = (t >> 1) & 1
        ry = (t ^ rx) & 1
        flip = (ry == 0) & (rx == 1)
        swap = ry == 0
        fx = np.where(flip, s - 1 - x, x)
        fy = np.where(flip, s - 1 - y, y)
        nx = np.where(swap, fy, x)
        ny = np.where(swap, fx, y)
        x = nx + s * rx
        y = ny + s * ry
        t >>= 2
        s <<= 1
    return x, y


def s2_encode(lon, lat, level: int):
    """Vectorized numpy encode: lon/lat degrees → int64 cell id at
    `level` (0..29)."""
    _check_level(level)
    face, u, v = _face_uv(lon, lat)
    ix = _st_to_ij(_uv_to_st(u), level)
    iy = _st_to_ij(_uv_to_st(v), level)
    pos = _hilbert_d(ix, iy, level)
    return ((face << _FACE_SHIFT)
            | (pos << (60 - 2 * level))
            | (np.int64(1) << (59 - 2 * level)))


def s2_level(cell):
    """Level from the sentinel (lowest set bit of the low 60 bits)."""
    c = np.asarray(cell, dtype=np.int64)
    low = c & ((np.int64(1) << 60) - 1)
    lsb = np.zeros_like(low)
    probe = low.copy()
    for sh in (32, 16, 8, 4, 2, 1):
        has = (probe & ((np.int64(1) << sh) - 1)) == 0
        lsb += np.where(has, sh, 0)
        probe = np.where(has, probe >> sh, probe)
    return ((59 - lsb) // 2).astype(np.int64)


def s2_face(cell):
    return (np.asarray(cell, dtype=np.int64) >> _FACE_SHIFT) & 7


def s2_pos(cell, level=None):
    c = np.asarray(cell, dtype=np.int64)
    lv = s2_level(c) if level is None else np.asarray(level)
    return (c & ((np.int64(1) << 60) - 1)) >> (60 - 2 * lv)


def s2_parent(cell, parent_level: int):
    """Ancestor id at `parent_level` (truncate the Hilbert pos — the
    curve's top-down construction makes the pos prefix the parent)."""
    _check_level(parent_level)
    c = np.asarray(cell, dtype=np.int64)
    lv = s2_level(c)
    if np.any(lv < parent_level):
        raise ValueError("parent_level finer than cell level")
    pos = s2_pos(c, lv) >> (2 * (lv - parent_level))
    return ((s2_face(c) << _FACE_SHIFT)
            | (pos << (60 - 2 * parent_level))
            | (np.int64(1) << (59 - 2 * parent_level)))


def s2_children(cell):
    """The 4 child ids (next level) of a scalar cell id."""
    c = np.int64(cell)
    lv = int(s2_level(c))
    _check_level(lv + 1)
    base = np.int64(s2_face(c)) << _FACE_SHIFT
    pos = np.int64(s2_pos(c, lv))
    out = []
    for q in range(4):
        p = (pos << 2) | q
        out.append(base | (p << (60 - 2 * (lv + 1)))
                   | (np.int64(1) << (59 - 2 * (lv + 1))))
    return np.array(out, dtype=np.int64)


def s2_center(cell):
    """(lon, lat) degrees of the cell center."""
    c = np.asarray(cell, dtype=np.int64)
    lv = s2_level(c)
    levels = np.unique(np.atleast_1d(lv))
    flat = np.atleast_1d(c)
    lvf = np.atleast_1d(lv)
    ix = np.zeros_like(flat)
    iy = np.zeros_like(flat)
    for L in levels.tolist():
        m = lvf == L
        x, y = _hilbert_xy(s2_pos(flat[m], lvf[m]), int(L))
        ix[m], iy[m] = x, y
    n = (np.int64(1) << lvf).astype(np.float64)
    u = _st_to_uv((ix + 0.5) / n)
    v = _st_to_uv((iy + 0.5) / n)
    face = np.atleast_1d(s2_face(c))
    # invert the face frames (solve the uv ratio definitions for xyz,
    # dominant component = ±1):
    #   0:( 1,  u,  v)  1:(-u,  1,  v)  2:(-u, -v,  1)
    #   3:(-1, -v, -u)  4:( v, -1, -u)  5:( v,  u, -1)
    one = np.ones_like(u)
    sel = [face == 0, face == 1, face == 2, face == 3, face == 4]
    x = np.select(sel, [one, -u, -u, -one, v], default=v)
    y = np.select(sel, [u, one, -v, -v, -one], default=u)
    z = np.select(sel, [v, v, one, -u, -u], default=-one)
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    if np.isscalar(cell) or np.ndim(cell) == 0:
        return float(lon[0]), float(lat[0])
    return lon, lat


# ------------------------------------------------------------------ shared SQL plan

def _s2_layers(lon_expr: str, lat_expr: str, level: int):
    """The per-layer SELECT plans shared verbatim by the SQL generator
    and the DataFrame builder (which re-emits each layer through
    F.expr) — the two surfaces cannot drift."""
    _check_level(level, S2_MAX_SQL_LEVEL)
    n = 1 << level
    layers = []
    # 1: unit vector
    layers.append({
        "xs": f"cos(radians({lat_expr})) * cos(radians({lon_expr}))",
        "ys": f"cos(radians({lat_expr})) * sin(radians({lon_expr}))",
        "zs": f"sin(radians({lat_expr}))",
    })
    # 2: face (tie order identical to _face_uv)
    layers.append({
        "face": ("CASE WHEN abs(xs) >= abs(ys) AND abs(xs) >= abs(zs)"
                 " THEN CASE WHEN xs >= 0 THEN 0 ELSE 3 END"
                 " WHEN abs(ys) >= abs(zs)"
                 " THEN CASE WHEN ys >= 0 THEN 1 ELSE 4 END"
                 " ELSE CASE WHEN zs >= 0 THEN 2 ELSE 5 END END"),
        "xs": "xs", "ys": "ys", "zs": "zs",
    })
    # 3: face uv
    layers.append({
        "face": "face",
        "u": ("CASE face WHEN 0 THEN ys / xs WHEN 1 THEN -xs / ys"
              " WHEN 2 THEN -xs / zs WHEN 3 THEN zs / xs"
              " WHEN 4 THEN zs / ys ELSE -ys / zs END"),
        "v": ("CASE face WHEN 0 THEN zs / xs WHEN 1 THEN zs / ys"
              " WHEN 2 THEN -ys / zs WHEN 3 THEN ys / xs"
              " WHEN 4 THEN -xs / ys ELSE -xs / zs END"),
    })

    # 4: quadratic st -> ij through float32
    def ij(src):
        st = (f"CASE WHEN {src} >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * {src})"
              f" ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * {src}) END")
        return (f"CAST(least(greatest(floor("
                f"CAST(CAST(({st}) AS FLOAT) AS DOUBLE) * {n}.0"
                f"), 0.0), {n - 1}.0) AS BIGINT)")
    layers.append({"face": "face", "x": ij("u"), "y": ij("v"),
                   "d": "CAST(0 AS BIGINT)"})
    # 5..: Hilbert fold, one layer per bit, top-down (exact BIGINT)
    for p in range(level - 1, -1, -1):
        s = 1 << p
        rx = f"((x >> {p}) & 1)"
        ry = f"((y >> {p}) & 1)"
        layers.append({
            "face": "face",
            "d": (f"d + {s * s} * (3 * {rx} + {ry}"
                  f" - 2 * {rx} * {ry})"),
            "x": (f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1"
                  f" THEN {n - 1} - y ELSE y END ELSE x END"),
            "y": (f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1"
                  f" THEN {n - 1} - x ELSE x END ELSE y END"),
        })
    # final: pack the id
    layers.append({
        "s2_cell": (f"CAST(face AS BIGINT) * {1 << _FACE_SHIFT}"
                    f" + d * {1 << (60 - 2 * level)}"
                    f" + {1 << (59 - 2 * level)}"),
    })
    return layers


def s2_sql(lon_expr: str, lat_expr: str, level: int) -> str:
    """ANSI-SQL scalar expression (runs in DuckDB and Spark SQL) for
    s2_encode — nested one-layer-per-bit subqueries keep the expression
    tree linear in `level`."""
    layers = _s2_layers(lon_expr, lat_expr, level)
    inner = None
    for i, layer in enumerate(layers):
        cols = ", ".join(f"({e}) AS {a}" for a, e in layer.items())
        inner = (f"SELECT {cols}" if inner is None
                 else f"SELECT {cols} FROM ({inner}) AS __s2q{i}")
    return f"(SELECT s2_cell FROM ({inner}) AS __s2f)"


def with_s2_cell(df, lon: str = "lon", lat: str = "lat",
                 level: int = 12, out: str = "s2_cell"):
    """DataFrame with an appended int64 S2-analog cell id column —
    pure whole-stage-codegen arithmetic (no UDF), built as one chained
    select per Hilbert bit so the expression tree stays linear (a
    single nested Column would double per bit).  Emits the exact same
    per-layer expressions as s2_sql (shared _s2_layers plan).

    Self-join caveat: feeding the SAME result into both sides of a
    join (e.g. joining per-row ids against their own groupBy counts)
    makes Catalyst re-derive the layer chain on both branches, and
    its alias-substitution rules can inline the chain into an
    exponentially-sized tree — the optimizer hangs/OOMs before any
    task runs.  Use a window aggregate over the id instead (one pass,
    no self-join), or put an explicit barrier between encode and join
    (a persisted copy + a materializing action, or a checkpoint) —
    pytest-pinned in test_s2.test_downstream_patterns."""
    from pyspark.sql import functions as F

    keep = [c for c in df.columns]
    # shield user column names from the layer-variable token rewrite
    cur0 = df.select(*[F.col(c) for c in keep],
                     F.col(lon).alias("__s2_lon0"),
                     F.col(lat).alias("__s2_lat0"))
    layers = _s2_layers("__s2_lon0", "__s2_lat0", level)
    cur = cur0
    for layer in layers[:-1]:
        exprs = [F.expr(_alias_tmp(e)).alias(f"__s2_{a}")
                 for a, e in layer.items()]
        cur = cur.select(*[F.col(c) for c in keep], *exprs)
    final = layers[-1]["s2_cell"]
    cur = cur.select(*[F.col(c) for c in keep],
                     F.expr(_alias_tmp(final)).alias(out))
    return cur


def _alias_tmp(expr: str) -> str:
    """Rewrite bare layer-variable tokens to their __s2_ column names
    (token-boundary regex; SQL keywords/functions are untouched)."""
    import re
    return re.sub(r"\b(face|xs|ys|zs|u|v|x|y|d)\b",
                  lambda m: f"__s2_{m.group(1)}", expr)


# ------------------------------------------------------------------ planar Hilbert keys

def hilbert_key(lon, lat, res: int):
    """Vectorized numpy Hilbert key on the equirectangular lon/lat grid
    at ``res`` (2·res bits) — the locality-better drop-in for
    cells.morton_key: consecutive keys are always edge-adjacent cells,
    so range-sharded layouts (icetable cluster_by) cut
    fewer cell boundaries than the Z-order curve.  Same quantization
    as morton_key (floor on the linear grid — no trig, no float32
    concerns)."""
    if not 1 <= res <= 29:
        raise ValueError(f"res must be in [1, 29], got {res}")
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(lon, dtype=np.float64) + 180.0)
                          / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((np.asarray(lat, dtype=np.float64) + 90.0)
                          / 180.0 * n), 0, n - 1).astype(np.int64)
    return _hilbert_d(ix, iy, res)


def hilbert_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """ANSI-SQL mirror of hilbert_key (nested one-layer-per-bit
    subqueries, exact BIGINT fold — the s2_sql machinery minus the
    sphere)."""
    if not 1 <= res <= S2_MAX_SQL_LEVEL:
        raise ValueError(f"res must be in [1, {S2_MAX_SQL_LEVEL}]")
    n = 1 << res
    ix = (f"CAST(least(greatest(floor((({lon_expr}) + 180.0) / 360.0"
          f" * {n}), 0), {n - 1}) AS BIGINT)")
    iy = (f"CAST(least(greatest(floor((({lat_expr}) + 90.0) / 180.0"
          f" * {n}), 0), {n - 1}) AS BIGINT)")
    inner = (f"SELECT {ix} AS x, {iy} AS y, CAST(0 AS BIGINT) AS d")
    layer = 0
    for p in range(res - 1, -1, -1):
        s = 1 << p
        rx = f"((x >> {p}) & 1)"
        ry = f"((y >> {p}) & 1)"
        layer += 1
        inner = (
            f"SELECT"
            f" (CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1"
            f" THEN {n - 1} - y ELSE y END ELSE x END) AS x,"
            f" (CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1"
            f" THEN {n - 1} - x ELSE x END ELSE y END) AS y,"
            f" (d + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})) AS d"
            f" FROM ({inner}) AS __hq{layer}")
    return f"(SELECT d FROM ({inner}) AS __hf)"


def with_hilbert_key(df, lon: str = "lon", lat: str = "lat",
                     res: int = 12, out: str = "hilbert_key"):
    """DataFrame with an appended planar Hilbert key column — chained
    one-select-per-bit (linear expression tree; same construction and
    self-join caveat as with_s2_cell)."""
    from pyspark.sql import functions as F

    if not 1 <= res <= S2_MAX_SQL_LEVEL:
        raise ValueError(f"res must be in [1, {S2_MAX_SQL_LEVEL}]")
    n = 1 << res
    keep = list(df.columns)
    cur = df.select(*[F.col(c) for c in keep],
                    F.col(lon).alias("__hl_lon"),
                    F.col(lat).alias("__hl_lat"))
    ix = (f"CAST(least(greatest(floor((__hl_lon + 180.0) / 360.0"
          f" * {n}), 0), {n - 1}) AS BIGINT)")
    iy = (f"CAST(least(greatest(floor((__hl_lat + 90.0) / 180.0"
          f" * {n}), 0), {n - 1}) AS BIGINT)")
    cur = cur.select(*[F.col(c) for c in keep],
                     F.expr(ix).alias("__hl_x"),
                     F.expr(iy).alias("__hl_y"),
                     F.lit(0).cast("long").alias("__hl_d"))
    for p in range(res - 1, -1, -1):
        s = 1 << p
        rx = f"((__hl_x >> {p}) & 1)"
        ry = f"((__hl_y >> {p}) & 1)"
        cur = cur.select(
            *[F.col(c) for c in keep],
            F.expr(f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1"
                   f" THEN {n - 1} - __hl_y ELSE __hl_y END"
                   f" ELSE __hl_x END").alias("__hl_x2"),
            F.expr(f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1"
                   f" THEN {n - 1} - __hl_x ELSE __hl_x END"
                   f" ELSE __hl_y END").alias("__hl_y2"),
            F.expr(f"__hl_d + {s * s} * (3 * {rx} + {ry}"
                   f" - 2 * {rx} * {ry})").alias("__hl_d2"),
        ).withColumnsRenamed({"__hl_x2": "__hl_x", "__hl_y2": "__hl_y",
                              "__hl_d2": "__hl_d"})
    return cur.select(*[F.col(c) for c in keep],
                      F.col("__hl_d").alias(out))


# ------------------------------------------------------------------ tokens

def s2_token(cell):
    """Compact hex token of a cell id (the customary interchange form:
    16 hex digits with trailing zeros stripped; '0' only for an
    all-zero id).  Vectorized; inverse of s2_from_token."""
    flat = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    out = []
    for c in flat.tolist():
        h = format(c & 0xFFFFFFFFFFFFFFFF, "016x").rstrip("0")
        out.append(h or "0")
    if np.ndim(cell) == 0:
        return out[0]
    return np.array(out)


def s2_from_token(tok):
    """Inverse of s2_token (right-pads with zeros to 16 hex digits)."""
    toks = [tok] if isinstance(tok, str) else list(tok)
    out = np.empty(len(toks), dtype=np.int64)
    for i, t in enumerate(toks):
        if not 1 <= len(t) <= 16:
            raise ValueError(f"bad s2 token {t!r}")
        out[i] = np.int64(int(t.ljust(16, "0"), 16))
    if isinstance(tok, str):
        return out[0]
    return out
