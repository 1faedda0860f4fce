"""WKT (Well-Known Text) reader/writer over the same geometry dict
model as geom/wkb.py — the human-readable interop surface (ISO
19125 / OGC Simple Features text form; reference layers expose WKT
via shapely's `wkt` property).

Supports POINT / LINESTRING / POLYGON / MULTIPOINT / MULTILINESTRING /
MULTIPOLYGON / GEOMETRYCOLLECTION, EMPTY forms, optional Z ordinate,
both `MULTIPOINT (1 2, 3 4)` and `MULTIPOINT ((1 2), (3 4))`
spellings.  Numbers format through repr (shortest round-trip decimal),
so decode(encode(g)) is bit-exact.
"""

from __future__ import annotations

import re

import numpy as np

def _fmt_num(v: float) -> str:
    f = float(v)
    if not np.isfinite(f):
        # WKT has no standard non-finite spelling and the reader's
        # number regex would reject 'nan'/'inf' anyway — fail loudly
        # instead of emitting text that cannot round-trip
        raise ValueError(f"WKT cannot represent non-finite ordinate {f!r}")
    if f == int(f) and abs(f) < 1e15:
        # keep -0.0's sign (int(-0.0) would drop it and break the
        # decode(encode(g)) bit-exactness contract)
        if f == 0.0 and np.signbit(f):
            return "-0"
        return str(int(f))
    return repr(f)


def _fmt_coords(arr) -> str:
    a = np.asarray(arr, dtype=np.float64)
    return ", ".join(" ".join(_fmt_num(c) for c in row) for row in a)


def encode(g: dict) -> str:
    """Geometry dict → WKT string."""
    t = g["type"]
    if t == "Point":
        c = np.asarray(g["coords"], dtype=np.float64).reshape(-1)
        if len(c) == 0:
            return "POINT EMPTY"
        return f"POINT ({' '.join(_fmt_num(v) for v in c)})"
    if t == "MultiPoint":
        pts = np.asarray(g["points"], dtype=np.float64)
        if len(pts) == 0:
            return "MULTIPOINT EMPTY"
        return ("MULTIPOINT ("
                + ", ".join(f"({' '.join(_fmt_num(c) for c in p)})"
                            for p in pts) + ")")
    if t == "LineString":
        v = np.asarray(g["coords"], dtype=np.float64)
        if len(v) == 0:
            return "LINESTRING EMPTY"
        return f"LINESTRING ({_fmt_coords(v)})"
    if t == "MultiLineString":
        if not g["lines"]:
            return "MULTILINESTRING EMPTY"
        return ("MULTILINESTRING ("
                + ", ".join(f"({_fmt_coords(l)})" for l in g["lines"])
                + ")")
    if t == "Polygon":
        if not g["rings"]:
            return "POLYGON EMPTY"
        return ("POLYGON ("
                + ", ".join(f"({_fmt_coords(r)})" for r in g["rings"])
                + ")")
    if t == "MultiPolygon":
        if not g["polygons"]:
            return "MULTIPOLYGON EMPTY"
        return ("MULTIPOLYGON ("
                + ", ".join(
                    "(" + ", ".join(f"({_fmt_coords(r)})" for r in rings)
                    + ")" for rings in g["polygons"]) + ")")
    if t == "GeometryCollection":
        if not g["geoms"]:
            return "GEOMETRYCOLLECTION EMPTY"
        return ("GEOMETRYCOLLECTION ("
                + ", ".join(encode(sub) for sub in g["geoms"]) + ")")
    raise ValueError(f"unsupported geometry type {t!r}")


class _P:
    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def ws(self):
        while self.i < len(self.s) and self.s[self.i].isspace():
            self.i += 1

    def peek(self) -> str:
        self.ws()
        return self.s[self.i] if self.i < len(self.s) else ""

    def expect(self, ch: str):
        self.ws()
        if self.i >= len(self.s) or self.s[self.i] != ch:
            raise ValueError(
                f"WKT parse error at {self.i}: expected {ch!r} in "
                f"{self.s[max(0, self.i - 10):self.i + 10]!r}")
        self.i += 1

    def word(self) -> str:
        self.ws()
        m = re.match(r"[A-Za-z]+", self.s[self.i:])
        if not m:
            raise ValueError(f"WKT parse error at {self.i}: expected word")
        self.i += m.end()
        return m.group(0).upper()

    def number(self) -> float:
        self.ws()
        m = re.match(r"[-+]?\d*\.?\d+(?:[eE][-+]?\d+)?", self.s[self.i:])
        if not m:
            raise ValueError(f"WKT parse error at {self.i}: expected number")
        self.i += m.end()
        return float(m.group(0))

    def coords_seq(self) -> np.ndarray:
        """(x y[, ...]) — returns (n, dim) array (dim 2 or 3)."""
        self.expect("(")
        rows = []
        while True:
            row = [self.number()]
            while self.peek() not in (",", ")"):
                row.append(self.number())
            rows.append(row)
            if self.peek() == ",":
                self.expect(",")
                continue
            break
        self.expect(")")
        dim = max(len(r) for r in rows)
        return np.array([r + [0.0] * (dim - len(r)) for r in rows],
                        dtype=np.float64)


def _empty(tag: str, p: _P) -> bool:
    save = p.i
    try:
        w = p.word()
    except ValueError:
        return False
    if w == "EMPTY":
        return True
    p.i = save
    return False


def _parse_geom(p: _P) -> dict:
    t = p.word()
    if t in ("POINTZ", "LINESTRINGZ"):       # glued Z
        t = t[:-1]
    if p.peek().upper() == "Z":
        p.word()
    if t == "POINT":
        if _empty(t, p):
            return {"type": "Point", "coords": np.zeros((0,))}
        c = p.coords_seq()
        return {"type": "Point", "coords": c[0]}
    if t == "MULTIPOINT":
        if _empty(t, p):
            return {"type": "MultiPoint", "points": np.zeros((0, 2))}
        p.expect("(")
        pts = []
        while True:
            if p.peek() == "(":
                pts.append(p.coords_seq()[0])
            else:
                row = [p.number()]
                while p.peek() not in (",", ")"):
                    row.append(p.number())
                pts.append(np.asarray(row, dtype=np.float64))
            if p.peek() == ",":
                p.expect(",")
                continue
            break
        p.expect(")")
        dim = max(len(x) for x in pts)
        arr = np.array([list(x) + [0.0] * (dim - len(x)) for x in pts])
        return {"type": "MultiPoint", "points": arr}
    if t == "LINESTRING":
        if _empty(t, p):
            return {"type": "LineString", "coords": np.zeros((0, 2))}
        return {"type": "LineString", "coords": p.coords_seq()}
    if t == "MULTILINESTRING":
        if _empty(t, p):
            return {"type": "MultiLineString", "lines": []}
        p.expect("(")
        lines = [p.coords_seq()]
        while p.peek() == ",":
            p.expect(",")
            lines.append(p.coords_seq())
        p.expect(")")
        return {"type": "MultiLineString", "lines": lines}
    if t == "POLYGON":
        if _empty(t, p):
            return {"type": "Polygon", "rings": []}
        p.expect("(")
        rings = [p.coords_seq()]
        while p.peek() == ",":
            p.expect(",")
            rings.append(p.coords_seq())
        p.expect(")")
        return {"type": "Polygon", "rings": rings}
    if t == "MULTIPOLYGON":
        if _empty(t, p):
            return {"type": "MultiPolygon", "polygons": []}
        p.expect("(")
        polys = []
        while True:
            p.expect("(")
            rings = [p.coords_seq()]
            while p.peek() == ",":
                p.expect(",")
                rings.append(p.coords_seq())
            p.expect(")")
            polys.append(rings)
            if p.peek() == ",":
                p.expect(",")
                continue
            break
        p.expect(")")
        return {"type": "MultiPolygon", "polygons": polys}
    if t == "GEOMETRYCOLLECTION":
        if _empty(t, p):
            return {"type": "GeometryCollection", "geoms": []}
        p.expect("(")
        geoms = [_parse_geom(p)]
        while p.peek() == ",":
            p.expect(",")
            geoms.append(_parse_geom(p))
        p.expect(")")
        return {"type": "GeometryCollection", "geoms": geoms}
    raise ValueError(f"unsupported WKT type {t!r}")


def decode(text: str) -> dict:
    """WKT string → geometry dict (same model as geom/wkb)."""
    p = _P(str(text))
    g = _parse_geom(p)
    p.ws()
    if p.i != len(p.s):
        raise ValueError(f"trailing WKT content at {p.i}: "
                         f"{p.s[p.i:p.i + 20]!r}")
    return g
