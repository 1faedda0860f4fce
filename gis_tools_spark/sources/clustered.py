"""Z-order-clustered spatial layout + bbox scan pruning.

Clustering a table by the Morton key makes SPATIAL RANGE queries cheap:
when rows are range-partitioned and sorted by the interleaved-bit Z key
(the lake's ``icetable`` commits do this), each parquet file/row-group
covers a tiny contiguous Z range; ``bbox_filter`` turns a query bbox into a union of
Z BETWEENs (one per adaptive cover cell — every quadtree cell is ONE
contiguous Morton range) plus the exact lon/lat bounds. Both predicate
families are plain comparisons on scan columns, so Catalyst pushes them
into the parquet reader (`PushedFilters` in the plan) and row-group
min/max statistics skip everything outside the query window — at
100 TB a city-sized bbox touches a few files instead of the fleet
(tests/test_clustered.py asserts the pushdown AND the physical
row-group prune ratio through pyarrow metadata).

The reference holds layers in RAM and prefilters with an R-tree
(gistools coordinates.py:303-317); this is the lake-scale counterpart:
the "index" is the file layout itself, readable by ANY engine.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from .. import cells as C

ZRES = 16  # default clustering res: ~610 m cells, 32-bit keys


def bbox_zranges(minx: float, miny: float, maxx: float, maxy: float, *,
                 zres: int = ZRES, max_cells: int = 64) -> list[tuple[int, int]]:
    """The bbox's adaptive cover as inclusive Morton-key ranges at
    `zres` — ≤ max_cells ranges regardless of query size."""
    r = min(C.adaptive_res(minx, miny, maxx, maxy, 0, zres, max_cells), zres)
    cells = C.bbox_to_cells(minx, miny, maxx, maxy, r)
    ranges = sorted(C.cell_morton_range(c, zres) for c in cells.tolist())
    merged: list[list[int]] = []
    for lo, hi in ranges:              # adjacent cells merge into one BETWEEN
        if merged and lo == merged[-1][1] + 1:
            merged[-1][1] = hi
        else:
            merged.append([lo, hi])
    return [(lo, hi) for lo, hi in merged]


def bbox_filter(df: DataFrame, minx: float, miny: float, maxx: float,
                maxy: float, *, lon: str = "lon", lat: str = "lat",
                zkey_col: str = "zkey", zres: int = ZRES,
                max_cells: int = 64, pushdown: bool = True) -> DataFrame:
    """Exact bbox selection that a Z-clustered scan can prune: Z-range
    union (coarse, pushed to row-group stats) AND exact bounds (also
    pushed; keeps edge cells exact).

    ``pushdown=True`` (clustered tables, where `zkey` is a STORED
    column) emits the union of plain BETWEENs — the shape Catalyst
    pushes into the parquet reader.  ``pushdown=False`` emits the
    codegen-compact equivalent instead: the adaptive cover lives at a
    single res, so membership in the range union is ONE shifted
    equality `(zkey >> 2*(zres-r)) IN (cells)`.  Use it when `zkey` is
    a DERIVED column: Catalyst inlines a derived zkey's whole
    spread-bit expression into every comparison, and ~64 BETWEENs of it
    exceed the JVM method limit, silently dropping the stage out of
    whole-stage codegen (observed on the zorder_bbox gate)."""
    zc = F.col(zkey_col)
    if pushdown:
        zpred = reduce(lambda a, b: a | b,
                       [(zc >= F.lit(lo)) & (zc <= F.lit(hi))
                        for lo, hi in bbox_zranges(minx, miny, maxx, maxy,
                                                   zres=zres,
                                                   max_cells=max_cells)])
    else:
        r = min(C.adaptive_res(minx, miny, maxx, maxy, 0, zres, max_cells),
                zres)
        cells = C.bbox_to_cells(minx, miny, maxx, maxy, r)
        zvals = sorted(C.cell_morton_range(c, zres)[0] >> (2 * (zres - r))
                       for c in cells.tolist())
        zpred = F.shiftrightunsigned(zc, 2 * (zres - r)).isin(zvals)
    return df.where(zpred
                    & (F.col(lon) >= F.lit(minx)) & (F.col(lon) <= F.lit(maxx))
                    & (F.col(lat) >= F.lit(miny)) & (F.col(lat) <= F.lit(maxy)))
