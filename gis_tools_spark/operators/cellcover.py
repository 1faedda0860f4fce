"""Hierarchical cell-cover compression — H3 ``compact_cells`` /
``uncompact_cells`` for the engine's quadtree cells.

A cover stored at one fine resolution wastes rows wherever the region
is solid: 4^d sibling cells say what one ancestor says. ``compact``
replaces every complete sibling quartet by its parent, repeatedly, so a
solid region costs O(perimeter) cells instead of O(area) — at 100 TB
that is the difference between a country polygon's cover being 10^9
rows or 10^5. ``uncompact`` is the inverse: explode a mixed-resolution
cover back to a single resolution for equi-joins.

Semantics match h3's compact/uncompact (cell set in, cell set out; the
input must be duplicate-free at a single resolution or already a valid
cover — duplicates would fake complete quartets).

Plan shape / 100 TB notes:
- ``compact`` is one tiny groupBy per resolution level (≤ 26 rounds,
  in practice res_max - res_min): key = parent cell, promote on
  count == 4 — map-side combinable, each round's input is the already-
  compacted set so work *shrinks* monotonically;
- the parent/child arithmetic is pure int64 column math (the cell id
  layout ``res*2^58 + ix*2^29 + iy`` — cells/__init__.py), identical in
  Spark and ANSI SQL, so the driver gate mirrors every round;
- ``uncompact`` is posexplode over ``sequence(0, 4^d - 1)`` — bounded
  fan-out d ≤ (res - cell_res), no Python, no shuffle.

Reference scope: gis-tools covers polygons with its in-memory GeoGrid
(grid.py); a compacted cover is the lake-scale equivalent of its
multi-resolution tiles.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, functions as F

from .. import cells as C
from . import core

_log = logging.getLogger("gis_tools_spark")

__all__ = ["compact_cells", "uncompact_cells", "compact_sql"]

_RES_UNIT = 1 << C.RES_SHIFT   # 2^58
_IX_UNIT = 1 << C.IX_SHIFT     # 2^29


def _parts(cell: Column) -> tuple[Column, Column, Column]:
    """(res, ix, iy) via arithmetic only (nonneg ids — div == floor)."""
    res = (cell / F.lit(_RES_UNIT)).cast("long")
    ix = ((cell % F.lit(_RES_UNIT)) / F.lit(_IX_UNIT)).cast("long")
    iy = cell % F.lit(_IX_UNIT)
    return res, ix, iy


def _parent(cell: Column) -> Column:
    res, ix, iy = _parts(cell)
    return ((res - 1) * F.lit(_RES_UNIT)
            + (ix / 2).cast("long") * F.lit(_IX_UNIT)
            + (iy / 2).cast("long"))


def _compact_local(cells: "np.ndarray",
                   min_res: int) -> tuple["np.ndarray", int, int]:
    """Exact in-memory replay of the per-level promotion cascade —
    identical semantics to the distributed loop (promote a parent when
    all 4 distinct children are present), microseconds at driver-
    collectable sizes. Returns (cells, levels that promoted, parents
    promoted)."""
    import numpy as np
    cur = cells.astype(np.int64)
    if not len(cur):
        return cur, 0, 0
    levels = promoted = 0
    rmax = int((cur // _RES_UNIT).max())
    rmin_in = int((cur // _RES_UNIT).min())
    for r in range(rmax, min_res, -1):
        res_cur = cur // _RES_UNIT
        at_r = cur[res_cur == r]
        others = cur[res_cur != r]
        if not len(at_r):
            if rmin_in >= r:
                break
            continue
        parent = ((r - 1) * _RES_UNIT
                  + (at_r % _RES_UNIT // _IX_UNIT // 2) * _IX_UNIT
                  + (at_r % _IX_UNIT // 2))
        uniq, counts = np.unique(parent, return_counts=True)
        prom = uniq[counts == 4]
        if not len(prom):
            if rmin_in >= r:
                break
            continue
        keep = at_r[~np.isin(parent, prom)]
        cur = np.concatenate([others, keep, prom])
        levels, promoted = levels + 1, promoted + len(prom)
    return cur, levels, promoted


def compact_cells(cover: DataFrame, *, cell_col: str = "cell",
                  min_res: int = 0) -> DataFrame:
    """Compact a cell cover: every complete 4-sibling quartet collapses
    to its parent, cascading upward until no quartet is complete or
    ``min_res`` is reached. Input: one column of distinct cell ids (a
    single-res cover or any valid mixed-res cover). Output: same single
    ``cell_col`` column, mixed resolutions."""
    df = cover.select(F.col(cell_col).cast("long").alias(cell_col))

    def solve(pdf):
        # small cover: the cascade is a driver-local numpy pass instead
        # of ~2 jobs per resolution level (round-6; the sf0.1 gate paid
        # ~20 KB-sized jobs for a 1 MB cover)
        import numpy as np
        import pandas as pd
        out, levels, n_promoted = _compact_local(pdf[cell_col].to_numpy(),
                                                 min_res)
        _log.debug("compact_cells path=driver levels=%d promoted=%d",
                   levels, n_promoted)
        return pd.DataFrame({cell_col: np.sort(out)})

    small = core.driver_solve("compact_cells", df, solve, f"{cell_col} long")
    if small is not None:
        return small
    npart = max(df.rdd.getNumPartitions(), 1)
    cur, levels, n_promoted = df, 0, 0
    # the input is kept for the resolution probe and the first level;
    # each level's state is an eager local checkpoint, as in fixpoint
    with core.cache_scope() as keep_input:
        keep_input(df)
        res_expr = (F.col(cell_col) / F.lit(_RES_UNIT)).cast("long")
        lo_hi = df.agg(F.min(res_expr).alias("lo"),
                       F.max(res_expr).alias("hi")).collect()[0]
        rmin_in, rmax = int(lo_hi["lo"]), int(lo_hi["hi"])
        for r in range(rmax, min_res, -1):
            cell = F.col(cell_col)
            res_c = (cell / F.lit(_RES_UNIT)).cast("long")
            at_r = cur.where(res_c == r)
            others = cur.where(res_c != r)
            with core.cache_scope() as keep:
                promoted = keep(at_r.groupBy(_parent(cell).alias(cell_col))
                                .agg(F.count("*").alias("__n"))
                                .where(F.col("__n") == 4)
                                .select(cell_col))
                n_prom = promoted.count()
                if n_prom == 0:
                    if rmin_in >= r:  # nothing can ever promote below
                        break
                    continue
                kept = at_r.join(
                    promoted.select(F.col(cell_col).alias("__p")),
                    _parent(F.col(cell_col)) == F.col("__p"), "left_anti")
                # coalesce: the three-way union would otherwise compound
                # partition counts round over round (2p + shuffle width
                # per level)
                cur = (others.unionByName(kept).unionByName(promoted)
                       .coalesce(npart).localCheckpoint(eager=True))
            levels += 1
            n_promoted += n_prom
    _log.debug("compact_cells path=distributed levels=%d promoted=%d",
               levels, n_promoted)
    return cur


def uncompact_cells(cover: DataFrame, *, cell_col: str = "cell",
                    res: int) -> DataFrame:
    """Explode a (possibly mixed-res) cover to single-resolution
    ``res`` cells. Cells already at ``res`` pass through; coarser cells
    fan out to their 4^d descendants (pure codegen, bounded fan-out).
    Cells finer than ``res`` raise at runtime via an assert column."""
    cell = F.col(cell_col).cast("long")
    res_c, ix, iy = _parts(cell)
    d = F.lit(res) - res_c
    m = F.pow(F.lit(2.0), d.cast("double")).cast("long")  # d <= 26: exact
    seq = F.sequence(F.lit(0).cast("long"), m * m - 1)
    guarded = F.when(res_c <= res, seq).otherwise(
        F.raise_error(F.lit("uncompact: cell finer than target res")))
    exploded = cover.select(
        F.explode(guarded).alias("__i"),
        (ix * m).alias("__bx"), (iy * m).alias("__by"), m.alias("__m"))
    child = (F.lit(res).cast("long") * F.lit(_RES_UNIT)
             + (F.col("__bx") + (F.col("__i") / F.col("__m")).cast("long"))
             * F.lit(_IX_UNIT)
             + (F.col("__by") + F.col("__i") % F.col("__m")))
    return exploded.select(child.alias(cell_col))


# ------------------------------------------------------------- SQL mirror

def compact_sql(cover_cte: str, *, res: int, min_res: int = 0,
                cell_col: str = "cell") -> str:
    """DuckDB CTE chain mirroring :func:`compact_cells` round-for-round
    for a single-res input cover at ``res``. ``cover_cte`` must be a
    registered CTE name exposing one BIGINT column ``cell_col``.
    Returns ``(cte_body, final_cte_name)`` — the caller splices the body
    into its WITH chain and selects from the final name."""
    ru, iu = _RES_UNIT, _IX_UNIT

    def parent(c: str) -> str:
        return (f"(({c}) // {ru} - 1) * {ru} "
                f"+ ((({c}) % {ru}) // {iu} // 2) * {iu} "
                f"+ (({c}) % {iu}) // 2")

    prev = cover_cte
    parts = []
    for r in range(res, min_res, -1):
        at = f"__at{r}"
        prom = f"__prom{r}"
        nxt = f"__lvl{r - 1}"
        c = cell_col
        # MATERIALIZED: each level references the previous one three
        # times; DuckDB would otherwise inline (re-evaluate) the chain
        # exponentially (3^levels scans of the base cover)
        parts.append(
            f"{at} AS MATERIALIZED (SELECT {c} FROM {prev} "
            f"WHERE ({c}) // {ru} = {r}), "
            f"{prom} AS MATERIALIZED (SELECT {parent(c)} AS {c} FROM {at} "
            f"GROUP BY 1 HAVING count(*) = 4), "
            f"{nxt} AS MATERIALIZED ("
            f"SELECT {c} FROM {prev} WHERE ({c}) // {ru} <> {r} "
            f"UNION ALL SELECT a.{c} FROM {at} a "
            f"WHERE {parent('a.' + c)} NOT IN (SELECT {c} FROM {prom}) "
            f"UNION ALL SELECT {c} FROM {prom})")
        prev = nxt
    body = ", ".join(parts)
    return body, prev
