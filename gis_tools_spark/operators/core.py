"""Shared building blocks for the filter–refine spatial joins.

Filter phase: equi-join on hierarchical cell ids (pure JVM arithmetic for
points; one Arrow-batched cover UDF for polygons — the distributed
replacement of the reference's R-tree prefilter,
/root/reference/gistools/geometry.py:450-458 + coordinates.py:303-317).

Refine phase: vectorized numpy exact-geometry tests inside mapInPandas,
grouped batch-locally by polygon id so each polygon decodes once per
Arrow batch.

Scale design notes (100 TB / 1000 executors):
- point cell encode is column arithmetic → whole-stage codegen, no
  Python worker in the hot path until refine;
- polygon covers are bounded (≤ max_cells per geometry, adaptive res) →
  bounded fan-out regardless of geometry size → bounded shuffle;
- hot cells (city skew) handled by explicit salting (`salted_cells`) +
  AQE skew-join as backstop;
- small polygon side → broadcast sidecar path (no shuffle at all).
"""

from __future__ import annotations

import logging
from contextlib import contextmanager
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .. import cells as C
from ..geom import kernels as K, wkb

_log = logging.getLogger("gis_tools_spark")

# Salt column used by the skew-handling equi-join.
SALT_COL = "__salt"
CELL_COL = "__cell"

# Worker-lifetime decode cache for the refine kernels, keyed by WKB
# content. After the cell shuffle, a polygon's candidate pairs arrive
# clustered (sorted by cell id), so a small cache removes the dominant
# refine cost for dense geometries — re-decoding the same polygon once
# per 2048-row Arrow batch (measured: a 1024-vertex polygon decodes in
# ~ms; at 64 polygons × thousands of batches the decode outweighed the
# vectorized edge tests ~5:1). Bounded FIFO so a high-cardinality
# polygon stream cannot grow worker memory without limit.
_DECODE_CACHE: dict[bytes, dict] = {}
_DECODE_CACHE_MAX = 256


def decode_cached(buf: bytes) -> dict:
    g = _DECODE_CACHE.get(buf)
    if g is None:
        if len(_DECODE_CACHE) >= _DECODE_CACHE_MAX:
            _DECODE_CACHE.pop(next(iter(_DECODE_CACHE)))
        g = _DECODE_CACHE[buf] = wkb.decode(buf)
    return g


_PREPARED_CACHE: dict[bytes, "K.PreparedGeom"] = {}


def prepared_cached(buf: bytes) -> "K.PreparedGeom":
    """Decoded + y-bucket-indexed polygon (geom/kernels.PreparedGeom),
    cached per WKB content for the PIP refine: the index build is paid
    once per polygon per worker instead of a dense (npts × nseg) test
    per Arrow batch."""
    p = _PREPARED_CACHE.get(buf)
    if p is None:
        if len(_PREPARED_CACHE) >= _DECODE_CACHE_MAX:
            _PREPARED_CACHE.pop(next(iter(_PREPARED_CACHE)))
        p = _PREPARED_CACHE[buf] = K.prepare(decode_cached(buf))
    return p


@contextmanager
def cache_scope():
    """The one cache lifetime rule: ``keep(df)`` persists ``df`` and
    returns it, and every kept frame is unpersisted when the block
    exits, normally or by an exception. So a cache serves only the
    actions the op runs inside the block; where the returned plan must
    re-read an intermediate, the op returns an eager
    ``localCheckpoint``, freed together with the plan. Caches are keyed
    by plan: keep each frame in one scope only."""
    kept: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        kept.append(df.persist())
        return df

    try:
        yield keep
    finally:
        for df in kept:
            df.unpersist()


# Driver solves (CC contracted graph, watershed chase, compact_cells)
# collect inputs up to this many rows: 2M two-key rows are ~30 MB.
DRIVER_MAX_ROWS = 2_000_000


def plan_size(df: DataFrame, cols: list[str]):
    """What Catalyst knows of ``df``'s size, at no job: ``(rows, exact,
    nbytes, local)`` from the leaf under its Projects, Filters and
    repartitions, or None. A loaded cache gives its rows and its
    uncompressed size, which bounds ``cols`` if they all pass through
    unchanged (else ``nbytes`` is None); a LocalRelation (``local``)
    gives rows only. Rows are an upper bound past a Filter."""
    if df.isStreaming:
        return None
    plan = top = df._jdf.queryExecution().optimizedPlan()
    exact = True
    while (node := plan.nodeName()) in ("Project", "Filter", "Repartition",
                                        "RepartitionByExpression"):
        exact = exact and node != "Filter"
        plan = plan.child()
    if node == "LocalRelation":
        return plan.data().size(), exact, None, True
    if node != "InMemoryRelation" \
            or not plan.cacheBuilder().isCachedColumnBuffersLoaded():
        return None
    stats, out, leaf = plan.stats(), top.output(), plan.outputSet()
    named = {a.name(): a for a in map(out.apply, range(out.size()))}
    through = all(c in named and leaf.contains(named[c]) for c in cols)
    return (stats.rowCount().get(), exact,
            stats.sizeInBytes() if through else None, False)


def small_side(df: DataFrame, *, max_rows: int, max_bytes: int | None = None,
               bytes_col: str | None = None) -> bool:
    """The one broadcast / driver-solve size gate: ``df`` has at most
    ``max_rows`` rows and, with ``max_bytes``, at most that many bytes
    in ``bytes_col`` (100k polygons of 1 MB WKB would be 100 GB on the
    driver). Decided by `plan_size` when its bounds are within the
    limits or its exact rows over them, else by one column-pruned
    aggregate (2 jobs under AQE). A wrong bound can only overcount, so
    it can pick the slower plan, never a wrong one."""
    known = plan_size(df, [bytes_col] if max_bytes is not None else [])
    if known is not None:
        n, exact, nbytes, _ = known
        small = n <= max_rows and (max_bytes is None or nbytes is not None
                                   and nbytes <= max_bytes)
        if not small and not (exact and n > max_rows):
            known = None
    if known is None:
        aggs = [F.count("*").alias("n")]
        if max_bytes is not None:
            aggs.append(F.coalesce(F.sum(F.length(F.col(bytes_col))),
                                   F.lit(0)).alias("nbytes"))
        stat = df.select(*aggs).collect()[0]
        n = stat["n"]
        nbytes = stat["nbytes"] if max_bytes is not None else None
        small = n <= max_rows and (nbytes is None or nbytes <= max_bytes)
    _log.debug("small_side rows=%d bytes=%s max_rows=%d max_bytes=%s "
               "stats=%s small=%s", n, nbytes, max_rows, max_bytes,
               "aggregate" if known is None else "plan", small)
    return small


def driver_solve(op: str, df: DataFrame,
                 solve: Callable[[pd.DataFrame], pd.DataFrame],
                 schema: str) -> DataFrame | None:
    """The shared driver-solve path: when ``df`` has at most
    DRIVER_MAX_ROWS rows, collect it, run ``solve`` (pandas in, pandas
    out) on it and return the answer as a broadcast-hinted frame of
    ``schema``; return None when ``df`` is above the gate, for the
    caller's distributed plan."""
    if not small_side(df, max_rows=DRIVER_MAX_ROWS):
        _log.debug("driver_solve op=%s path=distributed max_rows=%d",
                   op, DRIVER_MAX_ROWS)
        return None
    pdf = df.toPandas()
    _log.debug("driver_solve op=%s path=driver rows=%d", op, len(pdf))
    return F.broadcast(df.sparkSession.createDataFrame(solve(pdf),
                                                       schema=schema))


def cpu_grouped(df: DataFrame, *keys: str):
    """groupBy for CPU-heavy, byte-light group kernels: repartition on
    the keys with an EXPLICIT partition count first. AQE's
    coalescePartitions sizes post-shuffle partitions by BYTES, so
    KB-sized groups feeding an expensive Python/numpy applyInPandas
    kernel collapse onto 1-2 cores and the stage serializes (round-5
    PERF.md: the sf0.1 voronoi gate walled 7.1 s for ~6 s of kernel
    that 32 cores eat in ~0.3 s). User-specified repartition counts
    are exempt from AQE coalescing, and the groupBy reuses the
    exchange (same hash partitioning)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(k) for k in keys]).groupBy(*keys)


def cover_res_for_bounds(mnx: float, mny: float, mxx: float, mxy: float,
                         res_min: int, res_max: int, max_cells: int) -> int:
    """Cover res with a HARD fan-out cap: finest res in [res_min,
    res_max] whose bbox cover stays ≤ max_cells — and when even the
    band floor exceeds the cap (a continent/world-spanning geometry at
    the default band floor would emit 10⁵-10⁶ cells: an unbounded
    explode and a guaranteed hot shuffle at scale), coarsen BELOW
    res_min until the cap holds. Both join consumers handle arbitrary
    observed res values (pip_join re-encodes points per distinct cover
    res; the generic sjoin matches through cell-hierarchy ancestors of
    the observed res sets)."""
    res = C.adaptive_res(mnx, mny, mxx, mxy, res_min, res_max, max_cells)
    while res > 0 and C.bbox_cell_count(mnx, mny, mxx, mxy, res) > max_cells:
        res -= 1
    return res


def cover_cells_udf(res_min: int = C.RES_MIN, res_max: int = C.RES_MAX,
                    max_cells: int = 64, exact: bool = False):
    """pandas_udf: WKB binary series → array<long> adaptive cover cells
    (bounded: ≤ max_cells per geometry, coarsening below the band floor
    for huge geometries — see cover_res_for_bounds)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _cover(wkb_s: pd.Series) -> pd.Series:
        out = []
        for buf in wkb_s:
            if buf is None:
                out.append([])
                continue
            g = wkb.decode(buf)
            mnx, mny, mxx, mxy = K.bounds(g)
            res = cover_res_for_bounds(mnx, mny, mxx, mxy,
                                       res_min, res_max, max_cells)
            if exact:
                cc = C.polygon_to_cells(g, res)
            else:
                cc = C.bbox_to_cells(mnx, mny, mxx, mxy, res)
            out.append(cc.tolist())
        return pd.Series(out)

    return _cover


def explode_cover(df: DataFrame, wkb_col: str, out_col: str = CELL_COL,
                  res_min: int = C.RES_MIN, res_max: int = C.RES_MAX,
                  max_cells: int = 64, exact: bool = False) -> DataFrame:
    """Explode each geometry row into its cover cells."""
    udf = cover_cells_udf(res_min, res_max, max_cells, exact)
    return df.withColumn(out_col, F.explode(udf(F.col(wkb_col))))


def hot_cells(df: DataFrame, cell_col: str, threshold: int,
              sample_fraction: float = 1.0) -> DataFrame:
    """Tiny table of (cell, n_salts) for cells whose row count exceeds the
    threshold — the explicit skew histogram (north rule; SURVEY §4 item 2).

    ``sample_fraction < 1`` estimates the histogram from a seeded sample
    (threshold and counts scaled back up): detection costs 1/fraction as
    much, and salting correctness is INVARIANT to detection errors — a
    missed borderline-hot cell just stays unsalted, an over-estimated
    count just over-spreads — so sampling is always safe. Worth it when
    the fact side is large (the full histogram is a flat O(rows) job;
    see PERF.md skew-regimes table)."""
    src = df
    thr = float(threshold)
    if sample_fraction < 1.0:
        src = df.sample(fraction=sample_fraction, seed=42)
        thr = threshold * sample_fraction
    return (
        src.groupBy(cell_col).count()
        .where(F.col("count") > thr)
        .select(F.col(cell_col).alias("__hot_cell"),
                F.ceil(F.col("count") / F.lit(thr)).cast("int").alias("__n_salts"))
    )


def salt_fact_side(df: DataFrame, cell_col: str, hot: DataFrame, hash_col: str) -> DataFrame:
    """Attach salt to the big (point) side: rows in hot cells spread across
    n_salts buckets; others get salt 0."""
    out = df.join(F.broadcast(hot), df[cell_col] == hot["__hot_cell"], "left")
    return out.withColumn(
        SALT_COL,
        F.when(F.col("__n_salts").isNotNull(),
               F.pmod(F.xxhash64(F.col(hash_col)), F.col("__n_salts")).cast("int"))
        .otherwise(F.lit(0)),
    ).drop("__hot_cell", "__n_salts")


def salt_dim_side(df: DataFrame, cell_col: str, hot: DataFrame) -> DataFrame:
    """Replicate the small (polygon-cover) side once per salt bucket."""
    out = df.join(F.broadcast(hot), df[cell_col] == hot["__hot_cell"], "left")
    return (
        out.withColumn("__ns", F.coalesce(F.col("__n_salts"), F.lit(1)))
        .withColumn(SALT_COL, F.explode(F.sequence(F.lit(0), (F.col("__ns") - 1).cast("int"))))
        .drop("__hot_cell", "__n_salts", "__ns")
    )


def refine_covers(pair_df: DataFrame, *, poly_wkb: str, lon: str, lat: str,
                  predicate: str = "covers") -> DataFrame:
    """Exact PIP refine over candidate pairs.

    Scalar pandas UDF boolean filter: ONLY (wkb, lon, lat) cross the
    Arrow boundary — every other pair column stays JVM-side, so Catalyst
    keeps column pruning and whole-stage codegen around the refine (the
    previous mapInPandas pass-through shipped the full candidate row
    through the Python worker both ways). Per batch, candidates group by
    WKB value so each polygon decodes once and tests its points
    vectorized (K.covers_xy — the reference's exact `intersects`
    refine). predicate: 'covers' (boundary in) or 'contains' (strict
    interior)."""
    use_covers = predicate == "covers"

    @F.pandas_udf(T.BooleanType())
    def _flag(wkbs: pd.Series, xs: pd.Series, ys: pd.Series) -> pd.Series:
        keep = np.zeros(len(wkbs), dtype=bool)
        if len(wkbs):
            x = xs.to_numpy(dtype=np.float64)
            y = ys.to_numpy(dtype=np.float64)
            for buf, idx in wkbs.groupby(wkbs, sort=False).indices.items():
                if buf is None:
                    continue
                prep = prepared_cached(buf)
                keep[idx] = (prep.covers_xy(x[idx], y[idx]) if use_covers
                             else prep.contains_xy(x[idx], y[idx]))
        return pd.Series(keep)

    return pair_df.where(_flag(F.col(poly_wkb), F.col(lon), F.col(lat)))
