"""Raster hydrology over tiled D8 flow-direction mosaics.

The reference's terrain stack stops at gdal.DEMProcessing derivatives
(raster.py:794-824); flow accumulation is the next op every DEM user
runs (ArcGIS "Flow Accumulation" / GRASS r.watershed semantics):

    acc(v) = number of upstream pixels whose D8 path reaches v
           = sum over donors u of (acc(u) + 1),  self excluded.

Distributed design: the flow-direction mosaic induces a functional
forest (each pixel ≤ 1 out-edge, drops strictly decrease ⇒ acyclic).
Drainage basins are its connected components, and a basin is the unit
of locality — so the plan is:

  decode tiles → (src, dst) pixel edge list         (mapInPandas)
  → connected components (pointer jumping, O(log d) rounds)
  → groupBy(basin) → in-task topological count      (applyInPandas)
  → left-join back onto all valid pixels (isolated pixels → 0)

At 100 TB the skew risk is one continental mega-basin (an Amazon);
basins above ``max_component_rows`` edges instead run the iterative
carry-propagation path (method='iterative'): per round
carry_{k+1}(v) = Σ_{u→v} carry_k(u), acc += carry — pure DataFrame
joins cut with localCheckpoint, rounds = longest flow-path length.
Both paths are proven equal in pytest.

Watershed labels each pixel with the end of its D8 path by pointer
doubling. A mosaic of at most core.DRIVER_MAX_ROWS pixels is collected
once and its edges (``_edges``) and chase (``_chase``) run on the
driver; larger mosaics run the same two functions as a ``mapInPandas``
and as fixpoint's ``driver=`` hook around the doubling rounds.
"""

from __future__ import annotations

import logging
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..plans.fixpoint import fixpoint
from . import codec
from .stitch import _D8, _grid_indexed

__all__ = ["flow_edges", "flow_accumulation", "watershed"]

_log = logging.getLogger("gis_tools_spark")

_KEY_SHIFT = 32  # node key = giy << 32 | gix


def _edges(pdf: pd.DataFrame, no_data: float) -> pd.DataFrame:
    """The (src, dst, gix, giy) edges of a batch of grid-indexed D8
    tiles: one row per valid pixel, dst NULL for pits/flats."""
    recs = []
    for i in range(len(pdf)):
        r = pdf.iloc[i]
        arr = codec.decode(r["bytes"], int(r["w"]), int(r["h"]), r["fmt"])
        tx, ty = int(r["__col"]), int(r["__row"])
        rows_, cols_ = np.nonzero(arr != no_data)
        gix = tx * int(r["w"]) + cols_
        giy = ty * int(r["h"]) + rows_
        d8 = arr[rows_, cols_].astype(np.int64)
        dst = np.full(len(d8), np.nan)
        for dx, dy, code in _D8:
            m = d8 == code
            dst[m] = ((giy[m] + dy).astype(np.int64) << _KEY_SHIFT) \
                | (gix[m] + dx)
        recs.append(pd.DataFrame({
            "src": (giy.astype(np.int64) << _KEY_SHIFT) | gix,
            "dst": pd.Series(dst).astype("Int64"),
            "gix": gix.astype(np.int64),
            "giy": giy.astype(np.int64)}))
    return pd.concat(recs, ignore_index=True)


def _edge_frame(t: DataFrame, no_data: float) -> DataFrame:
    """``_edges`` over every tile of a ``_grid_indexed`` mosaic."""
    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                yield _edges(pdf, no_data)

    return t.mapInPandas(run, schema="src long, dst long, gix long, giy long")


def flow_edges(flowdir: DataFrame, *,
               no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """(src, dst, gix, giy) pixel edge list from a tiled D8 mosaic —
    one row per valid pixel; dst is NULL for pits/flats (d8 = 0).
    Node keys pack (giy, gix) into one long so the graph ops shuffle
    8-byte keys, not structs."""
    t, _, _ = _grid_indexed(flowdir)
    return _edge_frame(t, no_data)


def _solve_basin(pdf: pd.DataFrame) -> pd.DataFrame:
    """In-task topological donor count over one basin's edge list."""
    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    nodes = np.unique(np.concatenate([src, dst]))
    idx = {int(n): i for i, n in enumerate(nodes)}
    n = len(nodes)
    nxt = np.full(n, -1, dtype=np.int64)
    indeg = np.zeros(n, dtype=np.int64)
    for s, d in zip(src, dst):
        nxt[idx[int(s)]] = idx[int(d)]
        indeg[idx[int(d)]] += 1
    acc = np.zeros(n, dtype=np.int64)
    stack = list(np.nonzero(indeg == 0)[0])
    while stack:
        u = stack.pop()
        v = nxt[u]
        if v >= 0:
            acc[v] += acc[u] + 1
            indeg[v] -= 1
            if indeg[v] == 0:
                stack.append(v)
    return pd.DataFrame({"node": nodes.astype(np.int64),
                         "acc": acc})


def flow_accumulation(flowdir: DataFrame, *,
                      no_data: float = codec.NO_DATA_F32,
                      max_component_rows: int = 50_000_000,
                      method: str = "auto") -> DataFrame:
    """Per-pixel upstream cell count (gix, giy, acc) from a tiled D8
    flow-direction mosaic. method='auto' solves each drainage basin in
    one task and falls back to the iterative carry propagation for
    basins above ``max_component_rows`` edges; 'iterative' forces the
    all-DataFrame path (no per-basin materialization). Eager: the
    result is a local checkpoint."""
    from ..operators.core import cache_scope, cpu_grouped
    from ..operators.network import connected_components

    ed = flow_edges(flowdir, no_data=no_data)
    nodes = ed.select("src", "gix", "giy")
    with cache_scope() as keep:
        edges = keep(ed.where(F.col("dst").isNotNull()).select("src", "dst"))
        if method == "iterative":
            acc = _accumulate_iterative(edges)
        else:
            comp = connected_components(
                edges.select(F.col("src").alias("src_key"),
                             F.col("dst").alias("dst_key")))
            e = edges.join(comp.withColumnRenamed("node", "src"), on="src")
            big = []
            if method == "auto":
                big = [r["component"] for r in
                       e.groupBy("component").count()
                       .where(F.col("count") > max_component_rows)
                       .collect()]
            small = e.where(~F.col("component").isin(big)) if big else e
            # cpu_grouped: basin edge lists are KB-sized but the in-task
            # topological solve is CPU-heavy — AQE byte-coalescing would
            # serialize basins onto 1-2 cores (round-5 verdict #2 audit)
            acc = cpu_grouped(small, "component").applyInPandas(
                lambda k, pdf: _solve_basin(pdf),
                schema="node long, acc long")
            if big:
                acc = acc.unionByName(_accumulate_iterative(keep(
                    e.where(F.col("component").isin(big))
                    .select("src", "dst"))))
        # checkpointed here: the returned plan reads no cache
        return (nodes.join(acc.withColumnRenamed("node", "src"),
                           on="src", how="left")
                .select("gix", "giy",
                        F.coalesce("acc", F.lit(0)).cast("long")
                        .alias("acc"))
                .localCheckpoint(eager=True))


def _chase(pdf: pd.DataFrame) -> pd.DataFrame:
    """Every (src, ptr) pointer chain followed to its end in one
    vectorized doubling pass; a pointer to a node that is not a src
    (an off-grid cell) ends its chain there."""
    srcs = pdf["src"].to_numpy(np.int64)
    lab = pdf["ptr"].to_numpy(np.int64).copy()
    pos = pd.Series(np.arange(len(srcs)), index=srcs)
    p = pos.reindex(lab).fillna(-1).to_numpy(np.int64)
    idx = np.arange(len(srcs))
    while True:
        m = (p >= 0) & (p != idx)
        if not m.any():
            break
        new_lab = lab[p[m]]
        new_p = p[p[m]]
        if (np.array_equal(new_lab, lab[m])
                and np.array_equal(new_p, p[m])):
            break
        lab[m] = new_lab
        p[m] = new_p
    return pd.DataFrame({"src": srcs, "ptr": lab})


def watershed(flowdir: DataFrame, *,
              no_data: float = codec.NO_DATA_F32) -> DataFrame:
    """Watershed delineation: label every pixel with its pour point —
    the terminal pixel its D8 path drains to (ArcGIS "Watershed" with
    all sinks as pour points). Pits/flats label themselves; paths that
    exit the mosaic label the off-grid cell they exit into.

    Pointer doubling on the functional flow graph: ptr ← ptr∘ptr per
    round, O(log longest-path) rounds total, each one self-join +
    localCheckpoint — the same O(log d) round structure as the engine's
    connected components, so a continental mega-basin needs ~30 rounds,
    not ~10^4. A mosaic of at most core.DRIVER_MAX_ROWS pixels (the
    grid summary's count) is instead collected once (by the summary
    itself, where it collected them) and its edges and chase run on the
    driver, through the same ``_edges`` and ``_chase`` as the
    distributed plan. Above
    that gate, fixpoint's ``driver=`` hook still chases an edge list
    under it (a mosaic of mostly no-data) on the driver.

    Returns (gix, giy, basin, basin_gix, basin_giy); `basin` is the
    packed pour-point key, shared by every pixel of one watershed."""
    from ..operators import core

    t, pixels, collect = _grid_indexed(flowdir)
    mask = (1 << _KEY_SHIFT) - 1
    if pixels <= core.DRIVER_MAX_ROWS:
        _log.debug("watershed path=driver pixels=%d", pixels)
        ed = _edges(collect(), no_data)
        ptr = _chase(pd.DataFrame({"src": ed["src"],
                                   "ptr": ed["dst"].fillna(ed["src"])}))
        basin = ptr["ptr"].to_numpy(np.int64)
        return flowdir.sparkSession.createDataFrame(pd.DataFrame({
            "gix": ed["gix"], "giy": ed["giy"], "basin": basin,
            "basin_gix": basin & mask, "basin_giy": basin >> _KEY_SHIFT}),
            schema="gix long, giy long, basin long, basin_gix long, "
                   "basin_giy long")
    _log.debug("watershed path=distributed pixels=%d", pixels)
    ed = _edge_frame(t, no_data)
    nodes = ed.select("src", "gix", "giy")
    ptr = (ed.select("src", F.coalesce("dst", "src").alias("ptr"))
           .localCheckpoint(eager=True))

    def double(ptr: DataFrame) -> DataFrame:
        hop = ptr.select(F.col("src").alias("p_src"),
                         F.col("ptr").alias("p_ptr"))
        return (ptr.join(hop, ptr["ptr"] == hop["p_src"], "left")
                .select("src", F.coalesce("p_ptr", "ptr").alias("ptr"),
                        (F.col("p_ptr").isNotNull()
                         & (F.col("p_ptr") != F.col("ptr")))
                        .alias("__chg")))

    # doubling reaches paths of 2^64 pixels, far past any mosaic
    first = ptr
    ptr, _, _ = fixpoint("watershed", ptr, double, max_rounds=64,
                         driver=_chase, schema="src long, ptr long")
    # release the first pointers' checkpoint blocks: the driver solve
    # returns a new frame and every round checkpoints its own, so
    # nothing returned reads them (local checkpoints are otherwise freed
    # only on driver GC)
    first._jdf.queryExecution().logical().rdd().unpersist(False)
    return (nodes.join(ptr, on="src")
            .select("gix", "giy", F.col("ptr").alias("basin"),
                    F.col("ptr").bitwiseAND(F.lit(mask)).alias("basin_gix"),
                    F.shiftright("ptr", _KEY_SHIFT).alias("basin_giy")))


def _accumulate_iterative(edges: DataFrame) -> DataFrame:
    """carry_{k+1}(v) = Σ_{u→v} carry_k(u); acc(v) = Σ_k carry_k(v),
    as one (node, c, a) state frame: c the current carry, a the sum so
    far. Rounds = longest flow-path length, which in an acyclic flow
    graph is below its node count — a flow-direction cycle raises. The
    caller keeps ``edges`` cached for the rounds."""
    state = (edges.select(F.col("src").alias("node")).distinct()
             .select("node", F.lit(1).cast("long").alias("c"),
                     F.lit(0).cast("long").alias("a"))
             .localCheckpoint(eager=True))

    def carry(state: DataFrame) -> DataFrame:
        nxt = (edges.join(state.where(F.col("c") > 0),
                          F.col("src") == F.col("node"))
               .groupBy(F.col("dst").alias("node"))
               .agg(F.sum("c").alias("__c")))
        return (state.select("node", "a").join(nxt, on="node", how="full")
                .select("node", F.coalesce("__c", F.lit(0)).alias("c"),
                        (F.coalesce("a", F.lit(0))
                         + F.coalesce("__c", F.lit(0))).alias("a"),
                        F.col("__c").isNotNull().alias("__chg")))

    state, _, _ = fixpoint("flow_accumulation", state, carry,
                           max_rounds=state.count() + 1)
    return state.select("node", F.col("a").alias("acc"))
