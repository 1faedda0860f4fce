"""Density-based spatial clustering — a distributed, deterministic
DBSCAN over the engine's grid-binned candidate pairs.

Semantics (Ester et al. 1996, the algorithm ArcGIS "Density-based
Clustering" and sklearn.cluster.DBSCAN implement), with the one
scan-order ambiguity pinned down so the result is a pure function of
the input set:

- |N_eps(p)| counts p itself (standard), core ⇔ |N_eps(p)| >= min_pts;
- a cluster is a connected component of the core points under the
  eps-neighbor relation, labeled by its MINIMUM core id;
- a border point (non-core within eps of >=1 core) joins the MINIMUM
  cluster label among its core neighbors (classic DBSCAN assigns it to
  whichever cluster's seed list scans it first — order-dependent; the
  min rule is deterministic and matches one valid DBSCAN execution);
- everything else is noise (cluster NULL).

Distances are planar in the coordinate units (degrees on the driver
tables); callers needing metric eps should reproject first
(functions/crs.transform_points) — same contract as sklearn.

Plan shape / 100 TB notes:
- candidate pairs come from a 3x3 neighbor-bin equi-join at bin width
  eps (explode(9) on one side, shuffle on the bin key) — the standard
  grid method; pair volume is sum of products of adjacent-bin counts,
  i.e. O(n * local density), never O(n^2);
- the per-point neighbor count and the core filter are one map-side
  combinable groupBy;
- only the CORE-CORE edge graph (orders of magnitude smaller than the
  corpus at any sane min_pts) enters the iterative stage —
  network.connected_components' pointer-jumping min-label propagation,
  O(log diameter) rounds;
- dense-city bin skew is the same skew the PIP join handles; the pair
  join inherits AQE skew-join as backstop, and min_pts caps how dense a
  USEFUL eps-neighborhood can be before everything is one cluster
  anyway (callers shrink eps, which shrinks bins).

Reference scope: gis-tools has no clustering op; this is brief-scope
(training-data pipeline: geotag-cluster mining / POI extraction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .core import cache_scope
from .network import connected_components

__all__ = ["dbscan", "st_dbscan"]


def _eps_pairs_unordered(points: DataFrame, *, id_col: str,
                         lon: str, lat: str, eps: float) -> DataFrame:
    """Each UNORDERED neighbor pair {p, q}, p != q, with planar distance
    <= eps, emitted exactly once (arbitrary orientation). Forward-stencil
    grid join (round-6, guide §2.3): offsets {(0,0),(1,0),(0,1),(1,1),
    (1,-1)} emit every cross-bin pair once — candidate volume 5/9 of the
    classic 9-offset join — and only the same-bin offset needs the
    id tiebreak."""
    e = F.lit(float(eps))
    b = points.select(
        F.col(id_col).alias("__pid"),
        F.col(lon).alias("__px"), F.col(lat).alias("__py"),
        F.floor(F.col(lon) / e).alias("bx"),
        F.floor(F.col(lat) / e).alias("by"))
    offs = [(0, 0), (1, 0), (0, 1), (1, 1), (1, -1)]
    left = b.select(
        F.col("__pid").alias("ia"), F.col("__px").alias("ax"),
        F.col("__py").alias("ay"),
        F.explode(F.array(*[
            F.struct((F.col("bx") + dx).alias("bx"),
                     (F.col("by") + dy).alias("by"),
                     F.lit(dx == 0 and dy == 0).alias("sm"))
            for dx, dy in offs])).alias("t"),
    ).select("ia", "ax", "ay", F.col("t.bx").alias("bx"),
             F.col("t.by").alias("by"), F.col("t.sm").alias("sm"))
    right = b.select(F.col("__pid").alias("ib"), F.col("__px").alias("bx_c"),
                     F.col("__py").alias("by_c"), "bx", "by")
    dx = F.col("ax") - F.col("bx_c")
    dy = F.col("ay") - F.col("by_c")
    return (left.join(right, on=["bx", "by"])
            .where((~F.col("sm") | (F.col("ia") < F.col("ib")))
                   & (dx * dx + dy * dy <= e * e))
            .select("ia", "ib"))


def dbscan(points: DataFrame, *, id_col: str = "id",
           lon: str = "lon", lat: str = "lat",
           eps: float, min_pts: int) -> DataFrame:
    """One row per input point: (id_col, is_core boolean, cluster long —
    NULL for noise). Deterministic: cluster = min core id of the
    component; borders take the min neighboring cluster."""
    pairs = _eps_pairs_unordered(points, id_col=id_col, lon=lon, lat=lat,
                                 eps=eps)
    return _labels_from_pairs(points, pairs, id_col=id_col,
                              min_pts=min_pts)


def _labels_from_pairs(points: DataFrame, pairs: DataFrame, *,
                       id_col: str, min_pts: int) -> DataFrame:
    """Shared DBSCAN label phase over the UNORDERED neighbor pair set
    (each {p,q}, p != q, exactly once, arbitrary orientation): core
    filter → pointer-jumping components on the core graph → min-rule
    border assignment. Working on unordered pairs halves the cached
    pair set and every downstream join vs the round-5 ordered relation
    (guide §2.3 — shuffle fewer bytes). The labels come back as an
    eager local checkpoint, so the pair and core caches are freed on
    return."""
    # |N_eps(p)| counts p itself: core ⇔ (#unordered pairs touching p)
    # + 1 >= min_pts. Isolated points never appear in `pairs`, so for
    # min_pts <= 1 every point is core.
    if int(min_pts) <= 1:
        core = points.select(F.col(id_col).alias("__cid")).distinct()
    else:
        touch = (pairs.select(F.col("ia").alias("__cid"))
                 .unionAll(pairs.select(F.col("ib").alias("__cid"))))
        core = (touch.groupBy("__cid").agg(F.count("*").alias("__n"))
                .where(F.col("__n") >= int(min_pts) - 1)
                .select("__cid"))
    core_edges = (pairs
                  .join(core.withColumnRenamed("__cid", "ia"), on="ia")
                  .join(core.withColumnRenamed("__cid", "ib"), on="ib")
                  .select(F.col("ia").alias("src_key"),
                          F.col("ib").alias("dst_key")))
    with cache_scope() as keep:
        keep(pairs)
        labels = connected_components(core_edges)
        core_clusters = keep(
            core.join(labels.withColumnRenamed("node", "__cid"),
                      on="__cid", how="left")
            .select(F.col("__cid"),
                    F.coalesce("component", F.col("__cid"))
                    .alias("__cluster")))
        # border points: non-core, >=1 core neighbor; min cluster among
        # them — probe the unordered pairs from both ends
        hits = (pairs.join(core_clusters.withColumnRenamed("__cid", "ib"),
                           on="ib")
                .select(F.col("ia").alias("__bid"), "__cluster")
                .unionAll(
                    pairs.join(core_clusters.withColumnRenamed("__cid", "ia"),
                               on="ia")
                    .select(F.col("ib").alias("__bid"), "__cluster")))
        border = (hits
                  .join(core.withColumnRenamed("__cid", "__bid"), on="__bid",
                        how="left_anti")
                  .groupBy("__bid").agg(F.min("__cluster").alias("__cluster")))
        out = (points
               .join(core_clusters.withColumnRenamed("__cid", id_col),
                     on=id_col, how="left")
               .withColumnRenamed("__cluster", "__core_cluster")
               .join(border.withColumnRenamed("__bid", id_col), on=id_col,
                     how="left")
               .select(
                   F.col(id_col),
                   F.col("__core_cluster").isNotNull().alias("is_core"),
                   F.coalesce("__core_cluster", "__cluster").cast("long")
                   .alias("cluster")))
        return out.localCheckpoint(eager=True)


def _st_pairs_unordered(points: DataFrame, *, id_col: str,
                        lon: str, lat: str, ts_col: str, eps: float,
                        eps_t_s: float) -> DataFrame:
    """Each UNORDERED spatiotemporal neighbor pair {p, q}, p != q
    (planar distance <= eps AND |Δt| <= eps_t_s), emitted exactly once.
    3-D forward stencil: the 13 lexicographically-positive offsets of
    {-1,0,1}³ emit every cross-bin pair once — candidate volume 14/27
    of the classic 27-offset join — and only the same-bin offset needs
    the id tiebreak (guide §2.3)."""
    e = F.lit(float(eps))
    et_us = int(round(eps_t_s * 1_000_000))
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    b = points.select(
        F.col(id_col).alias("__pid"),
        F.col(lon).alias("__px"), F.col(lat).alias("__py"),
        us.alias("__pt"),
        F.floor(F.col(lon) / e).alias("bx"),
        F.floor(F.col(lat) / e).alias("by"),
        F.floor(us / F.lit(et_us)).alias("bt"))
    offs = [(0, 0, 0)] + [
        (dx, dy, dt) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        for dt in (-1, 0, 1)
        if (dx, dy, dt) > (0, 0, 0)]
    left = b.select(
        F.col("__pid").alias("ia"), F.col("__px").alias("ax"),
        F.col("__py").alias("ay"), F.col("__pt").alias("at"),
        F.explode(F.array(*[
            F.struct((F.col("bx") + dx).alias("bx"),
                     (F.col("by") + dy).alias("by"),
                     (F.col("bt") + dt).alias("bt"),
                     F.lit((dx, dy, dt) == (0, 0, 0)).alias("sm"))
            for dx, dy, dt in offs])).alias("t"),
    ).select("ia", "ax", "ay", "at", F.col("t.bx").alias("bx"),
             F.col("t.by").alias("by"), F.col("t.bt").alias("bt"),
             F.col("t.sm").alias("sm"))
    right = b.select(F.col("__pid").alias("ib"),
                     F.col("__px").alias("bx_c"),
                     F.col("__py").alias("by_c"),
                     F.col("__pt").alias("bt_c"), "bx", "by", "bt")
    dx = F.col("ax") - F.col("bx_c")
    dy = F.col("ay") - F.col("by_c")
    return (left.join(right, on=["bx", "by", "bt"])
            .where((~F.col("sm") | (F.col("ia") < F.col("ib")))
                   & (dx * dx + dy * dy <= e * e)
                   & (F.abs(F.col("at") - F.col("bt_c"))
                      <= F.lit(et_us)))
            .select("ia", "ib"))


def st_dbscan(points: DataFrame, *, id_col: str = "id",
              lon: str = "lon", lat: str = "lat", ts_col: str = "ts",
              eps: float, eps_t_s: float, min_pts: int) -> DataFrame:
    """ST-DBSCAN (Birant & Kut 2007 core semantics): DBSCAN whose
    neighborhood requires BOTH planar distance <= eps AND time gap
    <= eps_t_s — events close in space but hours apart no longer chain
    into one blob, which is what separates recurring gatherings from
    one continuous one. Same deterministic label contract as dbscan
    (min-core-id components, min-rule borders), same 100 TB plan shape
    with one extra bin dimension."""
    pairs = _st_pairs_unordered(points, id_col=id_col, lon=lon, lat=lat,
                                ts_col=ts_col, eps=eps, eps_t_s=eps_t_s)
    return _labels_from_pairs(points, pairs, id_col=id_col,
                              min_pts=min_pts)
