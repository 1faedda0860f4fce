"""kNN nearest-feature lookup (SURVEY.md §2.5; reference
/root/reference/gistools/geometry.py:682-705 `nearest_feature`).

Reference semantics reproduced exactly:
1. if the query geometry INTERSECTS any candidates, the winner is the
   intersecting candidate with the minimum CENTROID-to-centroid
   distance, and the reported distance is 0;
2. otherwise the winner is the candidate with minimum exact geometry
   distance (the reference shortlists by bbox via r_tree.nearest; we
   compute the true argmin, which is the same answer whenever the
   reference's bbox shortlist contains the true nearest).
Ties broken by smallest candidate id (deterministic; the reference's
np.argmin keeps the first index).

Physical strategy (scale path): driver-side ring expansion over cell
keys — join points' grid-disk cells at a coarse res against candidate
cover cells, doubling k until every point has a hit, then one extra
expansion to ceil(best_dist / cell_width) so a closer candidate in an
outer ring can't be missed (exactness guard). Each round is a Catalyst
sort-merge/broadcast equi-join. Small candidate side short-circuits to
a broadcast all-pairs pass.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .. import cells as C
from ..geom import kernels as K, wkb
from .sjoin import _BroadcastIndex, _strategy

_log = logging.getLogger("gis_tools_spark")


def nearest_feature(points: DataFrame, features: DataFrame, *,
                    lon: str = "lon", lat: str = "lat",
                    point_id: str = "pid",
                    feat_wkb: str = "geometry_wkb", feat_id: str = "gid",
                    res: int = C.RES_MIN,
                    strategy: str = "auto") -> DataFrame:
    """Returns one row per point: point cols + (feat_id, nearest_dist).
    ``auto`` takes the broadcast all-pairs pass when the features pass
    the joins' shared broadcast gate (`sjoin._strategy`), else the
    distributed ring expansion. Feature rows with a null geometry never
    match."""
    strategy = _strategy("nearest_feature", strategy,
                         ("features", features, feat_wkb), big="rings")
    if strategy == "broadcast":
        return _nearest_broadcast(points, features, lon=lon, lat=lat,
                                  point_id=point_id, feat_wkb=feat_wkb,
                                  feat_id=feat_id)
    return _nearest_rings(points, features, lon=lon, lat=lat,
                          point_id=point_id, feat_wkb=feat_wkb,
                          feat_id=feat_id, res=res)


def _nearest_broadcast(points, features, *, lon, lat, point_id, feat_wkb, feat_id):
    """All-pairs vectorized pass with the features broadcast (no shuffle).

    The UDF emits, per point, the winner's position in the collected
    features and its distance (only lon/lat cross Arrow); the winner's
    id is looked up JVM-side in the collected ids, with no join."""
    from pyspark.sql import types as T

    nf = "nearest_" + feat_id
    index = _BroadcastIndex(
        features.select(F.col(feat_id).alias(nf), feat_wkb), feat_wkb, None)
    bc = index.bc
    nn_t = T.StructType([T.StructField("i", T.IntegerType()),
                         T.StructField("d", T.DoubleType())])

    @F.pandas_udf(nn_t)
    def _nn(lons: pd.Series, lats: pd.Series) -> pd.DataFrame:
        geoms = bc.value[0]
        valid = [j for j, g in enumerate(geoms) if g is not None]
        xs = lons.to_numpy(dtype=np.float64)
        ys = lats.to_numpy(dtype=np.float64)
        n, m = len(xs), len(valid)
        if n == 0 or m == 0:
            return pd.DataFrame({"i": pd.Series([None] * n, dtype="Int32"),
                                 "d": [np.nan] * n})
        cents = np.array([K.centroid(geoms[j]) for j in valid])
        dist = np.empty((n, m))
        for k, j in enumerate(valid):
            dist[:, k] = K.point_to_geom_distance(geoms[j], xs, ys)
        cdist = np.sqrt((xs[:, None] - cents[None, :, 0]) ** 2
                        + (ys[:, None] - cents[None, :, 1]) ** 2)
        inter = dist == 0.0
        any_inter = inter.any(axis=1)
        # intersecting rows: argmin centroid distance among intersecting
        pick_c = np.where(inter, cdist, np.inf).argmin(axis=1)
        pick_d = dist.argmin(axis=1)
        pick = np.where(any_inter, pick_c, pick_d)
        best = np.where(any_inter, 0.0, dist[np.arange(n), pick_d])
        return pd.DataFrame({"i": np.asarray(valid, dtype=np.int32)[pick],
                             "d": best})

    return (points.withColumn("__nn", _nn(F.col(lon), F.col(lat)))
            .select("*",
                    F.element_at(index.ids(nf), F.col("__nn.i") + 1).alias(nf),
                    F.col("__nn.d").alias("nearest_dist"))
            .drop("__nn"))


def _nearest_rings(points, features, *, lon, lat, point_id, feat_wkb, feat_id,
                   res, max_k: int = 64):
    """Distributed ring-expansion kNN with bounded fan-out.

    Round k: points emit only the ANNULUS of cells with Chebyshev
    distance in (prev_k, k] — not the full disk, whose (2k+1)^2 explode
    was the round-1 scale-killer for isolated points (a planetary-sparse
    point at k=4096 fanned to ~67M cells). Features in the inner disk
    were proven absent by earlier rounds, so the annulus is sufficient.
    Exactness: after the first hit at radius k with winner distance d,
    one extra annulus (k, ceil(d/cell_w)+1] is unioned in and the
    per-point min re-picked. Points still dry at max_k — and hits whose
    confirm radius exceeds 2*max_k — fall back to the broadcast
    all-pairs pass (few stragglers by construction).
    """
    from .core import CELL_COL, explode_cover

    # cells are 360/2^res wide but 180/2^res tall — the exactness radius
    # must use the smaller extent
    cell_w = 180.0 / (1 << res)
    # persist: every expansion round joins against this cover — without
    # it the cover UDF re-runs over the whole feature side per round
    cover = explode_cover(features.select(feat_id, feat_wkb), feat_wkb,
                          CELL_COL, res, res, max_cells=4096).drop(feat_wkb) \
        .persist()

    feats = features.select(feat_id, feat_wkb)
    w = Window.partitionBy(point_id).orderBy(F.col("__order"), F.col(feat_id))
    nf = "nearest_" + feat_id
    w2 = Window.partitionBy(point_id).orderBy(F.col("__order"), F.col(nf))

    def _round_best(pts, lo, hi):
        cand = _ring_join(pts, cover, lon, lat, res, lo, hi, CELL_COL)
        scored = _score(cand.join(feats, on=feat_id), lon=lon, lat=lat,
                        feat_wkb=feat_wkb)
        return (scored.withColumn("__rn", F.row_number().over(w))
                .where("__rn = 1").drop("__rn", feat_wkb)
                .withColumnRenamed(feat_id, nf))

    # localCheckpoint each iteration: the loop otherwise stacks windows,
    # anti-joins and UDF stages into one deep lazy plan that Catalyst
    # re-executes per action.
    remaining = points.localCheckpoint(eager=True)
    winners = []
    deferred = []  # hit points whose confirm radius exceeded 2*max_k —
                   # routed to the broadcast fallback, never dropped
    k, lo, rounds = 0, 0, 0
    while k <= max_k:
        rounds += 1
        best = _round_best(remaining, lo, k).localCheckpoint(eager=True)
        if best.limit(1).count():
            kconf = best.agg(F.max(F.ceil(F.col("nearest_dist") / F.lit(cell_w)))).collect()[0][0]
            kconf = int(kconf or 0) + 1
            if kconf > 2 * max_k:
                # confirm annulus too wide to enumerate — defer the hit
                # points to the broadcast fallback below
                hit = best.select(point_id)
                deferred.append(remaining.join(hit, on=point_id, how="left_semi")
                                .localCheckpoint(eager=True))
                remaining = remaining.join(hit, on=point_id, how="left_anti") \
                                     .localCheckpoint(eager=True)
                if remaining.limit(1).count() == 0:
                    remaining = None
                    break
                lo = k + 1
                k = 1 if k == 0 else k * 2
                continue
            if kconf > k:
                # exactness re-check: only the OUTER annulus (k, kconf] —
                # the inner disk is already reflected in `best`
                hit_pts = remaining.join(best.select(point_id), on=point_id,
                                         how="left_semi")
                extra = _round_best(hit_pts, k + 1, kconf)
                best = (best.unionByName(extra)
                        .withColumn("__rn", F.row_number().over(w2))
                        .where("__rn = 1").drop("__rn")
                        .localCheckpoint(eager=True))
            winners.append(best.drop("__order"))
            remaining = remaining.join(best.select(point_id), on=point_id,
                                       how="left_anti").localCheckpoint(eager=True)
            if remaining.limit(1).count() == 0:
                remaining = None
                break
        lo = k + 1
        k = 1 if k == 0 else k * 2
    fallback = list(deferred)
    if remaining is not None and remaining.limit(1).count():
        fallback.append(remaining)
    _log.debug("nearest_feature rounds=%d deferred=%d fallback=%s",
               rounds, len(deferred), bool(fallback))
    if fallback:
        fb = fallback[0]
        for x in fallback[1:]:
            fb = fb.unionByName(x)
        winners.append(_nearest_broadcast(fb, features, lon=lon, lat=lat,
                                          point_id=point_id, feat_wkb=feat_wkb,
                                          feat_id=feat_id))
    # every winner piece is eagerly checkpointed and the broadcast
    # fallback never touches the cover — safe to release it here
    # (round-3 advisory: persists accumulated across invocations)
    cover.unpersist()
    if not winners:
        # empty points input: empty DataFrame with the output schema
        return _nearest_broadcast(points.limit(0), features, lon=lon, lat=lat,
                                  point_id=point_id, feat_wkb=feat_wkb,
                                  feat_id=feat_id)
    out = winners[0]
    for x in winners[1:]:
        out = out.unionByName(x)
    return out


def _ring_join(points, cover, lon, lat, res, lo, hi, cell_col):
    """Join points to cover via cells with Chebyshev distance in
    [lo, hi] of the point's cell (annulus; lo=0 → full disk). The
    explode materializes (2hi+1)^2 offsets then filters — bounded by the
    max_k cap, and only on the shrinking 'remaining' set."""
    base = C.cell_column(F.col(lon), F.col(lat), res)
    n = 1 << res
    pts = points.withColumn("__c", base)
    offs = F.expr(f"explode(flatten(transform(sequence(-{hi},{hi}), dx -> "
                  f"filter(transform(sequence(-{hi},{hi}), dy -> struct(dx, dy)), "
                  f"o -> greatest(abs(o.dx), abs(o.dy)) >= {lo}))))")
    pts = pts.withColumn("__o", offs)
    ix0 = ((F.col("__c") - F.lit(res) * F.lit(1 << C.RES_SHIFT)) / F.lit(1 << C.IX_SHIFT)).cast("long")
    iy0 = F.col("__c") % F.lit(1 << C.IX_SHIFT)
    nix = ix0 + F.col("__o.dx")
    niy = iy0 + F.col("__o.dy")
    valid = (nix >= 0) & (nix < n) & (niy >= 0) & (niy < n)
    cell = (F.lit(res).cast("long") * F.lit(1 << C.RES_SHIFT)
            + nix * F.lit(1 << C.IX_SHIFT) + niy)
    pts = pts.where(valid).withColumn(cell_col, cell).drop("__c", "__o")
    joined = pts.join(cover, on=cell_col).drop(cell_col)
    return joined.dropDuplicates([c for c in points.columns] + [cover.columns[0]])


def _score(pairs: DataFrame, *, lon, lat, feat_wkb) -> DataFrame:
    """Exact distance with the reference tie-break: intersecting → dist 0
    but ordered by centroid distance (we fold both into one sort key:
    nearest_dist for ordering = (0, centroid_dist) when intersecting)."""
    from pyspark.sql import types as T

    # struct-returning scalar UDF: only (wkb, lon, lat) cross Arrow; the
    # pair's attribute columns stay JVM-side (pruning holds around it)
    sc_t = T.StructType([T.StructField("nearest_dist", T.DoubleType()),
                         T.StructField("__order", T.DoubleType())])

    @F.pandas_udf(sc_t)
    def _run(bs: pd.Series, lons: pd.Series, lats: pd.Series) -> pd.DataFrame:
        dist = np.empty(len(bs))
        order = np.empty(len(bs))
        if len(bs):
            x = lons.to_numpy(dtype=np.float64)
            y = lats.to_numpy(dtype=np.float64)
            for buf, idx in bs.groupby(bs, sort=False).indices.items():
                g = wkb.decode(buf)
                cx, cy = K.centroid(g)
                xs, ys = x[idx], y[idx]
                d = K.point_to_geom_distance(g, xs, ys)
                cd = np.sqrt((xs - cx) ** 2 + (ys - cy) ** 2)
                dist[idx] = d
                # intersecting rows sort by centroid distance but report 0;
                # order key keeps them ahead of any non-intersecting row
                order[idx] = np.where(d == 0.0, cd - 1e9, d)
        return pd.DataFrame({"nearest_dist": dist, "__order": order})

    return (pairs.withColumn("__sc", _run(F.col(feat_wkb), F.col(lon), F.col(lat)))
            .select("*", "__sc.nearest_dist", "__sc.__order")
            .drop("__sc"))
