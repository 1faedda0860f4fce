"""Trajectory analytics — per-key track statistics and zone-to-zone
origin-destination (OD) flow matrices from geotagged event streams.

The reference engine has no movement analytics (gis-tools is static
layers); these are the standard ops a geotagged image/event pipeline
runs right after the PIP join: "how far / how fast did each device
move" (track_stats) and "which zones feed which zones" (od_flows —
the classic transport-planning OD matrix, here derived from session
endpoints).

Both are pure window + aggregation plans: one shuffle on the track key,
whole-stage-codegen haversine segments (functions/geodesy), no Python.
od_flows composes the engine's own sessionize (gap windows) and
pip_join (broadcast zones) — sessions collapse the volume to
O(sessions) rows before any join, so at 10^12 events the PIP join sees
orders of magnitude fewer rows than the raw stream.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cells as C
from ..functions.geodesy import great_circle_meters
from .sessions import sessionize
from .sjoin import _BroadcastIndex, _pip_hits, _strategy, pip_join, pip_tag

__all__ = ["track_stats", "od_flows", "geofence_events", "staypoints",
           "frechet_pairs", "heading_stats"]


def track_stats(df: DataFrame, *, key_cols: Sequence[str],
                ts_col: str = "ts", lon: str = "lon", lat: str = "lat",
                order_tiebreak: str | None = None) -> DataFrame:
    """One row per key: ordered-point track statistics.

      n_pts       points on the track
      path_m      great-circle polyline length (sum of segment
                  haversines, meters)
      net_m       straight-line first-to-last distance
      duration_s  last ts - first ts (exact integer micros / 1e6)
      speed_ms    path_m / duration_s (NULL for single-point or
                  zero-duration tracks)

    Plan: lag window over (key, ts [, tiebreak]) for the segments, then
    one groupBy — both stages reuse the same hash partitioning on the
    key, and every expression is JVM codegen."""
    keys = list(key_cols)
    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    seg = great_circle_meters(F.lag(lon).over(w), F.lag(lat).over(w),
                              F.col(lon), F.col(lat))
    pos = F.struct(us.alias("us"),
                   *([F.col(order_tiebreak).alias("tb")] if order_tiebreak else []))
    s = df.select(*keys, F.col(lon).alias("__lon"), F.col(lat).alias("__lat"),
                  us.alias("__us"), pos.alias("__pos"),
                  seg.alias("__seg"))
    agg = s.groupBy(*keys).agg(
        F.count("*").alias("n_pts"),
        F.sum("__seg").alias("path_m"),
        F.min("__us").alias("__us0"), F.max("__us").alias("__us1"),
        F.min_by(F.struct("__lon", "__lat"), "__pos").alias("__p0"),
        F.max_by(F.struct("__lon", "__lat"), "__pos").alias("__p1"))
    dur = (F.col("__us1") - F.col("__us0")) / F.lit(1_000_000.0)
    net = great_circle_meters(F.col("__p0.__lon"), F.col("__p0.__lat"),
                              F.col("__p1.__lon"), F.col("__p1.__lat"))
    return agg.select(
        *keys, "n_pts",
        F.coalesce("path_m", F.lit(0.0)).alias("path_m"),
        net.alias("net_m"),
        dur.alias("duration_s"),
        F.when(dur > 0, F.coalesce("path_m", F.lit(0.0)) / dur).alias("speed_ms"))


def od_flows(points: DataFrame, zones: DataFrame, *,
             key_cols: Sequence[str] = ("user_id",),
             ts_col: str = "ts", lon: str = "lon", lat: str = "lat",
             gap_s: int = 3600, zone_id: str = "gid",
             order_tiebreak: str | None = None,
             strategy: str = "auto") -> DataFrame:
    """Origin-destination flow matrix: sessionize the point stream per
    key (gap > gap_s starts a new trip), take each session's first and
    last point, assign both to zones via the PIP join, and count trips
    per (zone_o, zone_d). Sessions whose endpoint falls outside every
    zone are dropped (inner semantics, the standard OD contract).

    Returns (zone_o, zone_d, n_trips). The sessionize + endpoint
    aggregation collapses the stream to O(sessions) rows BEFORE the
    joins. ``auto`` tags both endpoints in one broadcast pass when the
    zones pass pip_join's broadcast gate, else runs two cell-join
    pip_joins."""
    keys = list(key_cols)
    s = sessionize(points, ts_col=ts_col, gap_s=gap_s, key_cols=tuple(keys),
                   order_tiebreak=order_tiebreak)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    pos = F.struct(us.alias("us"),
                   *([F.col(order_tiebreak).alias("tb")] if order_tiebreak else []))
    ends = (s.groupBy(*keys, "session_idx").agg(
        F.min_by(F.struct(F.col(lon).alias("lon"), F.col(lat).alias("lat")),
                 pos).alias("__o"),
        F.max_by(F.struct(F.col(lon).alias("lon"), F.col(lat).alias("lat")),
                 pos).alias("__d")))
    strategy = _strategy("od_flows", strategy,
                         ("zones", zones, "geometry_wkb"))
    if strategy == "broadcast":
        # tag BOTH endpoints in one broadcast-CSR UDF stage and explode
        # the hit arrays, instead of two pip_join passes re-joined on
        # the session key. The explode × explode cross reproduces
        # pip_join's inner pair multiplicity exactly (a session in k
        # origin zones and m destination zones contributes k·m trips,
        # and a session with no hit on either side drops). Trips are
        # counted per (origin, destination) index position; the ids
        # are attached to that small result by broadcast joins and the
        # counts re-grouped by id, so zones sharing an id add up.
        index = _BroadcastIndex(zones.select(zone_id, "geometry_wkb"),
                                "geometry_wkb", C.RES_MIN)
        _hits = _pip_hits(index, "covers")
        ids = index.table([zone_id])
        return (ends
                .select(F.explode(_hits(F.col("__o.lon"),
                                        F.col("__o.lat"))).alias("__io"),
                        _hits(F.col("__d.lon"),
                              F.col("__d.lat")).alias("__hd"))
                .select("__io", F.explode("__hd").alias("__id"))
                .groupBy("__io", "__id").agg(F.count("*").alias("__n"))
                .join(F.broadcast(ids.toDF("__io", "zone_o")), on="__io")
                .join(F.broadcast(ids.toDF("__id", "zone_d")), on="__id")
                .groupBy("zone_o", "zone_d")
                .agg(F.sum("__n").alias("n_trips")))
    o = ends.select(*keys, "session_idx",
                    F.col("__o.lon").alias("lon"), F.col("__o.lat").alias("lat"))
    d = ends.select(*keys, "session_idx",
                    F.col("__d.lon").alias("lon"), F.col("__d.lat").alias("lat"))
    zo = (pip_join(o, zones, strategy=strategy)
          .select(*keys, "session_idx", F.col(zone_id).alias("zone_o")))
    zd = (pip_join(d, zones, strategy=strategy)
          .select(*keys, "session_idx", F.col(zone_id).alias("zone_d")))
    return (zo.join(zd, on=keys + ["session_idx"], how="inner")
            .groupBy("zone_o", "zone_d")
            .agg(F.count("*").alias("n_trips")))


def geofence_events(points: DataFrame, zones: DataFrame, *,
                    id_col: str, key_cols: Sequence[str] = ("user_id",),
                    ts_col: str = "ts", lon: str = "lon", lat: str = "lat",
                    zone_id: str = "gid",
                    order_tiebreak: str | None = None,
                    strategy: str = "auto") -> DataFrame:
    """Geofence transition detector: one row per ping at which a key's
    zone membership CHANGES, the op behind 'alert when the device
    enters/leaves the fence'.

      kind = 'enter'   outside (or stream start) → inside a zone
      kind = 'exit'    inside → outside every zone
      kind = 'switch'  directly from one zone into another

    Overlapping fences resolve deterministically to the MIN zone id.
    A stream that starts inside a fence emits an 'enter' at its first
    ping (from_zone NULL); pings that stay outside emit nothing.

    Plan: ``auto`` tags every ping with pip_tag's broadcast pass (one
    left broadcast join attaches the id) when the zones pass
    pip_join's broadcast gate, else runs a cell-join pip_join (left
    semantics restored by grouping hits per ping id and left-joining
    back); then one lag window on the key. The output is only the
    transition rows, orders of magnitude smaller than the ping
    stream."""
    keys = list(key_cols)
    strategy = _strategy("geofence_events", strategy,
                         ("zones", zones, "geometry_wkb"))
    if strategy == "broadcast":
        # pip_tag IS this op's tagging step — MIN covering zone id,
        # NULL outside, every row kept, its one join a broadcast of the
        # small id table — so the groupBy(id) + left-join-back pair of
        # shuffles disappears from the plan
        z = pip_tag(points, zones, lon=lon, lat=lat, poly_id=zone_id,
                    res=C.RES_MIN, out_col="__zone")
    else:
        hits = (pip_join(points.select(id_col, lon, lat), zones,
                         strategy=strategy)
                .groupBy(id_col).agg(F.min(zone_id).alias("__zone")))
        z = points.join(hits, on=id_col, how="left")
    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    prev = F.lag("__zone").over(w)
    out = (z.withColumn("__prev", prev)
           .where(~F.col("__zone").eqNullSafe(F.col("__prev")))
           .select(
               *keys, id_col, F.col(ts_col).alias("ts"),
               F.col("__prev").alias("from_zone"),
               F.col("__zone").alias("to_zone"),
               F.when(F.col("__prev").isNull(), F.lit("enter"))
               .when(F.col("__zone").isNull(), F.lit("exit"))
               .otherwise(F.lit("switch")).alias("kind")))
    return out


def staypoints(df: DataFrame, *, key_cols: Sequence[str],
               ts_col: str = "ts", lon: str = "lon", lat: str = "lat",
               res: int = 12, min_dwell_s: float = 0.0,
               min_pings: int = 1,
               order_tiebreak: str | None = None) -> DataFrame:
    """Stay-point (dwell) detection per track key: maximal runs of
    consecutive pings inside the same grid cell at ``res``, kept when
    the run lasts ≥ ``min_dwell_s`` seconds and has ≥ ``min_pings``
    pings — the cell-quantized form of the classic Li et al. 2008
    stay-point scan, chosen because it is expressible as ONE window +
    ONE aggregation (the sequential distance-threshold scan is not a
    Catalyst fit and shuffles no less).

    Returns one row per stay: keys, ``cell``, ``stay_idx`` (0-based
    per key, in time order), ``enter_us``/``exit_us`` (exact integer
    micros), ``dwell_s``, ``n_pings``, and the mean ping position
    ``lon_c``/``lat_c``.

    Plan: lag window over (key, ts[, tiebreak]) marks cell changes, a
    running sum turns them into run ids, one groupBy aggregates each
    run — both stages share the hash partitioning on the key, every
    expression is JVM codegen, and state per run is O(1) so a
    billion-ping device never materializes its track in memory.
    """
    keys = list(key_cols)
    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    cell = C.cell_column(F.col(lon), F.col(lat), res)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    chg = F.when(F.lag(cell).over(w).isNull()
                 | (F.lag(cell).over(w) != cell), 1).otherwise(0)
    s = df.select(*keys, F.col(lon).alias("__lon"),
                  F.col(lat).alias("__lat"), us.alias("__us"),
                  cell.alias("__cell"),
                  F.sum(chg).over(
                      w.rowsBetween(Window.unboundedPreceding, 0))
                  .alias("__run"))
    agg = (s.groupBy(*keys, "__run")
           .agg(F.min("__cell").alias("cell"),
                F.min("__us").alias("enter_us"),
                F.max("__us").alias("exit_us"),
                F.count("*").alias("n_pings"),
                F.avg("__lon").alias("lon_c"),
                F.avg("__lat").alias("lat_c")))
    out = (agg.where((F.col("n_pings") >= int(min_pings))
                     & ((F.col("exit_us") - F.col("enter_us"))
                        >= int(round(min_dwell_s * 1_000_000))))
           .withColumn("stay_idx",
                       F.row_number().over(
                           Window.partitionBy(*keys)
                           .orderBy("enter_us", "__run")) - 1))
    return out.select(*keys, "stay_idx", "cell", "enter_us", "exit_us",
                      ((F.col("exit_us") - F.col("enter_us"))
                       / F.lit(1_000_000.0)).alias("dwell_s"),
                      "n_pings", "lon_c", "lat_c")


def frechet_pairs(points: DataFrame, pairs: DataFrame, *,
                  key_col: str = "user_id", ts_col: str = "ts",
                  lon: str = "lon", lat: str = "lat",
                  metric: str = "greatcircle",
                  order_tiebreak: str | None = None,
                  max_len: int = 2000) -> DataFrame:
    """Discrete Fréchet distance between pairs of tracks — the
    dog-leash trajectory similarity measure (Eiter & Mannila 1994),
    the standard way to score 'did these two devices travel the same
    route'.

    ``pairs`` has columns (key_a, key_b) naming tracks in ``points``.
    Returns (key_a, key_b, n_a, n_b, frechet) where ``frechet`` is in
    meters (metric='greatcircle') or squared coordinate units
    (metric='euclidean_sq' — exact when coordinates are integers, the
    oracle-able form).

    Plan: each track collapses to ONE array row via array_sort over
    (ts[, tiebreak]) structs — a single groupBy, no per-ping shuffle to
    the pair stage; two broadcast-able joins attach the arrays to the
    pair list; the O(n·m) DP runs vectorized per pair in Arrow batches.
    ``max_len`` guards the quadratic DP (longer tracks raise — resample
    upstream, e.g. keep every k-th ping, rather than OOM a task).
    """
    if metric not in ("greatcircle", "euclidean_sq"):
        raise ValueError(f"unknown metric {metric!r}")
    order = [F.col(ts_col).asc()]
    tb = [F.col(order_tiebreak).asc()] if order_tiebreak else []
    srt = F.array_sort(F.collect_list(F.struct(
        F.col(ts_col).cast("timestamp").cast("long").alias("t"),
        *([F.col(order_tiebreak).cast("long").alias("tb")]
          if order_tiebreak else []),
        F.col(lon).cast("double").alias("x"),
        F.col(lat).cast("double").alias("y"))))
    tracks = (points.groupBy(F.col(key_col).alias("__k"))
              .agg(srt.alias("__pts")))
    j = (pairs.select("key_a", "key_b")
         .join(tracks.select(F.col("__k").alias("key_a"),
                             F.col("__pts").alias("__pa")), on="key_a")
         .join(tracks.select(F.col("__k").alias("key_b"),
                             F.col("__pts").alias("__pb")), on="key_b"))

    import pandas as pd

    def _run(it):
        import numpy as np

        for pdf in it:
            out = []
            for ka, kb, pa, pb in zip(pdf["key_a"], pdf["key_b"],
                                      pdf["__pa"], pdf["__pb"]):
                ax = np.array([p["x"] for p in pa])
                ay = np.array([p["y"] for p in pa])
                bx = np.array([p["x"] for p in pb])
                by = np.array([p["y"] for p in pb])
                n, m = len(ax), len(bx)
                if n == 0 or m == 0:
                    out.append((ka, kb, n, m, None))
                    continue
                if n > max_len or m > max_len:
                    raise ValueError(
                        f"track length {max(n, m)} exceeds max_len="
                        f"{max_len}; resample upstream")
                if metric == "greatcircle":
                    la1 = np.radians(ay)[:, None]
                    la2 = np.radians(by)[None, :]
                    dla = (la2 - la1) / 2.0
                    dlo = np.radians(bx[None, :] - ax[:, None]) / 2.0
                    h = (np.sin(dla) ** 2
                         + np.cos(la1) * np.cos(la2) * np.sin(dlo) ** 2)
                    d = 2.0 * 6_371_000.0 * np.arcsin(np.sqrt(h))
                else:
                    d = ((ax[:, None] - bx[None, :]) ** 2
                         + (ay[:, None] - by[None, :]) ** 2)
                # DP over the coupling lattice, row by row
                ca = np.empty((n, m))
                ca[0, 0] = d[0, 0]
                for jj in range(1, m):
                    ca[0, jj] = max(ca[0, jj - 1], d[0, jj])
                for ii in range(1, n):
                    ca[ii, 0] = max(ca[ii - 1, 0], d[ii, 0])
                    prev = ca[ii - 1]
                    row = ca[ii]
                    for jj in range(1, m):
                        row[jj] = max(min(prev[jj], prev[jj - 1],
                                          row[jj - 1]), d[ii, jj])
                out.append((ka, kb, n, m, float(ca[n - 1, m - 1])))
            yield pd.DataFrame(out, columns=["key_a", "key_b", "n_a",
                                             "n_b", "frechet"])

    kt = dict(pairs.dtypes)
    schema = (f"key_a {kt['key_a']}, key_b {kt['key_b']}, "
              "n_a int, n_b int, frechet double")
    return j.mapInPandas(_run, schema=schema)


def heading_stats(points: DataFrame, *, key_cols: Sequence[str],
                  ts_col: str = "ts", lon: str = "lon", lat: str = "lat",
                  order_tiebreak: str | None = None) -> DataFrame:
    """Circular statistics of a track's segment headings (Mardia):
    per key — n_segs, mean_heading_deg (atan2 of the resultant
    vector), resultant R̄ ∈ [0,1] (1 = dead straight course), and
    circular variance 1−R̄.  "Does this device move with a consistent
    direction" in one window + one groupBy, all codegen; degenerate
    zero-length segments (consecutive identical positions) are
    excluded (they have no heading)."""
    from ..functions.geodesy import initial_bearing_deg

    keys = list(key_cols)
    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    plon, plat = F.lag(lon).over(w), F.lag(lat).over(w)
    th = F.radians(initial_bearing_deg(plon, plat, F.col(lon),
                                       F.col(lat)))
    moved = plon.isNotNull() & ((plon != F.col(lon))
                                | (plat != F.col(lat)))
    s = points.select(*keys,
                      F.when(moved, F.sin(th)).alias("__s"),
                      F.when(moved, F.cos(th)).alias("__c"))
    agg = s.groupBy(*keys).agg(
        F.count("__s").alias("n_segs"),
        F.sum("__s").alias("ss"), F.sum("__c").alias("sc"))
    r = F.sqrt(F.col("ss") * F.col("ss") + F.col("sc") * F.col("sc")) \
        / F.col("n_segs")
    mean_h = (F.degrees(F.atan2(F.col("ss"), F.col("sc")))
              + F.lit(360.0)) % F.lit(360.0)
    has = F.col("n_segs") > 0
    return agg.select(
        *keys, F.col("n_segs").cast("long").alias("n_segs"),
        F.when(has, mean_h).alias("mean_heading_deg"),
        F.when(has, r).alias("resultant"),
        F.when(has, F.lit(1.0) - r).alias("circ_var"))
