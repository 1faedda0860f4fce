"""geofence_events (operators/trajectory.py) vs a pandas brute force:
per-ping min-zone assignment by rect containment, lag transitions."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


ZONES = [  # (gid, minx, miny, maxx, maxy) — gid 7/8 overlap; the ids
    # are not in row order, so the MIN-id rule cannot lean on it
    (8, 4.5, 0.0, 5.5, 1.0),
    (5, 2.0, 0.0, 3.0, 1.0),
    (7, 4.0, 0.0, 5.0, 1.0),
    (3, 0.0, 0.0, 1.0, 1.0),
]


def zones_df(spark):
    from gis_tools_spark.geom import wkb

    rows = [(g, bytearray(wkb.box(x0, y0, x1, y1)))
            for g, x0, y0, x1, y1 in ZONES]
    return spark.createDataFrame(rows, "gid int, geometry_wkb binary")


def brute(pdf: pd.DataFrame) -> pd.DataFrame:
    def zone_of(x, y):
        hits = [g for g, x0, y0, x1, y1 in ZONES
                if x0 <= x <= x1 and y0 <= y <= y1]
        return min(hits) if hits else None

    rows = []
    for uid, grp in pdf.groupby("user_id"):
        grp = grp.sort_values(["t", "ping_id"])
        prev = None
        for _, r in grp.iterrows():
            z = zone_of(r.lon, r.lat)
            if z != prev:
                kind = ("enter" if prev is None
                        else "exit" if z is None else "switch")
                rows.append((uid, r.ping_id, prev, z, kind))
            prev = z
    return pd.DataFrame(rows, columns=["user_id", "ping_id", "from_zone",
                                       "to_zone", "kind"])


@pytest.mark.parametrize("path", ["fused", "fallback"])
def test_geofence_transitions(spark, path, monkeypatch, caplog):
    """auto's join-free pip_tag pass and its pip_join cell fallback
    (forced by a zero row limit) against one brute-force oracle."""
    import importlib

    from gis_tools_spark.operators.trajectory import geofence_events

    if path == "fallback":  # the package re-exports a function named sjoin
        sjoin = importlib.import_module("gis_tools_spark.operators.sjoin")
        monkeypatch.setattr(sjoin, "BROADCAST_MAX_ROWS", 0)

    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame({
        "ping_id": np.arange(n, dtype=np.int64),
        "user_id": rng.integers(0, 8, n),
        "t": rng.integers(0, 10_000, n),
        "lon": rng.uniform(-0.5, 6.0, n),
        "lat": rng.uniform(-0.5, 1.5, n),
    })
    pdf["ts"] = pd.to_datetime(pdf["t"], unit="s")
    with caplog.at_level("DEBUG", logger="gis_tools_spark"):
        out = geofence_events(
            spark.createDataFrame(pdf), zones_df(spark), id_col="ping_id",
            key_cols=["user_id"], order_tiebreak="ping_id").toPandas()
    gate = [r.getMessage() for r in caplog.records
            if r.getMessage().startswith("small_side")]
    assert len(gate) == 1
    assert gate[0].endswith("small=%s" % (path == "fused"))
    exp = brute(pdf)
    got = (out.sort_values(["user_id", "ping_id"]).reset_index(drop=True)
           [["user_id", "ping_id", "from_zone", "to_zone", "kind"]])
    exp = exp.sort_values(["user_id", "ping_id"]).reset_index(drop=True)
    assert len(got) == len(exp)
    for c in got.columns:
        a = got[c].astype("float64") if c.endswith("zone") else got[c]
        b = exp[c].astype("float64") if c.endswith("zone") else exp[c]
        if c.endswith("zone"):
            assert ((a.isna() & b.isna()) | (a == b)).all(), c
        else:
            assert (a == b).all(), c


def test_geofence_stream_start_inside(spark):
    from gis_tools_spark.operators.trajectory import geofence_events

    pdf = pd.DataFrame({
        "ping_id": [0, 1, 2, 3],
        "user_id": [1, 1, 1, 1],
        "lon": [0.5, 0.6, 1.5, 4.6],   # in 3, in 3, outside, in 7&8
        "lat": [0.5, 0.5, 0.5, 0.5],
        "ts": pd.to_datetime([0, 1, 2, 3], unit="s"),
    })
    out = (geofence_events(spark.createDataFrame(pdf), zones_df(spark),
                           id_col="ping_id", key_cols=["user_id"],
                           order_tiebreak="ping_id")
           .toPandas().sort_values("ping_id").reset_index(drop=True))
    assert list(out["kind"]) == ["enter", "exit", "enter"]
    assert list(out["ping_id"]) == [0, 2, 3]
    # overlapping fences resolve to min gid
    assert out["to_zone"].iloc[2] == 7
