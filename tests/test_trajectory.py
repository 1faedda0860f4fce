"""track_stats / od_flows vs independent pandas oracles."""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.operators.trajectory import od_flows, track_stats


def _hav(lon1, lat1, lon2, lat2):
    rl1, rl2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin(np.radians(lat2 - lat1) / 2) ** 2
         + np.cos(rl1) * np.cos(rl2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2)
    return 2 * 6_371_000.0 * np.arcsin(np.sqrt(a))


@pytest.fixture(scope="module")
def tracks_pd():
    prng = np.random.default_rng(5)
    n = 600
    df = pd.DataFrame({
        "dev": prng.integers(0, 12, n).astype(str),
        "ts": pd.to_datetime("2024-03-01") +
        pd.to_timedelta(prng.integers(0, 10 * 86_400_000_000, n), unit="us"),
        "lon": prng.uniform(5, 10, n),
        "lat": prng.uniform(40, 45, n),
        "eid": np.arange(n)})
    # one single-point device
    df.loc[0, "dev"] = "solo"
    df = df[(df["dev"] != "solo") | (df.index == 0)]
    return df


def test_track_stats_matches_pandas(spark, tracks_pd):
    out = track_stats(spark.createDataFrame(tracks_pd), key_cols=["dev"],
                      order_tiebreak="eid").toPandas().set_index("dev")
    for dev, g in tracks_pd.groupby("dev"):
        g = g.sort_values(["ts", "eid"])
        path = _hav(g["lon"].to_numpy()[:-1], g["lat"].to_numpy()[:-1],
                    g["lon"].to_numpy()[1:], g["lat"].to_numpy()[1:]).sum()
        net = _hav(g["lon"].iloc[0], g["lat"].iloc[0],
                   g["lon"].iloc[-1], g["lat"].iloc[-1])
        dur = (g["ts"].iloc[-1] - g["ts"].iloc[0]).total_seconds()
        r = out.loc[dev]
        assert r["n_pts"] == len(g)
        assert r["path_m"] == pytest.approx(path, rel=1e-12, abs=1e-6)
        assert r["net_m"] == pytest.approx(net, rel=1e-12, abs=1e-6)
        assert r["duration_s"] == pytest.approx(dur, abs=1e-9)
        if dur > 0:
            assert r["speed_ms"] == pytest.approx(path / dur, rel=1e-12)
        else:
            assert pd.isna(r["speed_ms"])
    assert out.loc["solo", "n_pts"] == 1
    assert out.loc["solo", "path_m"] == 0.0


def _zones():
    """A 3x3 grid of disjoint boxes; the last two share id 7, so their
    trips must add up under one id."""
    rows = []
    for k in range(9):
        x0 = 5.0 + (k % 3) * 1.5
        y0 = 40.0 + (k // 3) * 1.5
        rows.append((min(k, 7), x0, y0, x0 + 1.2, y0 + 1.2))
    return pd.DataFrame(rows, columns=["gid", "minx", "miny", "maxx", "maxy"])


@pytest.mark.parametrize("path", ["fused", "fallback"])
def test_od_flows_matches_bruteforce(spark, tracks_pd, path, monkeypatch,
                                     caplog):
    """auto's fused broadcast pass and its two-pip_join cell fallback
    (forced by a zero row limit) against one brute-force oracle."""
    import importlib

    from gis_tools_spark.geom import wkb as W

    if path == "fallback":  # the package re-exports a function named sjoin
        sjoin = importlib.import_module("gis_tools_spark.operators.sjoin")
        monkeypatch.setattr(sjoin, "BROADCAST_MAX_ROWS", 0)

    z = _zones()
    zones = z.copy()
    zones["geometry_wkb"] = [bytearray(W.box(r.minx, r.miny, r.maxx, r.maxy))
                             for r in z.itertuples()]
    zdf = spark.createDataFrame(zones[["gid", "geometry_wkb"]])
    with caplog.at_level("DEBUG", logger="gis_tools_spark"):
        out = od_flows(spark.createDataFrame(tracks_pd), zdf,
                       key_cols=["dev"], gap_s=6 * 3600,
                       order_tiebreak="eid").toPandas()
    gate = [r.getMessage() for r in caplog.records
            if r.getMessage().startswith("small_side")]
    assert len(gate) == 1
    assert gate[0].endswith("small=%s" % (path == "fused"))

    # brute-force oracle
    def zone_of(lo, la):
        hit = z[(z.minx <= lo) & (lo <= z.maxx) & (z.miny <= la) & (la <= z.maxy)]
        return int(hit["gid"].iloc[0]) if len(hit) else None

    flows = {}
    for dev, g in tracks_pd.groupby("dev"):
        g = g.sort_values(["ts", "eid"]).reset_index(drop=True)
        gaps = g["ts"].diff().dt.total_seconds().fillna(0)
        sid = (gaps > 6 * 3600).cumsum()
        for _, s in g.groupby(sid):
            zo = zone_of(s["lon"].iloc[0], s["lat"].iloc[0])
            zd = zone_of(s["lon"].iloc[-1], s["lat"].iloc[-1])
            if zo is not None and zd is not None:
                flows[(zo, zd)] = flows.get((zo, zd), 0) + 1
    got = {(r.zone_o, r.zone_d): r.n_trips for r in out.itertuples()}
    assert got == flows
