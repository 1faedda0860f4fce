"""kNN nearest_feature vs oracle with reference tie-break semantics
(gistools geometry.py:682-705)."""

import logging

import numpy as np
import pytest

from gis_tools_spark import fixtures
from gis_tools_spark.geom import kernels as K, wkb
from gis_tools_spark.operators.knn import nearest_feature


@pytest.fixture(scope="module")
def knn_data(spark):
    zones = fixtures.gen_zones(12)
    pts = fixtures.gen_points(300, zones=zones)
    gs = [(int(g), wkb.decode(b)) for g, b in zip(zones["gid"], zones["geometry_wkb"])]
    cents = {gid: K.centroid(g) for gid, g in gs}
    oracle = {}
    for pid, x, y in zip(pts["pid"], pts["lon"], pts["lat"]):
        d = {gid: float(K.point_to_geom_distance(g, np.array([x]), np.array([y]))[0])
             for gid, g in gs}
        inter = [gid for gid, dd in d.items() if dd == 0.0]
        if inter:
            best = min(inter, key=lambda gid: (np.hypot(x - cents[gid][0], y - cents[gid][1]), gid))
            oracle[int(pid)] = (best, 0.0)
        else:
            best = min(d, key=lambda gid: (d[gid], gid))
            oracle[int(pid)] = (best, d[best])
    zdf = spark.createDataFrame(zones[["gid", "geometry_wkb"]])
    # a feature row with a null geometry never matches
    zdf = zdf.unionByName(spark.createDataFrame([(10_000, None)], zdf.schema))
    return spark.createDataFrame(pts), zdf, oracle


def _check(rows, oracle):
    got = {r["pid"]: (r["nearest_gid"], r["nearest_dist"]) for r in rows}
    assert len(got) == len(oracle)
    for p, (gid, dist) in oracle.items():
        assert got[p][0] == gid, p
        assert got[p][1] == pytest.approx(dist, abs=1e-9)


@pytest.mark.parametrize("strategy", ["broadcast", "rings"])
def test_nearest_feature(knn_data, strategy, caplog):
    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    pts_df, zones_df, oracle = knn_data
    _check(nearest_feature(pts_df, zones_df, strategy=strategy).collect(),
           oracle)
    msgs = [r.getMessage() for r in caplog.records]
    assert f"nearest_feature strategy={strategy} reason=requested" in msgs
    rings = [m for m in msgs if m.startswith("nearest_feature rounds=")]
    if strategy == "rings":
        assert len(rings) == 1 and rings[0].endswith(
            "deferred=0 fallback=False"), rings
    else:
        assert not rings, rings


def test_nearest_feature_reads_shared_limits(knn_data, monkeypatch, caplog):
    """auto gates on the joins' shared broadcast limits, read at call
    time: with the row limit at 0 the features take the rings path."""
    import importlib

    # the package re-exports a function named sjoin
    sjoin = importlib.import_module("gis_tools_spark.operators.sjoin")
    monkeypatch.setattr(sjoin, "BROADCAST_MAX_ROWS", 0)
    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    pts_df, zones_df, oracle = knn_data
    _check(nearest_feature(pts_df, zones_df).collect(), oracle)
    assert ("nearest_feature strategy=rings reason=features over broadcast "
            "limits") in [r.getMessage() for r in caplog.records]
