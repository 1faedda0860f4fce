"""Round-3 regression tests for the ADVICE.md findings:

1. knn._nearest_rings silently dropped points whose confirm radius
   exceeded 2*max_k (the defer branch anti-joined them out of
   `remaining` without routing them to the broadcast fallback).
2. knn._nearest_rings raised IndexError on empty winner sets
   (empty points input).
"""

import numpy as np

from gis_tools_spark.geom import wkb
from gis_tools_spark.operators.knn import nearest_feature


def _tiny_square(cx, cy, half=0.01):
    return wkb.polygon([[(cx - half, cy - half), (cx + half, cy - half),
                         (cx + half, cy + half), (cx - half, cy + half),
                         (cx - half, cy - half)]])


def test_rings_deferred_points_not_dropped(spark):
    """A point ~5.6 deg (64 lon-cells at res 12) from its nearest feature
    hits at k=64 with confirm radius ~129 > 2*max_k=128 and takes the
    defer branch; pre-fix it vanished from the output (2 in -> 1 out)."""
    feats = spark.createDataFrame(
        [(1, _tiny_square(0.0, 0.0))], ["gid", "geometry_wkb"])
    pts = spark.createDataFrame(
        [(1, 5.63, 0.0), (2, 0.005, 0.005)], ["pid", "lon", "lat"])
    rows = nearest_feature(pts, feats, strategy="rings").collect()
    got = {r["pid"]: (r["nearest_gid"], r["nearest_dist"]) for r in rows}
    assert len(got) == 2, "deferred point must reach the output"
    assert got[2] == (1, 0.0)
    assert got[1][0] == 1
    # nearest edge of the square is at x=0.01 -> dist = 5.63 - 0.01
    np.testing.assert_allclose(got[1][1], 5.62, atol=1e-9)


def test_rings_empty_points_input(spark):
    feats = spark.createDataFrame(
        [(1, _tiny_square(0.0, 0.0))], ["gid", "geometry_wkb"])
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0)], ["pid", "lon", "lat"]).where("pid < 0")
    out = nearest_feature(pts, feats, strategy="rings")
    assert out.count() == 0
    assert "nearest_gid" in out.columns and "nearest_dist" in out.columns
