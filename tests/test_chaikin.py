"""Chaikin smoothing (geom/kernels.chaikin)."""

import numpy as np
import pandas as pd

from gis_tools_spark.geom import kernels as K
from gis_tools_spark.geom import wkb as W


def test_single_pass_closed_form():
    line = {"type": "LineString",
            "coords": np.array([[0, 0], [4, 0], [4, 4]], float)}
    out = K.chaikin(line, 1)["coords"]
    want = np.array([[0, 0], [1, 0], [3, 0], [4, 1], [4, 3], [4, 4]],
                    float)
    assert np.array_equal(out, want)


def test_endpoints_pinned_and_counts():
    v = np.array([[0, 0], [1, 2], [3, 1], [5, 4]], float)
    g = {"type": "LineString", "coords": v}
    for it in (1, 2, 3):
        out = K.chaikin(g, it)["coords"]
        n = len(v)
        for _ in range(it):
            n = 2 * (n - 1) + 2
        assert len(out) == n
        assert np.array_equal(out[0], v[0])
        assert np.array_equal(out[-1], v[-1])


def test_ring_stays_closed_and_area_monotone():
    sq = {"type": "Polygon",
          "rings": [np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
                             float)]}
    prev = K.area(sq)
    g = sq
    for _ in range(3):
        g = K.chaikin(g, 1)
        r = g["rings"][0]
        assert np.array_equal(r[0], r[-1])
        a = K.area(g)
        assert a < prev          # convex corner cutting shrinks
        assert a > prev * 0.8
        prev = a
    # converges toward the known B-spline limit area 16 - 8/3
    assert abs(K.area(K.chaikin(sq, 8)) - (16 - 8 / 3)) < 0.01


def test_vertices_on_segments():
    """Every smoothed vertex lies on an original segment (corner cuts
    sample the control polygon)."""
    v = np.array([[0, 0], [2, 3], [5, 1], [7, 6]], float)
    g = {"type": "LineString", "coords": v}
    out = K.chaikin(g, 1)["coords"]
    d = K.point_to_geom_distance({"type": "LineString", "coords": v},
                                 out[:, 0], out[:, 1])
    assert (d < 1e-12).all()


def test_multiline_and_wkb_roundtrip(spark):
    from pyspark.sql import functions as F

    from gis_tools_spark.functions.geom_funcs import geom_smooth

    ml = {"type": "MultiLineString",
          "lines": [np.array([[0, 0], [1, 1], [2, 0]], float),
                    np.array([[5, 5], [6, 6]], float)]}
    df = spark.createDataFrame(pd.DataFrame(
        {"geometry_wkb": [W.encode(ml), None]}))
    out = df.select(geom_smooth(2)(F.col("geometry_wkb"))
                    .alias("g")).collect()
    g = W.decode(bytes(out[0]["g"]))
    assert g["type"] == "MultiLineString"
    assert len(g["lines"][0]) == 2 * (2 * 2 + 2 - 1) + 2
    # a 2-point line is already straight: smoothing inserts collinear
    # midpoint samples only
    l2 = g["lines"][1]
    assert np.allclose(np.cross(l2[-1] - l2[0], (l2 - l2[0])), 0)
    assert out[1]["g"] is None
