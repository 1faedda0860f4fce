"""Pure-numpy geometry kernel tests (no Spark)."""

import numpy as np
import pytest

from gis_tools_spark.geom import kernels as K, wkb


def test_wkb_roundtrip_polygon():
    b = wkb.box(0, 0, 1, 1)
    g = wkb.decode(b)
    assert g["type"] == "Polygon"
    assert wkb.decode(wkb.encode(g))["rings"][0].shape == g["rings"][0].shape
    assert wkb.geom_type(b) == "Polygon"


def test_wkb_roundtrip_all_types():
    geoms = [
        wkb.point(1, 2),
        wkb.point(1, 2, 3),
        wkb.linestring([(0, 0), (1, 1), (2, 0)]),
        wkb.polygon([[(0, 0), (4, 0), (4, 4), (0, 4)], [(1, 1), (1, 2), (2, 2), (2, 1)]]),
        wkb.multipoint([(0, 0), (1, 1)]),
        wkb.multilinestring([[(0, 0), (1, 1)], [(2, 2), (3, 3)]]),
        wkb.multipolygon([[[(0, 0), (1, 0), (1, 1), (0, 1)]], [[(5, 5), (6, 5), (6, 6), (5, 6)]]]),
    ]
    for b in geoms:
        g = wkb.decode(b)
        g2 = wkb.decode(wkb.encode(g))
        assert g["type"] == g2["type"]


def test_area_with_hole():
    g = wkb.decode(wkb.polygon([[(0, 0), (4, 0), (4, 4), (0, 4)],
                                [(1, 1), (1, 3), (3, 3), (3, 1)]]))
    assert abs(K.area(g) - 12.0) < 1e-12


def test_centroid_line_and_polygon():
    assert K.centroid(wkb.decode(wkb.box(0, 0, 2, 2))) == (1.0, 1.0)
    cx, cy = K.centroid(wkb.decode(wkb.linestring([(0, 0), (2, 0)])))
    assert (cx, cy) == (1.0, 0.0)


def test_covers_xy_hole_boundary():
    g = wkb.decode(wkb.polygon([[(0, 0), (4, 0), (4, 4), (0, 4)],
                                [(1, 1), (1, 3), (3, 3), (3, 1)]]))
    xs = np.array([0.5, 2.0, 0.0, 1.0, -1.0])
    ys = np.array([0.5, 2.0, 0.0, 1.0, 2.0])
    assert list(K.covers_xy(g, xs, ys)) == [True, False, True, True, False]
    assert list(K.contains_xy(g, xs, ys)) == [True, False, False, False, False]


def test_intersects_cases():
    a = wkb.decode(wkb.box(0, 0, 2, 2))
    assert K.intersects(a, wkb.decode(wkb.box(1, 1, 3, 3)))
    assert K.intersects(a, wkb.decode(wkb.box(0.5, 0.5, 0.7, 0.7)))  # containment
    assert K.intersects(a, wkb.decode(wkb.box(2, 0, 3, 2)))  # edge touch
    assert not K.intersects(a, wkb.decode(wkb.box(5, 5, 6, 6)))
    line = wkb.decode(wkb.linestring([(-1, 1), (3, 1)]))
    assert K.intersects(a, line) and K.intersects(line, a)


def test_clip_rect_exact():
    a = wkb.decode(wkb.box(0, 0, 2, 2))
    c = K.clip_rect(a, 1, 1, 3, 3)
    assert abs(K.area(c) - 1.0) < 1e-12
    assert K.clip_rect(a, 5, 5, 6, 6) is None


def test_clip_preserves_holes():
    g = wkb.decode(wkb.polygon([[(0, 0), (4, 0), (4, 4), (0, 4)],
                                [(1, 1), (1, 3), (3, 3), (3, 1)]]))
    c = K.clip_rect(g, 0, 0, 2, 2)
    assert abs(K.area(c) - 3.0) < 1e-12


def test_distance_and_hausdorff():
    a = wkb.decode(wkb.box(0, 0, 2, 2))
    d = K.point_to_geom_distance(a, np.array([3.0, 1.0]), np.array([2.0, 1.0]))
    assert d[0] == pytest.approx(1.0) and d[1] == 0.0
    c = wkb.decode(wkb.box(5, 5, 6, 6))
    assert K.geom_distance(a, c) == pytest.approx(np.sqrt(18))
    assert K.geom_distance(a, wkb.decode(wkb.box(1, 1, 3, 3))) == 0.0


def test_convex_hull():
    h = K.convex_hull(np.array([(0, 0), (1, 0), (1, 1), (0, 1), (0.5, 0.5)]))
    assert abs(K.ring_area_signed(h) - 1.0) < 1e-12
