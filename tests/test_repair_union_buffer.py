"""Round-2 operators: make_valid repair, region union, true buffer,
overlay(how=union/identity/symmetric_difference), kinematics, line cuts.

Oracles: analytic areas (area partition |A∪B| = |A|+|B|−|A∩B|),
closed-form kinematics on flat straight roads, piece-length sums.
"""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.functions.geom_funcs import buffer_geom, geom_make_valid
from gis_tools_spark.geom import boolean, kernels as K, repair, wkb


def _area(g):
    return K.area(g) if g is not None else 0.0


# ---------------------------------------------------------------- make_valid

def test_make_valid_passthrough_and_cleanup():
    ok = wkb.decode(wkb.box(0, 0, 2, 2))
    out = repair.make_valid(ok)
    assert abs(_area(out) - 4.0) < 1e-12
    # unclosed + duplicate-vertex ring
    dirty = {"type": "Polygon", "rings": [np.array(
        [(0, 0), (0, 0), (2, 0), (2, 2), (2, 2), (0, 2)], dtype=float)]}
    out = repair.make_valid(dirty)
    assert abs(_area(out) - 4.0) < 1e-12
    assert repair.is_valid_geom(out)
    assert not repair.is_valid_geom(dirty)  # unclosed


def test_make_valid_bowtie_split():
    # figure-eight crossing at (1,1): two triangles (base 2, height 1)
    bow = {"type": "Polygon", "rings": [np.array(
        [(0, 0), (2, 2), (2, 0), (0, 2), (0, 0)], dtype=float)]}
    assert not repair.is_valid_geom(bow)
    out = repair.make_valid(bow)
    assert repair.is_valid_geom(out)
    assert abs(_area(out) - 2.0) < 1e-9
    assert out["type"] == "MultiPolygon" and len(out["polygons"]) == 2


def test_make_valid_keeps_holes():
    g = wkb.decode(wkb.polygon([[(0, 0), (4, 0), (4, 4), (0, 4)],
                                [(1, 1), (1, 3), (3, 3), (3, 1)]]))
    out = repair.make_valid(g)
    assert abs(_area(out) - 12.0) < 1e-12


# ---------------------------------------------------------------- region union

def test_union_area_partition_property():
    rng = np.random.default_rng(7)
    for _ in range(12):
        # two random convex-ish overlapping polygons
        c1 = rng.uniform(0, 2, 2)
        c2 = c1 + rng.uniform(-0.8, 0.8, 2)
        g1 = {"type": "Polygon", "rings": [K.convex_hull(
            c1 + rng.uniform(-1, 1, (12, 2)))]}
        g2 = {"type": "Polygon", "rings": [K.convex_hull(
            c2 + rng.uniform(-1, 1, (12, 2)))]}
        inter = boolean.intersection(g1, g2)
        uni = boolean.union(g1, g2)
        want = _area(g1) + _area(g2) - _area(inter)
        assert abs(_area(uni) - want) < 1e-8, (want, _area(uni))


def test_union_disjoint_and_contained():
    a = wkb.decode(wkb.box(0, 0, 1, 1))
    b = wkb.decode(wkb.box(5, 5, 6, 6))
    assert abs(_area(boolean.union(a, b)) - 2.0) < 1e-12
    inner = wkb.decode(wkb.box(0.2, 0.2, 0.8, 0.8))
    assert abs(_area(boolean.union(a, inner)) - 1.0) < 1e-12


# ---------------------------------------------------------------- true buffer

def test_buffer_line_area_analytic():
    # straight segment length L, buffer d: area = 2dL + pi d^2
    L, d = 4.0, 0.5
    line = wkb.decode(wkb.linestring([(0, 0), (L, 0)]))
    out = buffer_geom(line, d, resolution=64)
    want = 2 * d * L + np.pi * d * d
    assert abs(_area(out) - want) / want < 2e-3


def test_buffer_concave_polygon():
    # L-shape (concave): buffer area = A + perimeter*d + pi d^2 (convex
    # corner arcs sum to 2pi; the reflex corner overlap is absorbed by
    # the union). Exact formula for small d with one reflex corner:
    # A + P*d + d^2*(pi - (pi/2 - alpha))... use containment checks
    # instead of a closed form: buffered region must cover the original
    # and every point within d of it, and nothing beyond.
    lshape = {"type": "Polygon", "rings": [np.array(
        [(0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3), (0, 0)], dtype=float)]}
    d = 0.3
    out = buffer_geom(lshape, d, resolution=32)
    assert _area(out) > _area(lshape)
    # inside stays covered; within-d points covered; far points not
    xs = np.array([0.5, 3.25, 1.2, -0.28, 2.0])
    ys = np.array([0.5, 0.5, 1.25, 1.5, 2.0])
    got = K.covers_xy(out, xs, ys)
    assert list(got) == [True, True, True, True, False]


def test_buffer_polygon_with_hole_shrinks_hole():
    g = wkb.decode(wkb.polygon([[(0, 0), (6, 0), (6, 6), (0, 6)],
                                [(2, 2), (2, 4), (4, 4), (4, 2)]]))
    out = buffer_geom(g, 0.5, resolution=32)
    # hole center still uncovered, hole rim (within d of boundary) covered
    assert not K.covers_xy(out, np.array([3.0]), np.array([3.0]))[0]
    assert K.covers_xy(out, np.array([2.25]), np.array([2.25]))[0]


# ---------------------------------------------------------------- overlay union (spark)

@pytest.fixture(scope="module")
def overlay_dfs(spark):
    left = spark.createDataFrame(
        [(1, bytearray(wkb.box(0, 0, 2, 2))),
         (2, bytearray(wkb.box(10, 10, 11, 11)))],
        "lid int, geometry_wkb binary")
    right = spark.createDataFrame(
        [(7, bytearray(wkb.box(1, 1, 3, 3)))],
        "gid int, geometry_wkb binary")
    return left, right


def test_overlay_union_decomposition(spark, overlay_dfs):
    from gis_tools_spark.operators.overlay import overlay

    left, right = overlay_dfs
    out = overlay(left, right, how="union").toPandas()
    both = out[out["origin"] == "both"]
    lonly = out[out["origin"] == "left"]
    ronly = out[out["origin"] == "right"]
    assert len(both) == 1 and abs(both["piece_area"].iloc[0] - 1.0) < 1e-9
    # left diff: box1 minus overlap = 3 area units (possibly several parts)
    l1 = lonly[lonly["lid"] == 1]
    assert abs(l1["piece_area"].sum() - 3.0) < 1e-9
    assert (lonly["gid"].isna()).all()
    # untouched left row passes through (diff_area null)
    l2 = lonly[lonly["lid"] == 2]
    assert len(l2) == 1
    # right diff: 4 - 1 = 3
    assert abs(ronly["piece_area"].sum() - 3.0) < 1e-9
    assert (ronly["lid"].isna()).all()
    # area partition: |A ∪ B| over the plane
    total = 1.0 + 3.0 + 3.0 + 1.0  # inter + ldiff + rdiff + untouched box2
    got = (out["piece_area"].fillna(1.0)).sum()  # untouched box2 area = 1
    assert abs(got - total) < 1e-9


def test_overlay_symmetric_difference(spark, overlay_dfs):
    from gis_tools_spark.operators.overlay import overlay

    left, right = overlay_dfs
    out = overlay(left, right, how="symmetric_difference").toPandas()
    assert set(out["origin"]) == {"left", "right"}
    assert abs(out[out["origin"] == "right"]["piece_area"].sum() - 3.0) < 1e-9


def test_dissolve_overlapping_exact(spark):
    from gis_tools_spark.operators.overlay import dissolve

    df = spark.createDataFrame(
        [(1, bytearray(wkb.box(0, 0, 2, 2))),
         (1, bytearray(wkb.box(1, 1, 3, 3))),
         (2, bytearray(wkb.box(5, 5, 6, 6)))],
        "k int, geometry_wkb binary")
    out = {r["k"]: r["union_area"]
           for r in dissolve(df, "k", assume_disjoint=False).collect()}
    assert abs(out[1] - 7.0) < 1e-9   # 4 + 4 - 1
    assert abs(out[2] - 1.0) < 1e-9


# ---------------------------------------------------------------- line cuts


# ---------------------------------------------------------------- kinematics


# ---------------------------------------------------------------- sparse kNN

def test_knn_rings_sparse_far_feature(spark):
    """A point whose nearest feature is hundreds of cells away must
    complete via the capped annulus + broadcast fallback, not a
    (2k+1)^2 disk explosion (round-1 finding)."""
    from gis_tools_spark.operators.knn import nearest_feature

    pts = spark.createDataFrame(
        [(1, -170.0, -80.0), (2, 5.05, 40.05)], "pid int, lon double, lat double")
    feats = spark.createDataFrame(
        [(9, bytearray(wkb.box(5.0, 40.0, 5.1, 40.1)))],
        "gid int, geometry_wkb binary")
    out = (nearest_feature(pts, feats, strategy="rings")
           .toPandas().set_index("pid"))
    assert out.loc[1, "nearest_gid"] == 9 and out.loc[1, "nearest_dist"] > 100
    assert out.loc[2, "nearest_gid"] == 9 and out.loc[2, "nearest_dist"] == 0.0
