"""Proximity (range join, pairwise distance, hausdorff, snap) and
topology (overlap pairs, contiguity dissolve) operators."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.geom import kernels as K, wkb
from gis_tools_spark.operators.proximity import (
    dwithin_join,
    hausdorff_pairs,
    pairwise_distance,
    snap_to_lines,
)
from gis_tools_spark.operators.topo import (
    dissolve_touching,
    has_overlap,
    overlapping_pairs,
)


def test_dwithin_join_oracle(spark, zones_pd, points_pd):
    dist = 0.05
    pts = spark.createDataFrame(points_pd.head(300))
    zones = spark.createDataFrame(zones_pd[["gid", "geometry_wkb"]])
    got = {(r["pid"], r["gid"]) for r in
           dwithin_join(pts, zones, dist).select("pid", "gid").collect()}
    want = set()
    sub = points_pd.head(300)
    for _, z in zones_pd.iterrows():
        g = wkb.decode(z["geometry_wkb"])
        d = K.point_to_geom_distance(g, sub["lon"].values, sub["lat"].values)
        for pid in sub["pid"].values[d <= dist]:
            want.add((int(pid), int(z["gid"])))
    assert got == want


def test_pairwise_distance_small(spark):
    a = pd.DataFrame({"lid": [1, 2], "geometry_wkb": [wkb.box(0, 0, 1, 1), wkb.box(5, 5, 6, 6)]})
    b = pd.DataFrame({"gid": [1], "geometry_wkb": [wkb.box(2, 0, 3, 1)]})
    got = pairwise_distance(spark.createDataFrame(a), spark.createDataFrame(b)).toPandas()
    d = got.set_index("lid")["dist"]
    assert d[1] == pytest.approx(1.0)
    assert d[2] == pytest.approx(np.hypot(2, 4))


def test_hausdorff_pairs(spark):
    l1 = wkb.linestring([(0, 0), (1, 0)])
    l2 = wkb.linestring([(0, 1), (1, 1)])
    left = spark.createDataFrame(pd.DataFrame({"k": [1], "geometry_wkb": [l1]}))
    right = spark.createDataFrame(pd.DataFrame({"k": [1], "geometry_wkb": [l2]}))
    got = hausdorff_pairs(left, right, on="k").collect()[0]
    assert got["hausdorff"] == pytest.approx(1.0)


def test_snap_to_lines(spark):
    lines = spark.createDataFrame(pd.DataFrame({
        "lid": [1, 2],
        "geometry_wkb": [wkb.linestring([(0, 0), (10, 0)]),
                         wkb.linestring([(0, 5), (10, 5)])],
    }))
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": [1, 2], "lon": [3.0, 7.0], "lat": [1.0, 4.0]}))
    got = snap_to_lines(pts, lines).toPandas().set_index("pid")
    assert got.loc[1, "nearest_lid"] == 1
    assert (got.loc[1, "snap_x"], got.loc[1, "snap_y"]) == (3.0, 0.0)
    assert got.loc[2, "nearest_lid"] == 2
    assert (got.loc[2, "snap_x"], got.loc[2, "snap_y"]) == (7.0, 5.0)
    assert got.loc[2, "line_pos"] == pytest.approx(7.0)


def test_overlap_and_dissolve_touching(spark):
    # chain: A∩B, B∩C, D isolated → components {A,B,C}, {D}
    rows = pd.DataFrame({
        "gid": [1, 2, 3, 4],
        "geometry_wkb": [wkb.box(0, 0, 2, 2), wkb.box(1, 1, 3, 3),
                         wkb.box(2.5, 2.5, 4, 4), wkb.box(10, 10, 11, 11)],
    })
    df = spark.createDataFrame(rows)
    pairs = {(r["id_a"], r["id_b"]) for r in overlapping_pairs(df).collect()}
    assert pairs == {(1, 2), (2, 3)}
    assert has_overlap(df)
    out = dissolve_touching(df).toPandas().sort_values("component")
    assert len(out) == 2
    big = out[out.component == 1].iloc[0]
    assert big["n_members"] == 3 and list(big["member_ids"]) == [1, 2, 3]
    iso = out[out.component == 4].iloc[0]
    assert iso["n_members"] == 1
    g = wkb.decode(iso["geometry_wkb"])
    assert K.area(g) == pytest.approx(1.0)


def test_dissolve_touching_long_chain_is_one_component(spark):
    """60 boxes, each touching only the next: one component with 60
    members. Label propagation without pointer jumping needs ~60 rounds
    for this chain, so a 50-round cap used to split it."""
    rows = pd.DataFrame({
        "gid": list(range(60)),
        "geometry_wkb": [wkb.box(i, 0, i + 1.5, 1) for i in range(60)]})
    out = dissolve_touching(spark.createDataFrame(rows)).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["n_members"] == 60
    assert list(out.iloc[0]["member_ids"]) == list(range(60))
