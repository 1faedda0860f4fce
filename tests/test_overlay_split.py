"""Overlay/dissolve + tiling/splitting operators."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.geom import kernels as K, wkb
from gis_tools_spark.operators.overlay import (
    dissolve,
    intersection_join,
    shared_area,
)
from gis_tools_spark.operators.split import (
    fishnet,
    image_tile_assignment,
    katana_split,
)


def test_intersection_join_rect_oracle(spark, zones_pd):
    rects = pd.DataFrame({"rid": [1, 2],
                          "geometry_wkb": [wkb.box(6, 41, 8, 43), wkb.box(7, 42, 9, 44)]})
    got = intersection_join(spark.createDataFrame(zones_pd[["gid", "geometry_wkb"]]),
                            spark.createDataFrame(rects),
                            left_id="gid", right_id="rid").toPandas()
    for _, z in zones_pd.iterrows():
        g = wkb.decode(z["geometry_wkb"])
        for _, rr in rects.iterrows():
            c = K.clip_polygon_convex(g, wkb.decode(rr["geometry_wkb"])["rings"][0])
            a = K.area(c) if c else 0.0
            sub = got[(got.gid == z["gid"]) & (got.rid == rr["rid"])]
            if a > 1e-12:
                assert len(sub) == 1
                assert sub["inter_area"].iloc[0] == pytest.approx(a, abs=1e-9)
            else:
                assert len(sub) == 0


def test_shared_area_normalized(spark, zones_pd):
    rects = pd.DataFrame({"rid": [1], "geometry_wkb": [wkb.box(0, 0, 360, 180)]})
    # a clipper covering everything → normalized shared area == 1
    got = shared_area(spark.createDataFrame(zones_pd[["gid", "geometry_wkb"]]),
                      spark.createDataFrame(rects), normalized=True,
                      left_id="gid", right_id="rid").toPandas()
    assert np.allclose(got["shared_area"], 1.0)


def test_fishnet_preserves_area(spark, zones_pd):
    z3 = zones_pd.head(3)
    fp = fishnet(spark.createDataFrame(z3[["gid", "geometry_wkb"]]), res=13).toPandas()
    for gid in z3["gid"]:
        a0 = K.area(wkb.decode(z3[z3.gid == gid]["geometry_wkb"].iloc[0]))
        assert fp[fp.gid == gid]["piece_area"].sum() == pytest.approx(a0, rel=1e-9)


def test_katana_invariants(zones_pd):
    g = wkb.decode(zones_pd["geometry_wkb"].iloc[0])
    pieces = katana_split(g, 0.01)
    assert sum(K.area(p) for p in pieces) == pytest.approx(K.area(g), abs=1e-9)
    for p in pieces:
        mnx, mny, mxx, mxy = K.bounds(p)
        assert (mxx - mnx) * (mxy - mny) <= 0.01 + 1e-12


def test_katana_golden_rectangle():
    # FIXTURES.md §6: 2x1 rectangle, threshold 0.5+eps → two 1x1 halves
    g = wkb.decode(wkb.box(0, 0, 2, 1))
    pieces = katana_split(g, 1.0)
    assert len(pieces) == 2
    areas = sorted(K.area(p) for p in pieces)
    assert areas == pytest.approx([1.0, 1.0])


def test_dissolve(spark, zones_pd):
    zz = zones_pd[["gid", "secteur", "geometry_wkb"]]
    dis = dissolve(spark.createDataFrame(zz), "secteur").toPandas()
    assert set(dis["secteur"]) == set(zz["secteur"])


def test_image_tile_assignment_matches_cover(spark):
    from gis_tools_spark import cells as C

    pdf = pd.DataFrame({
        "image_id": ["a", "b"],
        "minx": [7.0001, 7.05], "miny": [42.0001, 42.05],
        "maxx": [7.0004, 7.0502], "maxy": [42.0004, 42.0502],
    })
    got = image_tile_assignment(spark.createDataFrame(pdf), res=16).toPandas()
    for _, r in pdf.iterrows():
        want = set(C.bbox_to_cells(r["minx"], r["miny"], r["maxx"], r["maxy"], 16).tolist())
        have = set(got[got.image_id == r["image_id"]]["cell"])
        assert have == want


def test_areal_interpolate_exact_rects(spark):
    from gis_tools_spark.operators.overlay import areal_interpolate

    src = pd.DataFrame({
        "sid": [1, 2],
        "geometry_wkb": [wkb.box(0, 0, 2, 2), wkb.box(2, 0, 4, 2)],
        "v": [10.0, 20.0]})
    dst = pd.DataFrame({
        "did": [1, 2],
        "geometry_wkb": [wkb.box(1, 0, 3, 2), wkb.box(0, 0, 1, 1)]})
    ext = areal_interpolate(spark.createDataFrame(src),
                            spark.createDataFrame(dst), ["v"],
                            src_id="sid", dst_id="did").toPandas()
    ext = ext.set_index("did")["v"]
    # D1 takes half of each src (2/4 area each): 5 + 10
    assert ext[1] == pytest.approx(15.0, abs=1e-9)
    # D2 takes a quarter of src 1
    assert ext[2] == pytest.approx(2.5, abs=1e-9)
    inten = areal_interpolate(spark.createDataFrame(src),
                              spark.createDataFrame(dst), ["v"],
                              extensive=False,
                              src_id="sid", dst_id="did").toPandas()
    inten = inten.set_index("did")["v"]
    # area-weighted mean: (10*2 + 20*2)/4 and 10*1/1
    assert inten[1] == pytest.approx(15.0, abs=1e-9)
    assert inten[2] == pytest.approx(10.0, abs=1e-9)


def test_areal_interpolate_mass_preserving(spark, zones_pd):
    """A dst layer covering every src polygon receives exactly the src
    totals (weights all 1) — incl. the MultiPolygon and holed zones."""
    from gis_tools_spark.operators.overlay import areal_interpolate

    src = zones_pd[["gid", "geometry_wkb"]].copy()
    src["pop"] = src["gid"] * 3.0 + 1.25
    big = pd.DataFrame({"did": [1],
                        "geometry_wkb": [wkb.box(0.0, 30.0, 20.0, 50.0)]})
    out = areal_interpolate(spark.createDataFrame(src),
                            spark.createDataFrame(big), ["pop"],
                            src_id="gid", dst_id="did").toPandas()
    assert len(out) == 1
    assert out["pop"].iloc[0] == pytest.approx(src["pop"].sum(), rel=1e-9)
