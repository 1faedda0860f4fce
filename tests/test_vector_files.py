"""GeoJSON + ESRI Shapefile vector-file formats
(sources/vector_files.py): geometry/properties roundtrips over the
fixture layers (incl. holes and MultiPolygons through the shapefile
ring-winding + hole-assignment rules), container forms, dBase
attributes, corrupt-document marking, and the Spark operators feeding
the unchanged sjoin pipeline.

Reference parity: gis-tools builds every layer through geopandas/fiona
file drivers (/root/reference/gistools/layer.py:188-210).
"""

import json

import numpy as np
import pytest

from gis_tools_spark import fixtures
from gis_tools_spark.geom import wkb
from gis_tools_spark.sources import vector_files as VF


def _ring_sets(g):
    if g["type"] == "Polygon":
        rings = [np.asarray(r)[:, :2] for r in g["rings"]]
    elif g["type"] == "MultiPolygon":
        rings = [np.asarray(r)[:, :2] for p in g["polygons"] for r in p]
    else:
        raise AssertionError(g["type"])
    out = []
    for r in rings:
        if np.array_equal(r[0], r[-1]):
            r = r[:-1]
        out.append(frozenset(map(tuple, np.round(r, 9).tolist())))
    return sorted(out, key=sorted)


def test_geojson_feature_roundtrip_all_zone_geoms():
    zones = fixtures.gen_zones(12)
    for _, z in zones.iterrows():
        gj = VF.feature_to_geojson(z["geometry_wkb"],
                                   json.dumps({"gid": int(z["gid"])}))
        (b, props), = VF.parse_geojson(gj)
        assert json.loads(props)["gid"] == int(z["gid"])
        assert _ring_sets(wkb.decode(b)) == \
            _ring_sets(wkb.decode(z["geometry_wkb"]))


def test_geojson_container_forms():
    zones = fixtures.gen_zones(6)
    feats = [json.loads(VF.feature_to_geojson(z["geometry_wkb"]))
             for _, z in zones.iterrows()]
    fc = json.dumps({"type": "FeatureCollection", "features": feats[:3]})
    assert len(VF.parse_geojson(fc)) == 3
    nd = "\n".join(json.dumps(f) for f in feats[:4])
    assert len(VF.parse_geojson(nd)) == 4
    bare = json.dumps({"type": "Point", "coordinates": [5.5, 44.5]})
    assert wkb.geom_type(VF.parse_geojson(bare)[0][0]) == "Point"
    with pytest.raises(Exception):
        VF.parse_geojson("{not json")


def test_shapefile_polygon_roundtrip_holes_and_multis():
    """gen_zones includes a MultiPolygon and a polygon with a hole —
    the winding (outer CW) and hole-assignment paths both run."""
    zones = fixtures.gen_zones(12)
    wkbs = [z["geometry_wkb"] for _, z in zones.iterrows()]
    types = {wkb.geom_type(b) for b in wkbs}
    assert "MultiPolygon" in types
    back = VF.parse_shp(VF.write_shp(wkbs))
    assert len(back) == len(wkbs)
    for a, b in zip(wkbs, back):
        assert _ring_sets(wkb.decode(a)) == _ring_sets(wkb.decode(b))


def test_shapefile_point_line_null_roundtrip():
    pts = [wkb.point(1.5, 2.5), None, wkb.point(-3.25, 7.0)]
    back = VF.parse_shp(VF.write_shp(pts))
    assert back[1] is None
    assert wkb.decode(back[0])["coords"][0] == 1.5
    lines = [wkb.linestring(np.array([[0.0, 0], [1, 1], [2, 0.5]])),
             wkb.multilinestring([np.array([[0.0, 0], [1, 0]]),
                                  np.array([[5.0, 5], [6, 6], [7, 5]])])]
    back = VF.parse_shp(VF.write_shp(lines))
    assert wkb.decode(back[0])["type"] == "LineString"
    assert wkb.decode(back[1])["type"] == "MultiLineString"


def test_geojson_features_spark_roundtrip_feeds_sjoin(spark):
    """zones → to_geojson → geojson_features → the unchanged PIP join:
    zone counts identical to joining the original WKB layer."""
    from gis_tools_spark.operators.sjoin import pip_join

    zones_pdf = fixtures.gen_zones(8)
    zones = spark.createDataFrame(
        zones_pdf[["gid", "geometry_wkb"]]
        .rename(columns={"gid": "feature_id"}))
    gj = VF.to_geojson(zones, props_col=None)
    assert gj.where("not ok").count() == 0
    feats = VF.geojson_features(gj.withColumnRenamed("feature_id", "doc_id"),
                                id_col="doc_id", text_col="json")
    pdf = feats.toPandas()
    assert pdf["ok"].all() and len(pdf) == len(zones_pdf)

    pts = spark.createDataFrame(fixtures.gen_points(800))
    back = feats.select(
        feats.feature_id.alias("gid"), "geometry_wkb")
    base = pip_join(pts, spark.createDataFrame(
        zones_pdf[["gid", "geometry_wkb"]]), strategy="broadcast") \
        .groupBy("gid").count().toPandas()
    via = pip_join(pts, back, strategy="broadcast") \
        .groupBy("gid").count().toPandas()
    base_m = {str(r["gid"]).split("/")[0]: int(r["count"])
              for _, r in base.iterrows()}
    via_m = {str(r["gid"]).split("/")[0]: int(r["count"])
             for _, r in via.iterrows()}
    assert sum(base_m.values()) == sum(via_m.values()) > 0
