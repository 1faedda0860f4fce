"""Overpass response parsing (sources/osm.py), mirrored against the
reference's pure functions (osm.py:25-98 feature extraction — same
element-selection and skip rules). The HTTP fetch is out of scope.
"""

import json

import numpy as np

from gis_tools_spark.geom import wkb
from gis_tools_spark.sources import osm as O


def _resp(elements):
    return json.dumps({"version": 0.6, "elements": elements})


def test_point_features():
    r = _resp([
        {"type": "node", "id": 7, "lon": 5.5, "lat": 44.5,
         "tags": {"amenity": "cafe"}},
        {"type": "way", "id": 8, "geometry": [], "tags": {}},
    ])
    feats = O.overpass_features(r, "point")
    assert len(feats) == 1
    b, props = feats[0]
    g = wkb.decode(b)
    assert g["type"] == "Point" and tuple(g["coords"][:2]) == (5.5, 44.5)
    p = json.loads(props)
    assert p["osm_id"] == 7 and p["osm_type"] == "node" \
        and p["amenity"] == "cafe"


def test_way_linestring_and_polygon():
    way = {"type": "way", "id": 3,
           "geometry": [{"lon": 0.0, "lat": 0.0}, {"lon": 1.0, "lat": 0.0},
                        {"lon": 1.0, "lat": 1.0}, {"lon": 0.0, "lat": 0.0}],
           "tags": {"building": "yes"}}
    short = {"type": "way", "id": 4, "geometry": [{"lon": 0, "lat": 0}],
             "tags": {}}
    feats = O.overpass_features(_resp([way, short]), "linestring")
    assert len(feats) == 1
    assert wkb.decode(feats[0][0])["type"] == "LineString"
    feats = O.overpass_features(_resp([way, short]), "polygon")
    assert len(feats) == 1
    assert wkb.decode(feats[0][0])["type"] == "Polygon"


def test_relation_multipolygon_merges_member_ways():
    """Two half-rings merge end-to-end into one closed ring (the
    reference's gistools.geometry merge path)."""
    half1 = [{"lon": 0.0, "lat": 0.0}, {"lon": 2.0, "lat": 0.0},
             {"lon": 2.0, "lat": 2.0}]
    half2 = [{"lon": 2.0, "lat": 2.0}, {"lon": 0.0, "lat": 2.0},
             {"lon": 0.0, "lat": 0.0}]
    rel = {"type": "relation", "id": 9,
           "tags": {"type": "multipolygon", "landuse": "forest"},
           "members": [{"type": "way", "geometry": half1},
                       {"type": "way", "geometry": half2}]}
    # a relation whose tags.type is NOT multipolygon/boundary is skipped
    other = {"type": "relation", "id": 10, "tags": {"type": "route"},
             "members": [{"type": "way", "geometry": half1}]}
    feats = O.overpass_features(_resp([rel, other]), "polygon")
    assert len(feats) == 1
    g = wkb.decode(feats[0][0])
    assert g["type"] == "MultiPolygon"
    ring = np.asarray(g["polygons"][0][0])
    assert len(ring) == 5 and np.array_equal(ring[0], ring[-1])
    # linestring mode accepts any relation
    feats = O.overpass_features(_resp([rel, other]), "linestring")
    assert len(feats) == 2
    assert wkb.decode(feats[0][0])["type"] == "MultiLineString"


def test_osm_features_spark(spark):
    import pandas as pd

    node = {"type": "node", "id": 1, "lon": 5.1, "lat": 44.2,
            "tags": {"amenity": "bar"}}
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["a", "b"],
        "json": [_resp([node]), "{broken"]}))
    out = O.osm_features(df, "point").orderBy("feature_id").toPandas()
    assert list(out["ok"]) == [True, False]
    assert out["geom_type"][0] == "Point"
    assert json.loads(out["properties"][0])["amenity"] == "bar"
