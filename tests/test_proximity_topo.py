"""Proximity range join vs a brute-force oracle."""

from gis_tools_spark.geom import kernels as K, wkb
from gis_tools_spark.operators.proximity import dwithin_join


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
