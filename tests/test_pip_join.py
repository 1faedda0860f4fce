"""PIP / spatial join vs plain-pandas oracle (SURVEY.md §5 strategy)."""

import logging

import numpy as np
import pytest

from gis_tools_spark.geom import kernels as K, wkb
from gis_tools_spark.operators.sjoin import pip_join, sjoin


@pytest.fixture(scope="module")
def oracle_pairs(zones_pd, points_pd):
    out = []
    for _, z in zones_pd.iterrows():
        g = wkb.decode(z["geometry_wkb"])
        ok = K.covers_xy(g, points_pd["lon"].values, points_pd["lat"].values)
        out.extend((int(p), int(z["gid"])) for p in points_pd["pid"].values[ok])
    return sorted(out)


@pytest.fixture(scope="module")
def dfs(spark, zones_pd, points_pd):
    return (spark.createDataFrame(points_pd),
            spark.createDataFrame(zones_pd[["gid", "nom", "secteur", "surf", "geometry_wkb"]]))


@pytest.mark.parametrize("strategy", ["cell", "broadcast", "auto"])
def test_pip_join_matches_oracle(dfs, oracle_pairs, strategy, caplog):
    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    pts, zones = dfs
    got = sorted((r["pid"], r["gid"]) for r in
                 pip_join(pts, zones, strategy=strategy).select("pid", "gid").collect())
    assert got == oracle_pairs
    want = {"cell": "pip_join strategy=cell reason=requested",
            "broadcast": "pip_join strategy=broadcast reason=requested",
            "auto": "pip_join strategy=broadcast reason=polygons within "
                    "broadcast limits"}[strategy]
    assert want in [r.getMessage() for r in caplog.records]


def test_pip_join_salted_matches(dfs, oracle_pairs):
    pts, zones = dfs
    got = sorted((r["pid"], r["gid"]) for r in
                 pip_join(pts, zones, strategy="cell", salt_threshold=50)
                 .select("pid", "gid").collect())
    assert got == oracle_pairs


def test_pip_join_sampled_salt_matches(dfs, oracle_pairs):
    """Sampled hot-cell detection must not change results — salting is
    correctness-invariant however the histogram is estimated (a missed
    hot cell stays unsalted, an over-count over-spreads)."""
    pts, zones = dfs
    got = sorted((r["pid"], r["gid"]) for r in
                 pip_join(pts, zones, strategy="cell", salt_threshold=20,
                          salt_sample=0.3)
                 .select("pid", "gid").collect())
    assert got == oracle_pairs


def test_pip_join_salt_hist_proxy_matches(dfs, oracle_pairs):
    """A cheap histogram proxy (here: a half-sample of the point table)
    must not change results, and force_shuffle must not either."""
    pts, zones = dfs
    proxy = pts.sample(fraction=0.5, seed=1).select("lon", "lat")
    got = sorted((r["pid"], r["gid"]) for r in
                 pip_join(pts, zones, strategy="cell", salt_threshold=20,
                          salt_hist=proxy, force_shuffle=True)
                 .select("pid", "gid").collect())
    assert got == oracle_pairs


def test_pip_left_join_keeps_all_points(dfs):
    pts, zones = dfs
    n = pip_join(pts, zones, strategy="cell", how="left").select("pid").distinct().count()
    assert n == pts.count()  # fixture pids are unique


def test_pip_empty_and_null_sides(dfs, spark):
    from pyspark.sql import functions as F

    pts, zones = dfs
    assert pip_join(pts, zones.limit(0), strategy="cell").count() == 0
    zn = zones.limit(1).withColumn("geometry_wkb", F.lit(None).cast("binary"))
    assert pip_join(pts, zn, strategy="cell").count() == 0


def test_geom_geom_sjoin_matches_oracle(spark, zones_pd):
    gs = [wkb.decode(b) for b in zones_pd["geometry_wkb"]]
    oracle = sorted((int(zones_pd["gid"][i]), int(zones_pd["gid"][j]))
                    for i, g1 in enumerate(gs) for j, g2 in enumerate(gs)
                    if K.intersects(g1, g2))
    left = spark.createDataFrame(zones_pd[["gid", "geometry_wkb"]])
    right = spark.createDataFrame(zones_pd[["gid", "geometry_wkb"]].rename(columns={"gid": "gid2"}))
    got = sorted((r["gid"], r["gid2"]) for r in
                 sjoin(left, right, left_id="gid", right_id="gid2")
                 .select("gid", "gid2").collect())
    assert got == oracle
