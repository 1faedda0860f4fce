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
def test_pip_join_matches_oracle(dfs, zones_pd, oracle_pairs, strategy,
                                caplog):
    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    pts, zones = dfs
    rows = pip_join(pts, zones, strategy=strategy).select(
        "pid", "gid", "nom", "secteur", "surf").collect()
    got = sorted((r["pid"], r["gid"]) for r in rows)
    assert got == oracle_pairs
    # every plan attaches each polygon's own attributes
    attrs = {int(z.gid): (z.nom, z.secteur, z.surf)
             for z in zones_pd.itertuples()}
    assert all(tuple(r)[2:] == attrs[r["gid"]] for r in rows)
    want = {"cell": "pip_join strategy=cell reason=requested",
            "broadcast": "pip_join strategy=broadcast reason=requested",
            "auto": "pip_join strategy=broadcast reason=polygons within "
                    "broadcast limits"}[strategy]
    assert want in [r.getMessage() for r in caplog.records]


def _salted(caplog) -> int:
    """The hot-cell count of the one ``salt hot_cells=N`` record."""
    salt = [r.getMessage() for r in caplog.records
            if r.getMessage().startswith("salt hot_cells=")]
    assert len(salt) == 1, salt
    return int(salt[0].split("=")[1])


def test_pip_join_salted_matches(dfs, oracle_pairs, caplog):
    """Salting the hot cells (the fixture's densest point cells hold 9-11
    points) must not change results, and the salting choice is logged."""
    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    pts, zones = dfs
    got = sorted((r["pid"], r["gid"]) for r in
                 pip_join(pts, zones, strategy="cell", salt_threshold=5)
                 .select("pid", "gid").collect())
    assert got == oracle_pairs
    assert _salted(caplog) > 0


def test_pip_join_sampled_salt_matches(dfs, oracle_pairs, caplog):
    """Sampled hot-cell detection must not change results — salting is
    correctness-invariant however the histogram is estimated (a missed
    hot cell stays unsalted, an over-count over-spreads). The threshold
    is low enough that the 30% sample finds hot cells."""
    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    pts, zones = dfs
    got = sorted((r["pid"], r["gid"]) for r in
                 pip_join(pts, zones, strategy="cell", salt_threshold=5,
                          salt_sample=0.3)
                 .select("pid", "gid").collect())
    assert got == oracle_pairs
    assert _salted(caplog) > 0


def test_pip_join_salt_hist_proxy_matches(dfs, oracle_pairs, caplog):
    """A cheap histogram proxy (here: a half-sample of the point table)
    must not change results, and force_shuffle must not either. The
    threshold is low enough that the proxy finds hot cells."""
    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    pts, zones = dfs
    proxy = pts.sample(fraction=0.5, seed=1).select("lon", "lat")
    got = sorted((r["pid"], r["gid"]) for r in
                 pip_join(pts, zones, strategy="cell", salt_threshold=3,
                          salt_hist=proxy, force_shuffle=True)
                 .select("pid", "gid").collect())
    assert got == oracle_pairs
    assert _salted(caplog) > 0


def test_pip_left_join_keeps_all_points(dfs):
    pts, zones = dfs
    n = pip_join(pts, zones, strategy="cell", how="left").select("pid").distinct().count()
    assert n == pts.count()  # fixture pids are unique


@pytest.mark.parametrize("strategy", ["cell", "broadcast"])
def test_pip_empty_and_null_sides(dfs, spark, strategy):
    """An empty polygon side gives no rows; a null polygon is skipped on
    both strategies while the other polygons still match; a polygon
    side with no attribute column still joins."""
    from pyspark.sql import functions as F

    pts, zones = dfs
    assert pip_join(pts, zones.limit(0), strategy=strategy).count() == 0
    zn = zones.limit(1).withColumn("geometry_wkb", F.lit(None).cast("binary"))
    assert pip_join(pts, zn, strategy=strategy).count() == 0
    n = pip_join(pts, zones, strategy=strategy).count()
    assert n > 0
    assert pip_join(pts, zones.unionByName(zn), strategy=strategy).count() == n
    assert pip_join(pts, zones.select("geometry_wkb"),
                    strategy=strategy).count() == n


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
