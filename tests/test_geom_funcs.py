"""Column-level geometry functions + geodesy."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_tools_spark.functions import (
    geom_area,
    geom_buffer,
    geom_centroid_xy,
    geom_convex_hull,
    geom_envelope,
    geom_force_2d,
    geom_length,
    geom_shape_factor,
    geom_type_of,
    great_circle_meters,
)
from gis_tools_spark.geom import kernels as K, wkb


@pytest.fixture(scope="module")
def gdf(spark):
    rows = [
        (1, wkb.box(0, 0, 2, 2)),
        (2, wkb.polygon([[(0, 0), (4, 0), (4, 4), (0, 4)], [(1, 1), (1, 3), (3, 3), (3, 1)]])),
        (3, wkb.linestring([(0, 0, 5), (3, 4, 6)])),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["gid", "geometry_wkb"]))


def test_area_length_type(gdf):
    got = (gdf.withColumn("a", geom_area()(F.col("geometry_wkb")))
           .withColumn("l", geom_length()(F.col("geometry_wkb")))
           .withColumn("t", geom_type_of()(F.col("geometry_wkb")))
           .toPandas().set_index("gid"))
    assert got.loc[1, "a"] == 4.0 and got.loc[2, "a"] == 12.0
    assert got.loc[3, "l"] == pytest.approx(5.0)
    assert got.loc[3, "t"] == "LineString"


def test_centroid_envelope_hull(gdf):
    got = (gdf.withColumn("c", geom_centroid_xy()(F.col("geometry_wkb")))
           .withColumn("env", geom_envelope()(F.col("geometry_wkb")))
           .withColumn("hull", geom_convex_hull()(F.col("geometry_wkb")))
           .toPandas().set_index("gid"))
    assert got.loc[1, "c"]["cx"] == 1.0
    env = wkb.decode(got.loc[2, "env"])
    assert K.bounds(env) == (0, 0, 4, 4)
    hull = wkb.decode(got.loc[2, "hull"])
    assert K.area(hull) == pytest.approx(16.0)


def test_force2d(spark):
    line3d = wkb.linestring([(0, 0, 1), (5, 0.001, 2), (10, 0, 3)])
    df = spark.createDataFrame(pd.DataFrame({"gid": [1], "geometry_wkb": [line3d]}))
    got = (df.withColumn("f2", geom_force_2d()(F.col("geometry_wkb")))
           .toPandas().iloc[0])
    assert wkb.decode(got["f2"])["coords"].shape[1] == 2


def test_buffer_point_area(spark):
    df = spark.createDataFrame(pd.DataFrame({"gid": [1], "geometry_wkb": [wkb.point(0, 0)]}))
    got = df.withColumn("b", geom_buffer(1.0)(F.col("geometry_wkb"))).toPandas().iloc[0]
    g = wkb.decode(got["b"])
    # 64-gon area ≈ π
    assert K.area(g) == pytest.approx(np.pi, rel=0.01)


def test_shape_factor_circle_vs_square(spark):
    circle = wkb.polygon([K.buffer_point(0, 0, 1.0, 32)])
    square = wkb.box(0, 0, 1, 1)
    df = spark.createDataFrame(pd.DataFrame({"gid": [1, 2], "geometry_wkb": [circle, square]}))
    got = df.withColumn("sf", geom_shape_factor()(F.col("geometry_wkb"))).toPandas().set_index("gid")
    assert got.loc[1, "sf"] == pytest.approx(1.0, rel=0.01)
    assert got.loc[2, "sf"] == pytest.approx(np.pi / 4, rel=1e-6)


def test_geodesy_columns(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "lon1": [0.0], "lat1": [0.0], "lon2": [0.0], "lat2": [1.0]}))
    got = df.select(
        great_circle_meters(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("gc"),
    ).collect()[0]
    assert got["gc"] == pytest.approx(111194.9, rel=1e-3)  # 1 deg meridian arc
    # plan check: pure codegen, no Python UDF
    plan = df.select(great_circle_meters(F.col("lon1"), F.col("lat1"),
                                         F.col("lon2"), F.col("lat2")))._jdf \
        .queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_sql_api_registration_and_queries(spark):
    """register_sql_functions makes the st_* surface callable from pure
    SQL text; spot-check behavior on known geometries."""
    from gis_tools_spark.functions.sql_api import register_sql_functions
    from gis_tools_spark.geom import wkb

    names = register_sql_functions(spark)
    assert "st_area" in names and "st_contains" in names
    sq = wkb.polygon([[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0),
                       (0.0, 0.0)]])
    df = spark.createDataFrame([(sq,)], "g binary")
    df.createOrReplaceTempView("__t_sqlapi")
    row = spark.sql("""
        SELECT st_area(g) AS a, st_length(g) AS l,
               st_centroid(g).cx AS cx, st_is_valid(g) AS ok,
               st_geometry_type(g) AS gt,
               st_contains(g, st_point(1.0, 1.0)) AS inside,
               st_contains(g, st_point(5.0, 1.0)) AS outside,
               st_distance(g, st_point(5.0, 1.0)) AS d
        FROM __t_sqlapi""").collect()[0]
    assert row.a == pytest.approx(4.0) and row.l == pytest.approx(8.0)
    assert row.cx == pytest.approx(1.0)
    assert row.ok and row.gt == "Polygon"
    assert row.inside and not row.outside
    assert row.d == pytest.approx(3.0)
