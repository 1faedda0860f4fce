"""Rhumb-line navigation functions (functions/geodesy.py)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gis_tools_spark.functions.geodesy import (great_circle_meters,
                                               rhumb_bearing_deg,
                                               rhumb_distance_meters)


def _one(spark, **cols):
    return spark.createDataFrame(pd.DataFrame({k: [v]
                                               for k, v in cols.items()}))


def test_published_worked_example(spark):
    """Movable Type scripts rhumb example: Plymouth 50°22′N 4°08′W to
    Boston 42°21′N 71°02′W → 5198 km, course 260°07′."""
    df = _one(spark, lon1=-4.1340, lat1=50.3667,
              lon2=-71.0408, lat2=42.3511)
    r = df.select(
        rhumb_distance_meters(F.col("lon1"), F.col("lat1"),
                              F.col("lon2"), F.col("lat2")).alias("d"),
        rhumb_bearing_deg(F.col("lon1"), F.col("lat1"),
                          F.col("lon2"), F.col("lat2")).alias("b")).head()
    assert abs(r["d"] - 5_198_000) < 1_000
    assert abs(r["b"] - 260.127) < 0.01


def test_equator_and_meridian(spark):
    R = 6_371_000.0
    # along the equator rhumb == great circle == R*Δλ, course 90
    df = _one(spark, lon1=0.0, lat1=0.0, lon2=10.0, lat2=0.0)
    r = df.select(
        rhumb_distance_meters(F.col("lon1"), F.col("lat1"),
                              F.col("lon2"), F.col("lat2")).alias("d"),
        rhumb_bearing_deg(F.col("lon1"), F.col("lat1"),
                          F.col("lon2"), F.col("lat2")).alias("b")).head()
    assert abs(r["d"] - R * np.radians(10)) < 1e-6
    assert abs(r["b"] - 90.0) < 1e-9
    # due north along a meridian, course 0
    df = _one(spark, lon1=5.0, lat1=10.0, lon2=5.0, lat2=20.0)
    r = df.select(
        rhumb_distance_meters(F.col("lon1"), F.col("lat1"),
                              F.col("lon2"), F.col("lat2")).alias("d"),
        rhumb_bearing_deg(F.col("lon1"), F.col("lat1"),
                          F.col("lon2"), F.col("lat2")).alias("b")).head()
    assert abs(r["d"] - R * np.radians(10)) < 1e-6
    assert abs(r["b"]) < 1e-9


def test_rhumb_at_least_great_circle(spark):
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({
        "lon1": rng.uniform(-170, 170, 200),
        "lat1": rng.uniform(-70, 70, 200),
        "lat2": rng.uniform(-70, 70, 200),
    })
    pdf["lon2"] = pdf["lon1"] + rng.uniform(-10, 10, 200)
    df = spark.createDataFrame(pdf)
    out = df.select(
        rhumb_distance_meters(F.col("lon1"), F.col("lat1"),
                              F.col("lon2"), F.col("lat2")).alias("rh"),
        great_circle_meters(F.col("lon1"), F.col("lat1"),
                            F.col("lon2"), F.col("lat2")).alias("gc")
    ).toPandas()
    assert (out["rh"] >= out["gc"] - 1e-6).all()
