"""Median center (Weiszfeld): step-identical numpy replay, robustness
vs the mean under outliers, objective-function optimality, grouping,
and the coincident-point clamp."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_tools_spark.operators.centrography import median_center


def _weiszfeld(px, py, iters=12, eps=1e-12):
    cx, cy = px.mean(), py.mean()
    for _ in range(iters):
        d = np.maximum(np.hypot(px - cx, py - cy), eps)
        cx = (px / d).sum() / (1.0 / d).sum()
        cy = (py / d).sum() / (1.0 / d).sum()
    return cx, cy


def test_matches_numpy_replay(spark):
    rng = np.random.RandomState(6)
    pdf = pd.DataFrame({"g": np.repeat(["a", "b", "c"], 200),
                        "lon": rng.normal(5, 2, 600),
                        "lat": rng.normal(40, 1, 600)})
    out = median_center(spark.createDataFrame(pdf), by=["g"]) \
        .orderBy("g").toPandas()
    for i, g in enumerate(["a", "b", "c"]):
        sub = pdf[pdf["g"] == g]
        ex, ey = _weiszfeld(sub["lon"].to_numpy(), sub["lat"].to_numpy())
        assert abs(out["median_x"][i] - ex) < 1e-9
        assert abs(out["median_y"][i] - ey) < 1e-9
        assert out["n"][i] == 200


def test_objective_beats_mean(spark):
    # Σ distance at the median center <= at the mean center
    rng = np.random.RandomState(9)
    px = np.concatenate([rng.normal(0, 1, 300), rng.uniform(50, 60, 10)])
    py = np.concatenate([rng.normal(0, 1, 300), rng.uniform(50, 60, 10)])
    pdf = pd.DataFrame({"lon": px, "lat": py})
    df = spark.createDataFrame(pdf)
    med = median_center(df).first()
    mean_x, mean_y = px.mean(), py.mean()

    def obj(cx, cy):
        return np.hypot(px - cx, py - cy).sum()
    assert obj(med["median_x"], med["median_y"]) < obj(mean_x, mean_y)
    # the outliers drag the mean far more than the median
    assert abs(med["median_x"]) < 0.5 and abs(mean_x) > 1.0


def test_coincident_points_clamp(spark):
    pdf = pd.DataFrame({"lon": [1.0] * 5 + [2.0], "lat": [1.0] * 5 + [2.0]})
    out = median_center(spark.createDataFrame(pdf)).first()
    # majority mass at (1,1): the median sits there, clamp keeps it
    # finite and stable
    assert np.isfinite(out["median_x"]) and np.isfinite(out["median_y"])
    assert abs(out["median_x"] - 1.0) < 1e-6
    ex, ey = _weiszfeld(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
    assert abs(out["median_x"] - ex) < 1e-9


def test_single_point_and_pair(spark):
    pdf = pd.DataFrame({"lon": [3.0], "lat": [4.0]})
    out = median_center(spark.createDataFrame(pdf)).first()
    assert out["median_x"] == 3.0 and out["median_y"] == 4.0
    pdf = pd.DataFrame({"lon": [0.0, 2.0], "lat": [0.0, 0.0]})
    out = median_center(spark.createDataFrame(pdf)).first()
    # any point on the segment minimizes; Weiszfeld from the mean stays
    # at the midpoint
    assert abs(out["median_x"] - 1.0) < 1e-9 and abs(out["median_y"]) < 1e-9
