"""Centrography (operators/centrography.py) vs closed-form numpy: the
standard deviational ellipse must match the direct per-point definitions, not just the moment shortcut —
this catches any algebra error in the Σx²-style rearrangement."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.operators.centrography import (
    std_deviational_ellipse)


def _ref_ellipse(x, y, w=None):
    w = np.ones_like(x) if w is None else w
    n = w.sum()
    mx, my = (w * x).sum() / n, (w * y).sum() / n
    dx, dy = x - mx, y - my
    sdd = np.sqrt(((w * dx * dx).sum() + (w * dy * dy).sum()) / n)
    A = (w * dx * dx).sum() - (w * dy * dy).sum()
    B = (w * dx * dy).sum()
    if B == 0:
        th = 0.0 if A >= 0 else np.pi / 2
    else:
        th = np.arctan((A + np.sqrt(A * A + 4 * B * B)) / (2 * B))
    if th < 0:
        th += np.pi
    ct, st = np.cos(th), np.sin(th)
    sx = np.sqrt(2.0) * np.sqrt((w * (dx * ct - dy * st) ** 2).sum() / n)
    sy = np.sqrt(2.0) * np.sqrt((w * (dx * st + dy * ct) ** 2).sum() / n)
    return mx, my, sdd, th, sx, sy


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "grp": np.repeat(np.arange(4), 250),
        "lon": rng.normal(5, 2, 1000) + np.repeat(np.arange(4), 250) * 0.7,
        "lat": rng.normal(40, 1, 1000),
        "wgt": rng.integers(1, 5, 1000).astype(float),
    })
    # stretch group 2 along a diagonal so the rotation is nontrivial
    m = pdf.grp == 2
    pdf.loc[m, "lat"] += pdf.loc[m, "lon"] * 0.9
    return pdf


def test_ellipse_matches_per_point_definition(spark, pts):
    out = (std_deviational_ellipse(spark.createDataFrame(pts), by=["grp"])
           .toPandas().set_index("grp").sort_index())
    for g, sub in pts.groupby("grp"):
        mx, my, sdd, th, sx, sy = _ref_ellipse(sub.lon.values, sub.lat.values)
        r = out.loc[g]
        assert r["n"] == len(sub)
        np.testing.assert_allclose(
            [r.mean_x, r.mean_y, r.std_dist, r.theta_rad, r.sigma_x, r.sigma_y],
            [mx, my, sdd, th, sx, sy], rtol=1e-9)


def test_rotation_invariants(spark):
    # points laid exactly on the x-axis: theta 0, sigma_y 0
    pdf = pd.DataFrame({"lon": np.arange(10, dtype=float),
                        "lat": np.zeros(10)})
    r = std_deviational_ellipse(spark.createDataFrame(pdf)).toPandas().iloc[0]
    assert r.theta_rad == 0.0 and abs(r.sigma_y) < 1e-12
    # same points on the y-axis: theta pi/2
    pdf2 = pd.DataFrame({"lon": np.zeros(10),
                         "lat": np.arange(10, dtype=float)})
    r2 = std_deviational_ellipse(spark.createDataFrame(pdf2)).toPandas().iloc[0]
    assert abs(r2.theta_rad - np.pi / 2) < 1e-12
