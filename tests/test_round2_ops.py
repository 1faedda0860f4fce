"""Round-2 gap-fill operators: centroid-boundary distance."""

import numpy as np
import pytest

from gis_tools_spark.geom import wkb


# ---------------------------------------------------------------- centroid-boundary

def test_centroid_boundary_distance(spark):
    from gis_tools_spark.operators.proximity import centroid_boundary_distance

    df = spark.createDataFrame(
        [(1, bytearray(wkb.box(0, 0, 4, 2)))], "gid int, geometry_wkb binary")
    r = centroid_boundary_distance(df).collect()[0]
    # centroid (2,1): nearest edge 1 away, farthest corner sqrt(5)
    assert r["cb_min_dist"] == pytest.approx(1.0, abs=1e-9)
    assert r["cb_max_dist"] == pytest.approx(np.sqrt(5.0), abs=1e-9)

