"""sample_at_points vs direct oracles."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark import fixtures
from gis_tools_spark.raster import codec
from gis_tools_spark.raster.ops import sample_at_points
from gis_tools_spark.raster.zonal import pixel_centers


def test_sample_at_points(spark):
    ras_pd = fixtures.gen_rasters(2, 2, 16)
    ras = spark.createDataFrame(ras_pd)
    # sample at centers of known pixels of tile (0,0)
    r0 = ras_pd.iloc[0]
    arr = codec.decode_raw_f32(r0["bytes"], r0["w"], r0["h"])
    xs, ys = pixel_centers(r0["gt_x0"], r0["gt_rx"], r0["gt_y0"], r0["gt_ry"], r0["w"], r0["h"])
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": [1, 2], "lon": [xs[3], xs[10]], "lat": [ys[5], ys[2]]}))
    got = sample_at_points(ras, pts).toPandas().set_index("pid")
    want1, want2 = float(arr[5, 3]), float(arr[2, 10])
    for pid, want in ((1, want1), (2, want2)):
        v = got.loc[pid, "value"]
        if want == codec.NO_DATA_F32:
            assert np.isnan(v)
        else:
            assert v == pytest.approx(want)
