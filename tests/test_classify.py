"""Equal-interval breaks and column classification."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.operators.classify import (
    classify_column,
    equal_interval_breaks,
)


def test_breaks_and_classify(spark):
    pdf = pd.DataFrame({"v": np.arange(100, dtype=float)})
    df = spark.createDataFrame(pdf)
    eq = equal_interval_breaks(df, "v", 4)
    assert eq == pytest.approx([24.75, 49.5, 74.25])
    out = df.select("v", classify_column("v", eq).alias("c")).toPandas()
    assert set(out.c) == {0, 1, 2, 3}
    # monotone, boundary goes to the LOWER class (v <= break)
    assert (out.sort_values("v").c.diff().fillna(0) >= 0).all()
    assert out[out.v == 24.0].c.iloc[0] == 0
    assert out[out.v == 25.0].c.iloc[0] == 1
