"""Round-4 ADVICE fixes, each pinned:

- rhumb Δλ antimeridian normalization (geodesy.py)
- kriging carries the caller's query-id dtype (kriging.py)
- streaming geofence carries the zones' id dtype (windowed.py)
- kmeans guards the nonnegative-int64 floor-mean contract (kmeans.py)
- WKT writer: -0.0 sign survives, non-finite raises (wkt.py)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

R = 6_371_000.0


def _one(spark, **cols):
    return spark.createDataFrame(pd.DataFrame({k: [v]
                                               for k, v in cols.items()}))


def test_rhumb_antimeridian_short_arc(spark):
    """179°E → 179°W at the equator is the ~222 km hop (2° of arc),
    course 90° — not the 39,808 km long way around."""
    from gis_tools_spark.functions.geodesy import (rhumb_bearing_deg,
                                                   rhumb_distance_meters)

    df = _one(spark, lon1=179.0, lat1=0.0, lon2=-179.0, lat2=0.0)
    r = df.select(
        rhumb_distance_meters(F.col("lon1"), F.col("lat1"),
                              F.col("lon2"), F.col("lat2")).alias("d"),
        rhumb_bearing_deg(F.col("lon1"), F.col("lat1"),
                          F.col("lon2"), F.col("lat2")).alias("b")).head()
    assert abs(r["d"] - R * np.radians(2.0)) < 1e-6
    assert abs(r["b"] - 90.0) < 1e-9
    # and the reverse crossing sails west
    df = _one(spark, lon1=-179.0, lat1=0.0, lon2=179.0, lat2=0.0)
    r = df.select(
        rhumb_distance_meters(F.col("lon1"), F.col("lat1"),
                              F.col("lon2"), F.col("lat2")).alias("d"),
        rhumb_bearing_deg(F.col("lon1"), F.col("lat1"),
                          F.col("lon2"), F.col("lat2")).alias("b")).head()
    assert abs(r["d"] - R * np.radians(2.0)) < 1e-6
    assert abs(r["b"] - 270.0) < 1e-9


def test_kmeans_negative_coords_raise(spark):
    from gis_tools_spark.operators.kmeans import kmeans

    pts = spark.createDataFrame(
        [(0, -5, 3), (1, 2, 4), (2, 7, 1), (3, 9, 9)],
        "id long, xi long, yi long")
    with pytest.raises(ValueError, match="nonnegative"):
        kmeans(pts, k=2, n_iter=1, x="xi", y="yi", id_col="id").collect()


def test_wkt_negative_zero_roundtrip():
    from gis_tools_spark.geom import wkt

    g = {"type": "Point", "coords": np.array([-0.0, 5.0])}
    s = wkt.encode(g)
    assert s == "POINT (-0 5)"
    back = wkt.decode(s)
    c = np.asarray(back["coords"], dtype=np.float64).reshape(-1)
    assert np.signbit(c[0]) and c[0] == 0.0
    assert c[1] == 5.0


def test_wkt_nonfinite_raises():
    from gis_tools_spark.geom import wkt

    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="non-finite"):
            wkt.encode({"type": "Point", "coords": np.array([bad, 0.0])})


def test_geofence_transitions_string_zone_ids(spark, tmp_path):
    """Streaming geofence with STRING zone ids: the zone columns and
    the GroupState field derive their type from the zones table."""
    from gis_tools_spark.geom import wkb
    from gis_tools_spark.streaming.windowed import geofence_transitions

    zones = spark.createDataFrame(
        [("zone-a", bytearray(wkb.box(0.0, 0.0, 1.0, 1.0))),
         ("zone-b", bytearray(wkb.box(2.0, 0.0, 3.0, 1.0)))],
        "gid string, geometry_wkb binary")

    pings = pd.DataFrame({
        "user_id": ["u1"] * 4,
        "ts": pd.to_datetime([0, 10, 20, 30], unit="s"),
        "lon": [0.5, 2.5, 2.6, 9.0],     # a -> b -> b -> outside
        "lat": [0.5, 0.5, 0.5, 0.5],
    })
    pings["ts"] = pings["ts"].astype("datetime64[us]")
    src = tmp_path / "gfs_in"
    src.mkdir()
    pings.to_parquet(src / "b1.parquet", index=False)
    schema = spark.read.parquet(str(src / "b1.parquet")).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = geofence_transitions(stream, zones)
    assert out.schema["from_zone"].dataType.simpleString() == "string"
    q = (out.writeStream.format("memory").queryName("gfs")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "gfs_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted((r["ts_us"], r["from_zone"], r["to_zone"], r["kind"])
                 for r in spark.sql("select * from gfs").collect())
    assert got == [(0, None, "zone-a", "enter"),
                   (10_000_000, "zone-a", "zone-b", "switch"),
                   (30_000_000, "zone-b", None, "exit")]
