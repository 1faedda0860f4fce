"""Exact-microdegree EXIF geotag writer (raster/exif.py
build_exif_udeg/geotag) + the geotag_images egress operator.

The generic reader/writer (parse_exif/build_exif/image_exif) is
covered by test_warc_html; these tests pin the EXACT
round-trip contract of the µdeg writer and the Spark stamp→extract
loop."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.raster import exif as X
from gis_tools_spark.raster import jpeg as J


def _jpeg(seed: int = 0, side: int = 24) -> bytes:
    a = (np.random.RandomState(seed).rand(side, side, 3) * 255)
    return J.encode(a.astype(np.uint8), quality=88)


def test_roundtrip_exact_microdegrees():
    buf = _jpeg()
    rng = np.random.RandomState(7)
    cases = [(48_858_370, 2_294_481), (-33_868_820, 151_209_290),
             (0, 0), (89_999_999, -179_999_999), (-89_999_999, 180_000_000)]
    cases += [(int(rng.randint(-90_000_000, 90_000_001)),
               int(rng.randint(-180_000_000, 180_000_001)))
              for _ in range(200)]
    for lat_u, lon_u in cases:
        p = X.parse_exif(X.geotag(buf, lat_udeg=lat_u, lon_udeg=lon_u))
        assert int(np.floor(p["lat"] * 1e6 + 0.5)) == lat_u
        assert int(np.floor(p["lon"] * 1e6 + 0.5)) == lon_u


def test_fields_roundtrip_and_decode_invariance():
    buf = _jpeg(3)
    g = X.geotag(buf, lat_udeg=1_500_000, lon_udeg=-2_250_000,
                 alt_mm=-12_345, dt="2026:01:02 03:04:05", orientation=8)
    p = X.parse_exif(g)
    assert p["orientation"] == 8
    assert p["timestamp"] == "2026:01:02 03:04:05"
    assert abs(p["alt"] - (-12.345)) < 1e-12
    assert np.array_equal(J.decode(g), J.decode(buf))


def test_float_writer_vs_udeg_writer_agreement():
    """The generic float build_exif and the exact µdeg writer must
    agree to within 1 µdeg (the float path's documented tolerance)."""
    buf = _jpeg(4)
    for lat, lon in [(48.85837, 2.294481), (-33.86882, 151.20929)]:
        a = X.parse_exif(X.embed_exif(buf, X.build_exif(lon=lon, lat=lat)))
        b = X.parse_exif(X.geotag(buf, lat_udeg=round(lat * 1e6),
                                  lon_udeg=round(lon * 1e6)))
        assert abs(a["lat"] - b["lat"]) < 2e-6
        assert abs(a["lon"] - b["lon"]) < 2e-6


def test_malformed_inputs():
    buf = _jpeg(5)
    g = X.geotag(buf, lat_udeg=1, lon_udeg=1)
    assert X.parse_exif(buf) == {}
    with pytest.raises(X.ExifError):
        X.parse_exif(b"PNG" * 10)
    # truncations of a valid geotagged stream: parse either returns a
    # dict or raises ExifError — never a different exception
    for cut in range(2, min(len(g), 220), 7):
        try:
            X.parse_exif(g[:cut])
        except X.ExifError:
            pass


@pytest.mark.parametrize("alt_mm,want", [(0, 0.0), (8_848_860, 8848.86),
                                         (-430_500, -430.5)])
def test_altitude_exact(alt_mm, want):
    p = X.parse_exif(X.geotag(_jpeg(10), lat_udeg=1, lon_udeg=1,
                              alt_mm=alt_mm))
    assert abs(p["alt"] - want) < 1e-9


def test_spark_geotag_images_roundtrip(spark):
    from gis_tools_spark.operators.imgmeta import geotag_images
    from gis_tools_spark.raster.exif import image_exif

    base = _jpeg(9)
    pdf = pd.DataFrame({
        "image_id": [f"i{k}" for k in range(20)],
        "bytes": [base if k % 4 else b"RAWW" for k in range(20)],
        "lat_udeg": [k * 1_000_003 - 10_000_000 for k in range(20)],
        "lon_udeg": [k * 2_000_003 - 20_000_000 for k in range(20)],
        "ori": [1 + k % 8 for k in range(20)],
    })
    df = spark.createDataFrame(pdf)
    stamped = geotag_images(df, orientation="ori")
    assert stamped.columns == df.columns
    out = image_exif(stamped).toPandas().set_index("image_id")
    for _, row in pdf.iterrows():
        r = out.loc[row["image_id"]]
        if row["bytes"][:2] == b"\xff\xd8":
            assert int(np.floor(r["lat"] * 1e6 + 0.5)) == row["lat_udeg"]
            assert int(np.floor(r["lon"] * 1e6 + 0.5)) == row["lon_udeg"]
            assert r["orientation"] == row["ori"]
        else:
            assert not r["has_gps"]


def test_spark_geotag_null_coords_passthrough(spark):
    from gis_tools_spark.operators.imgmeta import geotag_images

    base = _jpeg(11)
    pdf = pd.DataFrame({
        "image_id": ["a", "b"],
        "bytes": [base, base],
        "lat_udeg": pd.array([1_000_000, None], dtype="Int64"),
        "lon_udeg": pd.array([2_000_000, None], dtype="Int64"),
    })
    df = spark.createDataFrame(pdf)
    out = geotag_images(df).toPandas().set_index("image_id")
    assert bytes(out.loc["b", "bytes"]) == base          # untouched
    assert bytes(out.loc["a", "bytes"]) != base          # stamped
