"""Image-table ops (raster/media.py): resize and quality signals —
numeric kernels against closed forms, Spark plumbing end-to-end."""

import numpy as np
import pytest

from gis_tools_spark import fixtures
from gis_tools_spark.raster import codec
from gis_tools_spark.raster.media import resize_array, resize_images


# --------------------------------------------------------------- kernels

def test_resize_nearest_integer_downscale_is_block_sampling():
    a = np.arange(64, dtype=np.uint8).reshape(8, 8)
    r = resize_array(a, 4, 4, method="nearest")
    # pixel-center nearest at 2x downscale picks src index 2i+1
    assert (r == a[1::2, 1::2]).all()


def test_resize_bilinear_exact_on_linear_ramp():
    # bilinear reproduces any affine field exactly away from clamped edges
    yy, xx = np.mgrid[0:16, 0:16].astype(np.float64)
    a = 3.0 * xx + 5.0 * yy
    r = resize_array(a, 31, 31, method="bilinear")
    ys = (np.arange(31) + 0.5) * 16 / 31 - 0.5
    xs = (np.arange(31) + 0.5) * 16 / 31 - 0.5
    want = 3.0 * xs[None, :] + 5.0 * ys[:, None]
    inner = np.s_[1:-1, 1:-1]
    assert np.allclose(r[inner], want[inner], atol=1e-9)


def test_resize_upscale_preserves_constant_and_range():
    a = np.full((5, 7, 3), 200, dtype=np.uint8)
    r = resize_array(a, 21, 15, method="bilinear")
    assert r.shape == (15, 21, 3) and (r == 200).all()


# --------------------------------------------------------------- spark

def test_resize_images_spark(spark):
    pdf = fixtures.gen_images(40, fmts=("raw", "png"))
    df = spark.createDataFrame(pdf)
    out = resize_images(df, 24, 24, method="bilinear").toPandas()
    assert len(out) == 40
    assert (out["w"] == 24).all() and (out["h"] == 24).all()
    # value check one row against the local kernel
    row = out[out.image_id == "img000000003"].iloc[0]
    src = pdf[pdf.image_id == "img000000003"].iloc[0]
    want = resize_array(
        codec.decode(src["bytes"], src["w"], src["h"], src["fmt"]), 24, 24)
    got = codec.decode(row["bytes"], 24, 24, row["fmt"])
    assert (got == want).all()
    # corrupt payload is dropped, not fatal
    bad = pdf.copy()
    bad.loc[0, "bytes"] = b"\x00\x01"
    bad.loc[0, "fmt"] = "png"
    out2 = resize_images(spark.createDataFrame(bad), 8, 8).toPandas()
    assert len(out2) == 39


# --------------------------------------------------------- image quality

def test_quality_metrics_closed_forms():
    from gis_tools_spark.raster.media import quality_metrics
    # constant field: everything flat
    b, c, lv, e, dr = quality_metrics(np.full((32, 32), 77, dtype=np.uint8))
    assert (b, c, lv, e, dr) == (77.0, 0.0, 0.0, 0.0, 0.0)
    # checkerboard a / a+d: contrast d/2, laplacian variance 16 d^2,
    # entropy exactly 1 bit
    a, d = 30, 100
    yy, xx = np.mgrid[0:32, 0:32]
    chk = (a + d * ((xx + yy) % 2)).astype(np.uint8)
    b, c, lv, e, dr = quality_metrics(chk)
    assert b == a + d / 2 and c == d / 2 and lv == 16 * d * d
    assert e == 1.0 and dr == d
    # linear gradient: interior laplacian exactly 0, entropy 5 bits
    grad = np.tile(8 * np.arange(32, dtype=np.uint8), (32, 1))
    b, c, lv, e, dr = quality_metrics(grad)
    assert b == 124.0 and lv == 0.0 and e == 5.0 and dr == 248.0
    assert c == pytest.approx(np.sqrt(5456.0), rel=1e-15)
    # channel-mean path: identical channels reproduce the gray metrics
    rgb = np.repeat(chk[:, :, None], 3, axis=2)
    assert quality_metrics(rgb) == quality_metrics(chk)


def test_image_quality_spark_drops_corrupt(spark):
    from gis_tools_spark.raster.media import image_quality
    pdf = fixtures.gen_images(12, fmts=("raw", "png"))
    pdf.loc[3, "bytes"] = b"\x89PNG corrupt"
    out = image_quality(spark.createDataFrame(pdf)).toPandas()
    assert len(out) == 11  # corrupt row dropped, not fatal
    assert "bytes" not in out.columns
    assert (out["entropy_bits"] > 0).all()
    assert np.isfinite(out[["brightness", "contrast", "lap_var",
                            "dyn_range"]].values).all()
