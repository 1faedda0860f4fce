"""Per-image raster kernels: polygonize, resample, contour."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.geom import kernels as K, wkb
from gis_tools_spark.raster import codec
from gis_tools_spark.raster.kernels import (
    contour_bins,
    resample_block,
)
from gis_tools_spark.raster.polygonize import polygonize, polygonize_region

from test_stitch import both_paths


def _tile_df(spark, arr, gt=(0.0, 1.0, 0.0, 1.0), image_id="t"):
    h, w = arr.shape[:2]
    fmt = "raw_f32" if arr.ndim == 2 else "raw"
    return spark.createDataFrame(pd.DataFrame([(
        image_id, codec.encode(arr, fmt), w, h, fmt, "c", 0,
        gt[0], gt[1], gt[2], gt[3])],
        columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                 "gt_x0", "gt_rx", "gt_y0", "gt_ry"]))


def test_polygonize_classes(spark):
    # class raster: left half 1.0, right half 2.0, one nodata pixel
    arr = np.ones((8, 8), dtype=np.float32)
    arr[:, 4:] = 2.0
    arr[3, 3] = codec.NO_DATA_F32
    df = _tile_df(spark, arr, gt=(0.0, 1.0, 8.0, 1.0))
    out = polygonize(df).toPandas()
    by_val = out.groupby("value")[["region_area", "px_count"]].sum()
    assert by_val.loc[1.0, "px_count"] == 31  # 32 minus nodata pixel
    assert by_val.loc[2.0, "px_count"] == 32
    assert by_val.loc[1.0, "region_area"] == pytest.approx(31.0)
    assert by_val.loc[2.0, "region_area"] == pytest.approx(32.0)
    # nodata emitted as no region
    assert codec.NO_DATA_F32 not in set(out["value"])
    # region polygons are valid WKB with consistent bounds
    for _, r in out.iterrows():
        g = wkb.decode(r["region_wkb"])
        assert K.area(g) == pytest.approx(r["region_area"])


@pytest.mark.parametrize("connectivity", [8, "4"])
def test_polygonize_rejects_unsupported_connectivity(spark, connectivity):
    df = _tile_df(spark, np.ones((2, 2), dtype=np.float32))
    with pytest.raises(ValueError, match="connectivity"):
        polygonize(df, connectivity=connectivity)


def test_polygonize_region_hole():
    m = np.ones((4, 4), dtype=bool)
    m[1:3, 1:3] = False
    g = polygonize_region(m, (0.0, 1.0, 4.0, 1.0))
    assert abs(K.area(g) - 12.0) < 1e-12
    assert len(g["rings"]) == 2


def test_resample_mean_and_nearest(spark):
    arr = np.arange(16, dtype=np.float32).reshape(4, 4)
    out = resample_block(_tile_df(spark, arr), 2, method="mean").toPandas()
    res = codec.decode_raw_f32(out["bytes"].iloc[0], int(out["w"].iloc[0]), int(out["h"].iloc[0]))
    want = arr.reshape(2, 2, 2, 2).mean(axis=(1, 3))
    assert np.allclose(res, want)
    out2 = resample_block(_tile_df(spark, arr), -2).toPandas()
    assert int(out2["w"].iloc[0]) == 8 and int(out2["h"].iloc[0]) == 8


def test_contour_bins(spark):
    rng = np.random.default_rng(0)
    arr = rng.uniform(0, 100, (16, 16)).astype(np.float32)
    out = contour_bins(_tile_df(spark, arr), interval=10.0).toPandas()
    res = codec.decode_raw_f32(out["bytes"].iloc[0], 16, 16)
    # binned values form few distinct levels
    assert len(np.unique(res)) <= 12


def test_hillshade_matches_global_array(spark, monkeypatch):
    """Stitched hillshade on a 2x2 mosaic equals the single-global-array
    computation everywhere (borders through the halo exchange), and the
    formula matches a direct numpy evaluation."""
    import numpy as np

    from gis_tools_spark import fixtures
    from gis_tools_spark.raster import codec
    from gis_tools_spark.raster.kernels import horn_output
    from gis_tools_spark.raster.stitch import slope_aspect_stitched

    ras_pd = fixtures.gen_rasters_exact(2, 2, 32)

    # rebuild the global array
    G = np.zeros((64, 64), dtype=np.float64)
    for r in ras_pd.itertuples(index=False):
        arr = codec.decode(r.bytes, int(r.w), int(r.h), r.fmt)
        _, tx, ty = r.image_id.split("_")
        G[int(ty)*32:(int(ty)+1)*32, int(tx)*32:(int(tx)+1)*32] = arr
    G = np.where(G == codec.NO_DATA_F32, np.nan, G)
    p = np.pad(G, 1, mode="edge")
    dzdx = ((p[:-2, 2:] + 2*p[1:-1, 2:] + p[2:, 2:])
            - (p[:-2, :-2] + 2*p[1:-1, :-2] + p[2:, :-2])) / 8.0
    dzdy = ((p[2:, :-2] + 2*p[2:, 1:-1] + p[2:, 2:])
            - (p[:-2, :-2] + 2*p[:-2, 1:-1] + p[:-2, 2:])) / 8.0
    want = horn_output(dzdx, dzdy, "hillshade").astype(np.float32)
    assert 0.0 <= np.nanmin(want) and np.nanmax(want) <= 255.0

    for path in both_paths(monkeypatch):
        out = slope_aspect_stitched(spark.createDataFrame(ras_pd),
                                    mode="hillshade").toPandas()
        for r in out.itertuples(index=False):
            arr = codec.decode(r.bytes, int(r.w), int(r.h), "raw_f32")
            _, tx, ty = r.image_id.split("_")
            blk = want[int(ty)*32:(int(ty)+1)*32, int(tx)*32:(int(tx)+1)*32]
            got = np.where(arr == codec.NO_DATA_F32, np.nan, arr)
            m = ~np.isnan(blk)
            assert np.array_equal(got[m], blk[m]), (path, r.image_id)
            assert np.isnan(got[~m]).all(), (path, r.image_id)


def test_focal_stats_modes_match_global(spark, monkeypatch):
    """Focal mean/min/max/range on a 2x2 mosaic equal the global-array
    nan-aware window stats everywhere (borders through the halo)."""
    import numpy as np

    from gis_tools_spark import fixtures
    from gis_tools_spark.raster import codec
    from gis_tools_spark.raster.stitch import focal_stats_stitched

    ras_pd = fixtures.gen_rasters_exact(2, 2, 32)
    G = np.zeros((64, 64), dtype=np.float64)
    for r in ras_pd.itertuples(index=False):
        arr = codec.decode(r.bytes, int(r.w), int(r.h), r.fmt)
        _, tx, ty = r.image_id.split("_")
        G[int(ty)*32:(int(ty)+1)*32, int(tx)*32:(int(tx)+1)*32] = arr
    G = np.where(G == codec.NO_DATA_F32, np.nan, G)
    p = np.pad(G, 1, mode="edge")
    stack = np.stack([p[1+dy:p.shape[0]-1+dy, 1+dx:p.shape[1]-1+dx]
                      for dy in (-1, 0, 1) for dx in (-1, 0, 1)])

    import warnings
    wants = {}
    for stat, fn in (("mean", np.nanmean), ("min", np.nanmin),
                     ("max", np.nanmax),
                     ("range", lambda s, axis: np.nanmax(s, axis=axis)
                      - np.nanmin(s, axis=axis))):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            wants[stat] = fn(stack, axis=0).astype(np.float32)
    for path in both_paths(monkeypatch):
        for stat, want in wants.items():
            out = focal_stats_stitched(spark.createDataFrame(ras_pd),
                                       stat=stat).toPandas()
            for r in out.itertuples(index=False):
                arr = codec.decode(r.bytes, int(r.w), int(r.h), "raw_f32")
                _, tx, ty = r.image_id.split("_")
                blk = want[int(ty)*32:(int(ty)+1)*32,
                           int(tx)*32:(int(tx)+1)*32]
                got = np.where(arr == codec.NO_DATA_F32, np.nan, arr)
                m = ~np.isnan(blk)
                assert np.array_equal(got[m], blk[m]), (path, stat,
                                                        r.image_id)
