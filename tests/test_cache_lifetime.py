"""Cache lifetime: an op releases every cache it made before it
returns. Each op runs on its distributed path (driver solves and the
broadcast shortcuts forced off) over a tiny input the test does not
cache. With the result still held, the session's cache manager is
empty and the result's optimized plan reads no cached relation; the
result then still counts what it should."""

import importlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_tools_spark import fixtures
from gis_tools_spark.geom import wkb
from gis_tools_spark.operators import core
from gis_tools_spark.raster import codec

# the module itself: the package re-exports a function named `sjoin`
sjoin_module = importlib.import_module("gis_tools_spark.operators.sjoin")


def _dbscan(spark):
    from gis_tools_spark.operators.cluster import dbscan

    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(pd.DataFrame({
        "id": np.arange(120, dtype=np.int64),
        "lon": np.r_[rng.normal(0, 0.01, 60), rng.normal(1, 0.01, 60)],
        "lat": rng.normal(0, 0.01, 120)}))
    return dbscan(pts, eps=0.02, min_pts=4), 120


def _hamming(spark):
    from gis_tools_spark.operators.dedup import hamming_near_dups

    rng = np.random.default_rng(9)
    h = rng.integers(-(1 << 62), 1 << 62, 40, dtype=np.int64)
    h[20:] = h[:20] ^ (1 << 3)          # 20 pairs at Hamming distance 1
    df = spark.createDataFrame(pd.DataFrame({
        "image_id": np.arange(40, dtype=np.int64), "phash": h}))
    want = sum(bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1") <= 1
               for i, a in enumerate(h) for b in h[i + 1:])
    return hamming_near_dups(df, hash_col="phash", id_col="image_id",
                             max_hamming=1), want


def _candidate_pairs(spark):
    from gis_tools_spark.operators.sjoin import candidate_pairs

    # 0.02° boxes 0.5° apart: covers at res >= 12 (cells <= 0.09°) of
    # two different boxes share no cell, so each left box pairs only
    # with its copy on the right
    boxes = [wkb.box(i * 0.5, j * 0.5, i * 0.5 + 0.02, j * 0.5 + 0.02)
             for i in range(4) for j in range(4)]
    left = spark.createDataFrame(pd.DataFrame(
        {"lid": np.arange(16, dtype=np.int64), "geometry_wkb": boxes}))
    right = left.withColumnRenamed("lid", "gid")
    return candidate_pairs(left, right, left_id="lid",
                           left_wkb="geometry_wkb", right_id="gid",
                           right_wkb="geometry_wkb"), 16


def _raster_pyramid(spark):
    from gis_tools_spark.raster.ops import raster_pyramid

    ras = spark.createDataFrame(fixtures.gen_rasters_exact(4, 4, 16))
    aoi = fixtures.AOI
    return raster_pyramid(ras, levels=2, origin=(aoi[0], aoi[3])), 4 + 1


def _compact_cells(spark):
    from gis_tools_spark import cells as C
    from gis_tools_spark.operators.cellcover import compact_cells

    # a solid 0.2° block of res-13 cells: quartets promote
    lon, lat = np.meshgrid(np.linspace(5.0, 5.2, 40),
                           np.linspace(40.0, 40.2, 40))
    pts = spark.createDataFrame(pd.DataFrame({"lon": lon.ravel(),
                                              "lat": lat.ravel()}))
    cov = pts.select(C.cell_column(F.col("lon"), F.col("lat"), 13)
                     .alias("cell")).distinct()
    with pytest.MonkeyPatch.context() as m:   # the driver path's answer
        m.setattr(core, "DRIVER_MAX_ROWS", 2_000_000)
        want = compact_cells(cov).count()
    assert want < cov.count()
    return compact_cells(cov), want


def _pagerank(spark):
    from gis_tools_spark.operators.network import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 30) for i in range(30)], "src long, dst long")
    return pagerank(edges, iters=3), 30


def _flow_accumulation(method):
    def run(spark):
        from gis_tools_spark.raster.hydrology import flow_accumulation
        from gis_tools_spark.raster.stitch import d8_flow_direction

        tiles = fixtures.gen_rasters_exact(2, 1, 8)
        fd = d8_flow_direction(spark.createDataFrame(tiles))
        # one row per pixel with data
        want = sum(int((codec.decode_raw_f32(b, 8, 8)
                        != codec.NO_DATA_F32).sum()) for b in tiles["bytes"])
        return flow_accumulation(fd, method=method), want
    return run


def _kmeans(spark):
    from gis_tools_spark.operators.kmeans import kmeans

    pts = spark.createDataFrame(
        [(i, (i * 37) % 1000, (i * 91) % 1000) for i in range(50)],
        "id long, x long, y long")
    return kmeans(pts, k=3, n_iter=2, x="x", y="y", id_col="id"), 50


CASES = {
    "dbscan": _dbscan,
    "hamming_near_dups": _hamming,
    "candidate_pairs": _candidate_pairs,
    "raster_pyramid": _raster_pyramid,
    "compact_cells": _compact_cells,
    "pagerank": _pagerank,
    "flow_accumulation": _flow_accumulation("auto"),
    "flow_accumulation_iterative": _flow_accumulation("iterative"),
    "kmeans": _kmeans,
}


@pytest.mark.parametrize("op", list(CASES))
def test_op_releases_its_caches(spark, monkeypatch, op):
    spark.catalog.clearCache()          # what earlier tests left behind
    monkeypatch.setattr(core, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(sjoin_module, "BROADCAST_MAX_ROWS", 0)
    out, want = CASES[op](spark)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), op
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan, plan
    assert out.count() == want
