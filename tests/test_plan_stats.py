"""Size decisions from what Catalyst already knows: the broadcast and
driver-solve gate (`core.small_side`) and the stitched ops' grid summary
(`stitch._grid_indexed`) read the optimized plan's statistics where they
are exact or a bound, and must decide as the aggregate they replace, or
defer to it. `sjoin._spread` must not run a plan's exchange to read its
partition count."""

import importlib
import logging

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_tools_spark import fixtures
from gis_tools_spark.operators import core
from gis_tools_spark.raster import stitch

from test_stitch import _mosaic

# the module itself: the package re-exports a function named `sjoin`
sjoin_module = importlib.import_module("gis_tools_spark.operators.sjoin")


def _aggregate(df, col):
    """The rows and the summed ``col`` bytes, by the aggregate."""
    r = df.select(F.count("*"), F.coalesce(F.sum(F.length(col)),
                                           F.lit(0))).first()
    return r[0], r[1]


def _cases(spark, tmp_path):
    """The frames one zone layer reaches the gate as, and the caches
    to free."""
    # three distinct layers: the cache manager would serve equal local
    # relations from one cache
    zones = spark.createDataFrame(
        fixtures.gen_zones(24, seed=7)[["gid", "geometry_wkb"]])
    loaded = spark.createDataFrame(
        fixtures.gen_zones(24)[["gid", "geometry_wkb"]]).persist()
    loaded.count()
    unloaded = spark.createDataFrame(
        fixtures.gen_zones(24, seed=5)[["gid", "geometry_wkb"]]).persist()
    path = str(tmp_path / "zones")
    zones.write.parquet(path)
    return [loaded, unloaded], {
        "loaded_cache": loaded,
        "filter_over_cache": loaded.where("gid % 3 = 0"),
        "project_computes_column": loaded.select(
            "gid", F.concat("geometry_wkb", F.lit(b"x"))
            .alias("geometry_wkb")),
        "local_relation": zones,
        "parquet_scan": spark.read.parquet(path),
    }


# (case, row limit against the true rows, byte limit) -> who decides
_SOURCE = {
    ("loaded_cache", "over", None): "plan",
    ("loaded_cache", "under", None): "plan",
    ("loaded_cache", "over", "1g"): "plan",
    ("loaded_cache", "under", 10): "plan",       # exact rows over
    ("loaded_cache", "over", 10): "aggregate",   # bytes not proven small
    ("loaded_cache", "over", "exact"): "aggregate",
    ("filter_over_cache", "over", "1g"): "plan",
    ("filter_over_cache", "at", None): "aggregate",     # a row bound only
    ("filter_over_cache", "under", None): "aggregate",
    ("project_computes_column", "over", None): "plan",
    ("project_computes_column", "over", "1g"): "aggregate",
    ("project_computes_column", "under", "1g"): "plan",
    ("local_relation", "over", None): "plan",
    ("local_relation", "under", "1g"): "plan",
    ("local_relation", "over", "1g"): "aggregate",  # no byte bound
}


def test_small_side_matches_the_aggregate(spark, tmp_path, caplog):
    """Every case, at row limits under, at and over its row count, with
    no byte limit and with limits of 10 bytes, its exact bytes and 1 GB,
    gives the aggregate's answer. The plan decides where its bounds are
    within the limits or its exact rows over them (``_SOURCE``); a file
    scan always defers to the aggregate, and so does a cache before its
    first action (which the aggregate is)."""
    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    caches, cases = _cases(spark, tmp_path)
    unloaded = caches[1]
    seen = {}
    try:
        assert core.plan_size(unloaded, []) is None
        assert core.small_side(unloaded, max_rows=24)
        assert caplog.records[-1].getMessage().endswith(
            "stats=aggregate small=True")
        assert core.plan_size(unloaded, [])[:2] == (24, True)
        for name, df in cases.items():
            n, nbytes = _aggregate(df, "geometry_wkb")
            for kind, max_rows in (("under", n - 1), ("at", n),
                                   ("over", n + 1000)):
                for label, max_bytes in ((None, None), (10, 10),
                                         ("exact", nbytes),
                                         ("1g", 1 << 30)):
                    caplog.clear()
                    got = core.small_side(df, max_rows=max_rows,
                                          max_bytes=max_bytes,
                                          bytes_col="geometry_wkb")
                    want = n <= max_rows and (max_bytes is None
                                              or nbytes <= max_bytes)
                    key = (name, kind, label)
                    assert got == want, key
                    (msg,) = [r.getMessage() for r in caplog.records
                              if r.getMessage().startswith("small_side")]
                    assert msg.endswith(f"small={want}"), (key, msg)
                    seen[key] = msg.split("stats=")[1].split()[0]
    finally:
        for df in caches:
            df.unpersist()
    for key, source in _SOURCE.items():
        assert seen[key] == source, (key, seen[key])
    assert {v for k, v in seen.items() if k[0] == "parquet_scan"} \
        == {"aggregate"}


def test_strategy_byte_limit_defers_to_the_aggregate(spark, caplog,
                                                     monkeypatch):
    """With BROADCAST_MAX_BYTES at 10, a loaded cache's size does not
    prove the side small, so the aggregate decides: the cell plan."""
    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    zones = spark.createDataFrame(
        fixtures.gen_zones(16)[["gid", "geometry_wkb"]]).persist()
    try:
        zones.count()
        assert sjoin_module._strategy(
            "t", "auto", ("zones", zones, "geometry_wkb")) == "broadcast"
        monkeypatch.setattr(sjoin_module, "BROADCAST_MAX_BYTES", 10)
        caplog.clear()
        assert sjoin_module._strategy(
            "t", "auto", ("zones", zones, "geometry_wkb")) == "cell"
        assert any("stats=aggregate small=False" in r.getMessage()
                   for r in caplog.records)
    finally:
        zones.unpersist()


def _grid(df):
    t, pixels, collect = stitch._grid_indexed(df)
    cols = ["image_id", "__col", "__row"]
    spark_side = sorted(tuple(r) for r in t.select(*cols).collect())
    driver_side = sorted(map(tuple, collect()[cols].itertuples(index=False)))
    return spark_side, driver_side, pixels


@pytest.mark.parametrize("source", ["local", "cache"])
@pytest.mark.parametrize("shift", ["aligned", "half_pixel", "half_tile"])
def test_collect_first_grid_matches_the_aggregate(spark, monkeypatch, shift,
                                                  source):
    """A local relation or a loaded cache is collected first and
    summarized on the driver; with `plan_size` disabled the same tiles
    take the aggregate. Both give the same grid indices, on the Spark
    plan and in the collected tiles, and the same pixel count: on an
    aligned mosaic, one whose origins are off by half a pixel, and one
    with half a tile's offset, where every index is a HALF_UP tie."""
    # 4 x 2 tiles over the 5° AOI: every origin and offset is exact
    _, pdf, rx, ry = _mosaic(4, 2, 16, lambda gx, gy: gx + gy)
    step = {"aligned": 0.0, "half_pixel": 0.5, "half_tile": 8.0}[shift]
    odd = pdf.index % 2 == 1
    pdf.loc[odd, "gt_x0"] += step * rx
    pdf.loc[odd, "gt_y0"] -= step * ry
    df = spark.createDataFrame(pdf)
    if source == "cache":
        df = df.persist()
        df.count()
    try:
        # the collect-first path is taken
        rows, _, nbytes, local = core.plan_size(df, df.columns)
        assert rows == len(pdf)
        assert local if source == "local" else nbytes < 1 << 20
        first = _grid(df)
        monkeypatch.setattr(core, "plan_size", lambda df, cols: None)
        agg = _grid(df)
    finally:
        df.unpersist()
    assert first == agg
    assert first[0] == first[1]
    if shift == "half_tile":
        # HALF_UP: a shifted tile moves one column right, one row down
        idx = {r[0]: r[1:] for r in agg[0]}
        assert idx["tile_1_0"] == (2, 1) and idx["tile_3_1"] == (4, 2), idx


def test_collect_first_grid_raises_as_the_aggregate(spark, monkeypatch):
    _, pdf, _, _ = _mosaic(2, 1, 16, lambda gx, gy: gx + gy)
    pdf.loc[1, "w"] = 8
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError) as first:
        stitch._grid_indexed(df)
    monkeypatch.setattr(core, "plan_size", lambda df, cols: None)
    with pytest.raises(ValueError) as agg:
        stitch._grid_indexed(df)
    assert str(first.value) == str(agg.value)
    assert "widths 8–16 and heights 16–16" in str(first.value)


def test_half_up_is_spark_round(spark):
    """The driver's rounding equals Spark's HALF_UP ``round`` on ties,
    on the doubles just below them and on ordinary values."""
    v = np.concatenate([np.arange(0, 8) + 0.5,
                        np.nextafter(np.arange(0, 8) + 0.5, 0),
                        np.random.default_rng(3).uniform(0, 50, 64)])
    got = stitch._half_up(v)
    want = [r[0] for r in spark.createDataFrame(
        pd.DataFrame({"v": v})).select(F.round("v")).collect()]
    assert list(got) == want


def test_spread_runs_no_job_on_an_exchange(spark):
    """`_spread` of an aggregate's output returns it as it is and runs
    no job; a plan with no exchange and one partition is spread."""
    sc = spark.sparkContext
    agg = spark.range(12_000).groupBy((F.col("id") % 50).alias("k")).count()
    group = "spread-exchange"
    sc.setJobGroup(group, group)
    try:
        out = sjoin_module._spread(agg)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out is agg and list(jobs) == [], jobs
    narrow = spark.range(0, 10, numPartitions=1)
    assert sjoin_module._spread(narrow) is not narrow
