"""Broadcast strategy of the generic geom⋈geom sjoin: zero-shuffle CSR
cell-index path must be value-identical to the shuffle cell path, across
predicates, null rows, oversize geometries, how='left', and the right
side's attribute types (long and string ids, a null, a decimal, a
timestamp, an array of doubles holding a NaN)."""

import datetime
import decimal
import importlib
import logging
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_tools_spark import fixtures
from gis_tools_spark.geom import wkb
from gis_tools_spark.operators.overlay import intersection_join
from gis_tools_spark.operators.sjoin import sjoin

# the module itself: the package re-exports a function named `sjoin`
sjoin_module = importlib.import_module("gis_tools_spark.operators.sjoin")


def _layers(spark, n=120, seed=3, ids="long"):
    """Two zone layers; the right one carries ids above 2^53 (or
    strings) and a string, a decimal, a timestamp, a double and an
    array<double> attribute, each null on one zone (the double is NaN
    on another, and the array holds a NaN on every other zone)."""
    za = fixtures.gen_zones(n, seed=seed)
    zb = fixtures.gen_zones(n, seed=seed + 4)
    left = (spark.createDataFrame(za[["gid", "geometry_wkb"]])
            .withColumnRenamed("gid", "lid"))
    ts0 = datetime.datetime(2024, 3, 1, 12, 0, 0, 123456)
    rows = [(f"z{g:03d}" if ids == "string" else int(g) + 2**60,
             None if k == 1 else nom,
             None if k == 2 else decimal.Decimal(k) / 8,
             None if k == 3 else ts0 + datetime.timedelta(hours=7 * k),
             None if k == 4 else float("nan") if k == 5 else k / 3,
             None if k == 6 else [1.0, float("nan")] if k % 2 else [k / 7],
             bytearray(b)) for k, (g, nom, b) in
            enumerate(zip(zb["gid"], zb["nom"], zb["geometry_wkb"]))]
    right = spark.createDataFrame(
        rows, f"gid {'string' if ids == 'string' else 'long'}, nom string, "
              "price decimal(12,3), seen timestamp, score double, "
              "vals array<double>, geometry_wkb binary")
    return left, right


def _pairs(df):
    return sorted((r["lid"], r["gid"])
                  for r in df.select("lid", "gid").collect())


def _rows(df):
    """The joined rows with the right side's attributes, sorted (compare
    their ``repr``: NaN != NaN)."""
    return sorted((tuple(r) for r in df.select(
        "lid", "gid", "nom", "price", "seen", "score",
        "vals").collect()), key=repr)


@pytest.mark.parametrize("pred", ["intersects", "within", "contains",
                                  "covers", "overlaps", "touches"])
def test_broadcast_equals_cell(spark, pred):
    left, right = _layers(spark)
    b = _rows(sjoin(left, right, predicate=pred, strategy="broadcast"))
    c = _rows(sjoin(left, right, predicate=pred, strategy="cell"))
    assert repr(b) == repr(c)
    if pred == "intersects":
        assert len(b) > 0
        # every attribute type reaches the result, nulls and NaN included
        for k in range(2, 7):
            assert any(r[k] is None for r in b), k
            assert any(r[k] is not None for r in b), k
        assert any(r[5] is not None and r[5] != r[5] for r in b)
        assert any(r[6] is not None and len(r[6]) == 2
                   and r[6][1] != r[6][1] for r in b)


def test_broadcast_null_and_oversize(spark):
    """Null WKB rows drop cleanly on both sides; a world-spanning right
    geometry exceeds the 4096-cell fan-out cap and takes the big-list
    path — results still exact."""
    left, right = _layers(spark, n=60)
    right = right.select("gid", "geometry_wkb")
    world = wkb.polygon([np.array(
        [[-179.0, -85.0], [179.0, -85.0], [179.0, 85.0],
         [-179.0, 85.0], [-179.0, -85.0]])])
    extra = left.sparkSession.createDataFrame(
        [(9001, bytearray(world)), (9002, None)],
        schema=right.schema)
    right2 = right.unionByName(extra)
    left2 = left.unionByName(left.sparkSession.createDataFrame(
        [(9100, None)], schema=left.schema))
    b = _pairs(sjoin(left2, right2, strategy="broadcast"))
    c = _pairs(sjoin(left2, right2, strategy="cell"))
    assert b == c
    n_left = left.count()
    # every real left geometry intersects the world polygon
    assert sum(1 for _, g in b if g == 9001) == n_left
    assert not any(l == 9100 or g == 9002 for l, g in b)


def test_broadcast_how_left(spark):
    """how='left' keeps unmatched left rows with null right attrs, same
    as the cell path, with long and with string right ids."""
    # shift one left row far away so it cannot match
    far = wkb.polygon([np.array(
        [[170.0, -80.0], [171.0, -80.0], [171.0, -79.0],
         [170.0, -79.0], [170.0, -80.0]])])
    for ids in ("long", "string"):
        left, right = _layers(spark, n=40, ids=ids)
        left2 = left.unionByName(left.sparkSession.createDataFrame(
            [(7777, bytearray(far))], schema=left.schema))
        kb = _rows(sjoin(left2, right, strategy="broadcast", how="left"))
        kc = _rows(sjoin(left2, right, strategy="cell", how="left"))
        assert repr(kb) == repr(kc), ids
        assert (7777, None, None, None, None, None, None) in kb, ids


def test_broadcast_plan_no_shuffle_join(spark):
    """The broadcast strategy's physical plan must contain no
    hash-partitioned Exchange and no SortMergeJoin: the only join is
    the BroadcastHashJoin that re-attaches right attributes. (The
    parallelism-guard round-robin repartition of a tiny local input is
    allowed — it is not a data-keyed shuffle.)"""
    left, right = _layers(spark, n=40)
    out = sjoin(left, right, strategy="broadcast")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_auto_gates_on_bytes(spark, caplog, monkeypatch):
    """auto picks broadcast for a small right side and cell when the
    byte gate trips, and logs which it chose and why."""
    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    left, right = _layers(spark, n=30)
    small = sjoin(left, right)  # auto -> broadcast at this size
    monkeypatch.setattr(sjoin_module, "BROADCAST_MAX_BYTES", 10)
    gated = sjoin(left, right)  # force cell
    assert _pairs(small) == _pairs(gated)
    msgs = [r.getMessage() for r in caplog.records]
    assert "sjoin strategy=broadcast reason=right within broadcast limits" \
        in msgs, msgs
    assert "sjoin strategy=cell reason=right over broadcast limits" \
        in msgs, msgs


def test_bbox_candidates_gate_both_sides(spark, caplog, monkeypatch):
    """The overlay joins' broadcast bbox path is a nested loop over
    |left| x |right|: a large left side must take the cell join even
    when the right side is small, and both paths give the same clips."""
    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    left, _ = _layers(spark, n=40)
    right = spark.createDataFrame(
        fixtures.gen_zones(4, seed=9)[["gid", "geometry_wkb"]])

    def run(max_rows):
        monkeypatch.setattr(sjoin_module, "BROADCAST_MAX_ROWS", max_rows)
        caplog.clear()
        out = intersection_join(left, right)
        plan = out._jdf.queryExecution().executedPlan().toString()
        rows = sorted((r["lid"], r["gid"], round(r["inter_area"], 9))
                      for r in out.collect())
        return plan, rows, [r.getMessage() for r in caplog.records]

    plan, cell_rows, msgs = run(10)  # right (4) under, left (40) over
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "candidate_pairs strategy=cell reason=left over broadcast limits" \
        in msgs, msgs
    plan, bbox_rows, msgs = run(100)  # both under
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert ("candidate_pairs strategy=bbox reason=both sides within "
            "broadcast limits") in msgs, msgs
    assert cell_rows == bbox_rows and len(cell_rows) > 0


def test_broadcast_plans_attach_from_a_local_relation(spark, tmp_path):
    """Every broadcast plan that maps hit positions to attributes reads
    them from one position-keyed table built from pandas: the optimized
    plan holds a LocalRelation (the inputs are parquet scans, so it can
    come only from that table) and no LogicalRDD, and its text does not
    grow with the zone count, as a literal array of ids did."""
    from gis_tools_spark.operators.knn import nearest_feature
    from gis_tools_spark.operators.sjoin import pip_join, pip_tag
    from gis_tools_spark.operators.trajectory import od_flows

    pts = fixtures.gen_points(200, seed=5)
    pts["ts"] = (pd.Timestamp("2024-03-01") + pd.to_timedelta(
        np.arange(len(pts)) * 600, unit="s")).astype("datetime64[us]")
    pts["user_id"] = np.arange(len(pts)) % 7
    pts.to_parquet(tmp_path / "pts.parquet")
    fixtures.gen_zones(30, seed=8)[["gid", "geometry_wkb"]].rename(
        columns={"gid": "lid"}).to_parquet(tmp_path / "left.parquet")
    points = spark.read.parquet(str(tmp_path / "pts.parquet"))
    left = spark.read.parquet(str(tmp_path / "left.parquet"))

    def plans(n):
        zones = spark.createDataFrame(fixtures.gen_zones(n, seed=2))
        return {
            "pip_join": pip_join(points, zones, strategy="broadcast"),
            "sjoin": sjoin(left, zones, strategy="broadcast"),
            "nearest_feature": nearest_feature(points, zones,
                                               strategy="broadcast"),
            "od_flows": od_flows(points, zones, strategy="broadcast"),
            "pip_tag": pip_tag(points, zones),
        }

    def text(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#", plan)

    small = {op: text(df) for op, df in plans(64).items()}
    large = {op: text(df) for op, df in plans(2500).items()}
    for op, plan in large.items():
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, \
            (op, plan)
        assert len(plan) <= len(small[op]), (op, len(small[op]), len(plan))
