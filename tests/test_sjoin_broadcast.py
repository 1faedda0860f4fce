"""Broadcast strategy of the generic geom⋈geom sjoin: zero-shuffle CSR
cell-index path must be value-identical to the shuffle cell path, across
predicates, null rows, oversize geometries, and how='left'."""

import importlib
import logging

import numpy as np
import pytest
from pyspark.sql import functions as F

from gis_tools_spark import fixtures
from gis_tools_spark.geom import wkb
from gis_tools_spark.operators.overlay import intersection_join
from gis_tools_spark.operators.sjoin import sjoin

# the module itself: the package re-exports a function named `sjoin`
sjoin_module = importlib.import_module("gis_tools_spark.operators.sjoin")


def _layers(spark, n=120, seed=3):
    za = fixtures.gen_zones(n, seed=seed)
    zb = fixtures.gen_zones(n, seed=seed + 4)
    left = (spark.createDataFrame(za[["gid", "geometry_wkb"]])
            .withColumnRenamed("gid", "lid"))
    right = spark.createDataFrame(zb[["gid", "geometry_wkb"]])
    return left, right


def _pairs(df):
    return sorted((r["lid"], r["gid"])
                  for r in df.select("lid", "gid").collect())


@pytest.mark.parametrize("pred", ["intersects", "within", "contains",
                                  "covers", "overlaps", "touches"])
def test_broadcast_equals_cell(spark, pred):
    left, right = _layers(spark)
    b = _pairs(sjoin(left, right, predicate=pred, strategy="broadcast"))
    c = _pairs(sjoin(left, right, predicate=pred, strategy="cell"))
    assert b == c
    if pred == "intersects":
        assert len(b) > 0


def test_broadcast_null_and_oversize(spark):
    """Null WKB rows drop cleanly on both sides; a world-spanning right
    geometry exceeds the 4096-cell fan-out cap and takes the big-list
    path — results still exact."""
    left, right = _layers(spark, n=60)
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
    as the cell path."""
    left, right = _layers(spark, n=40)
    # shift one left row far away so it cannot match
    far = wkb.polygon([np.array(
        [[170.0, -80.0], [171.0, -80.0], [171.0, -79.0],
         [170.0, -79.0], [170.0, -80.0]])])
    left2 = left.unionByName(left.sparkSession.createDataFrame(
        [(7777, bytearray(far))], schema=left.schema))
    b = (sjoin(left2, right, strategy="broadcast", how="left")
         .select("lid", "gid").collect())
    c = (sjoin(left2, right, strategy="cell", how="left")
         .select("lid", "gid").collect())
    kb = sorted((r["lid"], r["gid"]) for r in b)
    kc = sorted((r["lid"], r["gid"]) for r in c)
    assert kb == kc
    assert (7777, None) in ((l, g) for l, g in kb)


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
