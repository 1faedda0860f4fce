"""isochrone_boundaries (operators/isochrone.py)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_tools_spark.operators.isochrone import isochrone_boundaries


def _lattice(spark, n=12, jit=True):
    rows_e, rows_n = [], []
    for gx in range(n):
        for gy in range(n):
            jx = (gx * gx * 7919 + gy * 104729 + gx * gy * 13) % 397 \
                if jit else 0
            jy = (gy * gy * 6271 + gx * 92821 + gx * gy * 29) % 389 \
                if jit else 0
            rows_n.append((f"g{gx}_{gy}", gx * n + gy,
                           gx * 1000 + jx, gy * 1000 + jy))
            if gx + 1 < n:
                rows_e.append((f"g{gx}_{gy}", f"g{gx+1}_{gy}",
                               float(1 + (gx * 31 + gy * 17) % 3)))
            if gy + 1 < n:
                rows_e.append((f"g{gx}_{gy}", f"g{gx}_{gy+1}",
                               float(1 + (gx * 37 + gy * 23) % 3)))
    e = spark.createDataFrame(pd.DataFrame(
        rows_e, columns=["src_key", "dst_key", "length"]))
    nd = spark.createDataFrame(pd.DataFrame(
        rows_n, columns=["node", "nid", "x", "y"]))
    return e, nd


def test_composition_equals_manual(spark):
    from gis_tools_spark.operators.network import service_area
    from gis_tools_spark.operators.triangulate import alpha_shape_edges

    e, nd = _lattice(spark)
    got = sorted(map(tuple, isochrone_boundaries(
        e, nd, ["g2_7", "g9_3"], cutoff=7.0, alpha=2000.0)
        .select("source", "i", "j").collect()))
    reach = service_area(e, ["g2_7", "g9_3"], cutoff=7.0)
    pts = (reach.join(nd, on="node")
           .select("source", F.col("nid").alias("id"), "x", "y"))
    want = sorted(map(tuple, alpha_shape_edges(pts, by="source",
                                               alpha=2000.0)
                      .select("source", "i", "j").collect()))
    assert got == want and len(got) > 0


def test_boundary_nodes_within_cutoff(spark):
    from gis_tools_spark.operators.network import service_area

    e, nd = _lattice(spark)
    b = isochrone_boundaries(e, nd, ["g5_5"], cutoff=6.0, alpha=2000.0)
    ids = {r[0] for r in b.select("i").collect()} | \
          {r[0] for r in b.select("j").collect()}
    reach_ids = {r[0] for r in
                 service_area(e, ["g5_5"], cutoff=6.0)
                 .join(nd, on="node").select("nid").collect()}
    assert ids <= reach_ids
