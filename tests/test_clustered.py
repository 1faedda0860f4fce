"""Z-order clustering + bbox scan pruning (sources/clustered.py).

Correctness: the Z-range ∪ exact-bounds filter selects exactly the
plain-bbox rows. Scale evidence: the predicate reaches the parquet
scan (`PushedFilters`) and, on a clustered layout, prunes the physical
row groups (measured through pyarrow metadata, not assumed)."""

import glob

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gis_tools_spark import cells as C
from gis_tools_spark.sources import clustered as CL


def _points(spark, n=20000, seed=2):
    rng = np.random.default_rng(seed)
    import pandas as pd
    pdf = pd.DataFrame({
        "pid": np.arange(n, dtype=np.int64),
        "lon": rng.uniform(-10.0, 30.0, n),
        "lat": rng.uniform(35.0, 60.0, n),
    })
    return spark.createDataFrame(pdf), pdf


BBOX = (5.0, 45.0, 8.0, 48.0)


def test_morton_column_matches_numpy(spark):
    df, pdf = _points(spark, 3000)
    got = (df.withColumn("z", C.morton_column(F.col("lon"), F.col("lat"), 16))
           .orderBy("pid").select("z").toPandas()["z"].to_numpy())
    exp = C.morton_key(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 16)
    assert np.array_equal(got, exp[np.argsort(pdf["pid"].to_numpy())])


def test_cell_morton_range_contains_members():
    rng = np.random.default_rng(4)
    for _ in range(50):
        res = int(rng.integers(0, 16))
        lon, lat = rng.uniform(-180, 180), rng.uniform(-90, 90)
        cell = int(C.latlng_to_cell(lon, lat, res))
        lo, hi = C.cell_morton_range(cell, 16)
        # any point inside the cell has its res-16 Z key in [lo, hi]
        mnx, mny, mxx, mxy = C.cell_to_bounds(np.int64(cell))
        for _ in range(8):
            px = rng.uniform(mnx, min(mxx, 180) - 1e-9)
            py = rng.uniform(mny, min(mxy, 90) - 1e-9)
            z = int(C.morton_key(px, py, 16))
            assert lo <= z <= hi
    with pytest.raises(ValueError):
        C.cell_morton_range(C.latlng_to_cell(0, 0, 12), 10)


def test_bbox_filter_exact(spark):
    df, pdf = _points(spark)
    df = df.withColumn("zkey", C.morton_column(F.col("lon"),
                                               F.col("lat"), 16))
    mnx, mny, mxx, mxy = BBOX
    got = sorted(r["pid"] for r in
                 CL.bbox_filter(df, *BBOX).select("pid").collect())
    m = ((pdf["lon"] >= mnx) & (pdf["lon"] <= mxx)
         & (pdf["lat"] >= mny) & (pdf["lat"] <= mxy))
    exp = sorted(pdf["pid"][m].tolist())
    assert got == exp and len(exp) > 50
    # the codegen-compact predicate form (derived-zkey case) is
    # row-identical to the pushdown BETWEEN-union form
    got2 = sorted(r["pid"] for r in
                  CL.bbox_filter(df, *BBOX, pushdown=False)
                  .select("pid").collect())
    assert got2 == exp


def test_clustered_scan_pushdown_and_prune(spark, tmp_path):
    df, pdf = _points(spark, 50000)
    path = str(tmp_path / "pts")
    # small row groups so the prune ratio is meaningful at test size
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "1024")
    spark.conf.set("parquet.block.size", 64 * 1024)
    # the clustered layout: range-partitioned and sorted by the zkey
    (df.withColumn("zkey", C.morton_column(F.col("lon"), F.col("lat"),
                                           CL.ZRES))
       .repartitionByRange(16, "zkey").sortWithinPartitions("zkey")
       .write.mode("overwrite").parquet(path))
    out = CL.bbox_filter(spark.read.parquet(path), *BBOX)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "zkey" in plan, plan

    mnx, mny, mxx, mxy = BBOX
    m = ((pdf["lon"] >= mnx) & (pdf["lon"] <= mxx)
         & (pdf["lat"] >= mny) & (pdf["lat"] <= mxy))
    assert out.count() == int(m.sum())

    # physical evidence: row-group zkey min/max stats exclude most of
    # the table for this ~1° window
    ranges = CL.bbox_zranges(*BBOX)
    total = hit = 0
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        zi = md.schema.to_arrow_schema().names.index("zkey")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(zi).statistics
            total += 1
            if any(st.min <= hi and lo <= st.max for lo, hi in ranges):
                hit += 1
    assert total >= 8, f"layout produced only {total} row groups"
    assert hit / total <= 0.4, (hit, total)


def test_bbox_zranges_bounded():
    """A world-sized window still yields ≤ max_cells coarse ranges."""
    r = CL.bbox_zranges(-179.9, -89.9, 179.9, 89.9)
    assert 1 <= len(r) <= 64
    # and a tiny window resolves to few fine ranges
    r2 = CL.bbox_zranges(5.0, 45.0, 5.001, 45.001)
    assert 1 <= len(r2) <= 64
