"""Deterministic geo derivations over the driver's TPC-H-ish tables.

The driver's correctness gate (CORRECTNESS_r{N}.json) runs each Spark
query against an ANSI-SQL DuckDB oracle on the same parquet. Plain SQL
can't do general geometry, so the geo queries derive points/zones from
relational columns with EXACTLY the same arithmetic on both sides:

- points  ← events:  lon = 5 + (event_id*37  mod 100000)/20000
                     lat = 40 + (event_id*7919 mod 100000)/20000
  (lands in the AOI lon∈[5,10), lat∈[40,45) — the reference SRTM tile
  extent, see FIXTURES.md §1)
- zones   ← nation:  5×5 grid of 0.8°×0.8° rectangles with 0.2° gaps
  (rect zones make PIP/area/distance closed-form in SQL while the Spark
  side still runs the real engine on real WKB polygons)

The engine runs the full WKB machinery; the oracle uses the closed
forms. Matching results therefore validate the whole geometry path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..geom import wkb

AOI_X0, AOI_Y0 = 5.0, 40.0


# ---------------------------------------------------------------- points

def events_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id", "event_type", "value",
        (F.lit(AOI_X0) + (F.col("event_id") * 37 % 100000) / 20000.0).alias("lon"),
        (F.lit(AOI_Y0) + (F.col("event_id") * 7919 % 100000) / 20000.0).alias("lat"),
    )


POINTS_SQL = """
SELECT event_id, event_type, value,
       5.0 + (event_id * 37 % 100000) / 20000.0 AS lon,
       40.0 + (event_id * 7919 % 100000) / 20000.0 AS lat
FROM events
"""


# ---------------------------------------------------------------- zones

def zone_bounds_cols():
    k = F.col("n_nationkey")
    minx = F.lit(AOI_X0) + (k % 5).cast("double") * 1.0
    miny = F.lit(AOI_Y0) + F.floor(k / 5).cast("double") * 1.0
    return minx, miny, minx + 0.8, miny + 0.8


def nation_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone rectangles as REAL WKB polygons (the engine path)."""
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    minx, miny, maxx, maxy = zone_bounds_cols()
    zones = na.select(
        F.col("n_nationkey").alias("gid"),
        F.col("n_name").alias("nom"),
        F.col("n_regionkey").alias("regionkey"),
        minx.alias("zminx"), miny.alias("zminy"),
        maxx.alias("zmaxx"), maxy.alias("zmaxy"),
    )
    pdf = zones.toPandas()
    pdf["geometry_wkb"] = [
        bytearray(wkb.box(*b)) for b in
        pdf[["zminx", "zminy", "zmaxx", "zmaxy"]].itertuples(index=False)]
    return spark.createDataFrame(
        pdf[["gid", "nom", "regionkey", "geometry_wkb"]],
        "gid int, nom string, regionkey int, geometry_wkb binary")


ZONES_SQL = """
SELECT n_nationkey AS gid, n_name AS nom, n_regionkey AS regionkey,
       5.0 + (n_nationkey % 5) * 1.0 AS zminx,
       40.0 + floor(n_nationkey / 5) * 1.0 AS zminy,
       5.0 + (n_nationkey % 5) * 1.0 + 0.8 AS zmaxx,
       40.0 + floor(n_nationkey / 5) * 1.0 + 0.8 AS zmaxy
FROM nation
"""


# ---------------------------------------------------------------- footprints (image analog)

FOOT_SPAN = 0.002  # deg; < cell width at res 16 (0.0055) so the cover is
                   # exactly the distinct corner cells

def events_footprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = events_points(spark, sf_dir)
    return p.select(
        "event_id",
        F.col("lon").alias("minx"), F.col("lat").alias("miny"),
        (F.col("lon") + FOOT_SPAN).alias("maxx"),
        (F.col("lat") + FOOT_SPAN).alias("maxy"),
    )


FOOTPRINTS_SQL = f"""
SELECT event_id, lon AS minx, lat AS miny,
       lon + {FOOT_SPAN} AS maxx, lat + {FOOT_SPAN} AS maxy
FROM ({POINTS_SQL.strip()}) pts
"""
