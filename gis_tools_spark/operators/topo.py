"""Topology operators over the intersects-graph (SURVEY.md §2.5/§2.6):
contiguity dissolve (reference geometry.py:252-289 — iteratively union
touching geometries until fixpoint), self-overlap detection
(layer.py:1715-1726 has_overlap), merge of overlapping groups
(layer.py:1668-1713 fix_overlap).

Physical shape: intersects self-join (cell filter + exact refine) →
connected components (network.connected_components over the pair
graph) → per-component applyInPandas combine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..geom import kernels as K, wkb
from .network import connected_components
from .sjoin import sjoin


def overlapping_pairs(df: DataFrame, *, wkb_col: str = "geometry_wkb",
                      id_col: str = "gid") -> DataFrame:
    """Distinct intersecting pairs (id_a < id_b) within one layer."""
    left = df.select(F.col(id_col).alias("id_a"), F.col(wkb_col))
    right = df.select(F.col(id_col).alias("id_b"), F.col(wkb_col))
    pairs = sjoin(left, right, left_id="id_a", right_id="id_b")
    return (pairs.where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def has_overlap(df: DataFrame, **kw) -> bool:
    """Any two geometries in the layer intersect (reference
    layer.py:1715-1726)."""
    return bool(overlapping_pairs(df, **kw).take(1))


def dissolve_touching(df: DataFrame, *, wkb_col: str = "geometry_wkb",
                      id_col: str = "gid") -> DataFrame:
    """Union all touching/intersecting geometries until fixpoint
    (reference dissolve-collection geometry.py:252-289). Each connected
    component of the intersects-graph becomes one row:
    (component, geometry_wkb, n_members, member_ids).

    Union is the collection union (MultiPolygon of member parts) —
    exact coverage; overlapping interiors are retained in the parts
    (full boundary-merging union needs the general clipping kernel)."""
    pairs = overlapping_pairs(df, wkb_col=wkb_col, id_col=id_col)
    comp = connected_components(pairs.select(
        F.col("id_a").alias("src_key"), F.col("id_b").alias("dst_key")))
    # ids that touch nothing are absent from the pair graph: each is its
    # own component
    j = (df.join(comp.withColumnRenamed("node", id_col), on=id_col,
                 how="left")
         .withColumn("component", F.coalesce("component", F.col(id_col))))

    schema = T.StructType([
        j.schema["component"],
        T.StructField(wkb_col, T.BinaryType()),
        T.StructField("n_members", T.IntegerType()),
        T.StructField("member_ids", T.ArrayType(df.schema[id_col].dataType)),
    ])

    def _union(key, pdf: pd.DataFrame) -> pd.DataFrame:
        polys = []
        for b in pdf[wkb_col]:
            polys.extend(K.polygons_of(wkb.decode(b)))
        merged = ({"type": "Polygon", "rings": polys[0]} if len(polys) == 1
                  else {"type": "MultiPolygon", "polygons": polys})
        return pd.DataFrame([{
            "component": key[0], wkb_col: wkb.encode(merged),
            "n_members": len(pdf), "member_ids": sorted(pdf[id_col].tolist()),
        }])

    return j.groupBy("component").applyInPandas(lambda k, p: _union(k, p), schema=schema)
