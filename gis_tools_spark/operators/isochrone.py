"""Isochrone boundaries — the drive-time-area composition.

Composes two gated engine primitives end-to-end:
``network.service_area`` (multi-source Bellman-Ford with cutoff
pruning → every node within ``cutoff`` of each source) and
``triangulate.alpha_shape_edges`` (exact-integer concave hull per
group) — reach set in, drive-time outline out.  This is the op behind
"show the 15-minute area around each depot" (reference composition:
Dijkstra + travel_time pipelines, network.py:625-774, with the
polygonization left to the user; here it is one call).

``isochrone_boundaries`` returns the boundary EDGES (source, i, j) —
exact, deterministic, oracle-able.

Scale: the reach phase touches only the isochrone ball (service_area's
pruning contract); the hull phase is per-source applyInPandas over
reach-set-sized groups — thousands of depots hull in parallel, none
through the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .network import service_area
from .triangulate import alpha_shape_edges

__all__ = ["isochrone_boundaries"]


def isochrone_boundaries(edges: DataFrame, node_xy: DataFrame,
                         sources: list[str], *, cutoff: float,
                         alpha: float,
                         weight_col: str = "length") -> DataFrame:
    """(source, i, j) alpha-shape boundary edges of each source's
    reach set.  ``node_xy`` carries (node, nid, x, y) with integer
    nid/x/y (the exact-arithmetic contract of the triangulation
    kernel)."""
    reach = service_area(edges, sources, cutoff=cutoff,
                         weight_col=weight_col)
    pts = (reach.join(node_xy, on="node")
           .select("source", F.col("nid").cast("long").alias("id"),
                   F.col("x").cast("long").alias("x"),
                   F.col("y").cast("long").alias("y")))
    return alpha_shape_edges(pts, by="source", alpha=alpha)
