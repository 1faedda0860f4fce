"""Choropleth classification — equal-interval class breaks over a value
column, and the column arithmetic that assigns each row its class.

The map-styling half every GIS exposes (ArcGIS/QGIS "Classify"; pysal
mapclassify): classify = pure column arithmetic against the broadcast
breaks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["equal_interval_breaks", "classify_column"]


def equal_interval_breaks(df: DataFrame, col: str, k: int) -> list[float]:
    lo, hi = df.agg(F.min(col), F.max(col)).first()
    lo, hi = float(lo), float(hi)
    return [lo + (hi - lo) * i / k for i in range(1, k)]


def classify_column(value: Column | str, breaks: list[float]) -> Column:
    """Class index 0..len(breaks): number of breaks strictly below the
    value — pure column arithmetic, safe to embed in any plan."""
    c = F.col(value) if isinstance(value, str) else value
    out = F.lit(0)
    for b in breaks:
        out = out + F.when(c > F.lit(float(b)), 1).otherwise(0)
    return out.cast("int")
