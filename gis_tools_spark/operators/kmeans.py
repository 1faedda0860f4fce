"""Distributed k-means over integer point coordinates — exact,
deterministic, partition-order independent.

Classic Lloyd iterations, but specified so the result is a *pure
function of the input set* (no RNG, no scan-order dependence) and every
arithmetic step is exact int64 — which is what makes the algorithm
value-gateable against an ANSI-SQL oracle AND reproducible across
cluster sizes:

- coordinates are NONNEGATIVE int64 (micro-units with an offset;
  callers quantize floats first — same contract as hotspot.kde_density's
  ``quantize_decimals``). Nonnegativity makes Spark's truncating ``div``
  identical to floor division, so the floor-mean spec below is exact on
  every engine;
- init: bucket ``j = id % k``; centroid_j = componentwise *floor mean*
  (exact: int64 sums, one truncating division);
- assignment: argmin_j of the exact squared distance
  ``(x-cx)^2 + (y-cy)^2`` (int64), ties broken by the smaller j;
- update: floor mean of the assigned points; a cluster that loses all
  its points keeps its previous centroid (documented, mirrored in the
  oracle).

Rounding centroids to the integer lattice perturbs each mean by <1
micro-unit — immaterial for clustering, decisive for determinism: all
comparisons are integer compares, so DuckDB and Spark agree bit-for-bit
and re-runs at any parallelism agree with each other.

Plan shape / 100 TB notes:
- each iteration is ONE map-side-combinable groupBy over the points:
  the k centroids are collected to the driver (k rows) and inlined
  as a ``least()`` over k literal structs, so assignment is pure
  whole-stage-codegen column math, no join, no Python;
- total cost = n_iter scans of a persisted int64-projected table; no
  shuffle grows with k or n beyond the k-row aggregate;
- skew-free by construction (the aggregate key is j ∈ [0, k)) — with
  map-side partial aggregation each task emits at most k rows.

Reference scope: gis-tools has no clustering op; brief-scope (geotag
zoning / POI region mining over image tables). DBSCAN (cluster.py) is
the density-based sibling; k-means is the fixed-k partitioner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .core import cache_scope

__all__ = ["kmeans"]


def _fit(points: DataFrame, *, k: int, n_iter: int, x: str, y: str,
         id_col: str) -> list[tuple[int, int, int]]:
    """Run the iterations; return [(j, cx, cy)] — k driver-side rows."""
    with cache_scope() as keep:
        pts = keep(points.select(
            F.col(id_col).cast("long").alias("__kid"),
            F.col(x).cast("long").alias("__kx"),
            F.col(y).cast("long").alias("__ky")))
        # the exact floor-mean contract relies on Spark's truncating
        # `div` == floor division, which holds only for NONNEGATIVE
        # sums — guard it (mirrors centrality.py's min_w <= 0 guard;
        # round-4 ADVICE: negatives used to silently truncate-toward-
        # zero and break bit-agreement with the oracle)
        mn = pts.agg(F.min("__kx").alias("mx"),
                     F.min("__ky").alias("my")).collect()[0]
        if mn["mx"] is None or mn["mx"] < 0 or mn["my"] < 0:
            raise ValueError(
                "kmeans requires nonnegative int64 coordinates (the "
                f"floor-mean spec); got min x={mn['mx']}, min "
                f"y={mn['my']}. Shift the frame to >= 0 first.")
        rows = (pts.groupBy(F.pmod(F.col("__kid"), F.lit(k)).alias("j"))
                .agg(F.expr("sum(__kx) div count(*)").alias("cx"),
                     F.expr("sum(__ky) div count(*)").alias("cy"))
                .collect())
        cents = {int(r["j"]): (int(r["cx"]), int(r["cy"])) for r in rows}
        if len(cents) < k:
            raise ValueError(
                f"k={k} needs at least k distinct id residues; got "
                f"{len(cents)} non-empty init buckets")
        for _ in range(n_iter):
            j_expr = _assign_expr(cents)
            rows = (pts.groupBy(j_expr.alias("j"))
                    .agg(F.expr("sum(__kx) div count(*)").alias("cx"),
                         F.expr("sum(__ky) div count(*)").alias("cy"))
                    .collect())
            new = {int(r["j"]): (int(r["cx"]), int(r["cy"])) for r in rows}
            # emptied clusters keep their previous centroid
            cents = {j: new.get(j, cents[j]) for j in range(k)}
        return [(j, cents[j][0], cents[j][1]) for j in range(k)]


def _assign_expr(cents: dict[int, tuple[int, int]],
                 x: str = "__kx", y: str = "__ky"):
    """argmin_j exact d^2, tie -> smaller j, as one least() over k
    literal structs (struct comparison is lexicographic)."""
    arms = []
    for j in sorted(cents):
        cx, cy = cents[j]
        dx = F.col(x) - F.lit(cx)
        dy = F.col(y) - F.lit(cy)
        arms.append(F.struct((dx * dx + dy * dy).alias("d2"),
                             F.lit(j).alias("j")))
    return F.least(*arms).getField("j")


def kmeans(points: DataFrame, *, k: int, n_iter: int,
           x: str, y: str, id_col: str) -> DataFrame:
    """Per-point assignment after ``n_iter`` exact Lloyd iterations.

    Returns the input columns plus ``j`` (cluster), ``cx``/``cy`` (the
    final centroid, int64) and ``d2`` (exact squared distance to it).
    """
    cents = _fit(points, k=k, n_iter=n_iter, x=x, y=y, id_col=id_col)
    cmap = {j: (cx, cy) for j, cx, cy in cents}
    xl = F.col(x).cast("long")
    yl = F.col(y).cast("long")
    arms = []
    for j in sorted(cmap):
        cx, cy = cmap[j]
        dx = xl - F.lit(cx)
        dy = yl - F.lit(cy)
        arms.append(F.struct((dx * dx + dy * dy).alias("d2"),
                             F.lit(j).alias("j"),
                             F.lit(cx).alias("cx"), F.lit(cy).alias("cy")))
    best = F.least(*arms)
    return points.select(
        "*", best.getField("j").alias("j"),
        best.getField("cx").alias("cx"), best.getField("cy").alias("cy"),
        best.getField("d2").alias("d2"))
