"""Point-pattern analysis — Ripley's K/L and the quadrat CSR test.

The two classic "is this point set clustered, random, or dispersed"
statistics (Ripley 1977; the ESDA siblings of Moran/Gi* which test
VALUES — these test LOCATIONS):

``ripleys_k``  K̂(t) = A/(n(n-1)) · Σ_{i≠j} 1(d_ij ≤ t) at a ladder of
radii, plus the variance-stabilized L̂(t) = √(K̂/π) (CSR ⇒ L(t) = t).
Distributed exactly like the variogram (kriging.py): coordinates
quantize to int64 micro-units, a 3×3 grid-bin equi-join at the max
radius bounds pair volume to O(n · local density) — never O(n²) — and
every pair's squared distance is an exact integer, so radius
membership (d² ≤ r²) is exact and the whole statistic is
SQL-mirrorable.  No edge correction (the naive estimator; documented —
corrections are multiplicative weights that would join the same pairs).

``quadrat_test``  χ² CSR test over the grid cells of the pattern's
bounding box: with m cells and n points, χ² = m·Σo²/n − n (the
algebraic collapse of Σ(o−e)²/e with e = n/m — exact given integer
Σo², including every EMPTY cell without materializing it).

Reference scope: gis-tools has no point-pattern statistics; these
close the ESDA §2 family (hotspot_gi / moran / lisa test values,
ripleys_k / quadrat_test test locations).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from .core import cache_scope

__all__ = ["ripleys_k", "quadrat_test", "cross_k", "g_function",
           "f_function"]


def ripleys_k(points: DataFrame, *, radii: Sequence[float], area: float,
              lon: str = "lon", lat: str = "lat",
              scale_xy: float = 1e6) -> DataFrame:
    """One row per radius: (r_idx, r, n_pairs_le, k_hat, l_hat).

    ``n_pairs_le`` is the ORDERED pair count Σ_{i≠j} 1(0 < d_ij ≤ r)
    (coincident quantized points are excluded — they carry no spatial
    information at the quantization scale).  ``area`` is the study
    region area in squared coordinate units.
    """
    radii = sorted(float(r) for r in radii)
    if not radii or radii[0] <= 0:
        raise ValueError("radii must be positive")
    r_int = [int(round(r * scale_xy)) for r in radii]
    L = r_int[-1]
    xi = F.floor(F.col(lon) * scale_xy + 0.5).cast("long")
    yi = F.floor(F.col(lat) * scale_xy + 0.5).cast("long")
    b = points.select(xi.alias("xi"), yi.alias("yi"),
                      F.monotonically_increasing_id().alias("__rid"))
    n = b.count()
    if n < 2:
        raise ValueError("need at least 2 points")
    d2 = _d2()
    pairs = (_bin_join(b, b, L)
             .where((F.col("ra") < F.col("rb")) & (d2 > 0)
                    & (d2 <= F.lit(L * L).cast("long")))
             .select(d2.alias("d2")))
    # ordered pairs: each unordered pair counts twice
    return _k_ladder(pairs, radii, r_int, area, float(n) * float(n - 1), 2)


def _d2() -> Column:
    """Squared distance of a `_bin_join` pair (exact integers)."""
    dx = F.col("ax") - F.col("cx")
    dy = F.col("ay") - F.col("cy")
    return dx * dx + dy * dy


def _bin_join(a: DataFrame, b: DataFrame, L: int) -> DataFrame:
    """Pairs of a point of ``a`` and one of ``b`` (both quantized to
    integer (xi, yi), each with an optional ``__rid``) in neighbouring
    L-wide bins: each ``a`` point visits its 3×3 bins, so every pair
    within L meets. Columns bx, by, ax, ay[, ra], cx, cy[, rb]."""
    bx = ((F.col("xi") - F.col("xi") % L) / L).cast("long")
    by = ((F.col("yi") - F.col("yi") % L) / L).cast("long")

    def pt(df, x, y, rid):
        return [F.col("xi").alias(x), F.col("yi").alias(y)] + (
            [F.col("__rid").alias(rid)] if "__rid" in df.columns else [])

    left = a.select(*pt(a, "ax", "ay", "ra"), F.explode(F.array(*[
        F.struct((bx + ox).alias("bx"), (by + oy).alias("by"))
        for ox in (-1, 0, 1) for oy in (-1, 0, 1)])).alias("t"))
    right = b.select(*pt(b, "cx", "cy", "rb"), bx.alias("bx"),
                     by.alias("by"))
    return (left.select("*", "t.bx", "t.by").drop("t")
            .join(right, on=["bx", "by"]))


def _k_ladder(pairs: DataFrame, radii, r_int, area: float, norm: float,
              mult: int) -> DataFrame:
    """The (r_idx, r, n_pairs_le, k_hat, l_hat) ladder of K̂ over the
    squared pair distances ``pairs.d2``: ``mult`` × the pairs within
    each radius, times ``area`` / ``norm``."""
    # smallest radius index containing the pair (exact integer compare)
    idx = None
    for k in range(len(r_int) - 1, -1, -1):
        cond = F.col("d2") <= F.lit(r_int[k] * r_int[k]).cast("long")
        idx = F.when(cond, F.lit(k)) if idx is None else \
            F.when(cond, F.lit(k)).otherwise(idx)
    # reversed scan: the final expression assigns the SMALLEST k
    per = pairs.groupBy(idx.alias("r_idx")).agg(F.count("*").alias("__c"))
    # densify to every radius and cumulate (n_radii rows: tiny)
    rad_df = pairs.sparkSession.createDataFrame(
        pd.DataFrame({"r_idx": range(len(radii)), "r": radii}),
        "r_idx int, r double")
    cum = (rad_df.join(per, on="r_idx", how="left")
           .withColumn("__c", F.coalesce("__c", F.lit(0)))
           .withColumn("n_pairs_le",
                       F.lit(mult) * F.sum("__c").over(
                           Window.orderBy("r_idx")
                           .rowsBetween(Window.unboundedPreceding, 0))))
    k_hat = (F.lit(float(area)) * F.col("n_pairs_le").cast("double")
             / F.lit(norm))
    return cum.select("r_idx", "r",
                      F.col("n_pairs_le").cast("long").alias("n_pairs_le"),
                      k_hat.alias("k_hat"),
                      F.sqrt(k_hat / F.lit(float(np.pi))).alias("l_hat"))


def quadrat_test(points: DataFrame, *, res: int, lon: str = "lon",
                 lat: str = "lat") -> DataFrame:
    """Quadrat-count CSR test over the grid cells of the pattern's
    bounding box at ``res``.  ONE row: (n_points, n_cells,
    n_occupied, sum_sq, chi2, dof).  χ² = m·Σo²/n − n exactly (see
    module docstring); compare against χ²_{m−1} upstream."""
    from .. import cells as C

    cell = C.cell_column(F.col(lon), F.col(lat), res)
    occ = points.select(cell.alias("cell")).groupBy("cell").agg(
        F.count("*").alias("o"))
    n_g = 1 << res
    gx = F.least(F.greatest(F.floor((F.col(lon) + F.lit(180.0))
                                    / F.lit(360.0) * F.lit(float(n_g))),
                            F.lit(0)), F.lit(n_g - 1)).cast("long")
    gy = F.least(F.greatest(F.floor((F.col(lat) + F.lit(90.0))
                                    / F.lit(180.0) * F.lit(float(n_g))),
                            F.lit(0)), F.lit(n_g - 1)).cast("long")
    ext = points.agg(F.min(gx).alias("x0"), F.max(gx).alias("x1"),
                     F.min(gy).alias("y0"), F.max(gy).alias("y1"),
                     F.count("*").alias("n"))
    s = occ.agg(F.sum(F.col("o") * F.col("o")).alias("sum_sq"),
                F.count("*").alias("n_occupied"))
    out = ext.crossJoin(s)
    m = ((F.col("x1") - F.col("x0") + 1)
         * (F.col("y1") - F.col("y0") + 1)).cast("long")
    chi2 = (m.cast("double") * F.col("sum_sq").cast("double")
            / F.col("n").cast("double") - F.col("n").cast("double"))
    return out.select(F.col("n").cast("long").alias("n_points"),
                      m.alias("n_cells"),
                      F.col("n_occupied").cast("long").alias("n_occupied"),
                      F.col("sum_sq").cast("long").alias("sum_sq"),
                      chi2.alias("chi2"),
                      (m - 1).alias("dof"))


def cross_k(points_a: DataFrame, points_b: DataFrame, *,
            radii: Sequence[float], area: float,
            lon: str = "lon", lat: str = "lat",
            scale_xy: float = 1e6) -> DataFrame:
    """Bivariate (cross-type) Ripley's K̂₁₂: does type B cluster AROUND
    type A (attraction) or avoid it (repulsion)?  Under independence
    K₁₂(t) = πt².

        K̂₁₂(t) = A/(n₁·n₂) · Σ_{i∈A} Σ_{j∈B} 1(d_ij ≤ t)

    Same exact-integer grid-bin machinery as ``ripleys_k``; coincident
    A/B points DO count (d=0 is a valid cross distance).  Returns one
    row per radius: (r_idx, r, n_pairs_le, k_hat, l_hat)."""
    radii = sorted(float(r) for r in radii)
    if not radii or radii[0] <= 0:
        raise ValueError("radii must be positive")
    r_int = [int(round(r * scale_xy)) for r in radii]
    L = r_int[-1]

    def _q(df):
        return df.select(
            F.floor(F.col(lon) * scale_xy + 0.5).cast("long").alias("xi"),
            F.floor(F.col(lat) * scale_xy + 0.5).cast("long").alias("yi"))

    a, b = _q(points_a), _q(points_b)
    n1, n2 = a.count(), b.count()
    if n1 == 0 or n2 == 0:
        raise ValueError("both layers need at least 1 point")
    d2 = _d2()
    pairs = (_bin_join(a, b, L).where(d2 <= F.lit(L * L).cast("long"))
             .select(d2.alias("d2")))
    return _k_ladder(pairs, radii, r_int, area, float(n1) * float(n2), 1)


def g_function(points: DataFrame, *, radii: Sequence[float],
               lon: str = "lon", lat: str = "lat",
               scale_xy: float = 1e6) -> DataFrame:
    """Nearest-neighbour distance distribution Ĝ(r) = fraction of
    points whose NN distance is ≤ r (CSR: G(r) = 1 − exp(−λπr²)) —
    the third member of the point-pattern family after K and the
    quadrat test: K counts ALL neighbours, G looks only at the
    nearest, so it reacts to fine-scale inhibition/attraction K
    smooths over.

    Distances beyond max(radii) are censored: such points count in
    ``n`` but in no bin (the standard reduced-sample treatment at the
    search cutoff; ``n_censored`` reports how many).  Shares the
    exact-int NN ladder with f_function.  Returns one row per radius:
    (r_idx, r, n_le, g_hat) and the censored count on every row."""
    cum, n, n_found = _nn_ladder(points, points, radii, same_set=True,
                                 lon=lon, lat=lat, scale_xy=scale_xy)
    if n < 2:
        raise ValueError("need at least 2 points")
    return cum.select(
        "r_idx", "r", F.col("n_le").cast("long").alias("n_le"),
        (F.col("n_le").cast("double") / F.lit(float(n))).alias("g_hat"),
        F.lit(n - n_found).cast("long").alias("n_censored"))


def _nn_ladder(a: DataFrame, b: DataFrame, radii, *, same_set: bool,
               lon: str, lat: str, scale_xy: float):
    """Shared NN-distance ladder: per a-row the min distance to b
    (excluding self when same_set), bucketed by the radius ladder.
    Returns (cum_df(r_idx, r, n_le), n_a, n_found).

    Round-5 plan: PROGRESSIVE WIDENING instead of one join binned at
    the LARGEST radius. Level k bins both sides at r_k and joins only
    the points still unresolved after level k−1; a point with any
    neighbour at distance ≤ r_k is guaranteed found in its 3×3 bins of
    size r_k, and the min over candidates with d² ≤ r_k² is its TRUE
    NN distance, so per-point nn_d2 — and every output row — is
    identical to the single-join plan. Most points resolve at the
    smallest radius where candidate sets are ~(r_0/r_max)² of the
    coarse plan's (the old plan's pair count grew with the SQUARE of
    the largest requested radius, the classic skew bomb on hotspot
    data), and only the exponentially-rare isolated points escalate."""
    radii = sorted(float(r) for r in radii)
    if not radii or radii[0] <= 0:
        raise ValueError("radii must be positive")
    r_int = [int(round(r * scale_xy)) for r in radii]

    def _q(df, rid):
        cols = [F.floor(F.col(lon) * scale_xy + 0.5).cast("long")
                .alias("xi"),
                F.floor(F.col(lat) * scale_xy + 0.5).cast("long")
                .alias("yi")]
        if rid:
            cols.append(F.monotonically_increasing_id().alias("__rid"))
        return df.select(*cols)

    # localCheckpoint, not persist, for the __rid-carrying side: the
    # ladder's left_anti joins match ids across several jobs, and a
    # persist is best-effort — an evicted partition recomputed from a
    # shuffled source could silently reassign monotonically_increasing_id
    # (round-5 ADVICE, medium). The eager checkpoint pins the ids
    # durably; a lost block is an error, never a silent relabel.
    qa = _q(a, True).localCheckpoint(eager=True)
    qb = qa if same_set else _q(b, False)
    n_a = qa.count()
    d2 = _d2()

    def _level_join(unres, Lk: int):
        j = _bin_join(unres, qb, Lk)
        if same_set:
            j = j.where(F.col("ra") != F.col("rb"))
        return (j.where(d2 <= F.lit(Lk * Lk).cast("long"))
                .groupBy("ra").agg(F.min(d2).alias("nn_d2")))

    idx = None
    for k in range(len(r_int) - 1, -1, -1):
        cond = F.col("nn_d2") <= F.lit(r_int[k] * r_int[k]).cast("long")
        idx = (F.when(cond, F.lit(k)) if idx is None
               else F.when(cond, F.lit(k)).otherwise(idx))
    unresolved = qa
    found = []
    n_found = 0
    with cache_scope() as keep:
        if not same_set:
            keep(qb)
        for k, rk in enumerate(r_int):
            nn_k = keep(_level_join(unresolved, rk))
            c_k = nn_k.count()
            n_found += c_k
            found.append(nn_k)
            if k + 1 < len(r_int):
                unresolved = keep(unresolved.join(
                    nn_k.select(F.col("ra").alias("__rid")),
                    on="__rid", how="left_anti"))
                if unresolved.count() == 0:
                    break
        nn = found[0]
        for f in found[1:]:
            nn = nn.unionByName(f)
        per = {int(r["r_idx"]): int(r["__c"]) for r in
               nn.groupBy(idx.alias("r_idx"))
               .agg(F.count("*").alias("__c")).collect()}
    # release qa's checkpoint blocks too: nothing returned reads them,
    # and local checkpoints are otherwise freed only on driver GC
    qa._jdf.queryExecution().logical().rdd().unpersist(False)
    # the ladder is len(radii) rows — materialize the cumulative sums
    # driver-side (the caches are freed as the scope exits, and the
    # returned plan stays trivially small)
    cum = a.sparkSession.createDataFrame(pd.DataFrame({
        "r_idx": range(len(radii)), "r": radii,
        "n_le": np.cumsum([per.get(k, 0) for k in range(len(radii))],
                          dtype=np.int64)}),
        "r_idx int, r double, n_le long")
    return cum, n_a, n_found


def f_function(points: DataFrame, samples: DataFrame, *,
               radii: Sequence[float], lon: str = "lon",
               lat: str = "lat", scale_xy: float = 1e6) -> DataFrame:
    """Empty-space function F̂(r): the CDF of the distance from the
    given SAMPLE locations (a deterministic grid, typically) to the
    nearest data point — G's dual (CSR: F = G; clustering pulls F
    BELOW CSR where G goes above). Same censoring treatment at the
    search cutoff as g_function. Returns (r_idx, r, n_le, f_hat,
    n_censored)."""
    cum, n_s, n_found = _nn_ladder(samples, points, radii,
                                   same_set=False, lon=lon, lat=lat,
                                   scale_xy=scale_xy)
    return cum.select(
        "r_idx", "r", F.col("n_le").cast("long").alias("n_le"),
        (F.col("n_le").cast("double") / F.lit(float(n_s)))
        .alias("f_hat"),
        F.lit(n_s - n_found).cast("long").alias("n_censored"))

