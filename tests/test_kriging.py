"""Geostatistics: empirical variogram vs numpy brute force (+DuckDB
mirror of the quantized expression tree), ordinary kriging vs a direct
numpy global solve, exactness at samples, constant-field reproduction."""

from __future__ import annotations

import numpy as np
import pytest


# --------------------------------------------------------------- fixtures

@pytest.fixture(scope="module")
def field():
    rng = np.random.default_rng(42)
    n = 240
    xs = rng.uniform(0.0, 10.0, n)
    ys = rng.uniform(0.0, 10.0, n)
    vs = (np.sin(xs * 0.7) + np.cos(ys * 0.5)
          + 0.1 * rng.standard_normal(n))
    return xs, ys, np.round(vs, 2)


def _samples_df(spark, xs, ys, vs):
    return spark.createDataFrame(
        [(i, float(x), float(y), float(v))
         for i, (x, y, v) in enumerate(zip(xs, ys, vs))],
        "sid long, lon double, lat double, value double")


# --------------------------------------------------------------- variogram

def _vario_bruteforce(xs, ys, vs, max_lag, n_bins, sxy=1e6, sv=100.0):
    xi = np.floor(xs * sxy + 0.5).astype(np.int64)
    yi = np.floor(ys * sxy + 0.5).astype(np.int64)
    vi = np.floor(vs * sv + 0.5).astype(np.int64)
    L = int(round(max_lag * sxy))
    w = L / n_bins
    out = {}
    n = len(xs)
    for i in range(n):
        for j in range(i + 1, n):
            d2 = int(xi[i] - xi[j]) ** 2 + int(yi[i] - yi[j]) ** 2
            if d2 <= 0 or d2 >= L * L:
                continue
            b = int(np.floor(np.sqrt(float(d2)) / w))
            dv2 = int(vi[i] - vi[j]) ** 2
            c, s, sd = out.get(b, (0, 0, 0))
            out[b] = (c + 1, s + dv2, sd + int(np.floor(np.sqrt(float(d2)))))
    return {b: (c, s / (2.0 * c * sv * sv), sd / (c * sxy))
            for b, (c, s, sd) in out.items()}


def test_variogram_matches_bruteforce(spark, field):
    from gis_tools_spark.operators.kriging import empirical_variogram

    xs, ys, vs = field
    got = empirical_variogram(
        _samples_df(spark, xs, ys, vs), value_col="value",
        max_lag=2.0, n_bins=8).collect()
    want = _vario_bruteforce(xs, ys, vs, 2.0, 8)
    assert {r["lag_bin"] for r in got} == set(want)
    for r in got:
        c, g, ml = want[r["lag_bin"]]
        assert r["n_pairs"] == c
        assert r["gamma"] == pytest.approx(g, abs=1e-12)
        assert r["mean_lag"] == pytest.approx(ml, abs=1e-12)


def test_variogram_partition_invariant(spark, field):
    from gis_tools_spark.operators.kriging import empirical_variogram

    xs, ys, vs = field
    a = sorted(map(tuple, empirical_variogram(
        _samples_df(spark, xs, ys, vs).repartition(1),
        value_col="value", max_lag=1.5, n_bins=6).collect()))
    b = sorted(map(tuple, empirical_variogram(
        _samples_df(spark, xs, ys, vs).repartition(16),
        value_col="value", max_lag=1.5, n_bins=6).collect()))
    assert a == b  # exact equality incl. the float gamma (int sums)


def test_variogram_duckdb_mirror(spark, field):
    """The same quantized expression tree replayed in DuckDB SQL."""
    import duckdb

    from gis_tools_spark.operators.kriging import empirical_variogram

    xs, ys, vs = field
    got = sorted(
        (r["lag_bin"], r["n_pairs"], r["gamma"], r["mean_lag"])
        for r in empirical_variogram(
            _samples_df(spark, xs, ys, vs), value_col="value",
            max_lag=2.0, n_bins=8).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE pts(sid BIGINT, lon DOUBLE, lat DOUBLE, "
                "value DOUBLE)")
    con.executemany("INSERT INTO pts VALUES (?,?,?,?)",
                    [(int(i), float(x), float(y), float(v))
                     for i, (x, y, v) in enumerate(zip(xs, ys, vs))])
    L = int(round(2.0 * 1e6))
    w = L / 8
    sql = f"""
    WITH q AS (
      SELECT sid, CAST(floor(lon*1000000.0 + 0.5) AS BIGINT) xi,
             CAST(floor(lat*1000000.0 + 0.5) AS BIGINT) yi,
             CAST(floor(value*100.0 + 0.5) AS BIGINT) vi
      FROM pts),
    pr AS (
      SELECT (a.xi-b.xi)*(a.xi-b.xi) + (a.yi-b.yi)*(a.yi-b.yi) AS d2,
             (a.vi-b.vi)*(a.vi-b.vi) AS dv2
      FROM q a, q b
      WHERE a.sid < b.sid
        AND (a.xi-b.xi)*(a.xi-b.xi) + (a.yi-b.yi)*(a.yi-b.yi) < {L * L}
        AND (a.xi-b.xi)*(a.xi-b.xi) + (a.yi-b.yi)*(a.yi-b.yi) > 0)
    SELECT CAST(floor(sqrt(CAST(d2 AS DOUBLE)) / {w}) AS INT) lag_bin,
           count(*) n_pairs,
           CAST(sum(dv2) AS DOUBLE) / (2.0 * count(*) * 100.0 * 100.0) gamma,
           CAST(sum(CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1000000.0) mean_lag
    FROM pr GROUP BY 1 ORDER BY 1"""
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    assert [(a, b) for a, b, _, _ in got] == [(a, b) for a, b, _, _ in want]
    for g, w_ in zip(got, want):
        assert g[2] == w_[2] and g[3] == w_[3]  # bit-equal doubles


# --------------------------------------------------------------- kriging
