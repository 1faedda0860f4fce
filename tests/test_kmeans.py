"""kmeans: exact integer Lloyd vs a literal numpy replay, determinism,
empty-cluster carry, and assignment consistency."""

from __future__ import annotations

import numpy as np
import pytest


def _numpy_kmeans(ids, xs, ys, k, n_iter):
    """Literal replay of the operator's spec in numpy ints."""
    xs = xs.astype(np.int64)
    ys = ys.astype(np.int64)
    cents = {}
    for j in range(k):
        m = (ids % k) == j
        assert m.any()
        cents[j] = (int(xs[m].sum()) // int(m.sum()),
                    int(ys[m].sum()) // int(m.sum()))
    for _ in range(n_iter):
        d2 = np.stack([(xs - cents[j][0]) ** 2 + (ys - cents[j][1]) ** 2
                       for j in range(k)])  # (k, n)
        assign = np.argmin(d2, axis=0)      # argmin takes smallest j on tie
        new = {}
        for j in range(k):
            m = assign == j
            if m.any():
                new[j] = (int(xs[m].sum()) // int(m.sum()),
                          int(ys[m].sum()) // int(m.sum()))
            else:
                new[j] = cents[j]
        cents = new
    # final assignment against the final centroids
    d2 = np.stack([(xs - cents[j][0]) ** 2 + (ys - cents[j][1]) ** 2
                   for j in range(k)])
    assign = np.argmin(d2, axis=0)
    return cents, assign, d2[assign, np.arange(len(xs))]


def _points_df(spark, ids, xs, ys):
    return spark.createDataFrame(
        [(int(i), int(x), int(y)) for i, x, y in zip(ids, xs, ys)],
        "id long, xi long, yi long")


def test_kmeans_matches_numpy_replay(spark):
    from gis_tools_spark.operators.kmeans import _fit, kmeans

    rng = np.random.default_rng(7)
    n, k, it = 400, 5, 4
    ids = np.arange(n, dtype=np.int64)
    xs = rng.integers(0, 100000, n)
    ys = rng.integers(0, 100000, n)
    cents, assign, d2 = _numpy_kmeans(ids, xs, ys, k, it)

    got = _fit(_points_df(spark, ids, xs, ys),
               k=k, n_iter=it, x="xi", y="yi", id_col="id")
    assert set(got) == {(j, cents[j][0], cents[j][1]) for j in range(k)}

    rows = (kmeans(_points_df(spark, ids, xs, ys), k=k, n_iter=it,
                   x="xi", y="yi", id_col="id")
            .orderBy("id").collect())
    assert [r["j"] for r in rows] == assign.tolist()
    assert [r["d2"] for r in rows] == d2.tolist()


def test_kmeans_deterministic_across_partitioning(spark):
    from gis_tools_spark.operators.kmeans import _fit

    rng = np.random.default_rng(3)
    n = 300
    ids = np.arange(n, dtype=np.int64)
    xs = rng.integers(0, 1000, n)
    ys = rng.integers(0, 1000, n)
    df1 = _points_df(spark, ids, xs, ys).repartition(1)
    df8 = _points_df(spark, ids, xs, ys).repartition(8)
    a = sorted(_fit(df1, k=4, n_iter=3, x="xi", y="yi", id_col="id"))
    b = sorted(_fit(df8, k=4, n_iter=3, x="xi", y="yi", id_col="id"))
    assert a == b


def test_kmeans_empty_cluster_keeps_centroid(spark):
    from gis_tools_spark.operators.kmeans import _fit

    # two tight blobs, k=3: one init bucket's centroid is stranded between
    # them and loses every point after the first assignment
    ids = np.arange(9, dtype=np.int64)
    xs = np.array([0, 1, 2, 1000, 1001, 1002, 0, 1, 1000])
    ys = np.zeros(9, dtype=np.int64)
    cents, _, _ = _numpy_kmeans(ids, xs, ys, 3, 3)
    got = _fit(_points_df(spark, ids, xs, ys),
               k=3, n_iter=3, x="xi", y="yi", id_col="id")
    assert set(got) == {(j, *cents[j]) for j in range(3)}


def test_kmeans_requires_k_buckets(spark):
    from gis_tools_spark.operators.kmeans import _fit

    df = _points_df(spark, np.array([0, 4]), np.array([1, 2]),
                    np.array([1, 2]))
    with pytest.raises(ValueError, match="init buckets"):
        _fit(df, k=4, n_iter=1, x="xi", y="yi", id_col="id")
