"""Delaunay wavefront (operators/triangulate.py) vs an INDEPENDENT
brute-force enumeration (float circumcircle, margin-checked), plus the
Voronoi partition-of-the-box conservation property and the
Delaunay–Voronoi duality (neighbors share an edge)."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.operators.triangulate import (
    delaunay_edges, triangulate_points, voronoi_cells)


def _brute_delaunay(xs, ys):
    """Independent oracle: triangle (i,j,k) is Delaunay iff non-degenerate
    and no other point strictly inside its circumcircle (float math with
    an explicit margin guard so ties would fail loudly, not silently)."""
    n = len(xs)
    out = set()
    P = np.column_stack([xs, ys]).astype(float)
    for i in range(n):
        for j in range(i + 1, n):
            for k in range(j + 1, n):
                a, b, c = P[i], P[j], P[k]
                d = 2 * (a[0] * (b[1] - c[1]) + b[0] * (c[1] - a[1])
                         + c[0] * (a[1] - b[1]))
                if abs(d) < 1e-9:
                    continue
                ux = ((a @ a) * (b[1] - c[1]) + (b @ b) * (c[1] - a[1])
                      + (c @ c) * (a[1] - b[1])) / d
                uy = ((a @ a) * (c[0] - b[0]) + (b @ b) * (a[0] - c[0])
                      + (c @ c) * (b[0] - a[0])) / d
                r2 = (a[0] - ux) ** 2 + (a[1] - uy) ** 2
                d2 = (P[:, 0] - ux) ** 2 + (P[:, 1] - uy) ** 2
                d2[[i, j, k]] = np.inf
                margin = np.abs(d2 - r2).min()
                assert margin > 1e-9 * max(r2, 1.0), \
                    "test data is near-cocircular; pick another seed"
                if (d2 > r2).all():
                    out.add((i, j, k))
    return out


def _general_position_points(n, seed, span=2000):
    rng = np.random.default_rng(seed)
    pts = set()
    while len(pts) < n:
        pts.add((int(rng.integers(0, span)), int(rng.integers(0, span))))
    arr = np.array(sorted(pts), dtype=np.int64)
    return arr[:, 0], arr[:, 1]


@pytest.mark.parametrize("seed,n", [(1, 12), (2, 25), (3, 40)])
def test_wavefront_matches_bruteforce(seed, n):
    xs, ys = _general_position_points(n, seed)
    got = set(triangulate_points(xs, ys))
    want = _brute_delaunay(xs, ys)
    assert got == want


def test_degenerate_inputs():
    assert triangulate_points(np.array([0, 5]), np.array([0, 5])) == []
    # all collinear
    assert triangulate_points(np.array([0, 1, 2, 3]),
                              np.array([0, 2, 4, 6])) == []
    # square + center: 4 triangles, no crossing diagonal pair
    xs = np.array([0, 10, 10, 0, 5])
    ys = np.array([0, 0, 10, 10, 5])
    tris = triangulate_points(xs, ys)
    assert len(tris) == 4 and all(4 in t for t in tris)


def test_cocircular_square_is_valid_triangulation():
    # exactly cocircular 2x2 square: either diagonal is fine, but the
    # result must be exactly two non-overlapping triangles, deterministic
    xs = np.array([0, 10, 10, 0])
    ys = np.array([0, 0, 10, 10])
    t1 = triangulate_points(xs, ys)
    t2 = triangulate_points(xs, ys)
    assert t1 == t2 and len(t1) == 2
    shared = set(t1[0]) & set(t1[1])
    assert len(shared) == 2  # one shared diagonal, not a crossing pair


def test_spark_edges_and_duality(spark):
    xs, ys = _general_position_points(30, 7)
    pdf = pd.DataFrame({"zone": 0, "id": np.arange(30), "x": xs, "y": ys})
    pdf2 = pdf.copy()
    pdf2["zone"] = 1  # second group: same result, proves group isolation
    df = spark.createDataFrame(pd.concat([pdf, pdf2]))
    edges = delaunay_edges(df, by="zone").toPandas()
    want = _brute_delaunay(xs, ys)
    for z in (0, 1):
        got_e = {tuple(r) for r in
                 edges[edges.zone == z][["i", "j"]].to_numpy()}
        want_e = {tuple(sorted((t[a], t[b])))
                  for t in want for a, b in ((0, 1), (0, 2), (1, 2))}
        assert got_e == want_e


def test_voronoi_partitions_box(spark):
    xs, ys = _general_position_points(40, 11, span=1000)
    pdf = pd.DataFrame({"zone": np.arange(40) % 2, "id": np.arange(40),
                        "x": xs, "y": ys})
    df = spark.createDataFrame(pdf)
    out = voronoi_cells(df, by="zone", box=(0.0, 0.0, 1000.0, 1000.0)).toPandas()
    for z, sub in out.groupby("zone"):
        assert len(sub) == (pdf.zone == z).sum()
        np.testing.assert_allclose(sub.area.sum(), 1000.0 * 1000.0, rtol=1e-9)
        assert (sub.area > 0).all()


def test_voronoi_cell_ownership(spark):
    # brute-force point location: random probes must be closest to the
    # site whose cell they fall in -> check via per-site area by Monte
    # Carlo against the reported exact areas
    xs, ys = _general_position_points(12, 13, span=100)
    pdf = pd.DataFrame({"zone": 0, "id": np.arange(12), "x": xs, "y": ys})
    out = (voronoi_cells(spark.createDataFrame(pdf), by="zone",
                         box=(0.0, 0.0, 100.0, 100.0))
           .toPandas().set_index("id"))
    rng = np.random.default_rng(3)
    probes = rng.uniform(0, 100, (200_000, 2))
    d2 = ((probes[:, None, 0] - xs[None, :]) ** 2
          + (probes[:, None, 1] - ys[None, :]) ** 2)
    owner = d2.argmin(axis=1)
    mc = np.bincount(owner, minlength=12) / len(probes) * 100.0 * 100.0
    np.testing.assert_allclose(out.loc[np.arange(12)].area.to_numpy(), mc,
                               rtol=0.05, atol=2.0)


def test_alpha_shape_concave_outline(spark):
    from gis_tools_spark.operators.triangulate import alpha_shape_edges

    # dense unit grid strip + a far outlier: alpha slightly above the
    # grid diagonal keeps only grid triangles; boundary = strip outline
    xs, ys, ids = [], [], []
    k = 0
    for gx in range(8):
        for gy in range(3):
            xs.append(gx * 10)
            ys.append(gy * 10)
            ids.append(k)
            k += 1
    xs.append(500)
    ys.append(500)
    ids.append(k)
    pdf = pd.DataFrame({"zone": 0, "id": ids, "x": xs, "y": ys})
    out = alpha_shape_edges(spark.createDataFrame(pdf), by="zone",
                            alpha=7.0).toPandas()
    # alpha below the grid right-triangle circumradius (~7.07): nothing
    assert len(out) == 0
    out2 = alpha_shape_edges(spark.createDataFrame(pdf), by="zone",
                             alpha=8.0 * np.sqrt(2)).toPandas()
    edges = {tuple(e) for e in out2[["i", "j"]].to_numpy()}
    # outlier never on the boundary; outline of the 70x20 strip has
    # 2*(7+2) horizontal+vertical boundary edges = 18
    assert all(80 not in e for e in edges)
    assert len(edges) == 18
    span = lambda e: (abs(xs[e[0]] - xs[e[1]]), abs(ys[e[0]] - ys[e[1]]))  # noqa: E731
    assert all(span(e) in ((10, 0), (0, 10)) for e in edges)


def test_tin_interpolate_reproduces_plane(spark):
    from gis_tools_spark.operators.triangulate import tin_interpolate

    xs, ys = _general_position_points(25, 21, span=1000)
    z = 2 * xs + 3 * ys  # exact plane: TIN must reproduce it anywhere
    sites = pd.DataFrame({"zone": 0, "id": np.arange(25),
                          "x": xs, "y": ys, "z": z})
    rng = np.random.default_rng(4)
    hull_interior = pd.DataFrame({
        "zone": 0, "qid": np.arange(200),
        "x": rng.integers(xs.min() + 1, xs.max() - 1, 200),
        "y": rng.integers(ys.min() + 1, ys.max() - 1, 200)})
    out = tin_interpolate(spark.createDataFrame(sites),
                          spark.createDataFrame(hull_interior),
                          by="zone").toPandas().set_index("qid")
    for r in hull_interior.itertuples(index=False):
        if r.qid in out.index:
            want = (2 * int(r.x) + 3 * int(r.y)) * 1_000_000
            assert int(out.loc[r.qid].zq) == want
    # site locations themselves interpolate to exactly their z
    qs = pd.DataFrame({"zone": 0, "qid": 1000 + np.arange(25),
                       "x": xs, "y": ys})
    out2 = tin_interpolate(spark.createDataFrame(sites),
                           spark.createDataFrame(qs),
                           by="zone").toPandas().set_index("qid")
    for i in range(25):
        assert int(out2.loc[1000 + i].zq) == int(z[i]) * 1_000_000
    # a query far outside the hull yields no row
    far = pd.DataFrame({"zone": [0], "qid": [9999],
                        "x": [100000 // 20], "y": [0]})
    out3 = tin_interpolate(spark.createDataFrame(sites),
                           spark.createDataFrame(far), by="zone").toPandas()
    assert 9999 not in set(out3.qid)


def _scalar_tournament(xs, ys):
    """The pre-vectorization reference: per frontier edge, a sequential
    tournament with exact integer orient/incircle predicates (kept here
    as the equivalence oracle for the vectorized candidate scan)."""
    from gis_tools_spark.operators.triangulate import _incircle, _orient

    n = len(xs)
    if n < 3:
        return []
    X = [int(v) for v in xs]
    Y = [int(v) for v in ys]
    order = sorted(range(n), key=lambda i: (X[i], Y[i]))
    a = order[0]
    b = -1
    for p in order[1:]:
        if b < 0:
            b = p
            continue
        s = _orient(X[a], Y[a], X[b], Y[b], X[p], Y[p])
        if s < 0:
            b = p
        elif s == 0:
            if (abs(X[p] - X[a]) + abs(Y[p] - Y[a])
                    < abs(X[b] - X[a]) + abs(Y[b] - Y[a])):
                b = p
    queue = [(a, b), (b, a)]
    visited, tris = set(), []
    while queue:
        u, v = queue.pop()
        if (u, v) in visited:
            continue
        visited.add((u, v))
        best = -1
        for p in order:
            if p == u or p == v:
                continue
            if _orient(X[u], Y[u], X[v], Y[v], X[p], Y[p]) <= 0:
                continue
            if best < 0 or _incircle(X[u], Y[u], X[v], Y[v],
                                     X[best], Y[best], X[p], Y[p]) > 0:
                best = p
        if best < 0:
            continue
        tris.append(tuple(sorted((u, v, best))))
        visited.add((v, best))
        visited.add((best, u))
        for e in ((best, v), (u, best)):
            if e not in visited:
                queue.append(e)
    return sorted(set(tris))


def test_vectorized_scan_equals_scalar_tournament():
    """The vectorized candidate scan must be BIT-IDENTICAL to the
    scalar exact-predicate tournament — including on cocircular-heavy
    inputs (regular grids, where the float-filter band is widest) and
    at the 1e5 coordinate bound (where the f64-exactness argument is
    tightest)."""
    from gis_tools_spark.operators.triangulate import (MAX_ABS_COORD,
                                                       triangulate_points)

    cases = []
    # regular 5x5 grid: every cell's 4 corners exactly cocircular
    g = np.arange(5) * 7
    xx, yy = np.meshgrid(g, g)
    cases.append((xx.ravel().astype(np.int64), yy.ravel().astype(np.int64)))
    # grid + jittered extras (mixed ties and general position)
    rng = np.random.default_rng(17)
    ex = np.concatenate([xx.ravel(), rng.integers(0, 29, 12)]).astype(np.int64)
    ey = np.concatenate([yy.ravel(), rng.integers(0, 29, 12)]).astype(np.int64)
    dedup = sorted(set(zip(ex.tolist(), ey.tolist())))
    cases.append((np.array([p[0] for p in dedup], dtype=np.int64),
                  np.array([p[1] for p in dedup], dtype=np.int64)))
    # near the coordinate bound, both signs
    M = MAX_ABS_COORD
    pts = set()
    while len(pts) < 30:
        pts.add((int(rng.integers(-M, M + 1)), int(rng.integers(-M, M + 1))))
    arr = np.array(sorted(pts), dtype=np.int64)
    cases.append((arr[:, 0], arr[:, 1]))
    # random small-lattice clusters (dense ties)
    for seed in (3, 4):
        r2 = np.random.default_rng(seed)
        pts = set()
        while len(pts) < 40:
            pts.add((int(r2.integers(0, 15)), int(r2.integers(0, 15))))
        arr = np.array(sorted(pts), dtype=np.int64)
        cases.append((arr[:, 0], arr[:, 1]))

    for xs, ys in cases:
        assert triangulate_points(xs, ys) == _scalar_tournament(xs, ys)
