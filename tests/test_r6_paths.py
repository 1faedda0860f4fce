"""Round-6 optimization parity tests: every operator that gained a
driver-solved small-data fast path must produce EXACTLY the same result
through its distributed fallback (threshold forced to 0), every loop on
the shared fixpoint driver keeps its cap contract, and the
forward-stencil pair joins must reproduce the classic ordered relation.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_tools_spark.operators import cellcover, cluster, core, network


def _rand_edges(spark, n_nodes=300, n_edges=600, seed=7):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, n_nodes, n_edges)
    b = rng.integers(0, n_nodes, n_edges)
    return spark.createDataFrame(
        pd.DataFrame({"src_key": a, "dst_key": b}),
        schema="src_key long, dst_key long")


def _cc_labels(spark):
    edges = _rand_edges(spark).where("src_key % 7 != 3")  # some isolates
    return lambda: {(r["node"], r["component"])
                    for r in network.connected_components(edges).collect()}


def _compact(spark):
    from gis_tools_spark import cells as C
    rng = np.random.default_rng(3)
    lon = rng.uniform(5.0, 6.0, 4000)
    lat = rng.uniform(40.0, 41.0, 4000)
    pts = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    cov = pts.select(C.cell_column(F.col("lon"), F.col("lat"), 9)
                     .alias("cell")).distinct()
    return lambda: {r["cell"] for r in cellcover.compact_cells(cov).collect()}


def _watershed(spark):
    from gis_tools_spark import fixtures
    from gis_tools_spark.raster.hydrology import watershed
    from gis_tools_spark.raster.stitch import d8_flow_direction

    ras = spark.createDataFrame(fixtures.gen_rasters_exact(2, 2, 32))
    fd = d8_flow_direction(ras)
    return lambda: {tuple(r) for r in watershed(fd).collect()}


def _d8(spark):
    from gis_tools_spark import fixtures
    from gis_tools_spark.raster.stitch import d8_flow_direction

    ras = spark.createDataFrame(fixtures.gen_rasters_exact(2, 2, 32))
    return lambda: {(r["image_id"], bytes(r["bytes"]))
                    for r in d8_flow_direction(ras).collect()}


def _pagerank(spark):
    # node 300 is dangling (no out-edge) and 0->1 is a parallel edge.
    # Spark sums each node's contributions in shuffle order, the driver
    # in bincount order, so the two agree to rounding, not bit for bit.
    edges = _rand_edges(spark).union(spark.createDataFrame(
        [(0, 1), (0, 1), (5, 300)], "src_key long, dst_key long"))

    def run():
        out = network.pagerank(edges, src_col="src_key", dst_col="dst_key")
        return {r["node"]: r["pr"] for r in out.collect()}
    return run


def _cost_distance(spark):
    from gis_tools_spark import fixtures
    from gis_tools_spark.raster.costdist import cost_distance

    cost = spark.createDataFrame(fixtures.gen_rasters_exact(2, 2, 16))
    return lambda: {(r["image_id"], bytes(r["bytes"]))
                    for r in cost_distance(cost, [(3, 5), (27, 30)])
                    .collect()}


@pytest.mark.parametrize("make", [_cc_labels, _compact, _watershed,
                                  _pagerank, _cost_distance, _d8],
                         ids=["connected_components", "compact_cells",
                              "watershed", "pagerank", "cost_distance",
                              "d8_flow_direction"])
def test_driver_solve_matches_distributed(spark, monkeypatch, make):
    """The driver solve under core.DRIVER_MAX_ROWS and the distributed
    rounds it replaces (gate forced to 0) give the same answer: exactly,
    except PageRank's ranks, which agree to 1e-12."""
    run = make(spark)
    fast = run()
    monkeypatch.setattr(core, "DRIVER_MAX_ROWS", 0)
    slow = run()
    assert len(fast) > 0
    if make is _pagerank:
        assert fast.keys() == slow.keys()
        assert all(abs(fast[k] - slow[k]) <= 1e-12 for k in fast)
        assert 300 in fast
    else:
        assert fast == slow


def _zonal_mosaic(spark):
    from gis_tools_spark import fixtures

    return (spark.createDataFrame(fixtures.gen_rasters(3, 3, 16)),
            spark.createDataFrame(fixtures.gen_zones(16)[["gid",
                                                          "geometry_wkb"]]))


def _zonal_statistics(spark):
    from gis_tools_spark.raster.zonal import zonal_statistics

    ras, zones = _zonal_mosaic(spark)
    return lambda: {tuple(r) for r in zonal_statistics(ras, zones).collect()}


def _burn(spark):
    from gis_tools_spark.raster.burn import burn_zones_to_tiles

    ras, zones = _zonal_mosaic(spark)
    return lambda: {tuple(r) for r in burn_zones_to_tiles(
        ras, zones, burn_attr="gid").collect()}


@pytest.mark.parametrize("make, budget",
                         [(_pagerank, 3), (_cc_labels, 1),
                          (_cost_distance, 1), (_watershed, 1),
                          (_zonal_statistics, 4), (_burn, 3)],
                         ids=["pagerank", "connected_components",
                              "cost_distance", "watershed",
                              "zonal_statistics", "burn_zones_to_tiles"])
def test_small_input_job_budget(spark, make, budget):
    """A small input takes the one-collect driver path: the call plus the
    collect of its output stays within ``budget`` Spark jobs. The size
    gates and the grid summaries of local relations read Catalyst's row
    counts, so components, cost distance and D8 plus watershed run one
    job each (the distributed rounds on the same inputs run 25 to
    152). PageRank's edges add rows built from a Python list, which
    have no plan statistics, so its gate still runs its 2-job aggregate
    before the collect. A small zone layer takes
    the broadcast plan of zonal statistics and tile burning (4 and 3
    jobs: a local relation gives no byte bound, so the size gate runs
    its 2-job aggregate, then the zone collect and the output's
    aggregate or collect; the cell plan runs 8 each)."""
    sc = spark.sparkContext
    run = make(spark)
    group = f"job-budget{make.__name__}"
    sc.setJobGroup(group, group)
    try:
        run()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= budget, jobs


def _hop_bounded(pdf, sources, hops):
    """Reference for a capped Bellman-Ford: per (source, node) the
    shortest distance over paths of at most ``hops`` edges (undirected,
    min weight per pair)."""
    w = {}
    for a, b, x in pdf[["src_key", "dst_key", "length"]].itertuples(
            index=False):
        for u, v in ((a, b), (b, a)):
            w[(u, v)] = min(float(x), w.get((u, v), np.inf))
    nodes = set(pdf["src_key"]) | set(pdf["dst_key"])
    out = {}
    for s in sources:
        if s not in nodes:
            continue
        d = {s: 0.0}
        for _ in range(hops):
            nd = dict(d)
            for (u, v), x in w.items():
                if u in d and d[u] + x < nd.get(v, np.inf):
                    nd[v] = d[u] + x
            d = nd
        out.update({(s, n): round(v, 9) for n, v in d.items()})
    return out


@pytest.mark.parametrize("max_iter", [1, 2, 4, 0])
def test_bellman_ford_cap_keeps_capped_contract(spark, max_iter):
    """max_iter=m runs m - 1 relaxation rounds (the capped round is
    discarded) and never raises; 0 runs to convergence."""
    rng = np.random.default_rng(11)
    n = 40
    pdf = pd.DataFrame({
        "src_key": [f"n{i}" for i in range(n - 1)]
        + [f"n{a}" for a in rng.integers(0, n, 20)],
        "dst_key": [f"n{i + 1}" for i in range(n - 1)]
        + [f"n{b}" for b in rng.integers(0, n, 20)],
        "length": rng.uniform(1, 10, n - 1 + 20)})
    sources = ["n0", "n17"]
    got = {(r["source"], r["node"]): round(r["dist"], 9)
           for r in network.shortest_paths(
               spark.createDataFrame(pdf), sources,
               method="bellman-ford", max_iter=max_iter).collect()}
    assert got == _hop_bounded(pdf, sources,
                               max_iter - 1 if max_iter else n)


def test_fixpoint_cap_raises_naming_the_operator(spark, monkeypatch, caplog):
    import logging

    from gis_tools_spark import fixtures
    from gis_tools_spark.plans.fixpoint import fixpoint
    from gis_tools_spark.raster.costdist import cost_distance

    def step(df):
        return df.withColumn("__chg", F.lit(True))

    with caplog.at_level(logging.DEBUG, logger="gis_tools_spark"):
        _, rounds, converged = fixpoint("spin", spark.range(3), step,
                                        max_rounds=2, strict=False)
    assert (rounds, converged) == (2, False)
    assert any("op=spin" in r.getMessage() and "converged=False"
               in r.getMessage() for r in caplog.records)
    with pytest.raises(RuntimeError, match="spin did not converge in 2"):
        fixpoint("spin", spark.range(3), step, max_rounds=2)
    # a source in one tile of a 2x2 mosaic needs more than one sweep;
    # only the distributed sweeps have a round cap
    monkeypatch.setattr(core, "DRIVER_MAX_ROWS", 0)
    cost = spark.createDataFrame(fixtures.gen_rasters_exact(2, 2, 16))
    with pytest.raises(RuntimeError,
                       match="cost_distance did not converge in 1"):
        cost_distance(cost, [(1, 1)], max_iters=1)


@pytest.mark.parametrize("same_seed", [0, 1])
def test_forward_stencil_pairs_match_bruteforce(spark, same_seed):
    rng = np.random.default_rng(20 + same_seed)
    n = 250
    pdf = pd.DataFrame({
        "id": np.arange(n),
        "lon": rng.uniform(0, 1.0, n),
        "lat": rng.uniform(0, 1.0, n)})
    eps = 0.07
    pts = spark.createDataFrame(pdf)
    fwd = [(r["ia"], r["ib"]) for r in cluster._eps_pairs_unordered(
        pts, id_col="id", lon="lon", lat="lat", eps=eps).collect()]
    # each unordered pair exactly once, then mirrored plus the self pairs
    assert len(fwd) == len({frozenset(p) for p in fwd})
    got = ({p for p in fwd} | {(b, a) for a, b in fwd}
           | {(i, i) for i in range(n)})
    # brute force ordered pairs incl self
    dx = pdf["lon"].to_numpy()[:, None] - pdf["lon"].to_numpy()[None, :]
    dy = pdf["lat"].to_numpy()[:, None] - pdf["lat"].to_numpy()[None, :]
    m = dx * dx + dy * dy <= eps * eps
    want = {(int(i), int(j)) for i, j in zip(*np.nonzero(m))}
    assert got == want


def test_st_forward_stencil_unordered_exactly_once(spark):
    rng = np.random.default_rng(5)
    n = 200
    pdf = pd.DataFrame({
        "id": np.arange(n),
        "lon": rng.uniform(0, 0.5, n),
        "lat": rng.uniform(0, 0.5, n),
        "ts": pd.to_datetime(
            rng.integers(0, 3_600_000, n), unit="ms", utc=True)})
    eps, eps_t = 0.06, 600.0
    pts = spark.createDataFrame(pdf)
    u = cluster._st_pairs_unordered(pts, id_col="id", lon="lon", lat="lat",
                                    ts_col="ts", eps=eps, eps_t_s=eps_t)
    rows = [(r["ia"], r["ib"]) for r in u.collect()]
    # exactly once per unordered pair, never self
    norm = [tuple(sorted(t)) for t in rows]
    assert len(norm) == len(set(norm))
    assert all(a != b for a, b in rows)
    # matches brute force
    us = (pdf["ts"].astype("int64") // 1000).to_numpy()
    dx = pdf["lon"].to_numpy()[:, None] - pdf["lon"].to_numpy()[None, :]
    dy = pdf["lat"].to_numpy()[:, None] - pdf["lat"].to_numpy()[None, :]
    dt = np.abs(us[:, None] - us[None, :])
    m = (dx * dx + dy * dy <= eps * eps) & (dt <= eps_t * 1e6)
    np.fill_diagonal(m, False)
    want = {(int(i), int(j)) for i, j in zip(*np.nonzero(m)) if i < j}
    assert set(norm) == want
