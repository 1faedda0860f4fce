"""Network operators vs networkx oracle on the fixture road grid."""

import networkx as nx
import numpy as np
import pytest

from gis_tools_spark import fixtures
from gis_tools_spark.geom import wkb
from gis_tools_spark.operators.network import (
    connected_components,
    edges_from_lines,
    shortest_paths,
)


@pytest.fixture(scope="module")
def road_edges(spark):
    lines = fixtures.gen_lines(24)  # 4 random + grid + island + loop
    df = spark.createDataFrame(lines)
    return edges_from_lines(df), lines


def _nx_graph(lines):
    g = nx.Graph()
    for _, r in lines.iterrows():
        geom = wkb.decode(r["geometry_wkb"])
        coords = geom["coords"] if geom["type"] == "LineString" else geom["lines"][0]
        p, q = coords[0], coords[-1]
        key = lambda c: f"{round(float(c[0]),9)},{round(float(c[1]),9)}"  # noqa: E731
        d = np.diff(coords[:, :2], axis=0)
        ln = float(np.sqrt((d * d).sum(axis=1)).sum())
        u, v = key(p), key(q)
        if u != v:
            if g.has_edge(u, v):
                g[u][v]["weight"] = min(g[u][v]["weight"], ln)
            else:
                g.add_edge(u, v, weight=ln)
        else:
            g.add_node(u)
    return g


def test_connected_components_match_networkx(road_edges):
    edges, lines = road_edges
    g = _nx_graph(lines)
    want = {frozenset(c) for c in nx.connected_components(g) if len(c) > 1}
    comp = connected_components(edges.where("src_key != dst_key")).toPandas()
    groups = comp.groupby("component")["node"].apply(frozenset)
    got = {grp for grp in groups if len(grp) > 1}
    assert got == want


def test_shortest_paths_match_networkx(road_edges):
    edges, lines = road_edges
    g = _nx_graph(lines)
    src = "7.0,42.0"  # grid corner node
    assert src in g
    want = nx.single_source_dijkstra_path_length(g, src, weight="weight")
    got = {r["node"]: r["dist"] for r in
           shortest_paths(edges.where("src_key != dst_key"), [src]).collect()}
    assert set(got) == set(want)
    for n, d in want.items():
        assert got[n] == pytest.approx(d, abs=1e-9)


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_pagerank_fixed_point_and_replay(spark, monkeypatch, path):
    """Power iteration with dangling redistribution: ranks sum to 1,
    the converged vector satisfies the PageRank fixed-point equation to
    1e-9 (an algorithm-independent check), and a numpy replay of the
    fixed-iteration contract matches to 1e-12 — on the driver solve and
    on the distributed rounds (gate forced to 0)."""
    import numpy as np

    from gis_tools_spark.operators import core
    from gis_tools_spark.operators.network import pagerank

    if path == "distributed":
        monkeypatch.setattr(core, "DRIVER_MAX_ROWS", 0)

    rng = np.random.default_rng(11)
    E = {(int(a), int(b)) for a, b in rng.integers(0, 40, (120, 2))
         if a != b}
    df = spark.createDataFrame(sorted(E), "src long, dst long")
    out = pagerank(df, iters=40).toPandas()
    got = dict(zip(out.node.astype(int), out.pr))
    assert abs(sum(got.values()) - 1.0) < 1e-9

    # fixed-point residual: pr ≈ (1-d)/N + d (A^T pr + dang/N)
    nodes0 = sorted(got)
    idx0 = {v: i for i, v in enumerate(nodes0)}
    n0 = len(nodes0)
    v = np.array([got[x] for x in nodes0])
    deg = np.zeros(n0)
    for a, b in E:
        deg[idx0[a]] += 1
    nxt = np.full(n0, 0.15 / n0) + 0.85 * v[deg == 0].sum() / n0
    for a, b in E:
        nxt[idx0[b]] += 0.85 * v[idx0[a]] / deg[idx0[a]]
    assert np.max(np.abs(nxt - v)) < 1e-9

    # exact replay of the fixed-iteration contract
    nodes = sorted(got)
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    outdeg = np.zeros(n)
    for u, v in E:
        outdeg[idx[u]] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(40):
        new = np.full(n, 0.15 / n) + 0.85 * pr[outdeg == 0].sum() / n
        for u, v in E:
            new[idx[v]] += 0.85 * pr[idx[u]] / outdeg[idx[u]]
        pr = new
    assert all(abs(got[v] - pr[idx[v]]) < 1e-12 for v in nodes)
