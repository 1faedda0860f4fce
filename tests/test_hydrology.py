"""Flow accumulation over tiled D8 mosaics vs a global brute force,
and equality of the per-basin and iterative distributed paths."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.raster import codec
from gis_tools_spark.raster.hydrology import flow_accumulation
from gis_tools_spark.raster.stitch import _D8, d8_flow_direction

from test_stitch import _mosaic


def _global_acc(glob):
    """Brute-force acc: follow every pixel's D8 path, +1 on every node
    strictly downstream."""
    a = glob.astype(np.float64)
    a[glob == codec.NO_DATA_F32] = np.nan
    H, W = a.shape
    p = np.pad(a, 1, mode="edge")
    nxt = {}
    for gy in range(H):
        for gx in range(W):
            if np.isnan(a[gy, gx]):
                continue
            best, bo = 0.0, None
            for dx, dy, code in _D8:
                nb = p[1 + gy + dy, 1 + gx + dx]
                if np.isnan(nb):
                    continue
                drop = (a[gy, gx] - nb) / (np.sqrt(2.0) if dx and dy else 1.0)
                if drop > best:
                    best, bo = drop, (gx + dx, gy + dy)
            nxt[(gx, gy)] = bo
    acc = {k: 0 for k in nxt}
    for start in nxt:
        cur = nxt[start]
        while cur is not None:
            acc[cur] += 1
            cur = nxt[cur]
    return acc


def test_flow_accumulation_matches_global(spark):
    def fill(gx, gy):
        # bowl with noise: long flow paths toward the center
        return (((gx - 16) ** 2 + (gy - 16) ** 2) / 8.0
                + ((gx * 7 + gy * 13) % 5)).astype(np.float64)

    glob, pdf, rx, ry = _mosaic(2, 2, 16, fill)
    glob = glob.astype(np.float32)
    glob[(np.add.outer(np.arange(32) * 17, np.arange(32) * 31) % 101) < 4] \
        = codec.NO_DATA_F32
    rows = []
    for _, r in pdf.iterrows():
        tx, ty = int(r.image_id.split("_")[1]), int(r.image_id.split("_")[2])
        r = r.copy()
        r["bytes"] = codec.encode_raw_f32(
            glob[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16])
        rows.append(r)
    fd = d8_flow_direction(spark.createDataFrame(pd.DataFrame(rows)))

    want = _global_acc(glob)
    for method in ("auto", "iterative"):
        got = {(int(r["gix"]), int(r["giy"])): int(r["acc"])
               for r in flow_accumulation(fd, method=method).collect()}
        assert got == want, method
    assert max(want.values()) > 20          # real convergent flow paths


def test_flow_accumulation_mega_basin_fallback(spark):
    """max_component_rows=1 forces every basin through the iterative
    path inside method='auto' — results identical."""
    def fill(gx, gy):
        return (gx + gy).astype(np.float64)    # one big diagonal basin

    glob, pdf, rx, ry = _mosaic(1, 1, 16, fill)
    fd = d8_flow_direction(spark.createDataFrame(pdf))
    a = flow_accumulation(fd).toPandas().sort_values(["gix", "giy"])
    b = flow_accumulation(fd, max_component_rows=1).toPandas() \
        .sort_values(["gix", "giy"])
    assert (a.reset_index(drop=True) == b.reset_index(drop=True)).all().all()
    want = _global_acc(glob.astype(np.float32))
    got = {(int(r.gix), int(r.giy)): int(r.acc) for _, r in a.iterrows()}
    assert got == want


def test_watershed_matches_path_following(spark):
    from gis_tools_spark.raster.hydrology import watershed

    def fill(gx, gy):
        return (((gx - 10) ** 2 + (gy - 20) ** 2) / 6.0
                + ((gx * 11 + gy * 3) % 4)).astype(np.float64)

    glob, pdf, rx, ry = _mosaic(2, 2, 16, fill)
    glob = glob.astype(np.float32)
    glob[(np.add.outer(np.arange(32) * 13, np.arange(32) * 7) % 97) < 3] \
        = codec.NO_DATA_F32
    rows = []
    for _, r in pdf.iterrows():
        tx, ty = int(r.image_id.split("_")[1]), int(r.image_id.split("_")[2])
        r = r.copy()
        r["bytes"] = codec.encode_raw_f32(
            glob[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16])
        rows.append(r)
    fd = d8_flow_direction(spark.createDataFrame(pd.DataFrame(rows)))
    got = {(int(r["gix"]), int(r["giy"])): (int(r["basin_gix"]),
                                            int(r["basin_giy"]))
           for r in watershed(fd).collect()}

    # brute force: follow each pixel's path to its terminal cell
    a = glob.astype(np.float64)
    a[glob == codec.NO_DATA_F32] = np.nan
    p = np.pad(a, 1, mode="edge")
    nxt = {}
    for gy in range(32):
        for gx in range(32):
            if np.isnan(a[gy, gx]):
                continue
            best, bo = 0.0, None
            for dx, dy, code in _D8:
                nb = p[1 + gy + dy, 1 + gx + dx]
                if np.isnan(nb):
                    continue
                drop = (a[gy, gx] - nb) / (np.sqrt(2.0) if dx and dy else 1.0)
                if drop > best:
                    best, bo = drop, (gx + dx, gy + dy)
            nxt[(gx, gy)] = bo
    assert set(got) == set(nxt)
    for start in nxt:
        cur = start
        while nxt.get(cur) is not None:
            cur = nxt[cur]
        assert got[start] == cur, start
    assert len(set(got.values())) > 1          # multiple real basins


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_cost_distance_matches_global_dijkstra(spark, monkeypatch, path):
    """Block-sweep cost distance vs one global-grid Dijkstra — with
    barriers forcing paths around, multiple sources, unreachable
    pockets, and tile crossings that need several sweeps. Both the
    one-call driver relaxation and the distributed sweeps (gate forced
    to 0) must hit it exactly."""
    import heapq

    from gis_tools_spark.operators import core
    from gis_tools_spark.raster.costdist import cost_distance

    if path == "distributed":
        monkeypatch.setattr(core, "DRIVER_MAX_ROWS", 0)

    def fill(gx, gy):
        return (1.0 + (gx * 5 + gy * 3) % 7).astype(np.float64)

    glob, pdf, rx, ry = _mosaic(2, 2, 16, fill)
    glob = glob.astype(np.float32)
    glob[10:30, 12] = codec.NO_DATA_F32        # wall with a gap at top
    glob[5, 20:28] = codec.NO_DATA_F32
    glob[28:32, 28:32] = codec.NO_DATA_F32     # sealed corner pocket? no:
    glob[27, 27] = codec.NO_DATA_F32           # (kept reachable around)
    rows = []
    for _, r in pdf.iterrows():
        tx, ty = int(r.image_id.split("_")[1]), int(r.image_id.split("_")[2])
        r = r.copy()
        r["bytes"] = codec.encode_raw_f32(
            glob[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16])
        rows.append(r)
    sources = [(2, 2), (30, 3)]
    out = cost_distance(spark.createDataFrame(pd.DataFrame(rows)),
                        sources)
    got = np.zeros((32, 32), dtype=np.float64)
    for r in out.collect():
        assert r["fmt"] == "raw_f64"     # float64 carry, no per-sweep rounding
        tx, ty = int(r["image_id"].split("_")[1]), \
            int(r["image_id"].split("_")[2])
        got[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16] = \
            codec.decode_raw_f64(bytes(r["bytes"]), 16, 16)

    cost = glob.astype(np.float64)
    cost[glob == codec.NO_DATA_F32] = np.nan
    dist = np.full((32, 32), np.inf)
    heap = []
    for gx, gy in sources:
        if not np.isnan(cost[gy, gx]):
            dist[gy, gx] = 0.0
            heap.append((0.0, gy, gx))
    heapq.heapify(heap)
    moves = [(di, dj, np.sqrt(2.0) if di and dj else 1.0)
             for di in (-1, 0, 1) for dj in (-1, 0, 1) if (di, dj) != (0, 0)]
    while heap:
        d, i, j = heapq.heappop(heap)
        if d > dist[i, j]:
            continue
        for di, dj, step in moves:
            vi, vj = i + di, j + dj
            if not (0 <= vi < 32 and 0 <= vj < 32) or np.isnan(cost[vi, vj]):
                continue
            nd = d + cost[vi, vj] * step
            if nd < dist[vi, vj]:
                dist[vi, vj] = nd
                heapq.heappush(heap, (nd, vi, vj))

    nod = glob == codec.NO_DATA_F32
    assert (got[nod] == codec.NO_DATA_F32).all()
    valid = ~nod
    # float64 carry + identical relax expression (d_u + c_v*step):
    # the block-sweep fixed point equals the global Dijkstra exactly
    np.testing.assert_allclose(got[valid], dist[valid], rtol=0, atol=0)
    assert np.isinf(dist[valid]).sum() == np.isinf(got[valid]).sum()
    # paths genuinely cross tiles: bottom-right tile cost came from a
    # source in another tile
    assert np.isfinite(got[20:, 20:][~nod[20:, 20:]]).all()


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_cost_distance_rejects_negative_cost(spark, monkeypatch, path):
    """A negative entry cost never lets the sweeps settle: the init
    pass rejects it instead of looping. On the driver path the init runs
    in this process and raises the ValueError itself; on the distributed
    path it comes back wrapped in the Python worker's error."""
    from gis_tools_spark import fixtures
    from gis_tools_spark.operators import core
    from gis_tools_spark.raster.costdist import cost_distance

    neg = codec.encode_raw_f32(np.full((16, 16), -1.0, dtype=np.float32))
    tiles = fixtures.gen_rasters_exact(2, 1, 16).assign(
        bytes=[neg] * 2, fmt="raw_f32")
    if path == "driver":
        err, match = ValueError, "^cost_distance: negative cost"
    else:
        monkeypatch.setattr(core, "DRIVER_MAX_ROWS", 0)
        err, match = Exception, "ValueError: cost_distance: negative cost"
    with pytest.raises(err, match=match):
        cost_distance(spark.createDataFrame(tiles), [(3, 3)])
