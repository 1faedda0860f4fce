"""ZonalStatistics vs single-array pandas oracle + FIXTURES.md §6 golden
micro-case (3×3 raster, 2 zones, one no-data cell)."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark import fixtures
from gis_tools_spark.geom import kernels as K, wkb
from gis_tools_spark.raster import codec
from gis_tools_spark.raster.zonal import (
    pixel_centers,
    pixel_surface,
    rasterize_mask,
    zonal_statistics,
)


def _oracle(ras, zones):
    out = {}
    for _, z in zones.iterrows():
        g = wkb.decode(z["geometry_wkb"])
        vals, wts, nod = [], [], 0
        for _, r in ras.iterrows():
            arr = codec.decode_raw_f32(r["bytes"], r["w"], r["h"]).astype(np.float64)
            xs, ys = pixel_centers(r["gt_x0"], r["gt_rx"], r["gt_y0"], r["gt_ry"], r["w"], r["h"])
            m = rasterize_mask(g, xs, ys)
            v = arr[m]
            nd = v == codec.NO_DATA_F32
            nod += int(nd.sum())
            vals.append(v[~nd])
            wts.append(pixel_surface(xs, ys, r["gt_rx"], r["gt_ry"])[m][~nd])
        v = np.concatenate(vals) if vals else np.array([])
        w = np.concatenate(wts) if wts else np.array([])
        if v.size:
            out[int(z["gid"])] = dict(
                n=v.size, mean=v.mean(), std=v.std(), mn=v.min(), mx=v.max(),
                s=v.sum(), nod=nod, wmean=(w * v).sum() / w.sum())
    return out


def test_zonal_matches_mosaic_oracle(spark):
    ras = fixtures.gen_rasters(2, 2, 32)
    zones = fixtures.gen_zones(8)
    oracle = _oracle(ras, zones)
    got = {r["gid"]: r.asDict() for r in zonal_statistics(
        spark.createDataFrame(ras),
        spark.createDataFrame(zones[["gid", "geometry_wkb"]])).collect()}
    assert set(got) == set(oracle)
    for gid, o in oracle.items():
        g = got[gid]
        assert g["zonal_count"] == o["n"]
        assert g["zonal_mean"] == pytest.approx(o["mean"], abs=1e-9)
        assert g["zonal_std"] == pytest.approx(o["std"], abs=1e-9)
        assert g["zonal_min"] == o["mn"] and g["zonal_max"] == o["mx"]
        assert g["zonal_sum"] == pytest.approx(o["s"], abs=1e-6)
        assert g["no_data_count"] == o["nod"]


def test_zonal_surface_weighted(spark):
    ras = fixtures.gen_rasters(2, 2, 16)
    zones = fixtures.gen_zones(6)
    oracle = _oracle(ras, zones)
    got = {r["gid"]: r.asDict() for r in zonal_statistics(
        spark.createDataFrame(ras),
        spark.createDataFrame(zones[["gid", "geometry_wkb"]]),
        surface_weighted=True).collect()}
    for gid, o in oracle.items():
        assert got[gid]["zonal_mean"] == pytest.approx(o["wmean"], abs=1e-9)


def test_zonal_golden_3x3(spark):
    """FIXTURES.md §6: 3×3 raster, one no-data, 2 zones, hand-computed."""
    vals = np.array([[1, 2, 3],
                     [4, codec.NO_DATA_F32, 6],
                     [7, 8, 9]], dtype=np.float32)
    # grid: x0=0, rx=1, y0=3, ry=1 → pixel centers x=.5/1.5/2.5, y=2.5/1.5/0.5
    ras = pd.DataFrame([("t", codec.encode_raw_f32(vals), 3, 3, "raw_f32",
                         "c", 0, 0.0, 1.0, 3.0, 1.0)],
                       columns=["image_id", "bytes", "w", "h", "fmt", "caption",
                                "phash", "gt_x0", "gt_rx", "gt_y0", "gt_ry"])
    # zone A = left 2 columns (x<2), zone B = right column (2<x<3)
    zones = pd.DataFrame({
        "gid": [1, 2],
        "geometry_wkb": [wkb.box(0, 0, 2, 3), wkb.box(2, 0, 3, 3)],
    })
    got = {r["gid"]: r.asDict() for r in zonal_statistics(
        spark.createDataFrame(ras), spark.createDataFrame(zones)).collect()}
    # zone A pixels: 1,2,4,nodata,7,8 → good = [1,2,4,7,8]
    a = np.array([1, 2, 4, 7, 8], dtype=float)
    assert got[1]["zonal_count"] == 5
    assert got[1]["zonal_mean"] == pytest.approx(a.mean())
    assert got[1]["zonal_std"] == pytest.approx(a.std())
    assert got[1]["no_data_count"] == 1
    # zone B pixels: 3,6,9
    b = np.array([3, 6, 9], dtype=float)
    assert got[2]["zonal_count"] == 3
    assert got[2]["zonal_sum"] == pytest.approx(b.sum())
    assert got[2]["zonal_min"] == 3 and got[2]["zonal_max"] == 9


def test_golden_pip_unit_square(spark):
    """FIXTURES.md §6: unit square + known points (in/out/edge/vertex/dup)."""
    from gis_tools_spark.operators.sjoin import pip_join

    zones = spark.createDataFrame(
        pd.DataFrame({"gid": [1], "geometry_wkb": [wkb.box(0, 0, 1, 1)]}))
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": [1, 2, 3, 4, 5],
        "lon": [0.5, 2.0, 0.0, 1.0, 0.5],
        "lat": [0.5, 2.0, 0.5, 1.0, 0.5],
    }))
    for strat in ("cell", "broadcast"):
        got = sorted(r["pid"] for r in pip_join(pts, zones, strategy=strat,
                                                res_min=18, res_max=20).collect())
        assert got == [1, 3, 4, 5], (strat, got)


def test_zonal_value_counts_and_majority(spark):
    """Histogram + majority/minority/variety vs a numpy brute force over
    the mosaic, including the deterministic tie-breaks."""
    from gis_tools_spark.raster.zonal import zonal_majority, zonal_value_counts

    ras = fixtures.gen_rasters(2, 2, 32)
    zones = fixtures.gen_zones(8)
    sras = spark.createDataFrame(ras)
    szon = spark.createDataFrame(zones[["gid", "geometry_wkb"]])

    # brute force per-zone value counts
    exp: dict[int, dict[float, int]] = {}
    for _, z in zones.iterrows():
        g = wkb.decode(z["geometry_wkb"])
        counts: dict[float, int] = {}
        for _, r in ras.iterrows():
            arr = codec.decode_raw_f32(r["bytes"], r["w"], r["h"]).astype(np.float64)
            xs, ys = pixel_centers(r["gt_x0"], r["gt_rx"], r["gt_y0"],
                                   r["gt_ry"], r["w"], r["h"])
            v = arr[rasterize_mask(g, xs, ys)]
            for x in np.round(v[v != codec.NO_DATA_F32], 6):
                counts[float(x)] = counts.get(float(x), 0) + 1
        if counts:
            exp[int(z["gid"])] = counts

    vc = zonal_value_counts(sras, szon).collect()
    got: dict[int, dict[float, int]] = {}
    for r in vc:
        got.setdefault(int(r["gid"]), {})[float(r["value"])] = int(r["n"])
    assert got == exp

    maj = {r["gid"]: r.asDict() for r in zonal_majority(sras, szon).collect()}
    assert set(maj) == set(exp)
    for gid, counts in exp.items():
        m = maj[gid]
        assert m["variety"] == len(counts)
        assert m["total_n"] == sum(counts.values())
        exp_maj = min(counts, key=lambda v: (-counts[v], v))
        exp_min = min(counts, key=lambda v: (counts[v], v))
        assert m["majority"] == pytest.approx(exp_maj)
        assert m["majority_n"] == counts[exp_maj]
        assert m["minority"] == pytest.approx(exp_min)
        assert m["minority_n"] == counts[exp_min]


# ---------------------------------------------------------------- both plans

def _paths(monkeypatch, caplog, op, run):
    """``run()`` on the broadcast plan, then with the broadcast gate
    forced to 0 on the cell plan; each plan is checked against its
    ``<op> strategy=…`` DEBUG record. Returns both results."""
    import importlib
    import logging

    sjoin_module = importlib.import_module("gis_tools_spark.operators.sjoin")
    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    out = []
    for path in ("broadcast", "cell"):
        if path == "cell":
            monkeypatch.setattr(sjoin_module, "BROADCAST_MAX_ROWS", 0)
        caplog.clear()
        out.append(run())
        assert any(r.getMessage().startswith(f"{op} strategy={path} ")
                   for r in caplog.records), path
    return out


@pytest.fixture(scope="module")
def mixed(spark):
    """A 3×3 mosaic plus a tile far from every zone, and eight zones
    plus one with a null geometry. Each zone has a ``val``, null for
    one zone with a geometry."""
    ras = fixtures.gen_rasters(3, 3, 16)
    far = ras.iloc[[0]].assign(image_id="far", gt_x0=100.0)
    zones = fixtures.gen_zones(8)[["gid", "geometry_wkb"]]
    zones = pd.concat([zones, pd.DataFrame({"gid": [99],
                                            "geometry_wkb": [None]})])
    zones["val"] = [None if g == 3 else g * 1.5 for g in zones["gid"]]
    return (spark.createDataFrame(pd.concat([ras, far], ignore_index=True)),
            spark.createDataFrame(zones))


def test_zonal_plans_agree(monkeypatch, caplog, mixed):
    """Both plans give the same per-(tile, zone) partials bit for bit,
    so the same statistics. The final per-zone sums run in shuffle
    order, which differs between the plans, so those compare to 1e-12."""
    from gis_tools_spark.raster.zonal import zonal_partials

    ras, zones = mixed

    def run():
        parts = sorted(tuple(r) for r in zonal_partials(ras, zones).collect())
        stats = [{r["gid"]: r.asDict() for r in zonal_statistics(
            ras, zones, surface_weighted=sw).collect()}
            for sw in (False, True)]
        return parts, stats

    (bp, bstats), (cp, cstats) = _paths(monkeypatch, caplog,
                                        "zonal_statistics", run)
    assert bp == cp and len(bp) > 0
    assert "far" not in {p[0] for p in bp} and 99 not in {p[1] for p in bp}
    for b, c in zip(bstats, cstats):
        assert b.keys() == c.keys()
        for gid in b:
            assert b[gid] == pytest.approx(c[gid], rel=1e-12, abs=1e-12)


def test_value_counts_plans_agree(monkeypatch, caplog, mixed):
    from gis_tools_spark.raster.zonal import zonal_value_counts

    ras, zones = mixed
    b, c = _paths(monkeypatch, caplog, "zonal_value_counts", lambda: sorted(
        tuple(r) for r in zonal_value_counts(ras, zones).collect()))
    assert b == c and len(b) > 0


@pytest.mark.parametrize("burn_attr", ["gid", "val"])
@pytest.mark.parametrize("all_touched", [False, True])
def test_burn_plans_agree(monkeypatch, caplog, mixed, all_touched,
                          burn_attr):
    """Burning the zone id itself or an attribute with a null, overlapping
    zones burn in ascending id on both plans, the null burns NaN, and
    the far tile stays background."""
    from gis_tools_spark.raster.burn import burn_zones_to_tiles

    ras, zones = mixed
    tiles = ras.drop("bytes")
    b, c = _paths(monkeypatch, caplog, "burn_zones_to_tiles", lambda: sorted(
        tuple(r) for r in burn_zones_to_tiles(
            tiles, zones, burn_attr=burn_attr, background=-1.0,
            all_touched=all_touched).collect()))
    assert b == c and len(b) == 10
    assert [r[-1] for r in b if r[0] == "far"] == [0]
    assert sum(r[-1] for r in b) > 9
    nan = any(np.isnan(np.frombuffer(r[-2], dtype=np.float32)).any()
              for r in b)
    assert nan == (burn_attr == "val")


def test_oversize_zone_is_kept(monkeypatch, caplog, spark):
    """A zone whose bbox spans more than the cover's cell cap at the
    tiles' res still pairs with every tile it meets, on both plans (the
    cell plan once dropped it: its coarsened cover cells never equal a
    tile cell)."""
    from gis_tools_spark.raster.burn import burn_zones_to_tiles

    ras = spark.createDataFrame(fixtures.gen_rasters(3, 3, 48))
    zones = spark.createDataFrame(pd.DataFrame({
        "gid": [1, 2],
        "geometry_wkb": [wkb.box(-15, 20, 30, 65), wkb.box(6, 41, 6.5, 41.5)]}))

    def run():
        gids = sorted(r["gid"] for r in zonal_statistics(ras, zones).collect())
        n_zones = sorted(r["n_zones"] for r in burn_zones_to_tiles(
            ras, zones, burn_attr="gid").collect())
        return gids, n_zones

    for gids, n_zones in _paths(monkeypatch, caplog, "zonal_statistics", run):
        assert gids == [1, 2]
        assert n_zones == [1] * 8 + [2]
