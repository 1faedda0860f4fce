"""Cross-tile stitching vs single-global-array oracles (SURVEY §7.3:
the reference computes on one array — raster.py:683-702 polygonize,
794-824 slope — so tiled results must match the mosaic computation).
Test mosaics are under the driver gate, so each stitched op is checked
on the driver path and again on the halo exchange with the gate forced
to 0 (``both_paths``)."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.geom import kernels as K, wkb
from gis_tools_spark.operators import core
from gis_tools_spark.raster import codec
from gis_tools_spark.raster.stitch import polygonize_stitched, slope_aspect_stitched

AOI = (5.0, 40.0, 10.0, 45.0)


def _mosaic(nx, ny, tile, fill):
    """Build a global array + the tiled DataFrame rows."""
    minx, miny, maxx, maxy = AOI
    rx = (maxx - minx) / (nx * tile)
    ry = (maxy - miny) / (ny * tile)
    H, W = ny * tile, nx * tile
    glob = fill(np.arange(W)[None, :], np.arange(H)[:, None]).astype(np.float32)
    rows = []
    for ty in range(ny):
        for tx in range(nx):
            sub = glob[ty * tile:(ty + 1) * tile, tx * tile:(tx + 1) * tile]
            rows.append((f"tile_{tx}_{ty}", codec.encode_raw_f32(sub), tile, tile,
                         "raw_f32", "t", 0,
                         minx + tx * tile * rx, rx, maxy - ty * tile * ry, ry))
    pdf = pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt",
                                      "caption", "phash", "gt_x0", "gt_rx",
                                      "gt_y0", "gt_ry"])
    return glob, pdf, rx, ry


def both_paths(monkeypatch):
    """Yield "driver", then "distributed" with core.DRIVER_MAX_ROWS
    forced to 0, so the stitched op called in between runs the halo
    exchange."""
    yield "driver"
    monkeypatch.setattr(core, "DRIVER_MAX_ROWS", 0)
    yield "distributed"


def _stitch(out, tile=16, n=2):
    """The (n·tile)² global array from stitched tiles {image_id: arr}."""
    got = np.zeros((n * tile, n * tile), dtype=np.float32)
    for ty in range(n):
        for tx in range(n):
            got[ty * tile:(ty + 1) * tile,
                tx * tile:(tx + 1) * tile] = out[f"tile_{tx}_{ty}"]
    return got


def _tiles(df, tile=16):
    return {r["image_id"]: codec.decode_raw_f32(bytes(r["bytes"]), tile, tile)
            for r in df.collect()}


def test_mixed_tile_sizes_raise(spark):
    from gis_tools_spark.raster.stitch import _grid_indexed

    _, pdf, _, _ = _mosaic(2, 1, 16, lambda gx, gy: gx + gy)
    pdf.loc[1, "w"] = 8
    with pytest.raises(ValueError, match="widths 8–16 and heights 16–16"):
        _grid_indexed(spark.createDataFrame(pdf))


def test_slope_halo_matches_global(spark, monkeypatch):
    # smooth ramp + bump: border pixels must equal the global Horn result
    def fill(gx, gy):
        return 0.5 * gx + 0.25 * gy + 10 * np.sin(gx * 0.3) * np.cos(gy * 0.2)

    glob, pdf, rx, ry = _mosaic(2, 2, 16, fill)
    df = spark.createDataFrame(pdf)

    a = glob.astype(np.float64)
    p = np.pad(a, 1, mode="edge")
    dzdx = ((p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:])
            - (p[:-2, :-2] + 2 * p[1:-1, :-2] + p[2:, :-2])) / 8.0
    dzdy = ((p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:])
            - (p[:-2, :-2] + 2 * p[:-2, 1:-1] + p[:-2, 2:])) / 8.0
    want = np.degrees(np.arctan(np.hypot(dzdx, dzdy))).astype(np.float32)

    # interior tile borders exact; mosaic-outer border uses edge replicate
    # on both sides, so the whole thing matches
    for path in both_paths(monkeypatch):
        got = _stitch(_tiles(slope_aspect_stitched(df)))
        np.testing.assert_allclose(got, want, rtol=1e-5, atol=1e-5,
                                   err_msg=path)


def test_polygonize_stitched_matches_global(spark):
    # a cross-shaped class-1 region spanning all 4 tiles + per-tile blobs
    def fill(gx, gy):
        v = np.zeros(np.broadcast_shapes(gx.shape, gy.shape))
        band = ((np.abs(gx - 16) <= 2) | (np.abs(gy - 16) <= 2))
        v = np.where(band, 1.0, 0.0)
        blob = (gx % 16 <= 1) & (gy % 16 <= 1)
        v = np.where(blob & ~band, 2.0, v)
        return v

    glob, pdf, rx, ry = _mosaic(2, 2, 16, fill)
    df = spark.createDataFrame(pdf)
    out = polygonize_stitched(df).toPandas()

    # oracle: label the GLOBAL array
    from gis_tools_spark.raster.kernels import _label_regions
    labels, sizes, vals = _label_regions(glob)
    want = {}
    for lbl in range(len(sizes)):
        if sizes[lbl] == 0:
            continue
        v = float(vals[lbl])
        want.setdefault(v, []).append(int(sizes[lbl]))
    got = {}
    for _, r in out.iterrows():
        got.setdefault(float(r["value"]), []).append(int(r["px_count"]))
    for v in want:
        assert sorted(got.get(v, [])) == sorted(want[v]), f"value {v}"
    # the cross region is one merged region spanning 4 tiles
    cross = out[(out["value"] == 1.0)]
    assert len(cross) == 1 and cross["n_tiles"].iloc[0] == 4
    # merged geometry area equals pixel-count * pixel area
    area = cross["region_area"].iloc[0]
    assert area == pytest.approx(cross["px_count"].iloc[0] * rx * ry, rel=1e-9)


def test_d8_flow_direction_matches_global(spark, monkeypatch):
    """Stitched D8 vs a literal global-array brute force — including
    no-data exclusion, tie preference, pits and edge-replicate."""
    from gis_tools_spark.raster.stitch import _D8, d8_flow_direction

    def fill(gx, gy):
        # rough terrain with plateaus (ties) and pits
        return ((gx * 7 + gy * 13) % 23).astype(np.float64)

    glob, pdf, rx, ry = _mosaic(2, 2, 16, fill)
    glob = glob.astype(np.float32)
    glob[(np.add.outer(np.arange(32) * 17, np.arange(32) * 31) % 101) < 5] \
        = codec.NO_DATA_F32
    rows = []
    for _, r in pdf.iterrows():
        tx, ty = int(r.image_id.split("_")[1]), int(r.image_id.split("_")[2])
        sub = glob[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16]
        r = r.copy()
        r["bytes"] = codec.encode_raw_f32(sub)
        rows.append(r)
    df = spark.createDataFrame(pd.DataFrame(rows))

    a = glob.astype(np.float64)
    a[glob == codec.NO_DATA_F32] = np.nan
    p = np.pad(a, 1, mode="edge")
    want = np.full((32, 32), codec.NO_DATA_F32, dtype=np.float32)
    for gy in range(32):
        for gx in range(32):
            if np.isnan(a[gy, gx]):
                continue
            best, bc = 0.0, 0
            for dx, dy, code in _D8:
                nb = p[1 + gy + dy, 1 + gx + dx]
                if np.isnan(nb):
                    continue
                drop = (a[gy, gx] - nb) / (np.sqrt(2.0) if dx and dy else 1.0)
                if drop > best:
                    best, bc = drop, code
            want[gy, gx] = bc
    # terrain has pits/flats and every direction code somewhere
    assert (want[glob != codec.NO_DATA_F32] == 0).any()
    assert len(set(want[glob != codec.NO_DATA_F32].astype(int)) - {0}) >= 6
    for path in both_paths(monkeypatch):
        got = _stitch(_tiles(d8_flow_direction(df)))
        np.testing.assert_array_equal(got, want, err_msg=path)


def test_curvature_matches_global(spark, monkeypatch):
    """Stitched curvature (total/profile/plan) vs the global-array
    Zevenbergen-Thorne computation, flat-denominator guard included."""
    from gis_tools_spark.raster.stitch import curvature_stitched

    def fill(gx, gy):
        out = 0.03 * gx * gx - 0.02 * gy * gy + 0.5 * gx + 7.0
        return np.where((gx > 8) & (gx < 12) & (gy > 8) & (gy < 12),
                        3.0, out)        # a flat plateau (den == 0)

    glob, pdf, rx, ry = _mosaic(2, 2, 16, fill)
    df = spark.createDataFrame(pdf)
    a = glob.astype(np.float64)
    p = np.pad(a, 1, mode="edge")
    zC = p[1:-1, 1:-1]
    zN, zS = p[:-2, 1:-1], p[2:, 1:-1]
    zW, zE = p[1:-1, :-2], p[1:-1, 2:]
    zNW, zNE = p[:-2, :-2], p[:-2, 2:]
    zSW, zSE = p[2:, :-2], p[2:, 2:]
    D = (zW + zE) / 2 - zC
    E = (zN + zS) / 2 - zC
    Fc = (-zNW + zNE + zSW - zSE) / 4
    G = (-zW + zE) / 2
    H = (zN - zS) / 2
    den = G * G + H * H
    with np.errstate(invalid="ignore", divide="ignore"):
        want = {
            "total": -2 * (D + E) * 100,
            "profile": np.where(den == 0, 0.0,
                                -2 * (D * G * G + E * H * H + Fc * G * H)
                                / den * 100),
            "plan": np.where(den == 0, 0.0,
                             2 * (D * H * H + E * G * G - Fc * G * H)
                             / den * 100)}
    assert (den == 0).sum() > 0
    for path in both_paths(monkeypatch):
        for mode, w in want.items():
            got = _stitch(_tiles(curvature_stitched(df, mode=mode)))
            np.testing.assert_allclose(got, w.astype(np.float32),
                                       rtol=1e-5, atol=1e-5,
                                       err_msg=(path, mode))


def test_terrain_indices_match_global(spark, monkeypatch):
    """TRI / TPI / roughness through the halo exchange vs the same
    kernels on the single global array (incl. a NaN hole whose 3x3
    footprint must drop on both sides)."""
    from gis_tools_spark.raster.stitch import terrain_index_stitched

    def fill(gx, gy):
        return (gx * 3 + gy * 5) % 31 + ((gx * gy) % 7)

    glob, pdf, rx, ry = _mosaic(2, 2, 16, fill)
    glob = glob.copy()
    glob[7, 20] = codec.NO_DATA_F32  # hole crossing nothing special
    glob[15, 15] = codec.NO_DATA_F32  # hole adjacent to the tile seam
    # rebuild tiles with the holes
    rows = []
    for ty in range(2):
        for tx in range(2):
            sub = glob[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16]
            r = list(pdf.iloc[ty * 2 + tx])
            r[1] = codec.encode_raw_f32(sub)
            rows.append(tuple(r))
    pdf2 = pd.DataFrame(rows, columns=list(pdf.columns))
    df = spark.createDataFrame(pdf2)

    a = np.where(glob == codec.NO_DATA_F32, np.nan, glob.astype(np.float64))
    p = np.pad(a, 1, mode="edge")
    zC = p[1:-1, 1:-1]
    nb = [p[1 + dy:p.shape[0] - 1 + dy, 1 + dx:p.shape[1] - 1 + dx]
          for dy in (-1, 0, 1) for dx in (-1, 0, 1) if not (dx == 0 and dy == 0)]
    want = {
        "tri": np.sqrt(sum((z - zC) ** 2 for z in nb)),
        "tri_wilson": sum(abs(z - zC) for z in nb) / 8.0,
        "tpi": zC - sum(nb) / 8.0,
        "roughness": np.maximum.reduce([zC] + nb) - np.minimum.reduce([zC] + nb),
    }
    for path in both_paths(monkeypatch):
        for mode, w in want.items():
            got = _stitch(_tiles(terrain_index_stitched(df, mode=mode)))
            wf = np.where(np.isnan(w), codec.NO_DATA_F32, w).astype(np.float32)
            np.testing.assert_allclose(got, wf, rtol=1e-6, atol=1e-6,
                                       err_msg=(path, mode))
