"""Road snapping + HMM map matching vs brute-force oracles."""

import numpy as np
import pandas as pd
import pytest

from gis_tools_spark.operators.mapmatch import snap_to_segments


def _brute_snap(pts, segs, radius):
    out = {}
    for _, p in pts.iterrows():
        best = None
        for _, s in segs.iterrows():
            dx, dy = s.x2 - s.x1, s.y2 - s.y1
            l2 = dx * dx + dy * dy
            t = 0.0 if l2 == 0 else min(max(
                ((p.lon - s.x1) * dx + (p.lat - s.y1) * dy) / l2, 0.0), 1.0)
            qx, qy = s.x1 + t * dx, s.y1 + t * dy
            d = np.hypot(p.lon - qx, p.lat - qy)
            if d <= radius and (best is None or (d, s.seg_id) < best[:2]):
                best = (d, s.seg_id, t, qx, qy)
        if best is not None:
            out[p.pid] = best
    return out


def test_snap_to_segments_matches_bruteforce(spark):
    rng = np.random.default_rng(2)
    pts = pd.DataFrame({"pid": range(300),
                        "lon": rng.uniform(5, 6, 300),
                        "lat": rng.uniform(40, 41, 300)})
    x1 = rng.uniform(5, 6, 40); y1 = rng.uniform(40, 41, 40)
    segs = pd.DataFrame({
        "seg_id": range(40), "x1": x1, "y1": y1,
        "x2": x1 + rng.uniform(-0.1, 0.1, 40),
        "y2": y1 + rng.uniform(-0.1, 0.1, 40)})
    segs.loc[0, ["x2", "y2"]] = segs.loc[0, ["x1", "y1"]]  # degenerate point
    r = 0.08
    got = {int(rw["pid"]): (rw["snap_dist"], int(rw["seg_id"]),
                            rw["seg_t"], rw["snap_x"], rw["snap_y"])
           for _, rw in snap_to_segments(
               spark.createDataFrame(pts), spark.createDataFrame(segs),
               radius=r).toPandas().iterrows()}
    want = _brute_snap(pts, segs, r)
    assert set(got) == set(want)
    for pid, (d, sid, t, qx, qy) in want.items():
        gd, gsid, gt, gqx, gqy = got[pid]
        assert gsid == sid, pid
        assert gd == pytest.approx(d, rel=1e-12)
        assert gt == pytest.approx(t, rel=1e-12)
        assert (gqx, gqy) == (pytest.approx(qx), pytest.approx(qy))
    assert len(want) > 100
