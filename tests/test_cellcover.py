"""compact/uncompact cell covers: brute-force replay, round-trip
identity, mixed-res input, guard on finer-than-target uncompact."""

from __future__ import annotations

import logging
import re

import numpy as np
import pytest

from gis_tools_spark import cells as C


def _compact_bruteforce(cells, min_res=0):
    cur = {int(c) for c in cells}
    rmax = max((c >> C.RES_SHIFT) for c in cur) if cur else min_res
    for r in range(rmax, min_res, -1):
        at = [c for c in cur if (c >> C.RES_SHIFT) == r]
        from collections import Counter
        par = Counter(int(C.parent(c, r - 1)) for c in at)
        prom = {p for p, k in par.items() if k == 4}
        kids = {c for c in at if int(C.parent(c, r - 1)) in prom}
        cur = (cur - kids) | prom
    return cur


def _uncompact_bruteforce(cells, res):
    out = []
    for c in cells:
        r = int(c) >> C.RES_SHIFT
        frontier = [int(c)]
        for _ in range(res - r):
            frontier = [int(k) for f in frontier for k in C.children(f)]
        out.extend(frontier)
    return sorted(out)


def _cover_df(spark, cells):
    return spark.createDataFrame([(int(c),) for c in cells], "cell long")


@pytest.fixture(scope="module")
def cover(spark):
    rng = np.random.default_rng(11)
    lon = rng.uniform(5, 6.5, 3000)
    lat = rng.uniform(40, 41.5, 3000)
    return np.unique(C.latlng_to_cell(lon, lat, 12))


def test_compact_matches_bruteforce(spark, cover, caplog, monkeypatch):
    """Both paths match the brute force and log one record
    ``compact_cells path=… levels=… promoted=…`` with the same counts."""
    from gis_tools_spark.operators import core
    from gis_tools_spark.operators.cellcover import compact_cells

    caplog.set_level(logging.DEBUG, logger="gis_tools_spark")
    want = _compact_bruteforce(cover)
    counts = {}
    for path in ("driver", "distributed"):
        if path == "distributed":
            monkeypatch.setattr(core, "DRIVER_MAX_ROWS", 0)
        caplog.clear()
        got = {r["cell"] for r in
               compact_cells(_cover_df(spark, cover)).collect()}
        assert got == want, path
        recs = [r.getMessage() for r in caplog.records
                if r.getMessage().startswith("compact_cells ")]
        assert len(recs) == 1, recs
        m = re.fullmatch(r"compact_cells path=(\w+) levels=(\d+) "
                         r"promoted=(\d+)", recs[0])
        assert m and m[1] == path, recs
        counts[path] = (int(m[2]), int(m[3]))
    assert counts["driver"] == counts["distributed"]
    assert counts["driver"][0] >= 2 and counts["driver"][1] > 0
    assert len(want) < len(cover)  # the fixture actually compacts
    # multi-level: at least two distinct resolutions in the result
    assert len({c >> C.RES_SHIFT for c in want}) >= 2


def test_compact_uncompact_roundtrip(spark, cover):
    from gis_tools_spark.operators.cellcover import (compact_cells,
                                                     uncompact_cells)

    compacted = compact_cells(_cover_df(spark, cover))
    back = {r["cell"] for r in
            uncompact_cells(compacted, res=12).collect()}
    assert back == {int(c) for c in cover}


def test_uncompact_counts_and_values(spark):
    from gis_tools_spark.operators.cellcover import uncompact_cells

    cells = [int(C.make_cell(3, 2, 5)), int(C.make_cell(5, 11, 17))]
    got = sorted(r["cell"] for r in
                 uncompact_cells(_cover_df(spark, cells), res=5).collect())
    assert got == _uncompact_bruteforce(cells, 5)
    assert len(got) == 16 + 1


def test_uncompact_rejects_finer_cells(spark):
    from gis_tools_spark.operators.cellcover import uncompact_cells

    df = _cover_df(spark, [int(C.make_cell(7, 1, 1))])
    with pytest.raises(Exception, match="finer"):
        uncompact_cells(df, res=5).collect()


def test_compact_sql_mirror_duckdb(spark, cover):
    """The DuckDB CTE chain equals the Spark operator round-for-round."""
    import duckdb

    from gis_tools_spark.operators.cellcover import (compact_cells,
                                                     compact_sql)

    got = sorted(r["cell"] for r in
                 compact_cells(_cover_df(spark, cover)).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE cov AS SELECT UNNEST(?::BIGINT[]) AS cell",
                [ [int(c) for c in cover] ])
    body, final = compact_sql("cov0", res=12)
    sql = f"WITH cov0 AS (SELECT cell FROM cov), {body} " \
          f"SELECT cell FROM {final} ORDER BY cell"
    want = [r[0] for r in con.execute(sql).fetchall()]
    assert got == want
