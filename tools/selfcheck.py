"""Replicates the driver's correctness gate locally: runs every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same sf dir, compares row counts + column names + order-insensitive
values (columns sorted by name, rows sorted, floats rounded as emitted).

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402
from gis_tools_spark import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def duck_connect() -> duckdb.DuckDBPyConnection:
    """DuckDB connection for the oracles, opened beside a running Spark
    session: half the RAM available now and one thread per usable core
    (DuckDB's default, 80% of all RAM, gets the process OOM-killed
    beside the JVM). Join reordering is off: on the raster neighbour
    oracles (`px × offsets JOIN px ON ...`) it builds the px × px cross
    product first, which took 4-8 GB of memory plus up to 20 GB of
    spill per query; in the written order each is a hash join that
    runs in under a second. The answers do not change. Spill files go
    to a private directory, not the ./.tmp every connection started
    from the same working directory shares."""
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemAvailable:"))
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{avail_kb // 2048}MB'")
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    con.execute("SET disabled_optimizers='join_order'")
    con.execute(f"SET temp_directory='{tempfile.mkdtemp(prefix='duckdb_')}'")
    return con


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(str)
            except Exception:
                pass
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    json_out = None
    for a in sys.argv[1:]:
        if a.startswith("--json="):
            json_out = a.split("=", 1)[1]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark(cpus=8)
    con = duck_connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = E.queries()
    oracles = E.oracle_sql()
    n_fail = 0
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            n_fail += 1
            report[name] = {"ok": False, "rows": -1, "err": repr(e)[:300]}
            print(f"{name:24s} ERROR {e!r}")
            continue
        if name not in oracles:
            report[name] = {"ok": True, "rows": len(spark_pdf),
                            "err": "no_oracle (rows-only gate)"}
            print(f"{name:24s} rows-only: {len(spark_pdf)} rows")
            continue
        duck_pdf = con.execute(oracles[name]).fetchdf()
        a, b = norm(spark_pdf), norm(duck_pdf)
        ok_cols = list(a.columns) == list(b.columns)
        ok_rows = len(a) == len(b)
        ok_vals = ok_cols and ok_rows and _values_equal(a, b)
        status = "OK" if (ok_cols and ok_rows and ok_vals) else "FAIL"
        report[name] = {"ok": status == "OK", "rows": len(a),
                        "oracle_rows": len(b), "err": None if status == "OK"
                        else f"cols={ok_cols} rows={len(a)}/{len(b)} vals={ok_vals}"}
        if status == "FAIL":
            n_fail += 1
            print(f"{name:24s} {status} cols={ok_cols} rows={len(a)}/{len(b)} vals={ok_vals}")
            if ok_cols and ok_rows:
                for c in a.columns:
                    same = (a[c].values == b[c].values)
                    if hasattr(same, "all") and not same.all():
                        bad = np.where(~same)[0][:3]
                        print(f"    col {c}: {len(np.where(~same)[0])} diffs, e.g.",
                              [(a[c].iloc[i], b[c].iloc[i]) for i in bad])
            else:
                print("    spark cols:", list(a.columns))
                print("    duck  cols:", list(b.columns))
        else:
            print(f"{name:24s} OK   ({len(a)} rows)")
    spark.stop()
    if json_out:
        import json

        summary = {"sf_dir": sf_dir, "n_gates": len(report),
                   "n_ok": sum(1 for r in report.values() if r["ok"]),
                   "n_fail": n_fail, "gates": report}
        Path(json_out).write_text(json.dumps(summary, indent=1))
        print(f"wrote {json_out}: {summary['n_ok']}/{summary['n_gates']} ok")
    return n_fail


def _values_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if str(a[c].dtype).startswith("float"):
            if not np.allclose(av.astype(float), bv.astype(float), rtol=0, atol=1e-9, equal_nan=True):
                return False
        else:
            if not (pd.Series(av).fillna("∅") == pd.Series(bv).fillna("∅")).all():
                return False
    return True


if __name__ == "__main__":
    raise SystemExit(main())
