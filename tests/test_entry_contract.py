"""Mini replica of the driver's correctness gate at sf0.001: every
queries() entry has an oracle and must match DuckDB exactly (count,
column names, order-insensitive values)."""

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E
from tools.selfcheck import duck_connect

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


@pytest.fixture(scope="module")
def duck(spark):
    con = duck_connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_every_query_has_an_oracle():
    assert set(E.queries()) == set(E.oracle_sql())


def test_bench_headline_names_are_gates():
    """bench.py times its headline gates by name; a stale name would only
    fail mid-bench. Importing bench must not start Spark."""
    import bench

    assert set(bench.HEADLINE) <= set(E.queries())


def test_package_reads_no_env_knobs():
    """Behaviour is set by parameters, not env vars: only session.py may
    read the environment (deployment settings: core count, driver
    memory, Spark's own env defaults). Spark-free AST scan, so comments
    and docstrings that name os.environ do not count."""
    import ast

    pkg = Path(__file__).resolve().parent.parent / "gis_tools_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Attribute)
                    and node.attr in ("environ", "getenv")
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "os") or (
                    isinstance(node, ast.ImportFrom) and node.module == "os"
                    and {a.name for a in node.names} & {"environ", "getenv"}):
                hits.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not hits, hits


@pytest.mark.parametrize("name", sorted(E.queries().keys()))
def test_query_matches_oracle(spark, duck, name):
    spark_pdf = E.queries()[name](spark, SF).toPandas()
    duck_pdf = duck.execute(E.oracle_sql()[name]).fetchdf()
    a, b = _norm(spark_pdf), _norm(duck_pdf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    for c in a.columns:
        if str(a[c].dtype).startswith("float"):
            assert np.allclose(a[c].values.astype(float), b[c].values.astype(float),
                               rtol=0, atol=1e-9, equal_nan=True), c
        else:
            assert (pd.Series(a[c].values).fillna("∅")
                    == pd.Series(b[c].values).fillna("∅")).all(), c
