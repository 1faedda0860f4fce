"""Mini replica of the driver's correctness gate at sf0.001: every
queries() entry has an oracle and must match DuckDB exactly (count,
column names, order-insensitive values)."""

import ast
import re
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


def test_package_has_no_unused_imports():
    """Every name a package module imports is used in that module. The
    package has no lint step, so this Spark-free AST scan stands in for
    one. Skipped: ``__init__`` re-exports, ``__future__`` imports and
    names listed in ``__all__``; names used only inside string
    annotations count as used."""
    pkg = Path(__file__).resolve().parent.parent / "gis_tools_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        imported, used, exported = {}, set(), set()
        for node in ast.walk(tree):
            for ann in (getattr(node, "annotation", None),
                        getattr(node, "returns", None)):
                for c in ast.walk(ann) if ann is not None else ():
                    if isinstance(c, ast.Constant) and isinstance(c.value, str):
                        used.update(_IDENT.findall(c.value))
            if isinstance(node, ast.Import):
                for a in node.names:
                    imported[(a.asname or a.name).split(".")[0]] = node.lineno
            elif isinstance(node, ast.ImportFrom) \
                    and node.module != "__future__":
                for a in node.names:
                    imported[a.asname or a.name] = node.lineno
            elif isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Assign) and any(
                    isinstance(t, ast.Name) and t.id == "__all__"
                    for t in node.targets):
                exported.update(ast.literal_eval(node.value))
        hits += [f"{path.relative_to(pkg)}:{line} {name}"
                 for name, line in imported.items()
                 if name not in used and name not in exported]
    assert not hits, hits


# Package defs that nothing outside the tests reaches but that stay, each
# with its reason. Keys are (module relative to gis_tools_spark, name);
# "cells" is the cells package's __init__.
_UNREACHED_OK = {
    **{("cells", n): "core cell indexing: grid cell helper" for n in (
        "DEFAULT_RES", "cell_res", "cell_to_boundary", "children",
        "geohash_decode", "grid_ring", "morton_key")},
    **{("cells.s2", n): "core cell indexing: S2 cell helper" for n in (
        "s2_center", "s2_children", "s2_encode", "s2_from_token",
        "s2_parent", "s2_token")},
    # hilbert_key and _hilbert_xy are reached through these two
    **{("cells.s2", n): "ROADMAP item 2 stores covers as Hilbert-key "
       "intervals (Raster Intervals, SIGMOD'23)" for n in (
        "with_hilbert_key", "hilbert_sql")},
    **{("cells.slippy", n): "core cell indexing: slippy-map tile helper"
       for n in ("quadkey_to_tile", "tile_bounds", "tile_children",
                 "tile_parent")},
    ("functions.sql_api", "register_cell_sql_functions"):
        "core cell indexing: the cell functions as Spark SQL functions",
    ("raster.native_webp", "decode_yuv"):
        "test oracle: libwebp's planes that vp8.decode_planes must match",
    ("raster.native_webp", "decode_rgb"):
        "test oracle: libwebp's RGB that vp8.decode must match",
    ("raster.jpeg", "_emit_scan_scalar"):
        "test oracle: the per-MCU emitter _emit_scan_vec must match",
    ("raster.jpeg", "decode_coefficients"):
        "test hook: the decoder's DCT coefficients, compared with libjpeg's",
    ("raster.webp", "is_lossy"):
        "test helper: tells the lossy and lossless WebP fixtures apart",
    ("raster.webp", "_lz77_value"):
        "reference: the spec's LZ77 prefix-code value mapping, which "
        "_decode_entropy_image inlines in its hot loop",
    ("raster.webp", "decode_alpha_vp8l"):
        "image ingest: the ALPH alpha plane that decode drops from VP8X "
        "images",
    ("operators.imgmeta", "geotag_images"):
        "image ingest: the write half of the EXIF contract that "
        "raster/exif.image_exif reads",
    ("operators.topography", "dozier_horizon_1d"):
        "reference: the 1-D Dozier-Frew horizon sweep that get_horizon "
        "generalizes to every azimuth",
    # _STATE_SCHEMA and _OUT_SCHEMA are reached through running_zone_totals
    **{("streaming.windowed", n): "ingest path: event-time zone counts over "
       "the point stream, beside geofence_transitions" for n in (
        "windowed_zone_counts", "sessionized_zone_counts",
        "running_zone_totals")},
    ("raster.kernels", "verify_images_udf"):
        "test oracle: the pandas-UDF verify that verify_images_arrow must "
        "match",
    ("operators.triangulate", "_incircle"):
        "test oracle: exact predicate of the scalar Delaunay tournament",
    ("streaming.sink", "exactly_once_sink"):
        "ingest path: ROADMAP item 3 keeps its exactly-once tests",
    ("streaming.ingest", "incremental_ingest"):
        "ingest path: ROADMAP item 3 keeps its exactly-once tests",
    **{("sources.icetable", n): "lake mutation; ROADMAP item 3 rewrites "
       "its manifests" for n in ("delete", "upsert", "vacuum")},
    ("fixtures", "write_parquet"):
        "the verify skill's drive recipe writes its inputs with it",
}

_IDENT = re.compile(r"[A-Za-z_]\w*")
_FROM = re.compile(r"^\s*from\s+(\.*[\w.]*)\s+import\s+(\([^)]*\)|[^\n#]+)",
                   re.M)
_IMPORT = re.compile(r"^\s*import\s+([^\n#]+)", re.M)


def _resolve(target, base):
    """Module name (relative to the package, "" for the package itself)
    of an import target, or None outside the package. ``base`` is the
    importing file's package, for relative imports."""
    if target == "gis_tools_spark":
        return ""
    if target.startswith("gis_tools_spark."):
        return target[len("gis_tools_spark."):]
    if not target.startswith(".") or base is None:
        return None
    rest = target.lstrip(".")
    up = len(target) - len(rest) - 1  # "." is base itself, ".." its parent
    parts = base.split(".") if base else []
    parts = parts[:len(parts) - up] + ([rest] if rest else [])
    return ".".join(parts)


def _imports(text, mods, base=None):
    """Package modules that a file's text imports, in code or inside a
    string template (tools/scale_bench.py writes its imports into one)."""
    out = set()
    for m in _FROM.finditer(text):
        mod = _resolve(m.group(1), base)
        if mod in mods:
            out.add(mod)
            out.update(f"{mod}.{n}".lstrip(".") for n in
                       _IDENT.findall(m.group(2))
                       if f"{mod}.{n}".lstrip(".") in mods)
    for m in _IMPORT.finditer(text):
        for item in m.group(1).split(","):
            mod = _resolve(item.split()[0], None) if item.split() else None
            if mod in mods:
                out.add(mod)
    return out


def _names(node):
    """Names, attributes and identifiers in strings under ``node``,
    docstrings left out."""
    docs = {id(b[0].value) for n in ast.walk(node)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef)) and (b := n.body)
            and isinstance(b[0], ast.Expr)
            and isinstance(b[0].value, ast.Constant)}
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and id(n) not in docs):
            out.update(_IDENT.findall(n.value))
    return out


def _reach_graph():
    """(defs, roots, visible): every top-level package def or module
    name as (module, name) -> names its body uses; the roots as
    (visible modules, names) pairs; the modules each module sees."""
    repo = Path(__file__).resolve().parent.parent
    pkg = repo / "gis_tools_spark"
    files = {}
    for path in sorted(pkg.rglob("*.py")):
        parts = list(path.relative_to(pkg).with_suffix("").parts)
        files[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    direct = {m: _imports(p.read_text(), files,
                          m if p.name == "__init__.py" else m.rpartition(".")[0])
              for m, p in files.items()}

    def visible(mods):
        # a package __init__'s imports are its re-exports
        seen, todo = set(), list(mods)
        while todo:
            m = todo.pop()
            if m not in seen:
                seen.add(m)
                if files[m].name == "__init__.py":
                    todo.extend(direct[m])
        return seen

    defs, roots = {}, []
    for m, path in files.items():
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                defs[(m, st.name)] = _names(st)
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name) and not n.id.startswith("__"):
                            defs[(m, n.id)] = _names(st.value) if st.value else set()
            elif not (isinstance(st, (ast.Import, ast.ImportFrom))
                      or (isinstance(st, ast.Expr)
                          and isinstance(st.value, ast.Constant))):
                roots.append((visible({m} | direct[m]), _names(st)))
    for path in ([repo / f for f in ("__spark_entry__.py", "bench.py",
                                     "bench_extra.py")]
                 + sorted((repo / "perfbench").rglob("*.py"))
                 + sorted((repo / "tools").rglob("*.py"))):
        text = path.read_text()
        roots.append((visible(_imports(text, files)), set(_IDENT.findall(text))))
    return defs, roots, {m: visible({m} | direct[m]) for m in files}


def _reached(defs, roots, visible, seeds=()):
    """Defs reached from the roots and ``seeds``: a name reaches a def of
    that name in a module that the referring file is in or imports."""
    where = {}
    for m, n in defs:
        where.setdefault(n, []).append(m)
    reached, todo = set(), []

    def walk(mods, names):
        for n in names:
            for m in where.get(n, ()):
                if m in mods and (m, n) not in reached:
                    reached.add((m, n))
                    todo.append((m, n))

    for mods, names in roots:
        walk(mods, names)
    for m, n in seeds:
        walk(visible[m], defs[(m, n)])
    while todo:
        m, n = todo.pop()
        walk(visible[m], defs[(m, n)])
    return reached


def test_package_defs_are_reached():
    """Every top-level package def is reached from the driver entry,
    bench.py/bench_extra.py, perfbench/ or tools/ -- or is on
    _UNREACHED_OK with a reason. Code only tests reach is cut, not kept.
    Spark-free: roots are read as text, the package through ast."""
    defs, roots, visible = _reach_graph()
    assert all(r.strip() for r in _UNREACHED_OK.values())
    gone = sorted(k for k in _UNREACHED_OK if k not in defs)
    assert not gone, f"allowlisted but no longer defined: {gone}"
    kept = set(_UNREACHED_OK)
    stale = sorted(k for k in kept
                   if k in _reached(defs, roots, visible, kept - {k}))
    assert not stale, f"allowlisted but reached: {stale}"
    unreached = sorted(set(defs) - _reached(defs, roots, visible, kept) - kept)
    assert not unreached, f"reached only by tests: {unreached}"


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
