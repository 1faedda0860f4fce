"""Iceberg-style snapshot table format, from scratch on parquet + JSON.

The north rule runs the engine "over Iceberg tables of image + caption
pairs" and requires resumability "from Iceberg snapshot checkpoints".
No Iceberg runtime jar ships in this sandbox, so this module implements
the part of the table format the engine actually leans on — re-derived
from the PUBLIC Apache Iceberg spec concepts (metadata file + snapshot
manifests + stats-based file pruning + optimistic concurrency +
version-hint pointer), not from any Iceberg code:

* **Atomic snapshot commits.** One helper, ``_claim``, is the commit
  protocol for every mutation (commit, delete, upsert, compact,
  vacuum). A mutation stages its parquet data files in a
  commit-unique directory; ``_claim`` writes an immutable manifest,
  then claims the next metadata version by hard-linking a fully
  written temp file to its name, which fails when the name is taken
  (as an ``O_EXCL`` create does) — the lake-store analog of Iceberg's
  atomic metadata swap. Concurrent writers race on the version file;
  the loser re-reads and rebuilds against the new current snapshot
  (optimistic concurrency), so an append is never lost and readers
  NEVER observe a half-commit: until the version file exists, the
  staged files are invisible orphans.
* **Manifests with per-file column stats.** Each manifest row carries
  the file's row count, byte size, and per-column min/max/null-count
  aggregated from the parquet footer (collected DISTRIBUTED — a
  mapInPandas over the file list reads footers on executors, only the
  tiny stats rows reach the driver). This is THE 100 TB read lever:
  ``scan(..., filters=…)`` / ``scan(..., bbox=…)`` drops whole files
  from the plan before Spark opens a single footer. With
  ``cluster_by`` (Morton-sorted layout, same key as
  :mod:`clustered`) a city-sized bbox over a planet-sized table reads
  a handful of files instead of the fleet.
* **Time travel.** Every snapshot (id, parent, timestamp, operation,
  summary) is kept in the metadata file; ``scan(..., as_of=…)`` reads
  any historical snapshot — the exact semantics the checkpoint layer
  needs for resume ("VERSION AS OF").
* **Snapshot expiry.** ``vacuum`` first claims the shortened history,
  then deletes only the files an expired snapshot's manifest lists and
  no kept snapshot lists (Iceberg's expire-snapshots rule). Files a
  writer has staged but not yet claimed are listed by no manifest, so
  they are never touched; removing orphans of dead writers is not done.
* **Exactness.** Pruning uses footer stats only to PROVE a file
  disjoint from the predicate; the same predicate is re-applied as a
  residual ``where`` on the surviving rows, so the result is
  value-identical to a full scan + filter (gated value-level vs DuckDB
  in ``icetable_scan``).

Reference parity note: gis-tools holds layers in RAM (geopandas,
/root/reference/gistools/layer.py:60-120) and has no lake layer at
all; this is the from-scratch lake-scale counterpart required by the
brief, not a port of anything.

Layout::

    root/metadata/v{N}.metadata.json   # link-claimed, immutable
    root/metadata/version-hint.text    # advisory pointer (os.replace)
    root/metadata/snap-{id}.manifest.json
    root/data/{commit-uuid}/part-*.parquet
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from typing import Callable, Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .. import cells as C
from .clustered import ZRES


class CommitConflict(RuntimeError):
    """Raised when optimistic retries are exhausted (writer storm)."""


class SchemaMismatch(ValueError):
    """Appended DataFrame schema differs from the table schema."""


# --------------------------------------------------------------------- paths

def _meta_dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _version_path(root: str, n: int) -> str:
    return os.path.join(_meta_dir(root), "v%d.metadata.json" % n)


def _hint_path(root: str) -> str:
    return os.path.join(_meta_dir(root), "version-hint.text")


def _current_version(root: str) -> int:
    """Latest committed metadata version; 0 = table does not exist yet.

    The hint file is advisory (it may lag a racing commit): start from
    the hint, then walk forward while higher versions exist — readers
    therefore always see the newest COMMITTED snapshot without listing
    the whole directory on every read.
    """
    n = 0
    try:
        with open(_hint_path(root)) as f:
            n = int(f.read().strip())
    except (OSError, ValueError):
        pass
    if n and not os.path.exists(_version_path(root, n)):
        n = 0                                    # stale/corrupt hint
    if n == 0:
        for p in glob.glob(os.path.join(_meta_dir(root), "v*.metadata.json")):
            try:
                n = max(n, int(os.path.basename(p)[1:].split(".")[0]))
            except ValueError:
                pass
    while os.path.exists(_version_path(root, n + 1)):
        n += 1
    return n


def _load_metadata(root: str) -> dict | None:
    n = _current_version(root)
    if n == 0:
        return None
    with open(_version_path(root, n)) as f:
        m = json.load(f)
    m["_version"] = n
    return m


def _manifest_path(root: str, snapshot_id: int) -> str:
    return os.path.join(_meta_dir(root), "snap-%d.manifest.json" % snapshot_id)


def _load_manifest(root: str, snapshot_id: int) -> dict:
    with open(_manifest_path(root, snapshot_id)) as f:
        return json.load(f)


def _files(root: str, cur: dict) -> list[dict]:
    """Manifest entries of the current snapshot of metadata ``cur``."""
    return _load_manifest(root, cur["current_snapshot_id"])["files"]


def _rows(entries: list[dict]) -> int:
    return sum(e["rows"] for e in entries)


def _read_files(spark: SparkSession, root: str, schema_json: str,
                entries: list[dict]) -> DataFrame:
    """The rows of manifest ``entries``, read with a recorded schema; no
    entries plan as an empty LocalRelation (the false filter's prune)."""
    schema = T.StructType.fromJson(json.loads(schema_json))
    if not entries:
        return spark.createDataFrame(pd.DataFrame(columns=schema.names),
                                     schema).where(F.lit(False))
    return spark.read.schema(schema).parquet(
        *[os.path.join(root, e["path"]) for e in entries])


# --------------------------------------------------------- stats collection

_STAT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
               T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
               T.DateType, T.TimestampType)


def _footer_stats(path: str, stat_cols: list[str]) -> dict:
    """One parquet footer → {rows, bytes, stats{col: [min,max,nulls]}}.

    min/max aggregate over row groups; a column missing stats in ANY
    row group gets ``None`` (file unprunable on that column — safe).
    """
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = {md.schema.column(i).path: i for i in range(md.num_columns)}
    stats: dict[str, list] = {}
    for col in stat_cols:
        i = names.get(col)
        if i is None:
            continue
        mn = mx = None
        nulls = 0
        ok = True
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(i).statistics
            if s is None or not s.has_min_max:
                ok = False
                break
            lo, hi = s.min, s.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    ok = False
                    break
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
            nulls += s.null_count or 0
        if ok and mn is not None:
            stats[col] = [_plain(mn), _plain(mx), nulls]
    return {"path": path, "rows": md.num_rows,
            "bytes": os.path.getsize(path), "stats": stats}


def _plain(v):
    """JSON-serializable scalar (numpy/datetime → python)."""
    import datetime

    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def _collect_stats(spark: SparkSession, files: list[str],
                   stat_cols: list[str]) -> list[dict]:
    """Distributed footer read: executors parse the footers, the driver
    receives one small JSON row per file (never the data)."""
    if not files:
        return []
    if len(files) <= 4:                          # not worth a job
        return [_footer_stats(p, stat_cols) for p in files]
    pdf = pd.DataFrame({"path": files})

    def _read(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in it:
            yield pd.DataFrame({"entry": [
                json.dumps(_footer_stats(p, stat_cols)) for p in b["path"]]})

    out = (spark.createDataFrame(pdf).repartition(min(len(files), 64))
           .mapInPandas(_read, schema="entry string").collect())
    return [json.loads(r.entry) for r in out]


# ----------------------------------------------------------------- commits

_RETRIES = 20            # version races a mutation may lose before it fails


def _stage(df: DataFrame, root: str) -> list[dict]:
    """Write ``df`` to a commit-unique ``data/`` dir (invisible to readers
    until a claim lists it); returns its manifest entries, paths relative
    to ``root``, zero-row files dropped."""
    data_dir = os.path.join(root, "data", uuid.uuid4().hex[:16])
    df.write.mode("overwrite").parquet(data_dir)
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    stat_cols = [f.name for f in df.schema.fields
                 if isinstance(f.dataType, _STAT_TYPES)]
    return [dict(e, path=os.path.relpath(e["path"], root))
            for e in _collect_stats(df.sparkSession, files, stat_cols)
            if e["rows"] > 0]


class _Snap(NamedTuple):
    """The table state a mutation's ``build`` hands to :func:`_claim`:
    the new snapshot's full file list, schema, operation and summary.
    ``files=None`` adds no snapshot and only drops the ``expire`` ids
    from the history (vacuum)."""
    files: list[dict] | None
    schema: str
    operation: str = ""
    summary: dict | None = None
    dedup_key: str | None = None
    expire: frozenset = frozenset()


def _claim(root: str, build: Callable[[dict | None], _Snap | int | None]):
    """The commit protocol, shared by every mutation of the table.

    Each attempt loads the current metadata ``cur`` (None: no table yet)
    and calls ``build(cur)``. A result that is not a :class:`_Snap` (an
    existing snapshot id) is returned as is and nothing is written.
    Otherwise the new snapshot's manifest is written under an id no
    other manifest holds (``O_EXCL``; a taken id moves to the next), then
    the next metadata version is written to a temp file and claimed by
    hard-linking it to the version name, which fails like an ``O_EXCL``
    create if the name exists, so readers never see a partly written
    version. A writer that loses the race deletes its manifest, then
    re-reads and rebuilds against the winner. Returns the id of the
    snapshot that is current after the claim.
    """
    os.makedirs(_meta_dir(root), exist_ok=True)
    for _ in range(_RETRIES):
        cur = _load_metadata(root)
        snap = build(cur)
        if not isinstance(snap, _Snap):
            return snap
        parent = sid = cur["current_snapshot_id"] if cur else None
        history = [s for s in (cur["snapshots"] if cur else [])
                   if s["id"] not in snap.expire]
        if snap.files is not None:
            sid = int(time.time() * 1000) * 1000 + (os.getpid() % 1000)
            while True:                       # ids are unique on disk
                try:
                    fd = os.open(_manifest_path(root, sid),
                                 os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    break
                except FileExistsError:
                    sid += 1
            with os.fdopen(fd, "w") as f:
                json.dump({"snapshot_id": sid, "files": snap.files}, f)
            history.append({
                "id": sid, "parent_id": parent, "ts": time.time(),
                "operation": snap.operation, "schema": snap.schema,
                "summary": dict(snap.summary, total_files=len(snap.files),
                                total_rows=_rows(snap.files))})
            if snap.dedup_key is not None:
                history[-1]["dedup_key"] = snap.dedup_key
        meta = {"format_version": 1,
                "table_uuid": cur["table_uuid"] if cur else uuid.uuid4().hex,
                "schema": snap.schema, "current_snapshot_id": sid,
                "snapshots": history}
        version = cur["_version"] + 1 if cur else 1
        path = _version_path(root, version)
        tmp = path + ".tmp.%s" % uuid.uuid4().hex[:16]
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f, indent=1)
        try:
            os.link(tmp, path)            # exclusive, and appears complete
        except FileExistsError:                   # lost the race: re-read
            if snap.files is not None:            # no snapshot lists it
                os.unlink(_manifest_path(root, sid))
            continue
        finally:
            os.unlink(tmp)
        tmp = _hint_path(root) + ".tmp.%s" % uuid.uuid4().hex[:16]
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, _hint_path(root))         # advisory; atomic
        return sid
    raise CommitConflict("lost %d version races" % _RETRIES)


def _evolve_schema(old_json: str, new_json: str) -> str:
    """Union schema for an append whose DataFrame schema differs.

    Iceberg-style ADDITIVE evolution only: the append may add new
    columns (recorded nullable — old files read as null for them) and
    may omit existing columns (its files read as null for those), but a
    column present in both must keep its exact type. Renames/drops/type
    changes raise — use ``mode='overwrite'`` to replace the schema.
    """
    old = T.StructType.fromJson(json.loads(old_json))
    new = T.StructType.fromJson(json.loads(new_json))
    new_by_name = {f.name: f for f in new.fields}
    fields = []
    for f in old.fields:
        g = new_by_name.pop(f.name, None)
        if g is not None and g.dataType != f.dataType:
            raise SchemaMismatch(
                "column %r type change %s -> %s (append is additive-only; "
                "overwrite to replace the schema)"
                % (f.name, f.dataType.simpleString(),
                   g.dataType.simpleString()))
        fields.append(T.StructField(
            f.name, f.dataType,
            f.nullable or (g is None)))      # omitted → null for new rows
    for g in new.fields:                      # added columns, append order
        if g.name in new_by_name:
            fields.append(T.StructField(g.name, g.dataType, True))
    return T.StructType(fields).json()


def _find_dedup(cur: dict | None, dedup_key: str) -> int | None:
    for s in cur["snapshots"] if cur else []:
        if s.get("dedup_key") == dedup_key:
            return s["id"]
    return None


def commit(df: DataFrame, root: str, *, mode: str = "append",
           cluster_by: tuple[str, str] | None = None,
           n_files: int | None = None,
           dedup_key: str | None = None) -> int:
    """Write ``df`` as a new table snapshot; returns the snapshot id.

    ``mode='append'`` adds the staged files to the current snapshot's
    file set; ``'overwrite'`` replaces it. ``cluster_by=(lon, lat)``
    stores the Morton key as ``zkey`` and range-sorts by it so every
    data file covers a tight Z range — the layout that makes bbox
    pruning drop whole files. Commit is atomic and optimistic (see
    module doc).

    ``dedup_key`` makes the commit IDEMPOTENT: if a snapshot already
    carries the key, its id is returned and nothing is written — the
    primitive that turns Structured Streaming's at-least-once
    ``foreachBatch`` replay into exactly-once table appends
    (streaming/sink.py keys each micro-batch by (query, batch_id)).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError("mode must be append|overwrite")
    if dedup_key is not None:
        prior = _find_dedup(_load_metadata(root), dedup_key)
        if prior is not None:
            return prior
    if cluster_by is not None:
        lon, lat = cluster_by
        df = df.withColumn("zkey",
                           C.morton_column(F.col(lon), F.col(lat), ZRES))
        n = n_files or df.sparkSession.sparkContext.defaultParallelism
        df = df.repartitionByRange(n, "zkey").sortWithinPartitions("zkey")
    entries = _stage(df, root)
    summary = {"added_files": len(entries), "added_rows": _rows(entries)}

    def build(cur):
        schema, base = df.schema.json(), []
        if cur is not None:
            prior = dedup_key and _find_dedup(cur, dedup_key)
            if prior:                         # racer landed the same batch
                return prior
            if mode == "append":
                if cur["schema"] != schema:
                    schema = _evolve_schema(cur["schema"], schema)
                base = _files(root, cur)
        return _Snap(base + entries, schema, mode, summary, dedup_key)

    return _claim(root, build)


# ------------------------------------------------------------------- reads

def snapshots(root: str) -> list[dict]:
    """Snapshot history (oldest first): id/parent/ts/operation/summary."""
    m = _load_metadata(root)
    return list(m["snapshots"]) if m else []


def _resolve_snapshot(root: str, as_of) -> dict:
    """The snapshot ``as_of`` names (None: the current one) from ONE
    metadata read, with its schema (the table's for snapshots written
    before schemas were recorded per snapshot)."""
    m = _load_metadata(root)
    if m is None:
        raise FileNotFoundError("no committed snapshot under %s" % root)
    snaps = m["snapshots"]
    by_id = {s["id"]: s for s in snaps}
    key = m["current_snapshot_id"] if as_of is None else as_of
    if key in by_id:
        return {"schema": m["schema"], **by_id[key]}
    older = [s for s in snaps if s["ts"] <= as_of]
    if not older:
        raise LookupError("no snapshot at or before %r" % as_of)
    return {"schema": m["schema"], **max(older, key=lambda s: s["ts"])}


_OPS = ("<", "<=", ">", ">=", "=", "between")


def _file_survives(stats: dict, filters: list[tuple]) -> bool:
    """False only when footer stats PROVE the file disjoint from the
    conjunction — missing stats keep the file (safe, never wrong)."""
    for flt in filters:
        col, op = flt[0], flt[1]
        s = stats.get(col)
        if s is None or s[0] is None:
            continue
        mn, mx = s[0], s[1]
        if op == "<" and not mn < flt[2]:
            return False
        if op == "<=" and not mn <= flt[2]:
            return False
        if op == ">" and not mx > flt[2]:
            return False
        if op == ">=" and not mx >= flt[2]:
            return False
        if op == "=" and not (mn <= flt[2] <= mx):
            return False
        if op == "between" and (mx < flt[2] or mn > flt[3]):
            return False
    return True


def _split(entries: list[dict], filters: list[tuple]):
    """(files the filters may match, files stats prove they cannot)."""
    hit, miss = [], []
    for e in entries:
        (hit if _file_survives(e["stats"], filters) else miss).append(e)
    return hit, miss


def _residual(filters: list[tuple]):
    pred = None
    for flt in filters:
        col, op = flt[0], flt[1]
        c = F.col(col)
        if op == "<":
            p = c < F.lit(flt[2])
        elif op == "<=":
            p = c <= F.lit(flt[2])
        elif op == ">":
            p = c > F.lit(flt[2])
        elif op == ">=":
            p = c >= F.lit(flt[2])
        elif op == "=":
            p = c == F.lit(flt[2])
        elif op == "between":
            p = (c >= F.lit(flt[2])) & (c <= F.lit(flt[3]))
        else:
            raise ValueError("op must be one of %s" % (_OPS,))
        pred = p if pred is None else (pred & p)
    return pred


def bbox_filters(minx: float, miny: float, maxx: float, maxy: float, *,
                 lon: str = "lon", lat: str = "lat") -> list[tuple]:
    """A query window as prunable filter tuples on the raw columns."""
    return [(lon, "between", minx, maxx), (lat, "between", miny, maxy)]


def _prune(root: str, snap: dict,
           filters: list[tuple] | None) -> tuple[list[dict], int]:
    files = _load_manifest(root, snap["id"])["files"]
    return _split(files, filters or [])[0], len(files)


def scan_files(root: str, *, filters: list[tuple] | None = None,
               as_of=None) -> tuple[list[dict], int]:
    """(surviving manifest entries, total file count) — the pruning
    decision alone, for tests/inspection."""
    return _prune(root, _resolve_snapshot(root, as_of), filters)


def scan(spark: SparkSession, root: str, *,
         filters: list[tuple] | None = None,
         bbox: tuple[float, float, float, float] | None = None,
         lon: str = "lon", lat: str = "lat", as_of=None) -> DataFrame:
    """Read a snapshot with manifest-level file pruning.

    ``filters`` is a conjunction of ``(col, op, value[, value2])``
    tuples (ops: < <= > >= = between); ``bbox`` is sugar for two
    BETWEENs on ``lon``/``lat``. Files whose footer stats are disjoint
    from the conjunction never enter the Spark plan; the same predicate
    is re-applied as a residual filter (still pushed to row-group stats
    by Catalyst), so the result is value-identical to a full scan.
    """
    flt = list(filters or [])
    if bbox is not None:
        flt += bbox_filters(*bbox, lon=lon, lat=lat)
    # files and schema from ONE resolved snapshot: a racing commit can
    # not pair one snapshot's files with another's columns. Reading with
    # the SNAPSHOT's schema lets time travel across an overwrite see
    # that snapshot's columns; files missing an evolved column read as
    # null (additive evolution)
    snap = _resolve_snapshot(root, as_of)
    keep, _total = _prune(root, snap, flt)
    df = _read_files(spark, root, snap["schema"], keep)
    pred = _residual(flt)
    return df.where(pred) if pred is not None else df


# ---------------------------------------------------------------- delete

def delete(spark: SparkSession, root: str, *, filters: list[tuple]) -> dict:
    """Row-level DELETE, copy-on-write: remove every row matching the
    ``filters`` conjunction (same tuples as :func:`scan`) and commit the
    result as a new snapshot. Returns a summary dict.

    The manifest stats do the heavy lifting: files PROVABLY disjoint
    from the predicate are carried into the new snapshot untouched
    (never read, never rewritten); only overlapping files are re-read
    and rewritten without the matching rows. A takedown sweep over a
    100 TB clustered table therefore rewrites a handful of files, not
    the fleet — and time travel still reaches the pre-delete snapshot
    until :func:`vacuum` expires it.
    """
    if not filters:
        raise ValueError("delete without filters would drop the table; "
                         "use commit(mode='overwrite') explicitly")
    pred = _residual(filters)
    out: dict = {}

    def build(cur):
        if cur is None:
            raise FileNotFoundError("no committed snapshot under %s" % root)
        touched, untouched = _split(_files(root, cur), filters)
        out.update(deleted_rows=0, rewritten_files=0,
                   untouched_files=len(untouched))
        if not touched:
            return cur["current_snapshot_id"]
        # delete WHERE pred; a row where pred is NULL (null in a
        # filtered column) is NOT matched and must be kept
        entries = _stage(_read_files(spark, root, cur["schema"], touched)
                         .where(~F.coalesce(pred, F.lit(False))), root)
        summary = {"deleted_rows": _rows(touched) - _rows(entries),
                   "rewritten_files": len(touched)}
        out.update(summary)
        return _Snap(untouched + entries, cur["schema"], "delete", summary)

    return {"snapshot_id": _claim(root, build), **out}


# ----------------------------------------------------------------- upsert

def upsert(df: DataFrame, root: str, *, key_col: str,
           cluster_by: tuple[str, str] | None = None,
           n_files: int | None = None) -> dict:
    """MERGE by key, copy-on-write, in ONE atomic snapshot: rows whose
    ``key_col`` appears in ``df`` are replaced, new keys are inserted.
    Returns a summary dict.

    The re-crawl path of an image/document lake: a refreshed shard
    upserts by image_id and readers switch atomically from the old rows
    to the new ones — no window where both or neither are visible.
    File-level pruning bounds the rewrite: only files whose key stats
    overlap the incoming batch's [min, max] are re-read, and those are
    anti-joined against the incoming keys (matched rows dropped, the
    incoming version wins). Keep the table clustered by key (or commit
    shards with tight key ranges) and an upsert touches few files.
    """
    spark = df.sparkSession
    if cluster_by is not None:
        lon, lat = cluster_by
        df = df.withColumn("zkey", C.morton_column(F.col(lon), F.col(lat),
                                                   ZRES))
    kmin, kmax = df.agg(F.min(key_col), F.max(key_col)).first()
    if kmin is None:
        m = _load_metadata(root)
        return {"snapshot_id": m["current_snapshot_id"] if m else None,
                "replaced_rows": 0, "inserted_rows": 0,
                "rewritten_files": 0}

    # stage the incoming rows once (their files are snapshot-agnostic)
    if n_files is not None:
        df = df.repartition(n_files)
    entries = _stage(df, root)
    schema_json = df.schema.json()
    keys = spark.read.parquet(*[os.path.join(root, e["path"])
                                for e in entries]).select(key_col).distinct()
    n_incoming = keys.count()
    overlap = [(key_col, "between", _plain(kmin), _plain(kmax))]
    out: dict = {}

    def build(cur):
        if cur is None:
            raise FileNotFoundError(
                "no committed snapshot under %s (use commit() to create)"
                % root)
        touched, untouched = _split(_files(root, cur), overlap)
        rewritten: list[dict] = []
        if touched:
            kept = _read_files(spark, root, cur["schema"], touched).join(
                F.broadcast(keys) if n_incoming < 2_000_000 else keys,
                on=key_col, how="left_anti")
            rewritten = _stage(kept, root)
        replaced = _rows(touched) - _rows(rewritten)
        summary = {"replaced_rows": replaced,
                   "inserted_rows": _rows(entries) - replaced,
                   "rewritten_files": len(touched)}
        out.update(summary, untouched_files=len(untouched))
        schema = (_evolve_schema(cur["schema"], schema_json)
                  if cur["schema"] != schema_json else schema_json)
        return _Snap(untouched + rewritten + entries, schema, "upsert",
                     summary)

    return {"snapshot_id": _claim(root, build), **out}


# ------------------------------------------------------------ compaction

def compact(spark: SparkSession, root: str, *,
            target_bytes: int = 128 << 20) -> dict:
    """Bin-pack small data files into ~``target_bytes`` files and commit
    the result as a new snapshot (operation='compact'). Files already at
    or above half the target are carried over untouched.

    Streaming ingest (streaming/sink.py) commits one file set per
    micro-batch, so a long-running stream accumulates small files —
    the classic lakehouse problem. Periodic compaction keeps scans at
    full parquet row-group efficiency without pausing ingest: a stream
    batch landing mid-compaction wins or loses the version race and
    either way no rows are lost (the loser retries on the new current
    snapshot). Rows are re-sorted by zkey when present so the
    compacted files keep tight manifest stats for pruning.
    """
    out: dict = {}

    def build(cur):
        if cur is None:
            raise FileNotFoundError("no committed snapshot under %s" % root)
        files = _files(root, cur)
        small = [e for e in files if e["bytes"] < target_bytes // 2]
        out.update(compacted_files=0, output_files=0)
        if len(small) <= 1:
            return cur["current_snapshot_id"]
        src = _read_files(spark, root, cur["schema"], small)
        n_out = int(sum(e["bytes"] for e in small) // target_bytes) + 1
        if "zkey" in src.columns:
            src = (src.repartitionByRange(n_out, "zkey")
                   .sortWithinPartitions("zkey"))
        else:
            src = src.coalesce(n_out)
        entries = _stage(src, root)
        out.update(compacted_files=len(small), output_files=len(entries))
        big = [e for e in files if e["bytes"] >= target_bytes // 2]
        return _Snap(big + entries, cur["schema"], "compact", dict(out))

    return {"snapshot_id": _claim(root, build), **out}


# ---------------------------------------------------------------- vacuum

def vacuum(root: str, *, keep_last: int = 1) -> dict:
    """Expire all but the last ``keep_last`` snapshots; returns a
    summary dict. The shortened history is claimed first; only then are
    the files that expired manifests list and no kept manifest lists
    deleted, with the expired manifests (see module doc)."""
    hist: dict = {"kept": [], "expired": []}

    def build(cur):
        if cur is None:
            return None
        hist.update(kept=cur["snapshots"][-keep_last:],
                    expired=cur["snapshots"][:-keep_last])
        if not any(s["id"] == cur["current_snapshot_id"]
                   for s in hist["kept"]):
            raise ValueError("keep_last would expire the current snapshot")
        return _Snap(None, cur["schema"],
                     expire=frozenset(s["id"] for s in hist["expired"]))

    _claim(root, build)
    live = {e["path"] for s in hist["kept"]
            for e in _load_manifest(root, s["id"])["files"]}
    dead = {e["path"] for s in hist["expired"]
            for e in _load_manifest(root, s["id"])["files"]} - live
    for p in dead:
        os.remove(os.path.join(root, p))
    for d in {os.path.join(root, os.path.dirname(p)) for p in dead}:
        if not glob.glob(os.path.join(d, "*.parquet")):
            shutil.rmtree(d)
    for s in hist["expired"]:
        os.remove(_manifest_path(root, s["id"]))
    return {"removed_snapshots": len(hist["expired"]),
            "removed_files": len(dead)}
