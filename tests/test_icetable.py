"""Iceberg-style snapshot table (sources/icetable.py): atomic commits,
append/overwrite lineage, time travel, manifest-level stats pruning
(value-exact vs full scan), crash invisibility, optimistic-concurrency
races, schema guard, vacuum, and Pipeline-resume integration."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gis_tools_spark.operators import core
from gis_tools_spark.sources import icetable as ice


def _pts(spark, n=2000, seed=0):
    return (spark.range(n)
            .select(F.col("id").alias("pid"),
                    ((F.col("id") * 37 + seed) % 100000 / 20000.0 + 5.0)
                    .alias("lon"),
                    ((F.col("id") * 7919 + seed) % 100000 / 20000.0 + 40.0)
                    .alias("lat"),
                    (F.col("id") % 7).cast("int").alias("kind")))


def test_commit_read_roundtrip(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _pts(spark)
    sid = ice.commit(df, root, mode="overwrite")
    assert sid in {s["id"] for s in ice.snapshots(root)}
    got = ice.scan(spark, root)
    assert got.count() == 2000
    assert (got.agg(F.sum("pid")).first()[0]
            == df.agg(F.sum("pid")).first()[0])


def test_append_lineage_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    s1 = ice.commit(_pts(spark, 500, seed=0), root)
    s2 = ice.commit(_pts(spark, 300, seed=1), root, mode="append")
    s3 = ice.commit(_pts(spark, 100, seed=2), root, mode="overwrite")
    snaps = ice.snapshots(root)
    assert [s["id"] for s in snaps] == [s1, s2, s3]
    assert snaps[1]["parent_id"] == s1 and snaps[2]["parent_id"] == s2
    assert ice.scan(spark, root).count() == 100
    assert ice.scan(spark, root, as_of=s2).count() == 800
    assert ice.scan(spark, root, as_of=s1).count() == 500
    # timestamp travel: any ts between s2 and s3 resolves to s2
    ts = (snaps[1]["ts"] + snaps[2]["ts"]) / 2
    assert ice.scan(spark, root, as_of=ts).count() == 800
    with pytest.raises(LookupError):
        ice.scan(spark, root, as_of=snaps[0]["ts"] - 10.0)


def test_manifest_stats_prune_files_and_exactness(spark, tmp_path):
    root = str(tmp_path / "t")
    ice.commit(_pts(spark, 20000), root, cluster_by=("lon", "lat"),
               n_files=16)
    bbox = (6.2, 41.4, 6.8, 42.0)
    flt = ice.bbox_filters(*bbox)
    keep, total = ice.scan_files(root, filters=flt)
    assert total == 16
    assert 0 < len(keep) < total          # real file-level pruning
    got = ice.scan(spark, root, bbox=bbox)
    want = _pts(spark, 20000).where(
        (F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
        & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3]))
    assert got.count() == want.count() > 0
    assert (got.agg(F.sum("pid")).first()[0]
            == want.agg(F.sum("pid")).first()[0])
    # a window outside the domain prunes everything and stays typed
    empty = ice.scan(spark, root, bbox=(100.0, 0.0, 101.0, 1.0))
    assert empty.count() == 0
    assert "pid" in empty.columns and "zkey" in empty.columns
    # ... and plans as an empty local relation, whose 0 rows a size
    # gate reads from the plan at no job
    plan = empty._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan
    assert core.plan_size(empty, [])[0] == 0


def test_filter_ops_prune_and_match(spark, tmp_path):
    root = str(tmp_path / "t")
    ice.commit(_pts(spark, 5000).repartitionByRange(8, "pid")
               .sortWithinPartitions("pid"), root)
    for flt, cond in [
        ([("pid", "<", 100)], F.col("pid") < 100),
        ([("pid", ">=", 4900)], F.col("pid") >= 4900),
        ([("pid", "=", 2500)], F.col("pid") == 2500),
        ([("pid", "between", 1000, 1100)],
         (F.col("pid") >= 1000) & (F.col("pid") <= 1100)),
    ]:
        keep, total = ice.scan_files(root, filters=flt)
        assert len(keep) < total
        got = ice.scan(spark, root, filters=flt).count()
        want = _pts(spark, 5000).where(cond).count()
        assert got == want > 0


def test_crash_before_version_claim_is_invisible(spark, tmp_path):
    root = str(tmp_path / "t")
    s1 = ice.commit(_pts(spark, 400), root)
    # simulate a writer dying after staging data + manifest but before
    # claiming the metadata version: stage files directly
    _pts(spark, 999, seed=9).write.parquet(
        os.path.join(root, "data", "deadbeefdeadbeef"))
    with open(os.path.join(root, "metadata",
                           "snap-1.manifest.json"), "w") as f:
        json.dump({"snapshot_id": 1, "files": []}, f)
    assert ice.scan(spark, root).count() == 400
    assert [s["id"] for s in ice.snapshots(root)] == [s1]
    # and the table still accepts the next commit
    ice.commit(_pts(spark, 50, seed=3), root, mode="append")
    assert ice.scan(spark, root).count() == 450


def _race_once(monkeypatch, racer):
    """Run ``racer()`` once, inside the first ``os.open`` of a metadata
    version: between a mutation's read of the current snapshot and its
    ``O_EXCL`` claim of the next version."""
    raced = {"done": False}
    real_open = os.open

    def race_once(path, flags, *a, **k):
        if "metadata.json" in str(path) and not raced["done"]:
            raced["done"] = True
            racer()
        return real_open(path, flags, *a, **k)

    monkeypatch.setattr(os, "open", race_once)
    return raced


_MUTATIONS = {   # mutation of a 100-row table (pids 0-99) -> rows it keeps
    "commit": (lambda spark, root: ice.commit(
        _pts(spark, 30, seed=7).withColumn("pid", F.col("pid") + 2000),
        root, mode="append"), 130),
    "delete": (lambda spark, root: ice.delete(
        spark, root, filters=[("pid", "between", 90, 99)]), 90),
    "upsert": (lambda spark, root: ice.upsert(
        _pts(spark, 30, seed=7).withColumn("kind", F.lit(99)), root,
        key_col="pid"), 100),
    "compact": (lambda spark, root: ice.compact(
        spark, root, target_bytes=1 << 20), 100),
}


@pytest.mark.parametrize("mutation", sorted(_MUTATIONS))
def test_optimistic_retry_wins_race(spark, tmp_path, monkeypatch, mutation):
    """A racing writer claims the version between our read and our
    O_EXCL create — the mutation must re-read and land on the NEXT
    version with the racer's rows still present (lost-update-free)."""
    root = str(tmp_path / "t")
    ice.commit(_pts(spark, 100, seed=0), root)
    racer = _pts(spark, 70, seed=5).withColumn("pid", F.col("pid") + 1000)
    raced = _race_once(monkeypatch, lambda: ice.commit(racer, root,
                                                       mode="append"))
    mutate, kept = _MUTATIONS[mutation]
    mutate(spark, root)
    monkeypatch.undo()
    assert raced["done"]
    got = ice.scan(spark, root)
    assert got.where("pid >= 1000 AND pid < 2000").count() == 70
    assert got.count() == kept + 70
    snaps = ice.snapshots(root)
    assert len(snaps) == 3
    assert snaps[-1]["operation"] == ("append" if mutation == "commit"
                                      else mutation)
    assert snaps[-1]["summary"]["total_rows"] == kept + 70


def test_lost_race_leaves_no_orphan_manifest(tmp_path, monkeypatch):
    """A claim that loses the version race deletes the manifest it wrote
    before retrying: every manifest in metadata/ is a snapshot's."""
    root = str(tmp_path / "t")

    def claim():
        return ice._claim(root, lambda cur: ice._Snap([], "{}", "append", {}))

    claim()
    raced = _race_once(monkeypatch, claim)
    claim()
    monkeypatch.undo()
    assert raced["done"]
    manifests = {f for f in os.listdir(os.path.join(root, "metadata"))
                 if f.endswith(".manifest.json")}
    assert len(manifests) == 3
    assert manifests == {"snap-%d.manifest.json" % s["id"]
                         for s in ice.snapshots(root)}


def test_reader_during_version_write_sees_old_version(spark, tmp_path,
                                                      monkeypatch):
    """A reader that lands while a commit is still writing the next
    metadata version reads the previous version, never a partial file."""
    root = str(tmp_path / "t")
    s1 = ice.commit(_pts(spark, 100, seed=0), root)
    seen = []
    real_dump = json.dump

    def dump(obj, *a, **k):
        if isinstance(obj, dict) and "format_version" in obj and not seen:
            seen.append([s["id"] for s in ice.snapshots(root)])
        return real_dump(obj, *a, **k)

    monkeypatch.setattr(ice.json, "dump", dump)
    s2 = ice.commit(_pts(spark, 50, seed=1), root, mode="append")
    monkeypatch.undo()
    assert seen == [[s1]]
    assert [s["id"] for s in ice.snapshots(root)] == [s1, s2]


def test_same_millisecond_commits_get_unique_snapshot_ids(spark, tmp_path,
                                                          monkeypatch):
    """Two commits from one process in the same millisecond (frozen
    clock) still get distinct snapshot ids, and each id's manifest
    lists exactly that snapshot's files."""
    import types

    root = str(tmp_path / "t")
    monkeypatch.setattr(ice, "time",
                        types.SimpleNamespace(time=lambda: 1.7e9))
    s1 = ice.commit(_pts(spark, 100, seed=0), root)
    racer = _pts(spark, 70, seed=5).withColumn("pid", F.col("pid") + 1000)
    _race_once(monkeypatch, lambda: ice.commit(racer, root, mode="append"))
    ice.commit(_pts(spark, 30, seed=7).withColumn("pid", F.col("pid") + 2000),
               root, mode="append")
    monkeypatch.undo()
    ids = [s["id"] for s in ice.snapshots(root)]
    assert len(ids) == 3 and len(set(ids)) == 3 and ids[0] == s1
    for sid, want in zip(ids, [range(0, 100),
                               [*range(0, 100), *range(1000, 1070)],
                               [*range(0, 100), *range(1000, 1070),
                                *range(2000, 2030)]]):
        got = ice.scan(spark, root, as_of=sid).select("pid").collect()
        assert sorted(r.pid for r in got) == list(want), sid


def test_vacuum_keeps_racing_writers_staged_files(spark, tmp_path,
                                                  monkeypatch):
    """A vacuum landing between an append's staging and its claim must
    not delete the append's staged (not yet listed) files."""
    root = str(tmp_path / "t")
    ice.commit(_pts(spark, 100, seed=0), root)
    ice.commit(_pts(spark, 60, seed=1), root, mode="overwrite")
    out = {}
    _race_once(monkeypatch,
               lambda: out.update(ice.vacuum(root, keep_last=1)))
    ice.commit(_pts(spark, 30, seed=7).withColumn("pid", F.col("pid") + 1000),
               root, mode="append")
    monkeypatch.undo()
    assert out["removed_snapshots"] == 1 and out["removed_files"] > 0
    got = ice.scan(spark, root)
    assert got.count() == 90
    assert got.where("pid >= 1000").count() == 30
    assert len(ice.snapshots(root)) == 2


def test_upsert_relative_root(spark, tmp_path):
    """Upsert's new files are listed relative to the table root when
    the root itself is a relative path (as commit's already are)."""
    root = os.path.relpath(tmp_path / "t")
    ice.commit(_pts(spark, 200).repartitionByRange(4, "pid")
               .sortWithinPartitions("pid"), root)
    incoming = (spark.range(50, 60).union(spark.range(1000, 1005))
                .select(F.col("id").alias("pid"),
                        F.lit(0.0).alias("lon"), F.lit(0.0).alias("lat"),
                        F.lit(99).cast("int").alias("kind")))
    out = ice.upsert(incoming, root, key_col="pid")
    assert out["replaced_rows"] == 10 and out["inserted_rows"] == 5
    assert all(not os.path.isabs(e["path"])
               and not e["path"].startswith("..")
               for e in ice.scan_files(root)[0])
    got = ice.scan(spark, root)
    assert got.count() == 205
    assert got.where("kind = 99").count() == 15


def test_scan_reads_one_snapshot_under_racing_commit(spark, tmp_path,
                                                     monkeypatch):
    """An overwrite that replaces the schema and lands right after
    scan's metadata read must not pair the old files with the new
    columns: the scan sees one snapshot, files and schema alike."""
    root = str(tmp_path / "t")
    ice.commit(_pts(spark, 40, seed=0), root)
    newer = _pts(spark, 10, seed=1).select("pid", F.col("lon").alias("x"))
    real_load = ice._load_metadata
    raced = {"done": False}

    def load_then_race(r):
        m = real_load(r)
        if not raced["done"]:
            raced["done"] = True
            ice.commit(newer, root, mode="overwrite")
        return m

    monkeypatch.setattr(ice, "_load_metadata", load_then_race)
    got = ice.scan(spark, root)
    monkeypatch.undo()
    assert raced["done"]
    assert set(got.columns) == {"pid", "lon", "lat", "kind"}
    assert got.count() == 40
    assert got.where(F.col("lon").isNull()).count() == 0
    assert set(ice.scan(spark, root).columns) == {"pid", "x"}


def test_append_schema_guard(spark, tmp_path):
    """Non-additive changes (type change) raise; overwrite replaces."""
    root = str(tmp_path / "t")
    ice.commit(_pts(spark, 10), root)
    bad = _pts(spark, 10).withColumn("lon", F.col("lon").cast("string"))
    with pytest.raises(ice.SchemaMismatch):
        ice.commit(bad, root, mode="append")
    ice.commit(bad, root, mode="overwrite")           # explicit replace ok
    assert dict(ice.scan(spark, root).dtypes)["lon"] == "string"


def test_vacuum_expires_history_keeps_current(spark, tmp_path):
    root = str(tmp_path / "t")
    ice.commit(_pts(spark, 200, seed=0), root)
    ice.commit(_pts(spark, 200, seed=1), root, mode="overwrite")
    s3 = ice.commit(_pts(spark, 200, seed=2), root, mode="overwrite")
    n_before = len([p for d, _, fs in os.walk(os.path.join(root, "data"))
                    for p in fs if p.endswith(".parquet")])
    out = ice.vacuum(root, keep_last=1)
    assert out["removed_snapshots"] == 2 and out["removed_files"] > 0
    n_after = len([p for d, _, fs in os.walk(os.path.join(root, "data"))
                   for p in fs if p.endswith(".parquet")])
    assert n_after < n_before
    snaps = ice.snapshots(root)
    assert [s["id"] for s in snaps] == [s3]
    assert ice.scan(spark, root).count() == 200
    with pytest.raises(LookupError):
        ice.scan(spark, root, as_of=0.0)


def test_pipeline_icetable_resume(spark, tmp_path):
    """Pipeline(fmt='icetable'): stage snapshots are table snapshots;
    a re-run skips completed stages and reads the committed snapshot."""
    from gis_tools_spark.plans.checkpoint import Pipeline

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _pts(spark, 300)

    p1 = Pipeline(spark, str(tmp_path / "ck"), run_id="r", fmt="icetable")
    a = p1.stage("ingest", build)
    assert a.count() == 300 and calls["n"] == 1
    p2 = Pipeline(spark, str(tmp_path / "ck"), run_id="r", fmt="icetable")
    b = p2.stage("ingest", build)
    assert b.count() == 300 and calls["n"] == 1       # not recomputed
    assert len(ice.snapshots(os.path.join(str(tmp_path / "ck"),
                                          "r", "ingest"))) >= 1


def test_streaming_exactly_once_sink(spark, tmp_path):
    """foreachBatch replay (at-least-once) becomes exactly-once through
    dedup-keyed snapshot commits: a replayed batch_id is a no-op, a
    restart with one new source file ingests ONLY the new file."""
    from gis_tools_spark.sources import icetable as ice
    from gis_tools_spark.streaming import exactly_once_sink

    src = tmp_path / "src"
    root = str(tmp_path / "table")
    ck = str(tmp_path / "ck")
    _pts(spark, 120, seed=0).write.parquet(str(src / "f0"))
    _pts(spark, 80, seed=1).write.parquet(str(src / "f1"))
    schema = _pts(spark, 1).schema

    stream = (spark.readStream.schema(schema).format("parquet")
              .option("maxFilesPerTrigger", "1")
              .load(str(src / "*")))
    q = exactly_once_sink(stream, root, checkpoint_dir=ck,
                          query_name="t", cluster_by=("lon", "lat"),
                          n_files=2)
    q.awaitTermination(120)
    assert ice.scan(spark, root).count() == 200
    n_snaps = len(ice.snapshots(root))
    assert n_snaps >= 1

    # simulate the crash-replay: re-commit an already-committed batch id
    replay_id = ice.commit(_pts(spark, 120, seed=0), root, mode="append",
                           dedup_key="t:0")
    assert replay_id in {s["id"] for s in ice.snapshots(root)}
    assert ice.scan(spark, root).count() == 200          # unchanged
    assert len(ice.snapshots(root)) == n_snaps

    # restart with the same checkpoint + one NEW file: only it lands
    _pts(spark, 50, seed=2).write.parquet(str(src / "f2"))
    stream2 = (spark.readStream.schema(schema).format("parquet")
               .option("maxFilesPerTrigger", "1")
               .load(str(src / "*")))
    q2 = exactly_once_sink(stream2, root, checkpoint_dir=ck,
                           query_name="t", cluster_by=("lon", "lat"),
                           n_files=2)
    q2.awaitTermination(120)
    assert ice.scan(spark, root).count() == 250


def test_schema_evolution_additive(spark, tmp_path):
    """Append may ADD nullable columns (old files read null) and OMIT
    existing ones (new files read null); type changes still raise."""
    root = str(tmp_path / "t")
    ice.commit(_pts(spark, 100, seed=0), root)
    with_score = _pts(spark, 50, seed=1).withColumn(
        "score", (F.col("pid") % 10).cast("double"))
    ice.commit(with_score, root, mode="append")
    got = ice.scan(spark, root)
    assert set(got.columns) == {"pid", "lon", "lat", "kind", "score"}
    assert got.count() == 150
    assert got.where(F.col("score").isNull()).count() == 100
    # append omitting a column: its rows read null for it
    ice.commit(_pts(spark, 30, seed=2).drop("kind"), root, mode="append")
    got = ice.scan(spark, root)
    assert got.count() == 180
    assert got.where(F.col("kind").isNull()).count() == 30
    # type change is NOT additive
    bad = _pts(spark, 5).withColumn("kind", F.col("kind").cast("string"))
    with pytest.raises(ice.SchemaMismatch):
        ice.commit(bad, root, mode="append")


def test_time_travel_uses_snapshot_schema(spark, tmp_path):
    """An overwrite that replaces the schema must not change what an
    as-of read of the OLD snapshot returns."""
    root = str(tmp_path / "t")
    s1 = ice.commit(_pts(spark, 40, seed=0), root)
    ice.commit(_pts(spark, 10, seed=1)
               .select("pid", F.col("lon").alias("x")), root,
               mode="overwrite")
    old = ice.scan(spark, root, as_of=s1)
    assert set(old.columns) == {"pid", "lon", "lat", "kind"}
    assert old.count() == 40
    assert set(ice.scan(spark, root).columns) == {"pid", "x"}


def test_delete_copy_on_write(spark, tmp_path):
    """Row-level delete rewrites ONLY stat-overlapping files; results
    match an anti-filter; pre-delete snapshot still time-travels."""
    root = str(tmp_path / "t")
    s1 = ice.commit(_pts(spark, 8000).repartitionByRange(8, "pid")
                    .sortWithinPartitions("pid"), root)
    out = ice.delete(spark, root, filters=[("pid", "between", 1000, 1999)])
    assert out["deleted_rows"] == 1000
    assert 0 < out["rewritten_files"] < 8      # pruning really narrowed it
    assert out["untouched_files"] > 0
    got = ice.scan(spark, root)
    assert got.count() == 7000
    assert got.where((F.col("pid") >= 1000) & (F.col("pid") <= 1999)).count() == 0
    assert ice.scan(spark, root, as_of=s1).count() == 8000   # time travel
    # delete matching nothing is a no-op snapshot-wise
    out2 = ice.delete(spark, root, filters=[("pid", ">", 10 ** 9)])
    assert out2["deleted_rows"] == 0 and out2["rewritten_files"] == 0
    # a file deleted in FULL disappears from the manifest
    ice.delete(spark, root, filters=[("pid", "<", 3000)])
    keep, total = ice.scan_files(root)
    assert ice.scan(spark, root).count() == 5000
    with pytest.raises(ValueError):
        ice.delete(spark, root, filters=[])


def test_delete_null_rows_survive(spark, tmp_path):
    """Rows where the predicate is NULL are not matched — kept."""
    root = str(tmp_path / "t")
    df = _pts(spark, 20).withColumn(
        "score", F.when(F.col("pid") < 10, F.col("pid").cast("double")))
    ice.commit(df, root)
    ice.delete(spark, root, filters=[("score", "<", 5.0)])
    got = ice.scan(spark, root)
    assert got.count() == 15                       # 5 deleted, 10 null kept
    assert got.where(F.col("score").isNull()).count() == 10


def test_compact_bin_packs_small_files(spark, tmp_path):
    """Many small streaming-style appends collapse into few files; rows
    and values unchanged; pruning still works on the compacted layout;
    pre-compaction snapshot still time-travels."""
    root = str(tmp_path / "t")
    for seed in range(6):
        ice.commit(_pts(spark, 400, seed=seed), root, mode="append",
                   cluster_by=("lon", "lat"), n_files=4)
    pre_keep, pre_total = ice.scan_files(root)
    assert pre_total == 24
    pre_sum = ice.scan(spark, root).agg(F.sum("pid")).first()[0]
    pre_snap = ice.snapshots(root)[-1]["id"]
    out = ice.compact(spark, root, target_bytes=1 << 20)
    assert out["compacted_files"] == 24
    assert 0 < out["output_files"] < 24
    keep, total = ice.scan_files(root)
    assert total == out["output_files"]
    got = ice.scan(spark, root)
    assert got.count() == 2400
    assert got.agg(F.sum("pid")).first()[0] == pre_sum
    # zkey re-sort keeps manifest pruning effective (if multiple files)
    if total > 1:
        k2, t2 = ice.scan_files(
            root, filters=ice.bbox_filters(5.0, 40.0, 5.5, 40.5))
        assert len(k2) < t2 or t2 == 1
    assert ice.scan(spark, root, as_of=pre_snap).count() == 2400
    # idempotent: nothing further to compact
    out2 = ice.compact(spark, root, target_bytes=1 << 20)
    assert out2["compacted_files"] <= 1 or out2["output_files"] <= total


def test_upsert_merge_by_key(spark, tmp_path):
    """Upsert replaces matching keys, inserts new ones, rewrites only
    key-range-overlapping files, all in ONE atomic snapshot."""
    root = str(tmp_path / "t")
    ice.commit(_pts(spark, 8000).repartitionByRange(8, "pid")
               .sortWithinPartitions("pid"), root)
    # refresh keys 2000-2099 with kind=99, insert keys 8000-8049
    incoming = (spark.range(2000, 2100).union(spark.range(8000, 8050))
                .select(F.col("id").alias("pid"),
                        F.lit(0.0).alias("lon"), F.lit(0.0).alias("lat"),
                        F.lit(99).cast("int").alias("kind")))
    out = ice.upsert(incoming, root, key_col="pid")
    assert out["replaced_rows"] == 100
    assert out["inserted_rows"] == 50
    assert 0 < out["rewritten_files"] < 8
    got = ice.scan(spark, root)
    assert got.count() == 8050
    assert got.where("kind = 99").count() == 150
    assert got.where("pid = 2050").select("kind").first()[0] == 99
    assert got.where("pid = 1000").select("kind").first()[0] == 1000 % 7
    # keys are unique after the merge
    assert got.select("pid").distinct().count() == 8050
    # upsert with evolved schema (extra column) works additively
    extra = (spark.range(5).select(F.col("id").alias("pid"),
                                   F.lit(1.0).alias("lon"),
                                   F.lit(1.0).alias("lat"),
                                   F.lit(7).cast("int").alias("kind"),
                                   F.lit("v2").alias("rev")))
    ice.upsert(extra, root, key_col="pid")
    got = ice.scan(spark, root)
    assert got.count() == 8050
    assert got.where("rev = 'v2'").count() == 5
