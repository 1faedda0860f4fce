"""session.py's worker set-up: the zipimporter stamp hook that stops every
Python task from re-reading pyspark.zip's directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pandas as pd

from gis_tools_spark import session

REPO = Path(__file__).resolve().parent.parent


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_hook_rereads_only_changed_archives(tmp_path, monkeypatch):
    from pyspark.core.files import SparkFiles

    zp = str(tmp_path / "mods.zip")
    _write_zip(zp, ["gts_zip_m1"])
    monkeypatch.syspath_prepend(zp)
    for name in ("gts_zip_m1", "gts_zip_m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("gts_zip_m1").NAME == "gts_zip_m1"
    imp = sys.path_importer_cache[zp]
    assert isinstance(imp, zipimport.zipimporter)

    # restored at teardown; installing twice is a no-op
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    session._install_zip_stamp_hook()
    session._install_zip_stamp_hook()
    assert zipimport.zipimporter.invalidate_caches is session._invalidate_if_changed

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read_directory(archive))

    importlib.invalidate_caches()  # no stamp yet: each archive read once
    assert reads.count(zp) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(zp, ["gts_zip_m1", "gts_zip_m2"])  # size moves
    importlib.invalidate_caches()
    assert reads == [zp]
    assert importlib.import_module("gts_zip_m2").NAME == "gts_zip_m2"

    reads.clear()
    os.remove(zp)  # stat fails: fall back to the stdlib re-read
    imp.invalidate_caches()
    assert reads == [zp]
    assert imp.find_spec("gts_zip_m1") is None


def test_import_leaves_driver_zipimporter_alone():
    code = ("import zipimport; f = zipimport.zipimporter.invalidate_caches; "
            "import gis_tools_spark; "
            "assert zipimport.zipimporter.invalidate_caches is f; "
            "assert f.__module__ == 'zipimport'; print('ok')")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_worker_tasks_do_not_reread_pyspark_zip(spark):
    """Inside each Python worker, count zipimport._read_directory calls
    between consecutive probe tasks. A worker's first package task
    installs the hook and its next one stamps every zipimporter; once a
    task ends with every importer stamped, the next task's
    setup_spark_files (invalidate_caches) must read nothing."""
    def probe(it):
        import sys
        import zipimport as zi

        from gis_tools_spark import session as s
        st = zi.__dict__.setdefault("_gts_probe", {"reads": 0})
        if "orig" not in st:
            st["orig"] = zi._read_directory

            def counting(archive):
                st["reads"] += 1
                return st["orig"](archive)
            zi._read_directory = counting
        reads, st["reads"] = st["reads"], 0
        hooked = (zi.zipimporter.invalidate_caches
                  is getattr(s, "_invalidate_if_changed", None))
        for _ in it:
            pass
        stamped = all(hasattr(f, "_archive_stamp")
                      for f in list(sys.path_importer_cache.values())
                      if isinstance(f, zi.zipimporter))
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [reads],
                            "hooked": [hooked], "stamped": [stamped]})

    schema = "pid long, reads long, hooked boolean, stamped boolean"
    df = spark.range(0, 8, numPartitions=8)
    # the worker pool may hold more workers than one job uses: enough
    # jobs that some worker runs the probe after a fully stamped task
    runs = pd.concat([df.mapInPandas(probe, schema=schema).toPandas()
                      for _ in range(6)], ignore_index=True)
    assert runs["hooked"].all()
    after_stamped = runs.groupby("pid")["stamped"].shift(fill_value=False)
    checked = runs[after_stamped]
    assert len(checked) > 0
    assert checked["reads"].tolist() == [0] * len(checked), runs.to_string()
