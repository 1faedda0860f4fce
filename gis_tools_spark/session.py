"""SparkSession factory with the engine's standard configuration, and
the Python workers' runtime set-up.

Arrow on (all geometry UDFs are pandas/Arrow batched — input_hint: "no
per-row Python"), AQE on (runtime skew-join handling and coalescing for
the cell-key joins), sane shuffle-partition default for local mode.
"""

from __future__ import annotations

import os
import zipimport

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Task parallelism comes from Spark; numpy/BLAS inside each Python worker
# must stay single-threaded or N workers × M BLAS threads oversubscribes
# the box (measured: decode kernel 6.8s@local[8] → 10.9s@local[32] before
# this pin). Set before the JVM forks workers so they inherit it.
_THREAD_PINS = {"OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
                "MKL_NUM_THREADS": "1", "NUMEXPR_NUM_THREADS": "1",
                "VECLIB_MAXIMUM_THREADS": "1"}

# A Python worker calls importlib.invalidate_caches() at the start of every
# task (pyspark.worker_util.setup_spark_files), and CPython's
# zipimporter.invalidate_caches re-reads the whole zip directory. Workers
# import PySpark from pyspark.zip (~1,300 entries) through ~16 zipimporters,
# so each task re-read it ~16 times: ~0.2 s of CPU per task before any UDF
# ran (measured on 4 vCPUs). The hook below re-reads an archive only when
# its (mtime, size) stamp moved, so an addPyFile zip overwritten in place
# is still picked up. An importer without a stamp yet re-reads once.
_ZIP_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    # stat before the read: a write in between leaves the older stamp,
    # so the next call reads again
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and getattr(self, "_archive_stamp", None) == stamp:
        return
    _ZIP_INVALIDATE(self)
    self._archive_stamp = stamp


def _install_zip_stamp_hook() -> None:
    """Installed only inside a Spark Python worker (setup_spark_files
    sets the flag before any UDF is unpickled), so importing the package
    never patches a driver process. Idempotent."""
    from pyspark.core.files import SparkFiles
    if SparkFiles._is_running_on_worker:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


_install_zip_stamp_hook()


def get_spark(app_name: str = "gis_tools_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              master: str | None = None, **extra) -> SparkSession:
    """`master` overrides the default local[cpus] — used by the scaling
    harness to launch real multi-JVM executors via
    local-cluster[workers,cores,mem] (N vs 4N *executor* evidence).
    PySpark's DataFrame call-site capture is off (it adds py4j round
    trips to every ``F.*`` and Column call), so a DataFrame error loses
    its Python call-site line; ``extra`` confs are set last, and
    ``**{"spark.python.sql.dataFrameDebugging.enabled": "true"}`` turns
    it back on."""
    cpus = cpus or DEFAULT_CPUS
    for k, v in _THREAD_PINS.items():
        os.environ.setdefault(k, v)
    shuffle_partitions = shuffle_partitions or max(32, cpus)
    b = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048 rows ≈ 8 MB of image bytes per Arrow batch: smaller batches
        # keep the JVM→python feed pipelined (measured on the verify
        # stage: 29.6 s → 19.7 s at local-cluster[4,8]); 10k-row batches
        # stall workers while the JVM serializes the next 40 MB slab
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # image rows are CPU-heavy per byte (decode kernels): small splits
        # keep every core busy; 128m packs a whole 100k-image table into
        # ~5 tasks and caps scaling (measured). At 100TB the task count is
        # huge either way; 32m only adds scheduler overhead that AQE
        # coalescing absorbs.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # keep stdout clean for harnesses that tail-parse one JSON line
        # (the round-4 BENCH capture was overrun by progress bars)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _THREAD_PINS.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    for k, v in extra.items():
        b = b.config(k, v)
    return b.getOrCreate()
