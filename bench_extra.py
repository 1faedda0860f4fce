"""Per-query isolation harness (guide §1.4) — NOT the frozen bench.py.

Times individual declared queries (by name) with the same session
config and warmup as bench.py, using df.count() exactly like bench.py's
_count so numbers are comparable, and optionally a noop sink
(--noop) to time full materialization of every column. Prints one JSON
line per query with min/all timings.

Usage:
    python bench_extra.py q1 q2 ...        # count() timing, REPS min
    python bench_extra.py --noop q1 ...    # noop-sink timing
    python bench_extra.py --explain q1     # dump .explain("formatted")
"""

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    noop = "--noop" in args
    explain = "--explain" in args
    names = [a for a in args if not a.startswith("--")]

    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from gis_tools_spark import fixtures, get_spark
    from gis_tools_spark.operators.sjoin import pip_join

    spark = get_spark(app_name="gis_tools_spark_bench_extra", cpus=CPUS)

    import pandas as pd
    from pyspark.sql import types as TT

    @F.pandas_udf(TT.LongType())
    def _warm(x: pd.Series) -> pd.Series:
        import numpy  # noqa: F401
        import gis_tools_spark.operators.sjoin  # noqa: F401
        import gis_tools_spark.raster.kernels  # noqa: F401
        return x

    spark.range(0, CPUS * 2, numPartitions=CPUS * 2).select(_warm("id")).count()
    from gis_tools_spark.sources import driver_tables as DT
    DT.events_points(spark, SF_DIR).count()
    DT.nation_zones(spark, SF_DIR).count()
    for tbl in ("documents", "lineitem"):
        spark.read.parquet(f"{SF_DIR}/{tbl}.parquet").count()
    wpts = spark.createDataFrame(fixtures.gen_points(200)[["pid", "lon", "lat"]])
    wz = fixtures.gen_zones(4)
    wzones = spark.createDataFrame(wz[["gid", "nom", "geometry_wkb"]])
    pip_join(wpts, wzones, strategy="cell").count()
    pip_join(wpts, wzones, strategy="broadcast").count()

    qs = E.queries()
    for name in names:
        if explain:
            df = qs[name](spark, SF_DIR)
            print(f"===== {name} =====")
            df.explain("formatted")
            continue
        samples = []
        n = None
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                n = df.count()
            samples.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(json.dumps({"q": name, "min": min(samples),
                          "samples": samples, "rows": n,
                          "mode": "noop" if noop else "count"}),
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
