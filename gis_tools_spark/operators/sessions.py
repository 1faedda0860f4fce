"""Event sessionization (training-pipeline op; no reference analog —
the build brief's event-stream family alongside windowed aggregates).

Pure window expressions (JVM codegen end-to-end, no Python): a new
session starts where the gap to the previous event of the same key
exceeds ``gap_s``; the session index is the running count of session
starts. Scale: one shuffle on the key columns; everything else is
partition-local window math — the same plan at 10^12 events.

The form is deterministic and SQL-mirrorable (lag + cumulative sum),
so it can be value-gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize(df: DataFrame, *, ts_col: str = "ts", gap_s: int = 1800,
               key_cols: tuple[str, ...] = ("event_type",),
               order_tiebreak: str | None = None) -> DataFrame:
    """Assign a per-key session index to every row.

    Ordering within a key is (ts, order_tiebreak) — pass a unique column
    for deterministic results when timestamps tie. Adds columns
    ``__gap_s`` (seconds since previous event, null for the first) and
    ``session_idx`` (0-based per key).
    """
    order = [F.col(ts_col)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    # TIMESTAMP_NTZ has no direct double cast; routing through timestamp
    # (session tz, UTC in this engine) gives epoch seconds
    gap = (F.col(ts_col).cast("timestamp").cast("double")
           - prev.cast("timestamp").cast("double"))
    new_sess = F.when(prev.isNull() | (gap > gap_s), 1).otherwise(0)
    run = (Window.partitionBy(*key_cols).orderBy(*order)
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (df.withColumn("__gap_s", gap)
            .withColumn("session_idx", F.sum(new_sess).over(run) - 1))


def session_stats(df: DataFrame, *, ts_col: str = "ts", gap_s: int = 1800,
                  key_cols: tuple[str, ...] = ("event_type",),
                  value_col: str | None = None,
                  order_tiebreak: str | None = None) -> DataFrame:
    """One row per session: key cols + session_idx + n_events +
    start/end epoch seconds + duration + (optionally) value sum."""
    s = sessionize(df, ts_col=ts_col, gap_s=gap_s, key_cols=key_cols,
                   order_tiebreak=order_tiebreak)
    ep = F.col(ts_col).cast("timestamp").cast("double")
    aggs = [F.count("*").alias("n_events"),
            F.min(ep).alias("start_s"),
            F.max(ep).alias("end_s")]
    if value_col:
        aggs.append(F.sum(value_col).alias("sum_value"))
    out = s.groupBy(*key_cols, "session_idx").agg(*aggs)
    return out.withColumn("duration_s", F.col("end_s") - F.col("start_s"))
