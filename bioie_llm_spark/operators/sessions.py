"""Gap-based sessionization as pure window algebra (no UDF, no state):

    new_session = (ts - lag(ts) > gap)           -- per user, time-ordered
    session_id  = running sum of new_session      -- cumulative window
    then one groupBy (user, session_id) for session facts.

Two window passes over the same (user_id, ts) ordering — Spark reuses the
sort across them — plus one hash agg. This is the batch form a
training-data pipeline runs over event logs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """events -> one row per session: (user_id, session_id, session_start,
    session_end, n_events, total_value)."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap = F.lit(gap_minutes * 60)
    # TIMESTAMP_NTZ needs a hop through TIMESTAMP before epoch seconds
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    with_flag = events.withColumn(
        "__new",
        F.when(epoch - F.lag(epoch).over(w) > gap, 1).otherwise(0),
    )
    with_sid = with_flag.withColumn(
        "session_id",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return with_sid.groupBy(user_col, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
