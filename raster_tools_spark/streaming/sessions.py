"""Per-user SESSIONIZATION over the event table (SURVEY.md section
2.8 "streaming-state" surface).

The reference's closest analog is its resume-serial bookkeeping --
long-running per-key state advanced by every new record.  Here the
session boundaries come from plain window functions: a session starts
wherever the gap from the user's previous event exceeds GAP_SECONDS.
``sessionize_batch`` is the CORRECTNESS-gate query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

GAP_SECONDS = 1800


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Gap-based sessions per user via window functions.
    Returns (user_id, session_start, session_end, n_events, sum_v)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    marked = events.select(
        "user_id", "ts", "event_id", "value"
    ).withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("timestamp").cast("double")
            - F.lag(F.col("ts").cast("timestamp").cast("double")).over(w)
            > float(GAP_SECONDS),
            1,
        )
        .otherwise(0)
        .cast("long"),
    ).withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return marked.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_v"),
    ).drop("session_no")
