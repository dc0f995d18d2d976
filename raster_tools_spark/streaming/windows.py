"""Windowed aggregation and ingestion dedup over the event table.

The reference is a batch system -- its closest analog is resumable
incremental processing (SURVEY.md section 2.8/3.2: resume serials,
idempotent writes).  These are the event-table operators an
event-time stream would run, executed as batch queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_agg_batch(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window counts + decimal-exact sums per
    event_type."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("sum_v"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "cnt",
            "sum_v",
        )
    )


def dedup_batch_stats(events: DataFrame) -> DataFrame:
    """Exact dedup on the ingestion key (drop replayed/duplicated
    events before they reach the corpus), folded to per-type counts +
    exact sums so the result is orderless and oracle-checkable:
    duplicates are full-row copies, so DISTINCT on the key set yields
    the same rows any engine would keep."""
    deduped = events.dropDuplicates(["event_id"])
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_v"),
    )
