"""Structured Streaming surface of the engine.

The reference is a batch system -- its closest analog is resumable
incremental processing (SURVEY.md section 2.8/3.2: resume serials,
idempotent writes).  This module provides the streaming re-expression:
the same windowed aggregations and manifest-style incremental semantics
over an event stream, with watermarks bounding state.

Batch/stream parity contract: ``windowed_agg`` on a stream and
``windowed_agg_batch`` on the same rows produce identical results once
the stream is drained (tested via the memory sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-based event stream (kafka-shaped in production; the parquet
    directory stands in for the topic here)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling window counts + decimal-exact sums per event_type;
    watermark bounds state for late data."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
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


def windowed_agg_batch(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Batch twin of windowed_agg (parity oracle)."""
    return (
        events.groupBy(
            F.window("ts", window).alias("win"), "event_type"
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


def run_stream_to_memory(
    spark: SparkSession,
    path: str,
    query_name: str = "events_windowed",
    window: str = "1 hour",
) -> DataFrame:
    """Drive the stream to completion synchronously (local smoke path:
    memory sink + processAllAvailable) and return the result table."""
    agg = windowed_agg(read_event_stream(spark, path), window=window)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def dedup_stream(
    events: DataFrame,
    keys=("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact-dedup on ingestion keys: the training-pipeline
    front door (drop replayed/duplicated events before they reach the
    corpus).  dropDuplicatesWithinWatermark keeps dedup state only for
    the watermark horizon, so state is bounded no matter how long the
    stream runs -- the streaming analog of the engine's batch
    fingerprint_dedup."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def dedup_batch_stats(events: DataFrame) -> DataFrame:
    """Batch twin of dedup_stream, folded to per-type counts + exact
    sums so the result is orderless and oracle-checkable: duplicates
    are full-row copies, so DISTINCT on the key set yields the same
    rows any engine would keep."""
    deduped = events.dropDuplicates(["event_id"])
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_v"),
    )
