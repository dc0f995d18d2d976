"""Per-partition lineage manifest + anti-join resume (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Reference semantics re-expressed:

- skip-existing idempotence (retile.py:42-43, rasterize2.py:193-194,
  fill/fill.py:201-203 ...) -> ``left_anti`` join of the work list
  against the manifest of completed units;
- resume serials (.pro files, rextract.py:92-105,355-362; resume.txt,
  extract.py:545-558) -> manifest rows appended per completed unit;
- lockfiles (rextract.py:579-618) -> append-only parquet commits (an
  Iceberg snapshot per commit on a real cluster; plain parquet append
  in this sandbox -- the anti-join makes replays idempotent even if a
  unit is recorded twice).

A work unit here is a coarse grid cell (default r7 = 1024 m block,
matching the reference's block-granularity Index, rextract.py:108-141).
Each completed unit records metrics: rows, bytes decoded, seconds,
skew ratio inputs (rows per unit).
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "job_id string, unit long, rows long, bytes long, secs double, "
    "committed_at double"
)


def read_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Completed units; empty frame if no manifest yet."""
    if not os.path.isdir(manifest_dir):
        return spark.createDataFrame([], schema=MANIFEST_SCHEMA)
    try:
        return spark.read.parquet(manifest_dir)
    except Exception:
        return spark.createDataFrame([], schema=MANIFEST_SCHEMA)


def pending_units(
    work: DataFrame, spark: SparkSession, manifest_dir: str, job_id: str,
    unit_col: str = "unit",
) -> DataFrame:
    """work list minus completed units: the P3 skip-existing filter as a
    left_anti join (SURVEY.md section 2.2).  The manifest holds one
    small row per unit, so it is broadcast: the work rows (payload
    bytes included) are never shuffled just to be filtered."""
    done = read_manifest(spark, manifest_dir).filter(
        F.col("job_id") == job_id
    ).select(F.col("unit").alias(unit_col)).distinct()
    return work.join(F.broadcast(done), unit_col, "left_anti")


def run_with_manifest(
    spark: SparkSession,
    work_df: DataFrame,
    unit_col: str,
    process: Callable[[DataFrame], DataFrame],
    out_dir: str,
    manifest_dir: str,
    job_id: str,
) -> DataFrame:
    """Resume-aware job runner.

    1. anti-join ``work_df`` against the manifest -> pending units;
    2. run ``process`` on the pending slice, write outputs partitioned
       by unit to ``out_dir`` (append mode -- each unit's files land
       under its own partition directory, so replays of incomplete
       units overwrite-by-partition rather than duplicate);
    3. append one manifest row per completed unit with metrics.

    Returns the manifest increment that was committed.
    """
    pending = pending_units(work_df, spark, manifest_dir, job_id, unit_col)
    if pending.isEmpty():
        return read_manifest(spark, manifest_dir).filter(
            F.col("job_id") == job_id
        )

    t0 = time.time()
    out = process(pending)
    (
        out.withColumn("_unit", F.col(unit_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_unit")
        .parquet(out_dir)
    )
    secs = time.time() - t0

    # metrics per unit from the written output (cheap scan of the
    # committed files -- what was durably written is what is recorded).
    # Every PENDING unit gets a manifest row -- a unit whose process()
    # output is empty (e.g. all tiles skip-empty) records rows=0, so
    # resume converges instead of re-processing empties forever.
    written = spark.read.parquet(out_dir)
    bytes_col = (
        F.sum(F.octet_length("bytes")) if "bytes" in written.columns
        else F.lit(0)
    )
    stats = written.groupBy(F.col("_unit").alias("unit")).agg(
        F.count(F.lit(1)).alias("rows"),
        bytes_col.alias("bytes"),
    )
    inc = (
        pending.select(F.col(unit_col).alias("unit")).distinct()
        .join(stats, "unit", "left")
        .withColumn("rows", F.coalesce(F.col("rows"), F.lit(0)))
        .withColumn("bytes", F.coalesce(F.col("bytes"), F.lit(0)))
        .withColumn("job_id", F.lit(job_id))
        .withColumn("secs", F.lit(float(secs)))
        .withColumn("committed_at", F.lit(time.time()))
        .select("job_id", "unit", "rows", "bytes", "secs", "committed_at")
    )
    inc.write.mode("append").parquet(manifest_dir)
    return inc


def skew_metrics(manifest: DataFrame) -> DataFrame:
    """Per-job skew ratio: max/mean rows per unit (the metric the
    salting threshold feeds on)."""
    return manifest.groupBy("job_id").agg(
        F.count(F.lit(1)).alias("units"),
        F.sum("rows").alias("rows"),
        (F.max("rows") / F.avg("rows")).alias("skew_ratio"),
        F.sum("bytes").alias("bytes"),
    )
