"""Per-partition lineage manifest + anti-join resume (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Reference semantics re-expressed:

- skip-existing idempotence (retile.py:42-43, rasterize2.py:193-194,
  fill/fill.py:201-203 ...) -> ``left_anti`` join of the work list
  against the manifest of completed units;
- resume serials (.pro files, rextract.py:92-105,355-362; resume.txt,
  extract.py:545-558) -> one manifest row per completed unit, committed
  only after that unit's output;
- lockfiles (rextract.py:579-618) -> one parquet file per manifest
  commit (an Iceberg snapshot per commit on a real cluster; plain
  parquet append in this sandbox -- the anti-join makes replays
  idempotent even if a unit is recorded twice).

A work unit here is a coarse grid cell (default r7 = 1024 m block,
matching the reference's block-granularity Index, rextract.py:108-141).
Each completed unit records the output rows and the payload bytes
(``octet_length(bytes)``) written under it, and the seconds the
output write of its commit took.
"""

from __future__ import annotations

import os
import time
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "job_id string, unit long, rows long, bytes long, secs double, "
    "committed_at double"
)


def read_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Completed units.  A directory holding no committed data file
    (none yet, or only ``_temporary/`` from a crashed first commit) is
    an empty manifest; any other read error raises.  The declared
    schema spares the read a schema-inference job."""
    if not os.path.isdir(manifest_dir) or all(
        f.startswith(("_", ".")) for f in os.listdir(manifest_dir)
    ):
        return spark.createDataFrame([], schema=MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)


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

    1. anti-join ``work_df`` against the manifest and collect the
       pending unit ids to the driver once;
    2. run ``process`` on the pending slice and overwrite its units'
       partitions of ``out_dir`` (dynamic overwrite, one file per unit:
       a replay of an incomplete unit replaces its output instead of
       duplicating it);
    3. read back rows and payload bytes of the pending partitions only,
       and commit one manifest row per pending unit as one file.  A
       crash before this commit leaves the units pending; the replay
       rewrites them identically.

    Returns the manifest increment that was committed.
    """
    pending = pending_units(work_df, spark, manifest_dir, job_id, unit_col)
    units = sorted(r[0] for r in pending.select(unit_col).distinct().collect())
    if not units:
        return read_manifest(spark, manifest_dir).filter(
            F.col("job_id") == job_id
        )

    t0 = time.time()
    out = process(pending).withColumn("_unit", F.col(unit_col))
    (
        out.repartition("_unit")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_unit")
        .parquet(out_dir)
    )
    secs = time.time() - t0

    # record what was durably written, one row per pending unit (rows=0
    # when its output is empty, e.g. all tiles skip-empty, so resume
    # converges); the schema is given as an all-empty commit has no file.
    written = spark.read.schema(out.schema).parquet(out_dir)
    written = written.filter(F.col("_unit").isin(units))
    bytes_col = (
        F.sum(F.octet_length("bytes")) if "bytes" in written.columns
        else F.lit(0)
    )
    got = {r[0]: (r[1], r[2] or 0) for r in written.groupBy("_unit").agg(
        F.count(F.lit(1)), bytes_col).collect()}
    now = time.time()
    inc = spark.createDataFrame(pd.DataFrame(
        [(job_id, u, *got.get(u, (0, 0)), secs, now) for u in units],
        columns=["job_id", "unit", "rows", "bytes", "secs", "committed_at"],
    ), schema=MANIFEST_SCHEMA)
    inc.coalesce(1).write.mode("append").parquet(manifest_dir)
    return inc
