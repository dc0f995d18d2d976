"""Mosaic / stack-merge operators (SURVEY.md S1/J5).

Reference semantics:

- ``Group.read`` merges an ordered raster stack *last-over-earlier where
  active* (raster_tools/groups.py:95-98: later datasets overwrite where
  their pixels are data);
- ``merge.py:40-70`` merges two rasters with the same rule + offset;
- ``rebase.py:55-66`` masks pixels equal to a base layer (keep only
  changed pixels).

Spark-first: the stack is rows ``(cell_id, layer, value)``.  Merge =
pick the highest-layer non-null value per cell -- a ``max_by``; NO
pixel loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_last_wins(df: DataFrame) -> DataFrame:
    """Last-active-wins stack merge at cell granularity
    (groups.py:95-98 semantics): per key, the value of the highest
    layer whose value is non-null.

    Implemented with ``max_by`` over the non-null rows -- a single
    partial-aggregating hash aggregate (no window sort, no shuffle
    beyond the groupBy), which is the plan that survives 10^12 rows.
    """
    # two-level HASH aggregation (max over a struct falls back to
    # SortAggregate, which costs a per-partition sort at scale):
    # level 1 collapses duplicate layers deterministically (max value
    # per (key, layer)), level 2 is a plain max_by -- both levels are
    # hash aggs with map-side partial combine.
    active = df.filter(F.col("value").isNotNull())
    per_layer = active.groupBy("cell_id", "layer").agg(
        F.max("value").alias("_v"),
        F.count(F.lit(1)).alias("_n"),
    )
    return per_layer.groupBy("cell_id").agg(
        F.expr("max_by(_v, layer)").alias("value"),
        F.max("layer").alias("top_layer"),
        F.sum("_n").alias("n_layers"),
    )


def rebase(base: DataFrame, update: DataFrame) -> DataFrame:
    """Keep only cells where update differs from base
    (rebase.py:55-66: equal pixels become nodata/null).

    Full-outer join on the cell key; null-safe comparison so a cell
    missing from base counts as changed.
    """
    b = base.select(F.col("cell_id"), F.col("value").alias("_base"))
    u = update.select(F.col("cell_id"), F.col("value").alias("_update"))
    joined = u.join(b, "cell_id", "left_outer")
    return joined.filter(
        ~F.col("_update").eqNullSafe(F.col("_base"))
    ).select("cell_id", F.col("_update").alias("value"))

