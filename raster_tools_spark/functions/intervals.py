"""Interval algebra over event tables, pure JVM: union length /
island merge (gaps-and-islands), the time-coverage primitive behind
SLA gap analysis, sensor-uptime rollups, and session stitching.

Extends the engine's J9 interval/range-join family from point-in-
interval lookups to interval SET arithmetic.  Plan shape: one hash
shuffle on the key; the running-max break detection, island numbering
and both aggregations all run inside the same sorted partition --
every expression whole-stage-codegen'd, no Python.

Determinism note: rows ordered by (start, end); equal starts cannot
change island assignment (any interval with the same start joins its
predecessor's island because end >= start), so the output is stable
under shuffle nondeterminism without a unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_NEG_INF = -(1 << 62)


def interval_union(df: DataFrame, key_col: str = "key") -> DataFrame:
    """Merge overlapping/touching [s, e) intervals (columns s and e)
    per key.

    Returns one row per key: (key, n_islands, covered, longest,
    max_merged) -- island count, total covered length, longest island
    length, and the largest number of raw intervals merged into one
    island.  Touching intervals (s == prev max e) merge; a strictly
    positive gap starts a new island.
    """
    k, s, e = F.col(key_col), F.col("s"), F.col("e")
    w_prev = (
        Window.partitionBy(key_col)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        s > F.coalesce(F.max(e).over(w_prev), F.lit(_NEG_INF)), 1
    ).otherwise(0)
    marked = df.select(
        k.alias("_k"), s.alias("_s"), e.alias("_e"), brk.alias("_b")
    )
    islands = marked.withColumn(
        "_island", F.sum("_b").over(
            Window.partitionBy("_k").orderBy("_s", "_e")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    )
    per_island = islands.groupBy("_k", "_island").agg(
        F.min("_s").alias("_is"),
        F.max("_e").alias("_ie"),
        F.count(F.lit(1)).alias("_n"),
    )
    return per_island.groupBy("_k").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("_ie") - F.col("_is")).alias("covered"),
        F.max(F.col("_ie") - F.col("_is")).alias("longest"),
        F.max("_n").alias("max_merged"),
    ).withColumnRenamed("_k", key_col)
