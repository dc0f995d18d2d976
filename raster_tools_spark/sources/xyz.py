"""XYZ point-cloud text source (SURVEY.md S8).

Reference semantics (txt2tif.py:26-72): whitespace-separated "x y z"
lines are parsed, points are binned onto a grid anchored at the
point cloud's own envelope, and duplicate points within a bin reduce
by min/max (the reference layers duplicates along an axis and reduces
with np.ma.min/max -- a per-bin min/max by construction).

Spark-first: the parse is JVM regexp_split + casts (whole-stage
codegen, no Python), binning is floor arithmetic over a broadcast
1-row envelope aggregate, and the reduce is one hash agg.  One
deviation from the reference, documented: the grid top is anchored at
``ceil(ymax/H)*H`` -- the reference floors it and relies on u4
wraparound never seeing a point above the origin, which only holds for
pre-aligned inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_xyz(lines: DataFrame) -> DataFrame:
    parts = F.split(F.trim(F.col("value")), r"\s+")
    # try_cast: malformed lines become NULL and are filtered (ANSI-mode
    # cast would abort the whole scan on one bad line).  The casts are
    # packed into an exploded single-element struct so the null filter
    # stays ABOVE a Generate: Catalyst cannot push predicates below a
    # generator's output, so the regex split+casts are evaluated once
    # per line -- pushing the three isNotNull conjuncts down would
    # re-substitute (and re-evaluate) the split into every conjunct
    # (measured 4.3 s -> 0.7 s on a 1M-line parse).
    return lines.select(
        F.explode(
            F.array(
                F.struct(
                    F.element_at(parts, 1).try_cast("double").alias("x"),
                    F.element_at(parts, 2).try_cast("double").alias("y"),
                    F.element_at(parts, 3).try_cast("double").alias("z"),
                )
            )
        ).alias("_s")
    ).select("_s.*").filter(
        F.col("x").isNotNull()
        & F.col("y").isNotNull()
        & F.col("z").isNotNull()
    )


def bin_stats(
    points: DataFrame, width: float = 0.5, height: float = 0.5
) -> DataFrame:
    """Grid-bin the point cloud: (row, col, z_min, z_max, n) with the
    origin snapped to the envelope (txt2tif.py:30-33)."""
    env = points.agg(
        (F.floor(F.min("x") / width) * width).alias("p"),
        (F.ceil(F.max("y") / height) * height).alias("q"),
    )
    binned = points.crossJoin(F.broadcast(env)).select(
        F.floor((F.col("x") - F.col("p")) / width).alias("col"),
        F.floor((F.col("q") - F.col("y")) / height).alias("row"),
        "z",
    )
    return binned.groupBy("row", "col").agg(
        F.min("z").alias("z_min"),
        F.max("z").alias("z_max"),
        F.count(F.lit(1)).alias("n"),
    )
