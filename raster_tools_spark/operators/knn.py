"""Grid-partitioned kNN via ring expansion (SURVEY.md J6).

The reference's kNN is a cKDTree over roof points (roof.py:136-158) and
a nearest-part search (upstream.py:185-191) -- single-process.  The
north rule's distributed form: candidates come from the query point's
own grid cell, expanding ring-by-ring until k neighbors are found and
provably correct (the kth distance is within the ring radius already
searched).

Implementation: iterative driver loop over radii; each pass is one
equi-join of unresolved queries x candidate cells + per-query top-k.
Two scale properties:

- INCREMENTAL rings: round r probes only the cells at Chebyshev
  distance (r_prev, r] -- the disk searched by earlier rounds is never
  re-joined; the carried top-k pool (k rows per unresolved query)
  replaces it.  Total probed cells across all rounds == one disk at
  the final radius.
- rounds grow the radius geometrically, so a query in a sparse region
  costs O(log R) joins, and each join shuffles only the unresolved
  queries (shrinking every round).

Finality is STRICT: kth < radius * edge.  At exactly radius * edge an
unsearched cell at Chebyshev distance radius+1 could still contain a
candidate at the same distance whose (dist, cid) tie-break order beats
the accepted kth, so ties force one more ring expansion.
"""

from __future__ import annotations

from typing import List

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..grid import cell_edge, ring_cells


def _ring_range_udf(lo: int, hi: int):
    """Cells at Chebyshev distance in [lo, hi] of each input cell."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def rings(cell: pd.Series) -> pd.Series:
        def expand(c: int) -> List[int]:
            out: List[int] = []
            for r in range(lo, hi + 1):
                out.extend(ring_cells(int(c), r))
            return out

        return cell.map(expand)

    return rings


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 4,
    max_radius: int = 8,
) -> DataFrame:
    """For each query point, the k nearest candidate points.

    ``queries``: (qid, cx, cy, cell) / ``candidates``: (cid, cx, cy,
    cell) with ``cell`` the packed grid cell at res 9.  Distance is
    Euclidean; self-matches (qid == cid) are NOT excluded -- filter
    upstream if undesired.

    Correctness rule: a result set is final once the kth distance is
    STRICTLY LESS than ``radius * edge`` -- every unsearched cell lies
    at least that far away, and the strict inequality protects the
    (dist, cid) tie-break against an unseen equidistant candidate.
    """
    edge = cell_edge(9)
    q = queries.select(
        "qid",
        F.col("cx").alias("qx"),
        F.col("cy").alias("qy"),
        F.col("cell").alias("qcell"),
    )
    c = candidates.select(
        "cid",
        F.col("cx").alias("nx"),
        F.col("cy").alias("ny"),
        F.col("cell").alias("ccell"),
    )

    unresolved = q
    # carried candidate pool: the current top-k rows of each unresolved
    # query (at most k rows/query -- the only state between rounds)
    pool: DataFrame | None = None
    results = None
    prev_radius = -1  # nothing searched yet
    radius = 1
    w = Window.partitionBy("qid").orderBy(
        F.col("dist").asc(), F.col("cid").asc()
    )
    while radius <= max_radius:
        fresh = (
            unresolved.withColumn(
                "probe",
                F.explode(
                    _ring_range_udf(prev_radius + 1, radius)(F.col("qcell"))
                ),
            )
            .join(c, F.col("probe") == F.col("ccell"))
            .withColumn(
                "dist",
                # explicit products, not pow(x, 2): the DuckDB oracle
                # writes (qx-nx)*(qx-nx), and IEEE multiply+add+sqrt of
                # identical expressions is bit-identical cross-engine
                F.sqrt(
                    (F.col("qx") - F.col("nx"))
                    * (F.col("qx") - F.col("nx"))
                    + (F.col("qy") - F.col("ny"))
                    * (F.col("qy") - F.col("ny"))
                ),
            )
            .select("qid", "qx", "qy", "qcell", "cid", "dist")
        )
        cand = fresh if pool is None else fresh.unionByName(pool)
        topk = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("qid", "qx", "qy", "qcell", "cid", "dist", "rn")
        )
        # final iff k found AND kth distance strictly inside the ring
        per_q = topk.groupBy("qid").agg(
            F.count(F.lit(1)).alias("found"),
            F.max("dist").alias("kth"),
        )
        guarantee = float(radius) * edge
        done_q = per_q.filter(
            (F.col("found") == k) & (F.col("kth") < guarantee)
        ).select("qid")
        if radius >= max_radius:
            # last round: accept whatever was found (bounded search)
            done_q = per_q.select("qid")
        topk = topk.localCheckpoint(eager=True)
        batch = topk.join(done_q, "qid", "left_semi").select(
            "qid", "cid", "dist", "rn"
        )
        results = batch if results is None else results.unionByName(batch)
        unresolved = unresolved.join(done_q, "qid", "left_anti")
        unresolved = unresolved.localCheckpoint(eager=True)
        pool = topk.join(done_q, "qid", "left_anti").drop("rn")
        if unresolved.isEmpty():
            break
        prev_radius = radius
        radius *= 2
    return results

