"""Scattered-point -> grid interpolation (SURVEY.md 2.7 interpolation
family; reference griddata usage at roof.py:73-77, zvp2tif.py:66-77,
txt2tif.py docstring).

The reference interpolates with scipy's Delaunay griddata (linear,
nearest fallback).  scipy is not in this container and a distributed
Delaunay is not the Spark-first shape anyway; the engine provides the
two distributable classics over the SAME kNN ring-expansion join the
rest of the engine uses:

- ``nearest_grid``: value of the nearest point per grid pixel (the
  reference's own fallback method);
- ``idw_grid``: inverse-distance-squared weighting over the k nearest
  points, folded in a deterministic neighbor order so results are
  bit-identical across partitionings and engines;
- ``linear_grid_features``: the reference's actual griddata combo
  (Delaunay linear + nearest fallback, functions/triangulate.py) run
  PER FEATURE -- the reference's own granularity (one griddata call per
  building footprint, roof.py:73-77), so each triangulation is local to
  one Spark task and the distributed axis is the feature set.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn as op_knn
from ..operators.tile import cell_col


def grid_centers(
    spark: SparkSession,
    x0: float,
    y_top: float,
    n_cols: int,
    n_rows: int,
    edge: float,
) -> DataFrame:
    """Pixel-center query grid (gi, gj, cx, cy, cell), generated
    distributedly from spark.range (no driver materialization)."""
    g = spark.range(0, n_cols * n_rows).select(
        (F.col("id") / n_cols).cast("long").alias("gi"),
        (F.col("id") % n_cols).alias("gj"),
    )
    g = g.select(
        "gi", "gj",
        (F.lit(x0) + (F.col("gj") + 0.5) * edge).alias("cx"),
        (F.lit(y_top) - (F.col("gi") + 0.5) * edge).alias("cy"),
    )
    return g.withColumn(
        "cell", cell_col(F.col("cx"), F.col("cy"), 9)
    ).withColumn("qid", F.col("gi") * n_cols + F.col("gj"))


def nearest_grid(grid: DataFrame, points: DataFrame) -> DataFrame:
    """grid(qid, gi, gj, cx, cy, cell) x points(cid, cx, cy, z, cell)
    -> (gi, gj, z) of the nearest point (ties -> lowest point id)."""
    nn = op_knn.knn_join(
        grid.select("qid", "cx", "cy", "cell"),
        points.select("cid", "cx", "cy", "cell"),
        k=1, max_radius=16,
    )
    z = points.select(F.col("cid"), F.col("z"))
    return (
        nn.join(z, "cid")
        .join(grid.select("qid", "gi", "gj"), "qid")
        .select("gi", "gj", "z")
    )


def idw_grid(grid: DataFrame, points: DataFrame) -> DataFrame:
    """IDW over the 4 nearest points: z = sum(w_i z_i) / sum(w_i),
    w = 1 / (d^2 + 1e-12).  The fold runs in rank order (sorted struct
    array + HOF aggregate), so the float result is independent of
    partitioning and reproducible by the SQL oracle."""
    nn = op_knn.knn_join(
        grid.select("qid", "cx", "cy", "cell"),
        points.select("cid", "cx", "cy", "cell"),
        k=4, max_radius=16,
    )
    z = points.select("cid", "z")
    joined = nn.join(z, "cid").withColumn(
        "w", 1.0 / (F.col("dist") * F.col("dist") + F.lit(1e-12))
    )
    per_q = joined.groupBy("qid").agg(
        F.sort_array(
            F.collect_list(F.struct("rn", "w", "z"))
        ).alias("terms")
    )
    num = F.aggregate(
        "terms", F.lit(0.0), lambda acc, t: acc + t["w"] * t["z"]
    )
    den = F.aggregate(
        "terms", F.lit(0.0), lambda acc, t: acc + t["w"]
    )
    out = per_q.select(
        "qid",
        (F.floor(num / den * 1000000.0) / 1000000.0).alias("z"),
    )
    return out.join(
        grid.select("qid", "gi", "gj"), "qid"
    ).select("gi", "gj", "z")


_LINEAR_GRID_SCHEMA = "feat_id long, gi int, gj int, z double"


def linear_grid_features(points: DataFrame) -> DataFrame:
    """points(feat_id, pid, x, y, z) -> per-feature pixel-center grid
    interpolation (feat_id, gi, gj, z): Delaunay-linear inside the
    feature's convex hull, nearest point (ties -> lowest pid) outside.

    The grid covers the feature's point bbox padded by 1.0, in 1.0
    pixels; its
    anchor and the pixel-center math are the engine's usual closed
    forms, so an oracle engine can regenerate them exactly.  Planar
    z-fields are reproduced exactly inside the hull regardless of the
    triangulation, which is what queries.grid_linear checks.
    """
    from .triangulate import griddata_linear_nearest

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pid")
        pts = pdf[["x", "y"]].to_numpy(dtype=np.float64)
        z = pdf["z"].to_numpy(dtype=np.float64)
        x0 = float(pts[:, 0].min()) - 1.0
        y_top = float(pts[:, 1].max()) + 1.0
        # ceil, not round: the grid must COVER the padded bbox for
        # non-integral extents too
        n_cols = int(math.ceil(float(pts[:, 0].max()) + 1.0 - x0))
        n_rows = int(math.ceil(
            y_top - (float(pts[:, 1].min()) - 1.0)
        ))
        gj, gi = np.meshgrid(np.arange(n_cols), np.arange(n_rows))
        gi = gi.ravel()
        gj = gj.ravel()
        cx = x0 + (gj + 0.5)
        cy = y_top - (gi + 0.5)
        vals = griddata_linear_nearest(pts, z, cx, cy)
        return pd.DataFrame(
            {
                "feat_id": int(pdf["feat_id"].iloc[0]),
                "gi": gi.astype(np.int32),
                "gj": gj.astype(np.int32),
                "z": vals,
            }
        )

    n_parts = points.sparkSession.sparkContext.defaultParallelism
    return points.repartition(n_parts, "feat_id").groupBy(
        "feat_id"
    ).applyInPandas(run, schema=_LINEAR_GRID_SCHEMA)


_TILE_GRID_SCHEMA = (
    "cell_id long, x0 double, y_top double, w int, h int, fmt string, "
    "bytes binary, n_points long"
)


def linear_grid_tiles(points: DataFrame) -> DataFrame:
    """Distributed linear gridding of a scattered point cloud to
    canonical f4 tiles (reference zvp2tif.py:55-80: griddata linear
    with nodata fill outside the hull; f4-min nodata).

    Scale shape: every point lands in its own res-10 tile cell AND in
    every neighbor cell within a 32 m halo (cheap closed-form cover
    explode), so each tile triangulates ONLY a local cloud; one
    groupBy(cell) shuffle of point rows, no raster bytes ever move.
    Correct whenever no Delaunay triangle near a tile spans more than
    the halo -- for sensor clouds (points every ~0.5 m) a 32 m halo is
    3 orders of magnitude of slack; sparse clouds need a larger halo
    or the per-feature path (linear_grid_features).

    Pixels outside the LOCAL hull are nodata (zvp2tif's fill_value).
    """
    import numpy as np

    from .. import codecs
    from ..grid import CELL_SIZE, cell_bounds, cell_edge, covering_cells
    from .triangulate import dedup_points, interp_linear

    nodata = float(np.finfo("f4").min)

    @F.pandas_udf("array<long>")
    def halo_cells(xs, ys):
        import pandas as pd

        out = []
        for x, y in zip(xs, ys):
            out.append(
                covering_cells((x - 32.0, x + 32.0, y - 32.0, y + 32.0), 10)
            )
        return pd.Series(out)

    exploded = points.withColumn(
        "cell_id", F.explode(halo_cells("x", "y"))
    )

    tile_px = int(cell_edge(10) / CELL_SIZE)

    def build(pdf):
        import pandas as pd

        cell_id = int(pdf["cell_id"].iloc[0])
        x1, x2, y1, y2 = cell_bounds(cell_id)
        pdf = pdf.sort_values("pid")
        pts = pdf[["x", "y"]].to_numpy(dtype=np.float64)
        z = pdf["z"].to_numpy(dtype=np.float64)
        gj, gi = np.meshgrid(np.arange(tile_px), np.arange(tile_px))
        cx = x1 + (gj.ravel() + 0.5) * CELL_SIZE
        cy = y2 - (gi.ravel() + 0.5) * CELL_SIZE
        dpts, dz = dedup_points(pts, z)
        vals = interp_linear(dpts, dz, cx, cy)
        arr = vals.reshape(tile_px, tile_px)
        arr = np.where(np.isnan(arr), nodata, arr).astype(np.float32)
        if (arr == np.float32(nodata)).all():
            # halo-only cells with no coverage: skip-empty convention
            return pd.DataFrame(columns=[
                "cell_id", "x0", "y_top", "w", "h", "fmt", "bytes",
                "n_points",
            ])
        return pd.DataFrame(
            {
                "cell_id": [cell_id],
                "x0": [x1],
                "y_top": [y2],
                "w": [tile_px],
                "h": [tile_px],
                "fmt": ["rawz"],
                "bytes": [codecs.rawz_encode(arr)],
                "n_points": [len(pts)],
            }
        )

    n_parts = points.sparkSession.sparkContext.defaultParallelism
    return exploded.repartition(n_parts, "cell_id").groupBy(
        "cell_id"
    ).applyInPandas(build, schema=_TILE_GRID_SCHEMA)
