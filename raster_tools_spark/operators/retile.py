"""Retile: assemble source images into canonical output tiles
(SURVEY.md section 3.1 -- the reference's flagship pipeline).

Reference semantics re-expressed per step:

- target grid = canonical cells (retile's tile-index shapefile,
  retile.py:80 -> here the quadtree r10 grid);
- per output tile, window-place every overlapping source image using
  the EXACT inverse-affine grid math (``GeoTransform.shifted`` +
  ``get_indices``, utils.py:82-92,114-144 -- bit-exact port in
  grid.py), pad with nodata outside coverage (groups.py:77-94);
- stack merge last-over-earlier where active (groups.py:95-98); layer
  order = image_id (the reference sorts stack members by name,
  rasterize.py:106-110);
- skip-empty tiles (retile.py:53-56);
- skip-existing/resume via the manifest anti-join (retile.py:42-43 ->
  manifest.pending_units).

Spark shape: one groupBy(cell) -> applyInPandas assemble; the shuffle
moves each source image to exactly one reducer (aligned tiles) or up
to 4 (straddling tiles), then all pixel work is map-side numpy.
``retile_job`` keys that one shuffle on the output tile's r7 unit and
groups by (unit, cell): the hash partitioning on the unit satisfies the
grouping, so every unit's tiles leave one task and are written as one
file with no second exchange.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import codecs
from ..grid import (
    CELL_SIZE,
    RES_TILE,
    GeoTransform,
    cell_bounds,
    cell_edge,
)
from .zonal import NODATA_DEFAULT, _image_cover_udf

RETILE_SCHEMA = (
    "cell_id long, bytes binary, fmt string, w int, h int, "
    "x0 double, y_top double, n_sources int, active_px long"
)


def _assemble(pdf: pd.DataFrame, tile_px: int, nodata: int) -> pd.DataFrame:
    """Assemble one output tile from its overlapping source images."""
    cell_id = int(pdf["cell_id"].iloc[0])
    x1, x2, y1, y2 = cell_bounds(cell_id)
    # output tile geo transform anchored at the cell's top-left
    gt = GeoTransform((x1, CELL_SIZE, 0.0, y2, 0.0, -CELL_SIZE))
    canvas = np.full((tile_px, tile_px), nodata, dtype=np.uint8)

    # deterministic stack order: by image_id (rasterize.py:106-110)
    pdf = pdf.sort_values("image_id")
    n = 0
    for t in pdf.itertuples():
        px = codecs.decode(bytes(t.bytes), t.fmt)
        h, w = px.shape
        # source envelope -> output pixel window via the reference's
        # inverse-affine round rules (utils.py:114-144)
        env = (
            t.x0,
            t.x0 + w * CELL_SIZE,
            t.y_top - h * CELL_SIZE,
            t.y_top,
        )
        X1, Y1, X2, Y2 = gt.get_indices(env)
        # clip both source and destination windows (groups.py:77-94)
        dx1, dy1 = max(X1, 0), max(Y1, 0)
        dx2, dy2 = min(X2, tile_px), min(Y2, tile_px)
        if dx1 >= dx2 or dy1 >= dy2:
            continue
        sx1, sy1 = dx1 - X1, dy1 - Y1
        src = px[sy1 : sy1 + (dy2 - dy1), sx1 : sx1 + (dx2 - dx1)]
        dst = canvas[dy1:dy2, dx1:dx2]
        active = src != nodata
        dst[active] = src[active]  # last-over-earlier (groups.py:95-98)
        n += 1

    active_px = int((canvas != nodata).sum())
    if active_px == 0:
        # skip-empty (retile.py:53-56)
        return pd.DataFrame(
            columns=[
                "cell_id", "bytes", "fmt", "w", "h", "x0", "y_top",
                "n_sources", "active_px",
            ]
        )
    return pd.DataFrame(
        {
            "cell_id": [cell_id],
            "bytes": [codecs.png_encode(canvas)],
            "fmt": ["png"],
            "w": [tile_px],
            "h": [tile_px],
            "x0": [x1],
            "y_top": [y2],
            "n_sources": [n],
            "active_px": [active_px],
        }
    )


def _sources(images_cells: DataFrame) -> DataFrame:
    """One row per (source image, RES_TILE cell it overlaps)."""
    return images_cells.withColumn(
        "cell_id",
        # explode_outer + null filter below: see zonal._image_cover_udf
        F.explode_outer(_image_cover_udf(RES_TILE)("x0", "y_top", "w", "h")),
    ).select(
        "cell_id", "image_id", "bytes", "fmt", "x0", "y_top", "w", "h"
    ).filter("cell_id IS NOT NULL")


def _assembled(sources: DataFrame, *keys: str) -> DataFrame:
    """Group ``sources`` by ``keys`` (``cell_id`` among them) and
    assemble one output tile per group."""
    tile_px = int(cell_edge(RES_TILE) / CELL_SIZE)
    return sources.groupBy(*keys).applyInPandas(
        lambda pdf: _assemble(pdf, tile_px, NODATA_DEFAULT),
        schema=RETILE_SCHEMA,
    )


def retile(images_cells: DataFrame) -> DataFrame:
    """images (assign_cells output with bytes/fmt/x0/y_top/w/h) ->
    one merged canonical tile per RES_TILE cell."""
    return _assembled(_sources(images_cells), "cell_id")


AUDIT_SCHEMA = "cell_id long, nodata_px long, mask_bytes binary"


def nodata_audit(tiles: DataFrame) -> DataFrame:
    """No-data audit side output (SURVEY.md K4, rasterize.py:190-214):
    for every tile containing nodata pixels, a u1 mask tile marking
    them plus the count -- the inspection artifact the reference writes
    to its no_data/ directory.  Pure map, no shuffle."""

    def kernel(px, t):
        mask = (px == NODATA_DEFAULT).astype(np.uint8)
        n = int(mask.sum())
        if n == 0:
            return []  # reference only writes when any()
        return [(int(t.cell_id), n, codecs.png_encode(mask))]

    return codecs.map_payloads(
        tiles.select("cell_id", "bytes", "fmt"), kernel, AUDIT_SCHEMA
    )


def retile_job(
    spark: SparkSession,
    images_cells: DataFrame,
    out_dir: str,
    manifest_dir: str,
    job_id: str = "retile",
) -> DataFrame:
    """Resumable retile: work units are coarse r7 blocks (the
    reference's block-granularity Index, rextract.py:108-141); each
    completed unit is a manifest row; replay is idempotent
    (manifest.run_with_manifest)."""
    from .. import manifest as mf
    from .tile import parent_cell_col

    # unit of an output tile = its RES_TILE->r7 ancestor, one
    # expression: each rollup splices the previous one's SQL text.  Not
    # the image's qk_r7: a straddling image feeds cells of another unit
    unit = "cell_id"
    for _ in range(RES_TILE - 7):
        unit = parent_cell_col(unit)

    def process(pending: DataFrame) -> DataFrame:
        # the one shuffle: a key-only hash repartition on the unit (no
        # rebalance or range split, which could put a unit in two files)
        src = _sources(pending.drop("unit")).withColumn("unit", unit)
        tiles = _assembled(src.repartition("unit"), "unit", "cell_id")
        return tiles.withColumn("unit", unit)

    work = images_cells.withColumn("unit", F.col("qk_r7"))
    return mf.run_with_manifest(
        spark, work, "unit", process, out_dir, manifest_dir, job_id
    )
