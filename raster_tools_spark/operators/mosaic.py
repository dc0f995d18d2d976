"""Mosaic / stack-merge operators (SURVEY.md S1/J5).

Reference semantics:

- ``Group.read`` merges an ordered raster stack *last-over-earlier where
  active* (raster_tools/groups.py:95-98: later datasets overwrite where
  their pixels are data);
- ``merge.py:40-70`` merges two rasters with the same rule + offset;
- ``rebase.py:55-66`` masks pixels equal to a base layer (keep only
  changed pixels).

Spark-first: the stack is rows ``(cell_id, layer, value)`` (or tile
rows with encoded pixels).  Merge = pick the highest-layer non-null
value per cell -- a window ``row_number`` or ``max_by``; NO pixel loop.
The pixel-level variant decodes tiles inside one ``applyInPandas`` per
cell group.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs


def merge_last_wins(
    df: DataFrame, key: str = "cell_id", layer: str = "layer",
    value: str = "value",
) -> DataFrame:
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
    active = df.filter(F.col(value).isNotNull())
    per_layer = active.groupBy(key, layer).agg(
        F.max(value).alias("_v"),
        F.count(F.lit(1)).alias("_n"),
    )
    return per_layer.groupBy(key).agg(
        F.expr(f"max_by(_v, {layer})").alias("value"),
        F.max(layer).alias("top_layer"),
        F.sum("_n").alias("n_layers"),
    )


def rebase(
    base: DataFrame, update: DataFrame, key: str = "cell_id",
    value: str = "value",
) -> DataFrame:
    """Keep only cells where update differs from base
    (rebase.py:55-66: equal pixels become nodata/null).

    Full-outer join on the cell key; null-safe comparison so a cell
    missing from base counts as changed.
    """
    b = base.select(F.col(key), F.col(value).alias("_base"))
    u = update.select(F.col(key), F.col(value).alias("_update"))
    joined = u.join(b, key, "left_outer")
    return joined.filter(
        ~F.col("_update").eqNullSafe(F.col("_base"))
    ).select(key, F.col("_update").alias("value"))


_TILE_MERGE_SCHEMA = "cell_id long, bytes binary, fmt string, n_layers int"


def merge_tiles(tiles: DataFrame, nodata: int = 255) -> DataFrame:
    """Pixel-level stack merge: rows (cell_id, layer, bytes, fmt, w, h)
    -> one merged tile per cell, later layers overwriting where their
    pixels are data (groups.py:77-99 read loop).

    One applyInPandas per cell group; all tiles of a cell share the
    grid so the merge is a pure array np.where.  Output re-encoded PNG.
    """

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("layer")
        out = None
        for t in pdf.itertuples():
            px = codecs.decode(bytes(t.bytes), t.fmt)
            if out is None:
                out = np.full_like(px, nodata)
            active = px != nodata
            out[active] = px[active]
        return pd.DataFrame(
            {
                "cell_id": [pdf["cell_id"].iloc[0]],
                "bytes": [codecs.encode(out, "png")],
                "fmt": ["png"],
                "n_layers": [len(pdf)],
            }
        )

    return tiles.groupBy("cell_id").applyInPandas(
        merge_group, schema=_TILE_MERGE_SCHEMA
    )
