"""Two-phase point-in-polygon join (SURVEY.md J1/J2 -- the heart of the
graft).

The reference does PIP by burning the polygon onto the pixel grid and
masking (raster_tools/zonal.py:80-87, groups.py:115-135) with an
envelope prejoin pushed into PostGIS/OGR (rasterize2.py:151-158,
datasources.py:28-33).  Spark-first re-expression:

- polygon meta: one Arrow-batched pandas UDF pass per polygon yields
  the cover count, envelope, covering cells and the edge array -- the
  only Python in the query.
- phase H (hot/broadcast): polygons whose envelope covers more than
  ``hot_cover`` cells at the join resolution are few but huge (the skew
  drivers).  They are broadcast and bbox-prejoined with a JVM-side
  predicate.
- phase N (normal/shuffle): remaining polygons explode their covering
  cells at ``join_res`` and equi-join images on the cell key -- the
  canonical shuffle join on grid keys (AQE skew join handles hot
  cells).
- exact refinement: the even-odd ray cast of geom.points_in_rings as a
  JVM ``aggregate`` over each candidate's edge array, so candidate
  pairs never cross into Python.

Output: one row per (image, polygon) containment pair.  No dedup pass is
needed: the two phases partition the polygon set, and at one resolution
an image center lies in exactly one cell, so each pair appears at most
once -- at 10^12 rows a distinct() here would be the bottleneck.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geom
from ..grid import covering_cells, n_covering, JOIN_RES

# polygons covering more cells than this are hot: they skip the cell
# explode and join through the broadcast bbox phase
HOT_COVER = 64


_COVER_SCHEMA = T.StructType([
    *(T.StructField(k, T.DoubleType())
      for k in ("ex1", "ex2", "ey1", "ey2")),
    T.StructField("cells", T.ArrayType(T.LongType())),
])


def _cover_udf(res: int, pad: float):
    """Envelope + covering cells at ``res`` of the envelope grown by
    ``pad`` meters, in one Python pass per polygon: the polygon side of
    every covering-cell equi-join (zonal, overlay, upstream).  Callers
    that only key on the cell explode ``cells``."""

    @F.pandas_udf(_COVER_SCHEMA)
    def cover(wkb_s: pd.Series) -> pd.DataFrame:
        rows = []
        for b in wkb_s:
            env = geom.envelope(bytes(b))
            rows.append((*env, covering_cells(env, res, pad)))
        return pd.DataFrame(
            rows, columns=["ex1", "ex2", "ey1", "ey2", "cells"]
        )

    return cover


_POLY_META_SCHEMA = T.StructType([
    T.StructField("n_cover", T.IntegerType()),
    T.StructField("ex1", T.DoubleType()),
    T.StructField("ex2", T.DoubleType()),
    T.StructField("ey1", T.DoubleType()),
    T.StructField("ey2", T.DoubleType()),
    T.StructField("cells", T.ArrayType(T.LongType())),
    T.StructField("edges", T.ArrayType(T.StructType([
        T.StructField(k, T.DoubleType()) for k in ("x1", "y1", "x2", "y2")
    ]))),
])


def _poly_meta_udf(res: int, hot_cover: int):
    """Cover count + envelope + covering cells + ring edges in ONE
    Python pass.

    Every separate pandas UDF on the polygon side costs a full Spark
    stage of fixed scheduler/worker latency (~0.2s each on a warm
    local[32]); with ncover, covering and two envelope UDFs that
    overhead dominated small-polygon-layer joins.  Hot polygons
    (n_cover > hot_cover) skip cell enumeration -- phase H never needs
    it and a continent-sized envelope would materialize millions of
    ids.  ``edges`` is the (x1, y1, x2, y2) list of
    geom._edges_of_rings, the input of the JVM ray cast."""

    @F.pandas_udf(_POLY_META_SCHEMA)
    def meta(wkb_s: pd.Series) -> pd.DataFrame:
        rows = []
        for b in wkb_s:
            b = bytes(b)
            env = geom.envelope(b)
            n = n_covering(env, res)
            cells = covering_cells(env, res) if n <= hot_cover else []
            edges = list(zip(*(
                a.tolist() for a in geom._edges_of_rings(geom._rings_of(b))
            )))
            rows.append((n, env[0], env[1], env[2], env[3], cells, edges))
        return pd.DataFrame(
            rows, columns=["n_cover", "ex1", "ex2", "ey1", "ey2",
                           "cells", "edges"],
        )

    return meta


def _inside(cx, cy, edges):
    """Even-odd ray cast of point (cx, cy) against an edge array, as a
    JVM higher-order expression: bit-for-bit geom.points_in_rings (the
    same straddle test, the same ``x1 + (cy - y1) * (x2 - x1) /
    (y2 - y1)`` operation order, the same strict ``<``).  The division
    is evaluated only under the straddle test, where ``y1 != y2``:
    ANSI mode raises on a zero divisor."""
    cx = cx.cast("double")
    cy = cy.cast("double")

    def step(n, e):
        straddle = (e["y1"] > cy) != (e["y2"] > cy)
        xint = e["x1"] + (cy - e["y1"]) * (e["x2"] - e["x1"]) / (
            e["y2"] - e["y1"]
        )
        return n + F.when(straddle, (cx < xint).cast("int")).otherwise(0)

    return F.aggregate(edges, F.lit(0), step) % 2 == 1


def pip_join(
    images: DataFrame,
    polygons: DataFrame,
    join_res: int = JOIN_RES,
    poly_cols=("feat_id", "category", "value"),
) -> DataFrame:
    """images (assign_cells output) x polygons(feat_id, geom_wkb, ...)
    -> containment pairs (image_id, cx, cy, *poly_cols).  Polygons
    covering more than HOT_COVER cells take the broadcast phase."""
    keep_cols = ("image_id", "cx", "cy")
    cell_key = f"qk_r{join_res}"
    # the point side is the guide-8 lightweight proxy of the image scan
    # (id + center + cell key, ~50 bytes/row); materialize it lazily so
    # the two join phases consume ONE scan + anchor pass instead of each
    # re-reading the wide image table (measured 2.1x on the flagship).
    # The checkpoint lives inside this query's DAG and dies with it.
    pts = images.select(*keep_cols, cell_key).localCheckpoint(eager=False)

    # polygon meta (cover count, envelope, cells, edges) is consumed by
    # both phases and by every broadcast build; checkpoint so the pandas
    # UDF runs once per query instead of once per consumer subtree
    polys = polygons.withColumn(
        "_pm", _poly_meta_udf(join_res, HOT_COVER)(F.col("geom_wkb"))
    ).localCheckpoint(eager=False)
    hot = polys.filter(F.col("_pm.n_cover") > HOT_COVER)
    normal = polys.filter(F.col("_pm.n_cover") <= HOT_COVER)
    attrs = [c for c in poly_cols if c != "feat_id"]

    # the envelope rides along as 4 doubles so a JVM-side bbox predicate
    # drops candidates before the ray cast: boundary cells -- especially
    # the closed-bottom cover row, where only points exactly ON
    # y == ymin can ever match -- otherwise pay a full edge scan for
    # pairs that fail trivially.  Closed comparisons keep it a
    # conservative SUPERSET of containment (the even-odd ray cast's
    # boundary behavior varies by edge)
    meta = [
        F.col("_pm.edges").alias("_edges"),
        F.col("_pm.ex1").alias("_ex1"), F.col("_pm.ex2").alias("_ex2"),
        F.col("_pm.ey1").alias("_ey1"), F.col("_pm.ey2").alias("_ey2"),
    ]
    bbox = (
        (F.col("cx") >= F.col("_ex1"))
        & (F.col("cx") < F.col("_ex2"))
        & (F.col("cy") >= F.col("_ey1"))
        & (F.col("cy") <= F.col("_ey2"))
    )

    # ---- phase N: shuffle equi-join on covering cells -------------------
    ncells = normal.select(
        "feat_id", F.explode("_pm.cells").alias("cover_cell"), *meta,
        *attrs,
    )
    cand_n = pts.join(ncells, (pts[cell_key] == ncells["cover_cell"]) & bbox)

    # ---- phase H: broadcast bbox prejoin ---------------------------------
    cand_h = pts.join(
        F.broadcast(hot.select("feat_id", *meta, *attrs)), bbox
    )

    # the phases partition the polygon set, so their union carries each
    # candidate pair once; the exact ray cast filters it JVM-side
    cols = [*keep_cols, "feat_id", "_edges", *attrs]
    cand = cand_n.select(*cols).unionByName(cand_h.select(*cols))
    return cand.filter(
        _inside(F.col("cx"), F.col("cy"), F.col("_edges"))
    ).select(*keep_cols, *poly_cols)
