"""Tile assignment: anchor every image on the grid and key it with
quadtree cells at resolutions 7..11.

The retile-semantics core (SURVEY.md section 3.1): the reference
re-anchors its geo transform per index feature
(raster_tools/retile.py:47 -> utils.py:82-92) and window-reads by
inverse-affine grid math (utils.py:114-144).  The anchor is a
deterministic function of ``phash`` (FIXTURES.md section 1); the
wrapping int64 Knuth multiply that ANSI-mode Spark SQL rejects is
decomposed into overflow-free halves (see ``_anchor_cols``), so the
anchor AND everything downstream -- cell keys at every resolution,
parent rollups -- are JVM-side expressions that stay inside
whole-stage codegen; no Python hop remains on the image scan path.

Scale notes: no shuffle here at all; this is a narrow map over the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..grid import TILE_SIZE, WORLD_TOP, _ANCHOR_MULT, cell_edge

_M31 = (1 << 31) - 1
_M62 = (1 << 62) - 1


def sql_of(c: Column | str) -> str:
    """SQL text of ``c``, parenthesized so it splices into any operator
    context: a column name or SQL text as is, an ``F.col(name)`` as its
    name, an ``F.expr`` Column (every builder here returns one) as its
    text.  The fixed-shape builders splice their arguments into one
    ``F.expr``, because a tree built Column by Column costs a py4j
    round trip per node."""
    return f"({c if isinstance(c, str) else c._jc.toString()})"


def _d(x: float) -> str:
    """A double literal in SQL text (an unsuffixed ``0.25`` would parse
    as a DECIMAL)."""
    return f"{float(x)!r}D"


def _anchor_cols(phash: Column | str, tiles_axis: int):
    """JVM-side ``phash -> (x0, y_top)`` anchor -- bit-exact mirror of
    synth.anchor_of_phash_windowed.

    numpy computes ``mixed = wrap64(p * C) & (2^62 - 1)``; ANSI-mode
    Spark throws on long overflow instead of wrapping, so the multiply
    is decomposed at bit 31.  For ANY int64 p (bits 62/63 contribute
    multiples of 2^62 and vanish under the mask):

        t = (((p >> 31) & m31) * C) & m31    -- (p_hi * C) mod 2^31
        u = ((p & m31) * C) & m62            -- (p_lo * C) mod 2^62
        mixed = (u + (t << 31)) & m62

    Every intermediate stays below 2^63 - 1: the two products are at
    most (2^31 - 1) * C < 2^62.4, and u + (t << 31) is at most
    2^63 - 2^31 - 1, so no ANSI overflow is reachable.  tx/ty then
    scale by the dyadic TILE_SIZE -- long->double cast and double
    multiply are the same IEEE operations numpy performs, so the
    result is bit-identical to the former pandas UDF (equivalence
    property test in test_r06_optim.py sweeps random/extreme/negative
    phashes).  Being a plain expression, the anchor now fuses into
    whole-stage codegen -- the ArrowEvalPython hop this UDF used to
    put on every image scan (and the asNondeterministic marking that
    kept the optimizer from cloning it) are gone.
    """
    mask = (tiles_axis if tiles_axis < 4096 else 4096) - 1
    c = int(_ANCHOR_MULT)
    p = f"CAST({sql_of(phash)} AS BIGINT)"
    t = f"(((shiftright({p}, 31) & {_M31}) * {c}) & {_M31})"
    u = f"((({p} & {_M31}) * {c}) & {_M62})"
    mixed = f"(({u} + shiftleft({t}, 31)) & {_M62})"
    tile = _d(TILE_SIZE)
    x0 = f"CAST(shiftright({mixed}, 20) & {mask} AS DOUBLE) * {tile}"
    y_top = (f"{_d(WORLD_TOP)} - "
             f"CAST(shiftright({mixed}, 2) & {mask} AS DOUBLE) * {tile}")
    return F.expr(x0), F.expr(y_top)


def cell_col(x: Column | str, y: Column | str, res: int) -> Column:
    """Packed quadtree cell id as a JVM-side expression (codegen'd).

    Mirrors grid.cell_of_xy bit-for-bit: floor into the res grid, pack
    (res << 56) | (ix << 28) | iy.
    """
    edge = _d(cell_edge(res))
    return F.expr(
        f"shiftleft(CAST({res} AS BIGINT), 56)"
        f" | shiftleft(CAST(FLOOR({sql_of(x)} / {edge}) AS BIGINT), 28)"
        f" | CAST(FLOOR(({_d(WORLD_TOP)} - {sql_of(y)}) / {edge})"
        f" AS BIGINT)"
    )


def parent_cell_col(cell: Column | str) -> Column:
    """JVM-side quadtree rollup res r -> r-1 (utils.py:38-51 quad fold)."""
    c = sql_of(cell)
    m = (1 << 28) - 1
    return F.expr(
        f"shiftleft(shiftright({c}, 56) - 1, 56)"
        f" | shiftleft(shiftright(shiftright({c}, 28) & {m}, 1), 28)"
        f" | shiftright({c} & {m}, 1)"
    )


def assign_cells(
    images: DataFrame,
    tiles_axis: int = 4096,
) -> DataFrame:
    """images(+phash, w, h) -> + x0, y_top, cx, cy, qk_r7..qk_r11.

    ``cx, cy`` is the tile center (the PIP-join point); ``qk_r{n}`` keys
    the center's cell at each resolution.  Assignment is a pure function
    of the row -> bit-identical at any parallelism (north rule).
    """
    x0, y_top = _anchor_cols("phash", tiles_axis)
    return images.withColumns({"x0": x0, "y_top": y_top}).withColumns({
        "cx": F.expr("x0 + CAST(w AS DOUBLE) * 0.25D"),
        "cy": F.expr("y_top - CAST(h AS DOUBLE) * 0.25D"),
    }).withColumns({
        f"qk_r{res}": cell_col("cx", "cy", res) for res in (7, 8, 9, 10, 11)
    })


def quad_rollup(
    df: DataFrame,
    cell_col_name: str,
    value_col: str,
    levels: int = 1,
) -> DataFrame:
    """Iterated parent-cell mean -- the reference's quad-tree
    downsample (utils.py:38-51, driver aggregate.py:91,107-112) as a
    hierarchy of partial-aggregating groupBys.

    Mean-of-means matches the reference's masked 2x2 mean when weights
    are carried, so we carry (sum, count) through the levels and
    finalize mean = sum/count.
    """
    # decimal-backed sum: exact and order-independent, so results are
    # bit-identical regardless of partitioning (north rule) and match
    # any oracle engine
    out = df.select(
        F.col(cell_col_name).alias("cell"),
        F.col(value_col).cast("double").alias("v"),
    ).groupBy("cell").agg(
        F.sum(F.col("v").cast("decimal(30,6)")).alias("s"),
        F.count("v").alias("n"),
    )
    for _ in range(levels):
        out = (
            out.withColumn("cell", parent_cell_col(F.col("cell")))
            .groupBy("cell")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        )
    return out.select(
        "cell",
        (F.col("s").cast("double") / F.col("n")).alias("value"),
        F.col("n").alias("n_px"),
    )
