"""Driver-contract query catalog: Spark implementations + DuckDB oracle
SQL for the operators of SURVEY.md section 2, evaluated on the driver's
tables (/root/testdata/sf*/), plus rows-only spatial/image pipelines on
the deterministic synthetic tables.

Design rules for oracle-checked queries:
- every computed column aliased identically in Spark and SQL;
- float aggregates rounded (4-6 dp) on BOTH sides;
- integer sums cast to BIGINT in DuckDB (its SUM(int) returns HUGEINT);
- timestamps compared as formatted strings (engine-TZ independence);
- synthetic geometry derives from driver columns via exact integer
  arithmetic then dyadic float math, so both engines compute identical
  doubles.

The spatial oracle queries re-derive the SAME grid/PIP math in pure
ANSI SQL (floor arithmetic on the quadtree grid), which checks the
engine's JVM-side cell expressions and the two-phase PIP join --
including the broadcast hot-polygon phase, exercised by nation 3's
oversized rectangle -- against an independent implementation.
"""

from __future__ import annotations

import zlib as _zlib_mod
from typing import Callable, Dict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import codecs as codecs_mod, synth, wkb
from .functions import dedup as fdedup
from .functions import similarity as fsim
from .functions import text as ftext
from .operators import knn as op_knn
from .operators import mosaic as op_mosaic
from .operators import pip as op_pip
from .operators import tile as op_tile
from .operators import zonal as op_zonal
from .grid import WORLD_TOP

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(col) -> F.Column:
    """Decimal-backed double sum: exact and order-independent, so Spark
    and DuckDB agree bit-for-bit regardless of aggregation order."""
    return F.sum(col.cast("decimal(30,6)")).cast("double")


def _ratio4(num, den) -> F.Column:
    """Deterministic 4-dp ratio: floor-scale instead of round().
    round() implementations disagree between engines on exact .5
    boundaries; floor of the identical quotient double cannot."""
    return F.floor(num / den * 10000.0) / 10000.0


# synthetic point cloud derived from events via exact integer math
_PX = "((event_id * 48271) % 8192) * 64.0 + 32.0"
_PY = f"{WORLD_TOP:.1f} - (((event_id * 69621) % 8192) * 64.0 + 32.0)"


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").selectExpr(
        "event_id", "value", f"{_PX} as cx", f"{_PY} as cy"
    )


# rectangle layer derived from nation keys (nation 3 is the oversized
# hot polygon driving the broadcast phase)
def _rect_params(n: int):
    rx = (n * 7919) % 56
    ry = (n * 104729) % 56
    w = 163840.0 if n == 3 else (1 + n % 4) * 4096.0
    h = 131072.0 if n == 3 else (1 + n % 3) * 4096.0
    x1 = rx * 8192.0
    y2 = WORLD_TOP - ry * 8192.0
    return x1, x1 + w, y2 - h, y2



def _nation_layer(spark: SparkSession, sf_dir: str, geom_fn) -> DataFrame:
    """Polygon layer derived JVM-side from the nation table: one
    vectorized UDF builds the WKB per key -- no driver collect, so the
    layer scales with the catalog table instead of driver memory."""

    @F.pandas_udf("binary")
    def mk(nk: pd.Series) -> pd.Series:
        return nk.map(lambda n: geom_fn(int(n)))

    return (
        _t(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").cast("long").alias("feat_id"))
        .withColumn("geom_wkb", mk(F.col("feat_id")))
    )


def _box_of(param_fn):
    def build(n: int) -> bytes:
        x1, x2, y1, y2 = param_fn(n)
        return wkb.box_wkb(x1, y1, x2, y2)

    return build


def _diamond_of(n: int) -> bytes:
    cx, cy, r = _diamond_params(n)
    return wkb.polygon_wkb(
        [(cx, cy - r), (cx + r, cy), (cx, cy + r), (cx - r, cy)]
    )


def _drape_line_of(n: int) -> bytes:
    """A 96 m horizontal line inside linear image n's anchor tile
    (synth.linear_anchor), the line layer of line_carpet and
    line_drape."""
    tx = (n * 7) % 16
    ty = (n * 13) % 16
    x1 = tx * 128.0 + 1.25
    y = WORLD_TOP - ty * 128.0 - 5.25
    return wkb.linestring_wkb([(x1, y), (x1 + 96.0, y)])


def _rect_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _nation_layer(spark, sf_dir, _box_of(_rect_params))


# ---------------------------------------------------------------------------
# diamond polygon layer (generic-ring PIP refine, oracle-checkable):
# dense points + L1-ball polygons.  The Spark side goes through the
# full WKB ray-cast machinery; the oracle re-derives containment as
# |x-cx| + |y-cy| < r.  Point coords are ==4 (mod 8) offsets from
# diamond centers (==0 mod 8) and radii are ==4 (mod 8), so no point
# ever lies ON a diamond edge and the convention never decides a row.
# nation 3's oversized diamond drives the broadcast (hot) phase.
# ---------------------------------------------------------------------------

_DPX = "((event_id * 48271) % 2048) * 8.0 + 4.0"
_DPY = f"{WORLD_TOP:.1f} - (((event_id * 69621) % 2048) * 8.0 + 4.0)"


def _dense_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").selectExpr(
        "event_id", "value", f"{_DPX} as cx", f"{_DPY} as cy"
    )


def _diamond_params(n: int):
    cx = ((n * 7919) % 14) * 1024.0 + 512.0
    cy = WORLD_TOP - ((n * 104729) % 14) * 1024.0 - 512.0
    r = 8196.0 if n == 3 else (1 + n % 4) * 192.0 + 12.0
    return cx, cy, r


def _diamond_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _nation_layer(spark, sf_dir, _diamond_of)


def _diamonds_sql() -> str:
    return f"""
    diamonds AS (
      SELECT n_nationkey AS feat_id,
             ((n_nationkey*7919)%14)*1024.0 + 512.0 AS dcx,
             {WORLD_TOP:.1f} - ((n_nationkey*104729)%14)*1024.0 - 512.0
               AS dcy,
             CASE WHEN n_nationkey = 3 THEN 8196.0
                  ELSE (1 + n_nationkey%4)*192.0 + 12.0 END AS r
      FROM nation
    ),
    dpts AS (
      SELECT event_id, value, {_DPX} AS cx, {_DPY} AS cy FROM events
    )
    """


# ---------------------------------------------------------------------------
# zonal rectangles over the linear-pixel image window (2048 m at
# tiles_axis=16).  Integer bounds; pixel centers are ==0.25 (mod 0.5)
# so no center ever sits on a rectangle edge.
# ---------------------------------------------------------------------------


def _zrect_params(n: int):
    x1 = ((n * 13) % 15) * 128.0 + 17.0
    y2 = WORLD_TOP - ((n * 29) % 15) * 128.0 - 23.0
    w = (1 + n % 5) * 160.0 + 31.0
    h = (1 + n % 4) * 128.0 + 53.0
    return x1, x1 + w, y2 - h, y2


def _zrect_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _nation_layer(spark, sf_dir, _box_of(_zrect_params))


def _srect_params(n: int):
    """Small rectangles (area <= 1000 m^2) for the rgb_zonal guard."""
    # anchored on the image-anchor cycle (tx, ty) = (7n, 13n) mod 16
    # so every rectangle overlaps real pixels
    x1 = ((n * 7) % 16) * 128.0 + 3.0
    y2 = WORLD_TOP - ((n * 13) % 16) * 128.0 - 2.0
    w = (1 + n % 3) * 8.0 + 3.0
    h = (1 + n % 4) * 5.0 + 4.0
    return x1, x1 + w, y2 - h, y2


def _srect_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _nation_layer(spark, sf_dir, _box_of(_srect_params))


def _srects_sql() -> str:
    return f"""
    srects AS (
      SELECT n_nationkey AS feat_id,
             ((n_nationkey*7)%16)*128.0 + 3.0 AS x1,
             ((n_nationkey*7)%16)*128.0 + 3.0
               + (1 + n_nationkey%3)*8.0 + 3.0 AS x2,
             ({WORLD_TOP:.1f} - ((n_nationkey*13)%16)*128.0 - 2.0)
               - ((1 + n_nationkey%4)*5.0 + 4.0) AS y1,
             {WORLD_TOP:.1f} - ((n_nationkey*13)%16)*128.0 - 2.0 AS y2
      FROM nation
    )
    """


def _drect_params(n: int):
    """Second rectangle layer (overlay layer 2), off the zrect grid."""
    x1 = ((n * 41) % 13) * 128.0 + 33.0
    y2 = WORLD_TOP - ((n * 59) % 13) * 128.0 - 57.0
    w = (1 + n % 4) * 144.0 + 27.0
    h = (1 + n % 3) * 96.0 + 21.0
    return x1, x1 + w, y2 - h, y2


def _drect_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _nation_layer(spark, sf_dir, _box_of(_drect_params))


def _drects_sql() -> str:
    return f"""
    drects AS (
      SELECT n_nationkey AS feat_id,
             ((n_nationkey*41)%13)*128.0 + 33.0 AS x1,
             ((n_nationkey*41)%13)*128.0 + 33.0
               + (1 + n_nationkey%4)*144.0 + 27.0 AS x2,
             ({WORLD_TOP:.1f} - ((n_nationkey*59)%13)*128.0 - 57.0)
               - ((1 + n_nationkey%3)*96.0 + 21.0) AS y1,
             {WORLD_TOP:.1f} - ((n_nationkey*59)%13)*128.0 - 57.0 AS y2
      FROM nation
    )
    """


def _zrects_sql() -> str:
    return f"""
    zrects AS (
      SELECT n_nationkey AS feat_id,
             ((n_nationkey*13)%15)*128.0 + 17.0 AS x1,
             ((n_nationkey*13)%15)*128.0 + 17.0
               + (1 + n_nationkey%5)*160.0 + 31.0 AS x2,
             ({WORLD_TOP:.1f} - ((n_nationkey*29)%15)*128.0 - 23.0)
               - ((1 + n_nationkey%4)*128.0 + 53.0) AS y1,
             {WORLD_TOP:.1f} - ((n_nationkey*29)%15)*128.0 - 23.0 AS y2
      FROM nation
    )
    """


# ---------------------------------------------------------------------------
# upstream fixture: one rectangle + one diagonal line per nation key,
# both anchored on the linear-image tile cycle so every search area
# overlaps real pixels.  Geometry is all exact dyadic rationals
# (integer rectangle edges, quarter-unit line endpoints), and
# ``distance`` (33.25) strictly dominates multiplier*boundary-distance
# (<= 28.5), so the per-sample radius is a bit-identical constant in
# both engines; the variable-radius path is covered by the pytest
# brute-force golden in test_upstream.py.
# ---------------------------------------------------------------------------


def _urect_params(n: int):
    tx = (n * 7) % 16
    ty = (n * 13) % 16
    x1 = tx * 128.0 + 17.0
    w = 49.0 + (n % 4) * 16.0
    y2 = WORLD_TOP - ty * 128.0 - 13.0
    h = 33.0 + (n % 3) * 12.0
    return x1, x1 + w, y2 - h, y2


def _uline_of(n: int) -> bytes:
    x1, x2, y1, y2 = _urect_params(n)
    return wkb.linestring_wkb(
        [(x1 - 6.75, y2 - 3.25), (x2 + 5.25, y1 + 2.75)]
    )


def _urects_sql() -> str:
    return f"""
    urects AS (
      SELECT n_nationkey AS feat_id,
             ((n_nationkey*7) % 16) * 128.0 + 17.0 AS x1,
             ((n_nationkey*7) % 16) * 128.0 + 17.0
               + 49.0 + (n_nationkey % 4) * 16.0 AS x2,
             ({WORLD_TOP:.1f} - ((n_nationkey*13) % 16) * 128.0 - 13.0)
               - (33.0 + (n_nationkey % 3) * 12.0) AS y1,
             {WORLD_TOP:.1f} - ((n_nationkey*13) % 16) * 128.0 - 13.0
               AS y2
      FROM nation
    )
    """


def _zonal_stats_sql(
    pix_filter: str, expr_val: str, range_lo=None, range_hi=None
) -> str:
    """Shared zonal-stats SQL over the joined (feat_id, v) pixel set:
    mirrors operators/zonal._finalize_stats exactly, including the u8-
    histogram percentile interpolation (np.percentile linear rule) and
    the raw-vs-expr value domains.  ``expr_val`` transforms v for
    mean/std/mn/mx; percentiles are always raw-domain."""
    frac_sel = (
        f""",
           CAST(
             (SELECT COUNT(*) FROM data d
              WHERE d.feat_id = a.feat_id
                AND d.v BETWEEN {range_lo} AND {range_hi}) AS DOUBLE
           ) / a.cnt AS frac_in_range"""
        if range_lo is not None
        else ""
    )
    return f"""
    joined AS (
      SELECT r.feat_id, p.v
      FROM lpix p JOIN zrects r
        ON p.px >= r.x1 AND p.px < r.x2
       AND p.py >= r.y1 AND p.py < r.y2
      {pix_filter}
    ),
    data AS (SELECT feat_id, v, {expr_val} AS ve FROM joined
             WHERE v != 255),
    sz AS (SELECT feat_id, COUNT(*) AS size FROM joined GROUP BY 1),
    agg AS (
      SELECT feat_id, COUNT(*) AS cnt,
             CAST(SUM(ve) AS DOUBLE) AS s,
             CAST(SUM(ve*ve) AS DOUBLE) AS ss,
             CAST(MIN(ve) AS DOUBLE) AS mn,
             CAST(MAX(ve) AS DOUBLE) AS mx
      FROM data GROUP BY 1
    ),
    cum AS (
      SELECT feat_id, v, SUM(COUNT(*)) OVER (
        PARTITION BY feat_id ORDER BY v) AS cum
      FROM data GROUP BY feat_id, v
    ),
    qp AS (
      SELECT feat_id, cnt,
             0.50*(cnt-1) AS mpos, floor(0.50*(cnt-1)) AS mlo,
             ceil(0.50*(cnt-1)) AS mhi,
             0.75*(cnt-1) AS ppos, floor(0.75*(cnt-1)) AS plo,
             ceil(0.75*(cnt-1)) AS phi
      FROM agg
    ),
    pctl AS (
      SELECT q.feat_id,
        (SELECT MIN(c.v) FROM cum c WHERE c.feat_id = q.feat_id
          AND c.cum >= q.mlo + 1) AS med_lo,
        (SELECT MIN(c.v) FROM cum c WHERE c.feat_id = q.feat_id
          AND c.cum >= q.mhi + 1) AS med_hi,
        (SELECT MIN(c.v) FROM cum c WHERE c.feat_id = q.feat_id
          AND c.cum >= q.plo + 1) AS p75_lo,
        (SELECT MIN(c.v) FROM cum c WHERE c.feat_id = q.feat_id
          AND c.cum >= q.phi + 1) AS p75_hi,
        q.mpos - q.mlo AS mfrac, q.ppos - q.plo AS pfrac
      FROM qp q
    )
    SELECT a.feat_id, sz.size, a.cnt,
           a.s / a.cnt AS mean,
           sqrt(GREATEST(a.ss / a.cnt - (a.s / a.cnt)*(a.s / a.cnt),
                         0.0)) AS std,
           a.mn, a.mx,
           CAST(p.med_lo AS DOUBLE)
             + (p.med_hi - p.med_lo) * p.mfrac AS median,
           CAST(p.p75_lo AS DOUBLE)
             + (p.p75_hi - p.p75_lo) * p.pfrac AS p75{frac_sel}
    FROM agg a
    JOIN sz ON sz.feat_id = a.feat_id
    JOIN pctl p ON p.feat_id = a.feat_id
    """


def _rects_sql() -> str:
    """DuckDB CTE producing the identical rectangles."""
    return f"""
    rects AS (
      SELECT n_nationkey AS feat_id,
             ((n_nationkey*7919)%56)*8192.0 AS x1,
             ((n_nationkey*7919)%56)*8192.0
               + CASE WHEN n_nationkey = 3 THEN 163840.0
                      ELSE (1 + n_nationkey%4)*4096.0 END AS x2,
             ({WORLD_TOP:.1f} - ((n_nationkey*104729)%56)*8192.0)
               - CASE WHEN n_nationkey = 3 THEN 131072.0
                      ELSE (1 + n_nationkey%3)*4096.0 END AS y1,
             {WORLD_TOP:.1f} - ((n_nationkey*104729)%56)*8192.0 AS y2
      FROM nation
    ),
    pts AS (
      SELECT event_id, value,
             {_PX} AS cx,
             {_PY} AS cy
      FROM events
    )
    """


def _pip_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir).withColumn(
        "qk_r9", op_tile.cell_col(F.col("cx"), F.col("cy"), 9)
    ).withColumn("image_id", F.col("event_id").cast("string"))
    rects = _rect_polygons(spark, sf_dir)
    pairs = op_pip.pip_join(pts, rects, poly_cols=("feat_id",))
    return pairs.select(
        F.col("image_id").cast("long").alias("event_id"), "feat_id"
    )


# ---------------------------------------------------------------------------
# the catalog
# ---------------------------------------------------------------------------


def _dpoly_base(n: int):
    """difference_polygons subject n: a large rect on a 2048 m grid
    (one subject per grid cell, so cutters can never touch a foreign
    subject); returns (X, Y_top, w, h), all dyadic multiples of the
    4 m pixel."""
    X = (n % 5) * 2048.0 + 512.0
    Y = WORLD_TOP - (n // 5) * 2048.0 - 512.0
    w = 320.0 + (n % 5) * 64.0
    h = 256.0 + (n % 3) * 64.0
    return X, Y, w, h


def _dpoly_subject(n: int) -> bytes:
    X, Y, w, h = _dpoly_base(n)
    return wkb.box_wkb(X, Y - h, X + w, Y)


def _dpoly_cutter_a(n: int) -> bytes:
    """Primary cutter: full-height band (n%5 in {0,4}), interior
    rect (1, 2), or flush-NW corner cut (3)."""
    X, Y, w, h = _dpoly_base(n)
    m = n % 5
    if m in (0, 4):
        bw1 = w / 2.0 + 16.0
        return wkb.box_wkb(X + bw1, Y - h - 8.0, X + bw1 + 64.0, Y + 8.0)
    if m in (1, 2):
        cw, ch = 48.0 + (n % 2) * 16.0, 40.0
        return wkb.box_wkb(X + 32.0, Y - 32.0 - ch, X + 32.0 + cw, Y - 32.0)
    cc, cd = 64.0 + (n % 2) * 32.0, 96.0
    return wkb.box_wkb(X - 8.0, Y - cc, X + cd, Y + 8.0)


def _dpoly_cutter_b(n: int) -> bytes:
    """Secondary cutter: a second interior hole (n%5 == 2), a hole in
    the L remainder (3), a hole in the left band piece (4); a far-off
    no-op rect otherwise (the slab path ignores non-intersecting
    cutters)."""
    X, Y, w, h = _dpoly_base(n)
    m = n % 5
    if m == 2:
        return wkb.box_wkb(X + w - 100.0, Y - h + 36.0,
                           X + w - 76.0, Y - h + 64.0)
    if m == 3:
        return wkb.box_wkb(X + w - 120.0, Y - h + 40.0,
                           X + w - 88.0, Y - h + 64.0)
    if m == 4:
        return wkb.box_wkb(X + 32.0, Y - 80.0, X + 72.0, Y - 48.0)
    return wkb.box_wkb(400000.0, 100.0, 400004.0, 104.0)


def _footprint_rects(k: int):
    """Image rectangles (r0, c0, h, w) composing tile k of the
    contour_footprint fixture (tile k sits at grid cell (k, k)):
    k%4 = 0 lone rect, 1 two disjoint rects, 2 crossing plus-union,
    3 four-image frame whose hole the fill step erases.  Closed-form
    ring counts/vertices/areas proven in tests/test_contour.py."""
    m = k % 4
    a, b = 5 + (3 * k) % 11, 4 + (5 * k) % 13
    if m == 0:
        return [(2 + k % 3, 3 + k % 4, a, b)]
    if m == 1:
        c, d = 4 + k % 5, 3 + k % 6
        return [(2, 3, a, b), (40, 40, c, d)]
    if m == 2:
        a2, w1 = 16 + k % 7, 3 + k % 3
        b2, h1 = 18 + k % 5, 4 + k % 3
        return [(5, 20, a2, w1), (12, 10, h1, b2)]
    bigA, bigB, t = 10 + k % 5, 12 + k % 7, 2 + k % 2
    return [(6, 5, t, bigB), (6 + bigA - t, 5, t, bigB),
            (6, 5, bigA, t), (6, 5 + bigB - t, bigA, t)]


def _per_pixel_rows(tiles, schema, value_name, array_of, ids_of,
                    extra_of=None):
    """Shared expander for the per-pixel stencil-oracle queries: one
    row per pixel with id columns derived from cell_id bits, (i, j)
    indices, the decoded value column, and optional per-tile extras."""

    def expand(batches):
        for pdf in batches:
            outs = []
            for t in pdf.itertuples():
                a = array_of(t)
                h, w = a.shape
                gj, gi = np.meshgrid(np.arange(w), np.arange(h))
                cols = {
                    k: np.full(a.size, v, dtype=np.int32)
                    for k, v in ids_of(int(t.cell_id)).items()
                }
                cols["i"] = gi.ravel().astype(np.int32)
                cols["j"] = gj.ravel().astype(np.int32)
                cols[value_name] = a.ravel()
                if extra_of:
                    for k, v in extra_of(t).items():
                        cols[k] = np.full(a.size, v)
                outs.append(pd.DataFrame(cols))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return tiles.mapInPandas(expand, schema)


def _cell_hi(cid: int) -> int:
    return (cid >> 28) & 0xFFFFFFF


def _cell_lo(cid: int) -> int:
    return cid & 0xFFFFFFF


# tower skyline for the shadow_march_towers oracle: (global col, height).
# Heights are dyadic quarters (>= 0.25 tie slack vs dz ~= 1.0); no tower
# at global cols 0/1 (keeps tile 0's replicate-clamped west halo flat)
# and none at col % 64 == 55 (the one position the kernel's 1-px edge
# pad inside each tile's padded window cannot see).
SHADOW_TOWERS = (
    (20, 3.25), (60, 9.5), (100, 2.75), (126, 12.25), (190, 6.5),
    (200, 5.25), (250, 7.75), (302, 8.5), (318, 10.75),
    (340, 4.5), (343, 9.25), (380, 1.75), (411, 6.25),
)




def _skyline_front(per_key: DataFrame) -> DataFrame:
    """2-D Pareto frontier of (maximize x = price, maximize y = qty)
    given one row per distinct x with y = max y at that x: keep rows whose y
    strictly beats the running max of all higher-x rows.  Shared by
    the ``skyline`` query and its bruteforce-equivalence property
    test, so the two cannot drift apart.

    Distributed scan shape (the classic prefix-max decomposition; the
    former ``Window.orderBy`` with no partitionBy shuffled every
    distinct x to ONE task): range-partition by x descending, compute
    the prefix max WITHIN each range partition, and combine with the
    broadcast prefix max of all strictly-higher partitions --
    ``greatest`` of the two running maxima is exactly the global
    prefix max, because range partitioning makes every row of a
    lower-index partition strictly greater in x (one row per distinct
    x).  The only unpartitioned window left runs over one row per
    RANGE PARTITION (<= 2x cores rows), not over the data."""
    sc = per_key.sparkSession.sparkContext
    n_parts = max(2, sc.defaultParallelism)
    ranged = per_key.repartitionByRange(
        n_parts, F.col("price").desc()
    ).withColumn("_pid", F.spark_partition_id())
    wl = (
        Window.partitionBy("_pid")
        .orderBy(F.col("price").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn("_lprev", F.max("qty").over(wl))
    pmax = ranged.groupBy("_pid").agg(F.max("qty").alias("_pmax"))
    wp = (
        Window.orderBy(F.col("_pid").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    higher = pmax.withColumn("_hprev", F.max("_pmax").over(wp)).select(
        "_pid", "_hprev"
    )
    return (
        local.join(F.broadcast(higher), "_pid")
        # greatest() is null only when BOTH inputs are null -- i.e.
        # the first row of the highest-x partition, matching the
        # former single-window NULL-prefix semantics
        .withColumn(
            "_prevmax", F.greatest(F.col("_lprev"), F.col("_hprev"))
        )
        .filter(
            F.col("_prevmax").isNull() | (F.col("qty") > F.col("_prevmax"))
        )
        .select("price", "qty")
    )


def queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- spatial core (oracle-checked) ---------------------------------

    def grid_assign(spark, sf_dir):
        pts = _points(spark, sf_dir)
        return pts.select(
            "event_id",
            op_tile.cell_col(F.col("cx"), F.col("cy"), 9).alias("cell9"),
            op_tile.cell_col(F.col("cx"), F.col("cy"), 10).alias("cell10"),
            op_tile.parent_cell_col(
                op_tile.cell_col(F.col("cx"), F.col("cy"), 9)
            ).alias("cell8"),
        )

    q["grid_assign"] = grid_assign

    def pip_rect(spark, sf_dir):
        return _pip_pairs(spark, sf_dir)

    q["pip_rect"] = pip_rect

    def zonal_rect(spark, sf_dir):
        pairs = _pip_pairs(spark, sf_dir)
        vals = _points(spark, sf_dir).select("event_id", "value")
        return (
            pairs.join(vals, "event_id")
            .groupBy("feat_id")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                _dsum(F.col("value")).alias("sum_v"),
                F.min("value").alias("min_v"),
                F.max("value").alias("max_v"),
                _ratio4(_dsum(F.col("value")), F.count(F.lit(1)))
                .alias("avg_v"),
            )
        )

    q["zonal_rect"] = zonal_rect

    def quad_rollup(spark, sf_dir):
        pts = _points(spark, sf_dir).withColumn(
            "cell10", op_tile.cell_col(F.col("cx"), F.col("cy"), 10)
        )
        out = op_tile.quad_rollup(pts, "cell10", "value", levels=2)
        return out.select(
            F.col("cell").alias("cell8"),
            (F.floor(F.col("value") * 10000.0) / 10000.0).alias("mean_v"),
            F.col("n_px").alias("n"),
        )

    q["quad_rollup"] = quad_rollup

    # ---- relational re-expressions of section 2 operators --------------

    def mosaic_merge(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("cell_id"),
            F.col("l_linenumber").alias("layer"),
            F.when(F.col("l_discount") >= 0.02, F.col("l_quantity"))
            .alias("value"),
        )
        return op_mosaic.merge_last_wins(li)

    q["mosaic_merge"] = mosaic_merge

    def rebase_diff(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        base = li.filter(F.col("l_linenumber") == 1).select(
            F.col("l_orderkey").alias("cell_id"),
            F.col("l_quantity").alias("value"),
        )
        update = li.filter(F.col("l_linenumber") == 2).select(
            F.col("l_orderkey").alias("cell_id"),
            F.col("l_quantity").alias("value"),
        )
        return op_mosaic.rebase(base, update)

    q["rebase_diff"] = rebase_diff

    def reclass_lut(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        part = _t(spark, sf_dir, "part").select(
            "p_partkey",
            F.when(F.col("p_size") < 10, "small")
            .when(F.col("p_size") < 30, "medium")
            .otherwise("large")
            .alias("size_class"),
        )
        return (
            li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("size_class")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                _dsum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).alias("revenue"),
            )
        )

    q["reclass_lut"] = reclass_lut

    def clamp_filter(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        clamped = ev.select(
            F.when(
                (F.col("value") >= 10.0) & (F.col("value") <= 90.0),
                F.col("value"),
            ).alias("v")
        )
        return clamped.agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count("v").alias("n_active"),
            _dsum(F.col("v")).alias("sum_active"),
        )

    q["clamp_filter"] = clamp_filter

    def skip_empty(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            F.when(F.col("l_discount") >= 0.05, F.col("l_quantity"))
            .alias("v"),
        )
        return (
            li.groupBy("l_orderkey")
            .agg(F.count("v").alias("n_active"))
            .filter(F.col("n_active") > 0)
        )

    q["skip_empty"] = skip_empty

    def antijoin_resume(spark, sf_dir):
        orders = _t(spark, sf_dir, "orders")
        li = _t(spark, sf_dir, "lineitem")
        return orders.join(
            li.select(F.col("l_orderkey").alias("o_orderkey")),
            "o_orderkey",
            "left_anti",
        ).select("o_orderkey", "o_orderstatus")

    q["antijoin_resume"] = antijoin_resume

    def semijoin_aoi(spark, sf_dir):
        cust = _t(spark, sf_dir, "customer")
        orders = _t(spark, sf_dir, "orders")
        return cust.join(
            orders.select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            "left_semi",
        ).select("c_custkey", "c_mktsegment")

    q["semijoin_aoi"] = semijoin_aoi

    def interval_class(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        cls = (
            F.when(F.col("value") < 20.0, "low")
            .when(F.col("value") < 60.0, "mid")
            .when(F.col("value") < 90.0, "high")
            .otherwise("extreme")
        )
        return (
            ev.select(cls.alias("cls"), "value")
            .groupBy("cls")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                _dsum(F.col("value")).alias("sum_v"),
            )
        )

    q["interval_class"] = interval_class

    def topk_cells(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return (
            ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("user_id").asc())
            .limit(10)
        )

    q["topk_cells"] = topk_cells

    def second_smallest(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        w = Window.partitionBy("l_suppkey").orderBy(
            F.col("l_extendedprice").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        return (
            li.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 2)
            .select("l_suppkey", F.col("l_extendedprice").alias("second_price"))
        )

    q["second_smallest"] = second_smallest

    def rank_along_line(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        w = Window.partitionBy("l_orderkey").orderBy(
            F.col("l_quantity").desc(), F.col("l_linenumber").asc()
        )
        return (
            li.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "l_orderkey",
                F.col("l_linenumber").alias("argmax_line"),
                F.col("l_quantity").alias("max_qty"),
            )
        )

    q["rank_along_line"] = rank_along_line

    def histogram(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))

    q["histogram"] = histogram

    def weighted_indicator(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        return (
            li.groupBy("l_orderkey")
            .agg(
                _ratio4(
                    _dsum(F.col("l_quantity") * F.col("l_extendedprice")),
                    _dsum(F.col("l_quantity")),
                ).alias("weighted_price")
            )
        )

    q["weighted_indicator"] = weighted_indicator

    def set_ops(spark, sf_dir):
        orders = _t(spark, sf_dir, "orders")
        a = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
        b = orders.filter(F.col("o_totalprice") > 100000.0).select("o_custkey")
        return a.intersect(b)

    q["set_ops"] = set_ops

    def dedup_rows(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return (
            ev.select("user_id", "event_type")
            .distinct()
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_users"))
        )

    q["dedup_rows"] = dedup_rows

    def streaming_window_batch(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return (
            ev.withColumn(
                "hour", F.date_format(F.date_trunc("hour", "ts"),
                                      "yyyy-MM-dd HH")
            )
            .groupBy("hour", "event_type")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                _dsum(F.col("value")).alias("sum_v"),
            )
        )

    q["streaming_window_batch"] = streaming_window_batch

    # ---- text / dedup / similarity (training-data pipeline) ------------

    def token_quality(spark, sf_dir):
        return ftext.quality_scores(_t(spark, sf_dir, "documents"))

    q["token_quality"] = token_quality

    def lang_id(spark, sf_dir):
        return ftext.lang_id(_t(spark, sf_dir, "documents"))

    q["lang_id"] = lang_id

    def fingerprint_dedup(spark, sf_dir):
        return fdedup.exact_dedup(_t(spark, sf_dir, "documents"))

    q["fingerprint_dedup"] = fingerprint_dedup

    def ngram_jaccard(spark, sf_dir):
        return fdedup.ngram_jaccard_pairs(
            _t(spark, sf_dir, "documents"), threshold=0.1
        )

    q["ngram_jaccard"] = ngram_jaccard

    def minhash_lsh(spark, sf_dir):
        return fdedup.lsh_candidate_pairs(_t(spark, sf_dir, "documents"))

    q["minhash_lsh"] = minhash_lsh

    def cosine_topk(spark, sf_dir):
        emb = _t(spark, sf_dir, "embeddings")
        return fsim.cosine_topk(
            emb.filter(F.col("vec_id") < 8), emb
        )

    q["cosine_topk"] = cosine_topk

    def running_sum(spark, sf_dir):
        # (shipdate, orderkey, linenumber) is NOT a total order within
        # a supplier on every fixture (sf0.1 carries one duplicated
        # key with two quantities), so the prefix sums at the tie rows
        # were a per-run coin flip -- Spark's shuffle-fed sort broke
        # the tie by arrival order while DuckDB's STABLE sort always
        # realizes file order.  Append the scan position as the final
        # key: the order becomes total and deterministically equal to
        # the oracle's stable-sort realization; fixtures without ties
        # are bit-for-bit unchanged.
        li = _t(spark, sf_dir, "lineitem").withColumn(
            "_scanpos",
            F.struct(
                F.col("_metadata.file_path"),
                F.col("_metadata.row_index"),
            ),
        )
        w = (
            Window.partitionBy("l_suppkey")
            .orderBy(
                F.col("l_shipdate").asc(),
                F.col("l_orderkey").asc(),
                F.col("l_linenumber").asc(),
                F.col("_scanpos").asc(),
            )
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.sum(F.col("l_quantity").cast("decimal(30,6)"))
            .over(w)
            .cast("double")
            .alias("running_qty"),
        )

    q["running_sum"] = running_sum

    def topk_per_group(spark, sf_dir):
        cust = _t(spark, sf_dir, "customer")
        w = Window.partitionBy("c_mktsegment").orderBy(
            F.col("c_acctbal").desc(), F.col("c_custkey").asc()
        )
        return (
            cust.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
        )

    q["topk_per_group"] = topk_per_group

    def range_join(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        part = _t(spark, sf_dir, "part").select("p_partkey", "p_size")
        joined = li.join(
            F.broadcast(part),
            (F.col("l_quantity") >= F.col("p_size"))
            & (F.col("l_quantity") < F.col("p_size") + 3),
        )
        return joined.groupBy("p_partkey").agg(
            F.count(F.lit(1)).alias("cnt")
        )

    q["range_join"] = range_join

    # ---- rows-only: image/synthetic pipelines (non-SQL-expressible) ----

    def dedup_clusters(spark, sf_dir):
        from .functions import graph

        pairs = fdedup.lsh_candidate_pairs(_t(spark, sf_dir, "documents"))
        return graph.dedup_clusters(pairs)

    q["dedup_clusters"] = dedup_clusters

    def pip_polygon(spark, sf_dir):
        """Generic (non-rectangle) polygon PIP through the full WKB
        ray-cast refine: diamond polygons, one oversized hot diamond
        (nation 3) driving the broadcast phase."""
        pts = _dense_points(spark, sf_dir).withColumn(
            "qk_r9", op_tile.cell_col(F.col("cx"), F.col("cy"), 9)
        ).withColumn("image_id", F.col("event_id").cast("string"))
        polys = _diamond_polygons(spark, sf_dir)
        pairs = op_pip.pip_join(pts, polys, poly_cols=("feat_id",))
        return pairs.select(
            F.col("image_id").cast("long").alias("event_id"), "feat_id"
        )

    q["pip_polygon"] = pip_polygon

    def zonal_image(spark, sf_dir):
        """Real pixel-level zonal statistics over encoded image tiles,
        oracle-checked value-for-value: SQL-expressible linear-pixel
        images (synth.linear_images_df) x rectangle polygons; the
        DuckDB twin reconstructs the pixel table and re-derives every
        stat including the u8-histogram percentile interpolation."""
        images = synth.linear_images_df(spark, 150)
        polys = _zrect_polygons(spark, sf_dir)
        out = op_zonal.zonal_stats(images, polys)
        return out.select(
            "feat_id", "size", "cnt", "mean", "std", "mn", "mx",
            "median", "p75",
        )

    q["zonal_image"] = zonal_image

    def knn_grid(spark, sf_dir):
        """Ring-expansion kNN on a dense deterministic grid; oracle =
        brute-force cross join + row_number in SQL."""
        pts = _t(spark, sf_dir, "events").filter(
            F.col("event_id") < 2000
        ).selectExpr(
            "event_id as id",
            "((event_id * 48271) % 4096) + 0.5 as cx",
            f"{WORLD_TOP:.1f} - (((event_id * 69621) % 4096) + 0.5) as cy",
        ).withColumn(
            "cell", op_tile.cell_col(F.col("cx"), F.col("cy"), 9)
        )
        qdf = pts.filter(F.col("id") < 100).selectExpr(
            "id as qid", "cx", "cy", "cell"
        )
        cdf = pts.selectExpr("id as cid", "cx", "cy", "cell")
        return op_knn.knn_join(qdf, cdf, k=4)

    q["knn_grid"] = knn_grid

    def simhash_docs(spark, sf_dir):
        return fdedup.simhash(_t(spark, sf_dir, "documents"))

    q["simhash_docs"] = simhash_docs

    def lsh_ann(spark, sf_dir):
        emb = _t(spark, sf_dir, "embeddings")
        return fsim.lsh_topk(emb)

    q["lsh_ann"] = lsh_ann

    def image_features(spark, sf_dir):
        """Decode + feature extraction, oracle-checked: floor-scaled
        at 4dp on both sides (np.std / entropy accumulate in different
        orders than SQL, agreeing to ~1e-11)."""
        from .functions import multimodal

        images = synth.linear_images_df(spark, 150)
        feats = multimodal.image_features(images)
        f4 = lambda c: (F.floor(F.col(c) * 10000.0) / 10000.0).alias(c)
        return feats.select(
            "image_id", f4("mean"), f4("std"), f4("p10"), f4("p90"),
            f4("edge_energy"), f4("entropy"),
        )

    q["image_features"] = image_features

    def retile_tiles(spark, sf_dir):
        """Retile assembly geometry oracle-checked: last-wins merge,
        n_sources, active-pixel counts re-derived by the SQL twin from
        the reconstructed pixel table."""
        from .operators import retile as op_retile

        images = synth.linear_images_df(spark, 150)
        return op_retile.retile(images).select(
            "cell_id", "n_sources", "active_px"
        )

    q["retile_tiles"] = retile_tiles

    def hillshade_tiles(spark, sf_dir):
        """Philox-data smoke of the hillshade stencil (rows-only BY
        DESIGN: realistic pixels are not SQL-derivable); the identical
        machinery is hard-oracled per pixel by hillshade_f4 and
        seam-tested in test_focal.py."""
        from .operators import focal, retile as op_retile

        images = synth.images_df(spark, 150, tiles_axis=8)
        cells = op_tile.assign_cells(images, tiles_axis=8)
        tiles = op_retile.retile(cells).select("cell_id", "bytes", "fmt")
        out = focal.halo_stencil(tiles, focal.zevenbergen_thorne, margin=1)
        return out.select("cell_id", F.md5(F.col("bytes")).alias("tile_md5"))

    q["hillshade_tiles"] = hillshade_tiles

    def _valley_tiles(spark):
        """Deterministic valley DEM mosaic (3 x 3 tiles of
        64 px): dem = 0.6*|gj - 96| + 0.4*(191 - gi)
        + 0.0005*((gi*7919 + gj*104729) % 97), stored f4.

        The 0.6/0.4 trend strictly dominates the +/-0.048 hash noise
        at every D8 drop comparison, so the flow field has a PROVEN
        closed form (tests/test_flow_valley.py checks it against the
        kernel on the exact fixture, plus fill-identity and
        no-flat/no-tie margins): east slope flows SW (16), west slope
        SE (4), the j==96 channel S (8), and the bottom row drains
        along itself W/E (32/2) into the outlet -- a converging
        drainage whose every cell reaches the outlet, exercising all
        six seam crossings of the fixpoint."""
        from . import codecs as _codecs
        from .grid import pack_cell

        def gen(batches):
            for pdf in batches:
                rows = []
                for t in pdf.itertuples():
                    k = int(t.id)
                    ty, tx = divmod(k, 3)
                    gi = ty * 64 + np.arange(64)[:, None]
                    gj = tx * 64 + np.arange(64)[None, :]
                    dem = (
                        0.6 * np.abs(gj - 96)
                        + 0.4 * (191 - gi)
                        + 0.0005 * ((gi * 7919 + gj * 104729) % 97)
                    ).astype(np.float32)
                    rows.append(
                        (
                            int(pack_cell(10, 32 + tx, 16 + ty)),
                            _codecs.rawz_encode(dem),
                            "rawz",
                        )
                    )
                if rows:
                    yield pd.DataFrame(
                        rows, columns=["cell_id", "bytes", "fmt"]
                    )

        return spark.range(3 * 3).mapInPandas(
            gen, schema="cell_id long, bytes binary, fmt string"
        )

    def _valley_dir_kernel():
        import numpy as np

        from . import flow

        def kernel(padded):
            dem = padded.astype(np.float64)
            flow.fill_simple_depressions(dem)
            return flow.calculate_flow_direction(dem)

        return kernel

    def flow_direction(spark, sf_dir):
        """D8 direction through the halo exchange on the deterministic
        valley mosaic (_valley_tiles), ORACLE-CHECKED per pixel: the
        closed-form direction field (proven on the exact fixture in
        tests/test_flow_valley.py) is the SQL twin.  Complements
        flow_direction_f4 (planar strip) with a CONVERGING field that
        turns at a channel crossing two tile seams."""
        from .operators import focal

        tiles = _valley_tiles(spark)
        dirs = focal.halo_stencil(
            tiles, _valley_dir_kernel(), margin=4, tile_px=64
        )
        return _per_pixel_rows(
            dirs, "tx int, ty int, i int, j int, dir int", "dir",
            lambda t: codecs_mod.decode(bytes(t.bytes), t.fmt)
            .astype(np.int32),
            lambda cid: {"tx": _cell_hi(cid) - 32,
                         "ty": _cell_lo(cid) - 16},
        )

    q["flow_direction"] = flow_direction

    def flow_accumulation(spark, sf_dir):
        """GLOBAL flow accumulation on the deterministic valley mosaic
        (catchments cross all six tile seams via the boundary-flow
        fixpoint, flow_op.accumulate_tiles), ORACLE-CHECKED per tile:
        the oracle replays every cell's downstream path over the
        proven closed-form pointer field with a recursive CTE and
        compares max/sum/#sources per tile -- the channel tile's
        max_acc is the full 36,863-cell upstream count, so any
        direction or exchange defect shifts it."""
        import zlib as _zlib

        from .operators import flow_op, focal

        tiles = _valley_tiles(spark)
        dirs = focal.halo_stencil(
            tiles, _valley_dir_kernel(), margin=4, tile_px=64
        )
        acc = flow_op.accumulate_tiles(
            dirs.select("cell_id", "bytes", "fmt"), tile_px=64
        )

        def summarize(batches):
            for pdf in batches:
                rows = []
                for t in pdf.itertuples():
                    a = np.frombuffer(
                        _zlib.decompress(bytes(t.acc)), dtype=np.int64
                    )
                    rows.append(
                        (t.cell_id, int(a.max()), int(a.sum()),
                         int((a == 0).sum()))
                    )
                if rows:
                    yield pd.DataFrame(
                        rows,
                        columns=["cell_id", "max_acc", "sum_acc",
                                 "n_src"],
                    )

        return acc.mapInPandas(
            summarize,
            schema="cell_id long, max_acc long, sum_acc long,"
                   " n_src long",
        )

    q["flow_accumulation"] = flow_accumulation

    def flow_pipeline(spark, sf_dir):
        """The reference's product pipeline fil -> dir -> acc -> vec
        end-to-end over a deterministic multi-tile DEM mosaic: staged
        complex depression fill (G4), halo flow direction, GLOBAL
        accumulation (G2 fixpoint), streamline vectorization (G7).
        Rows-only by design (Philox DEM); every stage's machinery is
        individually hard-oracled (flow_direction_f4,
        flow_accumulation_f4, vectorize_streams) or reference-golden
        (fill.py)."""
        import numpy as np
        import pandas as pd

        from . import codecs as _codecs, flow
        from .grid import pack_cell
        from .operators import flow_op, focal

        nt = 3

        def gen(batches):
            for pdf in batches:
                rows = []
                for t in pdf.itertuples():
                    k = int(t.id)
                    ty, tx = divmod(k, nt)
                    gi = ty * 256 + np.arange(256)[:, None]
                    gj = tx * 256 + np.arange(256)[None, :]
                    dem = np.clip(
                        np.round(
                            np.abs(gi - 0.55 * nt * 256) * 0.3
                            + (nt * 256 - gj) * 0.05
                            + 12.0 * np.sin(gi / 41.0)
                            * np.cos(gj / 37.0)
                        ),
                        0, 254,
                    ).astype(np.uint8)
                    rows.append(
                        (
                            int(pack_cell(10, 32 + tx, 16 + ty)),
                            _codecs.png_encode(dem),
                            "png",
                        )
                    )
                if rows:
                    yield pd.DataFrame(
                        rows, columns=["cell_id", "bytes", "fmt"]
                    )

        tiles = spark.range(nt * nt).mapInPandas(
            gen, schema="cell_id long, bytes binary, fmt string"
        )
        filled = flow_op.fill_depressions_tiles(tiles)

        def kernel(padded):
            dem = padded.astype(np.float64)
            flow.fill_simple_depressions(dem)
            return flow.calculate_flow_direction(dem)

        dirs = focal.halo_stencil(filled, kernel, margin=4)
        acc = flow_op.accumulate_tiles(dirs)
        lines = flow_op.vectorize_streams_tiles(
            dirs, acc,
            classes=((32.0, 256.0), (256.0, 4096.0), (4096.0, 1e12)),
        )
        return lines.groupBy("cls").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                (F.octet_length("geom_wkb") - 9) / 16
            ).cast("long").alias("n_vertices"),
        )

    q["flow_pipeline"] = flow_pipeline

    # ---- buffer-ring floor level (A6) + mask overlay (O5/J8) ------------

    def floor_level(spark, sf_dir):
        """bag2tif floor level: p75 of data pixels in the 1 m buffer
        ring around each polygon; oracle re-derives the exact-Euclidean
        ring mask in SQL."""
        images = synth.linear_images_df(spark, 150)
        polys = _zrect_polygons(spark, sf_dir)
        return op_zonal.floor_level(images, polys)

    q["floor_level"] = floor_level

    def mask_difference(spark, sf_dir):
        """difference.py semantics on a 4 m pixel grid: per layer-1
        feature, pixels kept after subtracting the layer-2 union."""
        from .operators import overlay

        l1 = _zrect_polygons(spark, sf_dir)
        l2 = _drect_polygons(spark, sf_dir)
        return overlay.mask_difference_area(l1, l2)

    q["mask_difference"] = mask_difference

    def union_area(spark, sf_dir):
        """UnionCascaded-as-rasterized-OR: area covered by the layer
        with overlaps counted once."""
        from .operators import overlay

        l2 = _drect_polygons(spark, sf_dir)
        return overlay.mask_union_area(l2)

    q["union_area"] = union_area

    def xyz_bin(spark, sf_dir):
        """S8 point-cloud source: 'x y z' TEXT lines parsed with JVM
        splits/casts, grid-binned with per-bin min/max dedup
        (txt2tif.py semantics).  Lines are synthesized from events so
        the oracle can rebuild the identical text."""
        from .materialize import fan_out, reuse
        from .sources import xyz as src_xyz

        lines = fan_out(_t(spark, sf_dir, "events"), "event_id").selectExpr(
            f"concat(cast({_PX} as string), ' ', "
            f"cast({_PY} as string), ' ', cast(value as string)) as value"
        )
        # the envelope aggregate and the binning pass would otherwise
        # each re-run the double->string->double round trip; reuse the
        # parsed points so the text is parsed ONCE (the broadcast
        # envelope job materializes them, binning reads them)
        pts = reuse(src_xyz.parse_xyz(lines))
        return src_xyz.bin_stats(pts, width=4096.0, height=4096.0)

    q["xyz_bin"] = xyz_bin

    def nodata_audit(spark, sf_dir):
        """K4 audit sink: tiles containing nodata emit a count + mask
        tile (rasterize.py:190-214); count oracle-checked."""
        from .operators import retile as op_retile

        images = synth.linear_images_df(spark, 150)
        tiles = op_retile.retile(images)
        return op_retile.nodata_audit(tiles).select(
            "cell_id", "nodata_px"
        )

    q["nodata_audit"] = nodata_audit

    def fill_voids(spark, sf_dir):
        """G6 Spark face through the FULL retile -> fill pipeline,
        ORACLE-CHECKED per pixel: each 256-px tile is composed from
        FOUR quadrant-constant images (the retile merge), with
        isolated single-pixel voids punched >= 2 px inside each
        quadrant -- every void's 4-neighbor edge ring is uniform, so
        the recursive kernel must return exactly the quadrant
        constant (the per-void locality of fillnodata.fill_voids:
        each component fills from its own edge).  Any leaked nodata,
        cross-quadrant bleed, or retile mis-anchor shifts a pixel."""
        from .grid import CELL_SIZE, WORLD_TOP as _WT
        from .operators import fill_op, retile as op_retile

        def gen(batches):
            for pdf in batches:
                rows = []
                for t in pdf.itertuples():
                    k = int(t.id)
                    for qn in range(4):
                        qi, qj = divmod(qn, 2)
                        c = (100 + 7 * k + 31 * qn) % 199
                        px = np.full((128, 128), c, np.uint8)
                        ii = qi * 128 + np.arange(128)[:, None]
                        jj = qj * 128 + np.arange(128)[None, :]
                        void = (
                            ((ii + jj) % 17 == 0)
                            & ((ii % 128) >= 2) & ((ii % 128) <= 125)
                            & ((jj % 128) >= 2) & ((jj % 128) <= 125)
                        )
                        px[void] = 255
                        rows.append(
                            (
                                f"fv_{k}_{qn}",
                                codecs_mod.png_encode(px),
                                128, 128, "png",
                                float(k * 128.0 + qj * 64.0),
                                float(_WT - k * 128.0 - qi * 64.0),
                            )
                        )
                if rows:
                    yield pd.DataFrame(
                        rows,
                        columns=["image_id", "bytes", "w", "h", "fmt",
                                 "x0", "y_top"],
                    )

        images = spark.range(8).mapInPandas(
            gen,
            schema="image_id string, bytes binary, w int, h int,"
                   " fmt string, x0 double, y_top double",
        )
        tiles = op_retile.retile(images)
        out = fill_op.fill_voids_tiles(tiles)
        return _per_pixel_rows(
            out, "k int, i int, j int, v int, filled_px long", "v",
            lambda t: codecs_mod.decode(bytes(t.bytes), t.fmt)
            .astype(np.int32),
            lambda cid: {"k": _cell_hi(cid)},
            extra_of=lambda t: {"filled_px": np.int64(t.filled_px)},
        )

    q["fill_voids"] = fill_voids

    def area_guard(spark, sf_dir):
        """P6 size/area guard: shoelace areas of the polygon layers,
        filtered by a minimum-area guard."""
        import numpy as np

        from . import geom as geom_mod

        @F.pandas_udf("double")
        def area_udf(wkb_s: pd.Series) -> pd.Series:
            return wkb_s.map(lambda b: geom_mod.area(bytes(b)))

        # deterministic function; the marking stops the pushed-down
        # area filter from re-evaluating the UDF below the projection
        # (guide 4.4: 4 ArrowEvalPython nodes -> 2, one per union side)
        area_udf = area_udf.asNondeterministic()

        polys = _zrect_polygons(spark, sf_dir).unionByName(
            _diamond_polygons(spark, sf_dir).withColumn(
                "feat_id", F.col("feat_id") + 1000
            )
        )
        return (
            polys.withColumn("area", area_udf(F.col("geom_wkb")))
            .filter(F.col("area") >= 100000.0)
            .select("feat_id", "area")
        )

    q["area_guard"] = area_guard

    def rgb_zonal(spark, sf_dir):
        """S2/A8 multi-band zonal: whitelisted calculation over masked
        (r, g, b) vectors of real RGB PNG tiles; oracle recomputes from
        the reconstructed 3-band pixel table."""
        images = synth.linear_rgb_images_df(spark, 150)
        polys = _srect_polygons(spark, sf_dir)
        return op_zonal.rgb_zonal(
            images, polys, "np.mean(3.0 * g - r - b)"
        )

    q["rgb_zonal"] = rgb_zonal

    def zonal_f4(spark, sf_dir):
        """S2 f4 data plane: zonal statistics over float32 (rawz) DEM
        tiles whose relief exceeds the u8 range; exact mean/std/min/max
        oracle-checked (percentiles are u8-domain and NULL here)."""
        images = synth.linear_f4_images_df(spark, 150)
        polys = _zrect_polygons(spark, sf_dir)
        out = op_zonal.zonal_stats(images, polys, nodata=-1.0)
        return out.select(
            "feat_id", "size", "cnt", "mean", "std", "mn", "mx"
        )

    q["zonal_f4"] = zonal_f4

    def hillshade_f4(spark, sf_dir):
        """f4 DEM -> u8 hillshade through the dtype-generic halo
        exchange, now ORACLE-CHECKED per pixel: the seven full-size f4
        images (each an exact dyadic plane 3*seed + 0.5i + 0.25j) are
        re-keyed onto a contiguous 4x2 cell block, so REAL margin
        strips cross the exchange between adjacent planes; the SQL twin
        re-derives every padded-gradient case (interior, seam with a
        live neighbor, edge-replicated world border) in closed form and
        applies the same published ZT/gdaldem shade formula."""
        from .operators import focal

        images = synth.linear_f4_images_df(spark, 100)
        # full-size images only (the stencil canvas is fixed-size);
        # idx%15==0 -> rank t=idx/15 packs them onto cells (t%4, t//4)
        images = images.filter((F.col("w") == 64) & (F.col("h") == 64))
        tiles = images.selectExpr(
            "(CAST(10 AS BIGINT) << 56)"
            " | (CAST((phash DIV 15) % 4 AS BIGINT) << 28)"
            " | CAST((phash DIV 15) DIV 4 AS BIGINT) AS cell_id",
            "bytes", "fmt",
        )
        out = focal.halo_stencil(
            tiles, focal.zevenbergen_thorne, margin=1, tile_px=64
        )
        return _per_pixel_rows(
            out, "ix int, iy int, i int, j int, shade int", "shade",
            lambda t: codecs_mod.decode(bytes(t.bytes), t.fmt)
            .astype(np.int32),
            lambda cid: {"ix": _cell_hi(cid), "iy": _cell_lo(cid)},
        )

    q["hillshade_f4"] = hillshade_f4

    def embedding_near_dup(spark, sf_dir):
        """Embedding-cosine near-duplicate pairs via the LSH bucket
        join (same integer-derived hyperplanes as lsh_ann, so the
        bucket assignment itself is oracle-checked)."""
        emb = _t(spark, sf_dir, "embeddings")
        return fsim.embedding_near_dup(emb, threshold=0.3)

    q["embedding_near_dup"] = embedding_near_dup

    def sessionize(spark, sf_dir):
        """Gap-based per-user sessionization via window functions
        (streaming/sessions.py), oracle-checked here."""
        from .streaming import sessions as ss

        out = ss.sessionize_batch(_t(spark, sf_dir, "events"))
        return out.select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss")
            .alias("session_end"),
            "n_events",
            "sum_v",
        )

    q["sessionize"] = sessionize

    def ivf_ann(spark, sf_dir):
        """IVF-flat ANN: deterministic coarse quantizer -> inverted
        lists -> nprobe equi-join -> exact cosine; the second scale
        path besides LSH buckets."""
        emb = _t(spark, sf_dir, "embeddings")
        return fsim.ivf_topk(emb, n_centroids=32)

    q["ivf_ann"] = ivf_ann

    def token_regex(spark, sf_dir):
        """BPE-ish regex token counting next to whitespace tokens."""
        return ftext.bpe_ish_token_count(_t(spark, sf_dir, "documents"))

    q["token_regex"] = token_regex

    def rolling_fp(spark, sf_dir):
        """Winnowing rolling-hash document fingerprints (k-gram Horner
        hash + per-window minima), pure JVM expressions."""
        return ftext.rolling_fingerprints(_t(spark, sf_dir, "documents"))

    q["rolling_fp"] = rolling_fp

    def json_props(spark, sf_dir):
        """SURVEY 2.7 JSON family: extract a typed field from the JSON
        props column (JVM get_json_object) and aggregate."""
        ev = _t(spark, sf_dir, "events")
        return (
            ev.select(
                "event_type",
                F.get_json_object(F.col("props"), "$.k")
                .cast("long")
                .alias("k"),
            )
            .groupBy("event_type")
            .agg(
                F.count("k").alias("n"),
                F.sum("k").alias("sum_k"),
                F.min("k").alias("min_k"),
                F.max("k").alias("max_k"),
            )
        )

    q["json_props"] = json_props

    def line_carpet(spark, sf_dir):
        """Carpet drape (line_up --distance mode): per on-line sample,
        the max of the raster over a perpendicular +-1 m carpet row."""
        from .operators import lines as op_lines, retile as op_retile

        images = synth.linear_images_df(spark, 150)
        tiles = op_retile.retile(images)

        lines_df = _nation_layer(
            spark, sf_dir, _drape_line_of
        ).withColumnRenamed("feat_id", "line_id")
        return op_lines.line_carpet_profile(lines_df, tiles, step=2.0)

    q["line_carpet"] = line_carpet

    def green_factor(spark, sf_dir):
        """A9 band-ratio in-range fraction (green_factor.py:176-193):
        share of polygon pixels whose (r+b)/(2g) ratio falls in
        [0.8, 1.2], written multiplicatively (r+b within [1.6g, 2.4g],
        g > 0) so both engines avoid div-by-zero divergence."""
        images = synth.linear_rgb_images_df(spark, 150)
        polys = _srect_polygons(spark, sf_dir)
        return op_zonal.rgb_zonal(
            images, polys,
            "np.mean((r + b >= 1.6 * g) & (r + b <= 2.4 * g) & (g > 0))",
        )

    q["green_factor"] = green_factor

    def contour_footprint(spark, sf_dir):
        """Footprint contour over the FULL retile -> marching-squares
        pipeline (reference contour.py semantics: hole-filled data
        mask polygonized per tile), ORACLE-CHECKED: each of 12 tiles
        is composed from 1-4 rectangle IMAGES through the real retile
        merge, yielding closed-form ring combinatorics -- a lone
        rect (2(a+b)+1 vertices, a*b - 0.5 px^2), two disjoint rects,
        a crossing plus-union (concave corners: still 2(a+b)+1 and
        union - 0.5 px^2 since convex-concave = 4 on any simple
        rectilinear ring), and a 4-image FRAME whose interior hole the
        fill step erases (outer-rect closed form).  Formula-vs-kernel
        parity for all four families is pinned in
        tests/test_contour.py::test_footprint_formula_families."""
        from .grid import CELL_SIZE, WORLD_TOP as _WT, pack_cell
        from .operators import contour_op, retile as op_retile

        def gen(batches):
            for pdf in batches:
                rows = []
                for t in pdf.itertuples():
                    k = int(t.id)
                    for im, (r0, c0, h, w) in enumerate(
                        _footprint_rects(k)
                    ):
                        px = np.full((h, w), 100 + k, np.uint8)
                        rows.append(
                            (
                                f"fp_{k}_{im}",
                                codecs_mod.png_encode(px),
                                w, h, "png",
                                float(k * 128.0 + c0 * CELL_SIZE),
                                float(_WT - k * 128.0 - r0 * CELL_SIZE),
                            )
                        )
                if rows:
                    yield pd.DataFrame(
                        rows,
                        columns=["image_id", "bytes", "w", "h", "fmt",
                                 "x0", "y_top"],
                    )

        images = spark.range(12).mapInPandas(
            gen,
            schema="image_id string, bytes binary, w int, h int,"
                   " fmt string, x0 double, y_top double",
        )
        tiles = op_retile.retile(images)
        rings = contour_op.contour_tiles(tiles)
        return rings.groupBy("cell_id").agg(
            F.count(F.lit(1)).alias("n_rings"),
            F.sum("n_pts").alias("n_pts"),
            (F.floor(F.sum("area") * 100.0) / 100.0).alias("area"),
        )

    q["contour_footprint"] = contour_footprint

    def _interp_inputs(spark, sf_dir):
        from .functions import interp

        pts = _t(spark, sf_dir, "events").filter(
            F.col("event_id") < 2000
        ).selectExpr(
            "event_id as cid",
            "((event_id * 48271) % 4096) + 0.5 as cx",
            f"{WORLD_TOP:.1f} - (((event_id * 69621) % 4096) + 0.5) as cy",
            "value as z",
        ).withColumn(
            "cell", op_tile.cell_col(F.col("cx"), F.col("cy"), 9)
        )
        grid = interp.grid_centers(
            spark, 0.0, WORLD_TOP, 64, 64, 64.0
        )
        return grid, pts

    def grid_interpolate(spark, sf_dir):
        """griddata 'nearest' re-expression: per grid pixel, the value
        of the nearest scattered point via the kNN ring join."""
        from .functions import interp

        grid, pts = _interp_inputs(spark, sf_dir)
        return interp.nearest_grid(grid, pts)

    q["grid_interpolate"] = grid_interpolate

    def grid_idw(spark, sf_dir):
        """Inverse-distance-squared interpolation over the 4 nearest
        points, folded in rank order for cross-engine bit-identity."""
        from .functions import interp

        grid, pts = _interp_inputs(spark, sf_dir)
        return interp.idw_grid(grid, pts)

    q["grid_idw"] = grid_idw

    def difference_polygons(spark, sf_dir):
        """Geometry-out difference (J8) at FEATURE SCALE (320-576 m
        subjects, two cutters each), ORACLE-CHECKED with exact slab-
        path areas: per n%5 a full-height band SPLIT (two outer
        rings), an interior hole, TWO interior holes, a flush corner
        cut PLUS a hole (L outer + hole ring), and a band split with
        a hole in the left piece (three rings) -- the multi-piece /
        multi-cutter shapes difference_rings' single-cut fixtures
        don't reach.  Ring order (outers then holes, each area-desc)
        and the closed forms are mirrored in the SQL twin."""
        from .operators import overlay

        l1 = _nation_layer(spark, sf_dir, _dpoly_subject)
        l2 = _nation_layer(spark, sf_dir, _dpoly_cutter_a).unionByName(
            _nation_layer(spark, sf_dir, _dpoly_cutter_b)
        )
        out = overlay.mask_difference_polygons(l1, l2)
        return out.select(
            "feat_id", "ring_id", "n_pts", "is_hole",
            (F.floor(F.col("area") * 100.0) / 100.0).alias("area"),
        )

    q["difference_polygons"] = difference_polygons

    def shadow_march(spark, sf_dir):
        """Philox-data smoke of the shadow march (rows-only by
        design); the machinery is hard-oracled per pixel by
        shadow_march_flat and spike-golden in test_shadow.py."""
        from . import shadow as shadow_mod
        from .operators import focal, retile as op_retile

        images = synth.images_df(spark, 120, tiles_axis=8)
        cells = op_tile.assign_cells(images, tiles_axis=8)
        tiles = op_retile.retile(cells).select("cell_id", "bytes", "fmt")
        kern = shadow_mod.shadow_kernel_factory(
            elevation=45.0, m_per_px=1.0, mz=100.0, margin=8
        )
        out = focal.halo_stencil(tiles, kern, margin=8)
        return out.select(
            "cell_id", F.md5(F.col("bytes")).alias("shadow_md5")
        )

    q["shadow_march"] = shadow_march

    def zonal_expr(spark, sf_dir):
        """Band-expression zonal (A8) + in-range fraction (A9), now
        oracle-checked: expr-domain mean/std/mn/mx and raw-domain
        percentiles both re-derived in SQL."""
        images = synth.linear_images_df(spark, 150)
        polys = _zrect_polygons(spark, sf_dir)
        return op_zonal.zonal_stats(
            images, polys, expr="clip(v * 2.0, 0, 400)",
            range_frac=(100, 160),
        )

    q["zonal_expr"] = zonal_expr

    def line_drape(spark, sf_dir):
        """Line drape sampling over RETILED tiles, oracle-checked: the
        SQL twin re-derives the arc-length samples, the last-wins
        merged pixel values, and the per-line extremum.  (The jittered
        multi-segment Philox lines keep their pytest goldens in
        test_lines.py.)"""
        from .operators import lines as op_lines, retile as op_retile

        images = synth.linear_images_df(spark, 150)
        tiles = op_retile.retile(images)

        lines_df = _nation_layer(
            spark, sf_dir, _drape_line_of
        ).withColumnRenamed("feat_id", "line_id")
        prof = op_lines.line_profile(lines_df, tiles, step=2.0)
        return op_lines.line_extremum(prof)

    q["line_drape"] = line_drape

    def upstream_line_levels(spark, sf_dir):
        """Lowest-upstream levels composite (reference upstream.py:
        89-267), oracle-checked: directed samples, forward-half-disc
        search area clipped to the polygon, second-smallest data pixel,
        and the mean-halves direction reversal are all re-derived in
        SQL on the same last-wins merged pixel table as line_drape."""
        from .operators import retile as op_retile
        from .operators import upstream as op_up

        images = synth.linear_images_df(spark, 150)
        tiles = op_retile.retile(images)
        polys = _nation_layer(spark, sf_dir, _box_of(_urect_params))
        lines_df = _nation_layer(
            spark, sf_dir, _uline_of
        ).withColumnRenamed("feat_id", "line_id")
        return op_up.upstream_levels(
            lines_df, polys, tiles,
            separation=4.25, distance=33.25, grow=24.0,
        )

    q["upstream_levels"] = upstream_line_levels

    def grid_linear(spark, sf_dir):
        """Delaunay-linear grid interpolation with nearest fallback
        (the reference's griddata combo, roof.py:73-77), oracle-checked
        via the planar-reproduction property: the fixture z-field is an
        exact dyadic plane per feature, which ANY valid triangulation
        reproduces bit-closely inside the hull (the hull is the fixture
        rectangle, its corners being data points), while the 1-pixel
        pad ring outside the hull takes the nearest point's value
        (ties -> lowest pid, mirrored in SQL)."""
        from .functions import interp as finterp

        nat = _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("long").alias("feat_id")
        )

        def gen(batches):
            for pdf in batches:
                rows = []
                for n in pdf["feat_id"]:
                    n = int(n)
                    x1, x2, y1, y2 = _urect_params(n)
                    b = (1 + n % 4) * 0.0625
                    c = (1 + n % 3) * 0.0625
                    pts = [(x1, y1), (x1, y2), (x2, y1), (x2, y2)]
                    for m in range(5):
                        pts.append(
                            (
                                x1 + 3.25 + m * 7.25,
                                y1 + 2.75 + ((m * 3) % 5) * 6.25,
                            )
                        )
                    for pid, (px, py) in enumerate(pts):
                        rows.append(
                            (n, pid, px, py, n * 1.0 + b * px + c * py)
                        )
                yield pd.DataFrame(
                    rows, columns=["feat_id", "pid", "x", "y", "z"]
                )

        points = nat.mapInPandas(
            gen, "feat_id long, pid int, x double, y double, z double"
        )
        return finterp.linear_grid_features(points)

    q["grid_linear"] = grid_linear

    def roof_grid(spark, sf_dir):
        """Roof pipeline composite (reference roof.py:59-205), rows-
        only: per-footprint k-NN-graph denoise (the planar 'roof'
        cluster survives, the offset 'foliage' cluster drops), Delaunay
        linear + nearest rasterization, footprint clip.  The pixel
        values are property-tested in test_roof.py (planar
        reproduction, clip, nearest ring)."""
        from .operators import roof as op_roof

        nat = _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("long").alias("feat_id")
        )

        def gen(batches):
            for pdf in batches:
                rows = []
                for n in pdf["feat_id"]:
                    n = int(n)
                    x1, x2, y1, y2 = _urect_params(n)
                    b = (1 + n % 4) * 0.0625
                    c = (1 + n % 3) * 0.0625
                    # planar roof cluster, 0.3 m spacing
                    for i in range(40):
                        for j in range(34):
                            px = x1 + 5.0 + j * 0.3
                            py = y1 + 5.0 + i * 0.3
                            rows.append(
                                (n, px, py, 10.0 + b * px + c * py)
                            )
                    # foliage cluster: >= 0.5 m from the roof in XY and
                    # +8 m in z -- a separate (smaller) component
                    fx = x1 + 5.0 + 34 * 0.3 + 2.0
                    fy = y1 + 5.0
                    for i in range(12):
                        for j in range(13):
                            px = fx + j * 0.3
                            py = fy + i * 0.3
                            rows.append(
                                (n, px, py, 18.0 + b * px + c * py)
                            )
                yield pd.DataFrame(rows, columns=["feat_id", "x", "y", "z"])

        points = nat.mapInPandas(
            gen, "feat_id long, x double, y double, z double"
        )
        polys = _nation_layer(spark, sf_dir, _box_of(_urect_params))
        out = op_roof.roof_rasterize(points, polys, edge=0.5)
        return out.select(
            "feat_id", "x0", "y_top", "w", "h", "total", "kept",
            F.md5(F.col("bytes")).alias("z_md5"),
        )

    q["roof_grid"] = roof_grid

    def fix_nodata(spark, sf_dir):
        """Sentinel rewrite + nodata remap with skip-if-clean
        (srtm/fix_nodata.py:22-56), oracle-checked on the f4 plane:
        per-image fix count and post-rewrite pixel sum (dyadic f4
        values sum exactly in both engines)."""
        from .operators import repair as op_repair

        images = synth.linear_f4_images_df(
            spark, 150
        ).withColumn(
            # even images are already on the target nodata (skip
            # candidates unless a sentinel pixel exists), odd are dirty
            "nodata",
            F.when(F.col("phash") % 2 == 0, F.lit(0.0))
            .otherwise(F.lit(-1.0)),
        )
        fixed = op_repair.fix_nodata(images, sentinel=300.0)
        return codecs_mod.map_payloads(
            fixed.select("image_id", "changed", "n_fixed", "bytes", "fmt"),
            lambda px, t: [(t.image_id, t.changed, t.n_fixed,
                            float(np.sum(px.astype(np.float64))))],
            "image_id string, changed int, n_fixed long, sum_v double",
        )

    q["fix_nodata"] = fix_nodata

    def streaming_dedup(spark, sf_dir):
        """Ingestion dedup, oracle-checked: events with a replayed
        subset (event_id % 7 == 0 duplicated) deduped on the key,
        folded to per-type counts + exact sums."""
        from .streaming import windows as sw

        ev = _t(spark, sf_dir, "events")
        duped = ev.unionByName(ev.filter(F.col("event_id") % 7 == 0))
        return sw.dedup_batch_stats(duped)

    q["streaming_dedup"] = streaming_dedup

    def grid_linear_tiles(spark, sf_dir):
        """TILED distributed Delaunay gridding (interp.linear_grid_tiles,
        zvp2tif semantics), oracle-checked by the planar trick: a
        jittered-grid cloud with an exact dyadic planar z covers a 4x4
        tile block; every pixel of the four CENTER tiles is deep inside
        the hull, so any valid local triangulation reproduces the plane
        there exactly (and exactly representably in f4).  The oracle
        re-derives the per-tile pixel aggregates in closed form -- no
        triangulation needed SQL-side.  Seam equality local-vs-global
        is pytest-checked in test_interp_tiles.py."""
        from .functions import interp as finterp
        from .grid import pack_cell

        NXY = 105  # 105x105 points, 4 m pitch, spanning [-8, 408+]

        pts = spark.range(0, NXY * NXY).selectExpr(
            "id AS pid",
            # dyadic jitter with coprime periods 17/19 so no near
            # triple is collinear and the triangulation stays in
            # general position along rows AND columns
            f"CAST(-8.0 + (id % {NXY}) * 4.0"
            " + ((id * 7919) % 17) * 0.03125 AS DOUBLE) AS x",
            f"CAST({WORLD_TOP!r} - (-8.0 + (id DIV {NXY}) * 4.0"
            " + ((id * 104729) % 19) * 0.03125) AS DOUBLE) AS y",
        ).selectExpr(
            "pid", "x", "y",
            "CAST(7.0 + 0.0625 * x - 0.125 * y AS DOUBLE) AS z",
        )
        tiles = finterp.linear_grid_tiles(pts)
        center = [int(pack_cell(10, tx, ty))
                  for tx in (1, 2) for ty in (1, 2)]
        picked = tiles.filter(F.col("cell_id").isin(center))

        def agg_px(px, t):
            px = px.astype(np.float64)
            return [(t.cell_id, int(px.size), float(px.sum()),
                     float(px.min()), float(px.max()))]

        return codecs_mod.map_payloads(
            picked.select("cell_id", "bytes", "fmt"), agg_px,
            "cell_id long, n_px long, sum_v double, min_v double, "
            "max_v double",
        )

    q["grid_linear_tiles"] = grid_linear_tiles

    def dedup_apply(spark, sf_dir):
        """Canonical-document selection -- the apply step after
        near-dup clustering: drop every non-representative cluster
        member, keep unclustered docs, report corpus before/after
        stats.  Oracle re-derives the clusters with a recursive
        reachability CTE (same machinery as dedup_clusters)."""
        from .functions import graph

        docs = _t(spark, sf_dir, "documents")
        clusters = graph.dedup_clusters(
            fdedup.lsh_candidate_pairs(docs)
        )
        marked = docs.join(
            clusters.select("doc_id", "is_representative"),
            "doc_id", "left",
        )
        dropped = F.sum(
            F.when(F.col("is_representative") == False, 1)  # noqa: E712
            .otherwise(0)
        )
        return marked.agg(
            F.count(F.lit(1)).alias("docs_before"),
            dropped.cast("long").alias("dropped"),
            (F.count(F.lit(1)) - dropped).cast("long").alias("docs_after"),
            F.sum(
                F.when(
                    F.coalesce(F.col("is_representative"), F.lit(True)),
                    F.length("text"),
                ).otherwise(0)
            ).cast("long").alias("kept_chars"),
        )

    q["dedup_apply"] = dedup_apply

    def flow_direction_f4(spark, sf_dir):
        """D8 flow direction through the halo exchange, ORACLE-CHECKED
        per pixel on planar f4 tiles arranged west-to-east by ASCENDING
        seed (so every west seam drops >= 3*11 - 15.75 m and dominates).

        Closed-form direction map (derivation in the oracle comment):
        interior pixels flow NW (64: the diagonal drop 0.75/sqrt(2)
        beats N 0.5 and W 0.25); top rows flow W (32: the replicated
        north halo kills vertical drops); west-seam columns flow W
        (the cross-plane drop dominates); the westmost tile's first
        column flows N (128: replicated west halo); and the single
        global NW corner pixel -- zero drop everywhere -- is resolved
        to NW (64) by the flat-area flood from the outward-edge frame,
        exercising flow_dir.py:126-154's iterative resolution."""
        from . import flow as flow_mod
        from .operators import focal

        images = synth.linear_f4_images_df(spark, 100)
        images = images.filter((F.col("w") == 64) & (F.col("h") == 64))
        # strip position by ascending seed ((t*555)%199 for t=idx/15):
        # t [0,4,3,2,6,1,5] -> seeds [0,31,73,115,146,157,188]
        tiles = images.selectExpr(
            "(CAST(10 AS BIGINT) << 56) | (CAST("
            "CASE (phash DIV 15) WHEN 0 THEN 0 WHEN 4 THEN 1"
            " WHEN 3 THEN 2 WHEN 2 THEN 3 WHEN 6 THEN 4"
            " WHEN 1 THEN 5 ELSE 6 END AS BIGINT) << 28) AS cell_id",
            "bytes", "fmt",
        )
        out = focal.halo_stencil(
            tiles, flow_mod.calculate_flow_direction,
            margin=8, tile_px=64,
        )
        return _per_pixel_rows(
            out, "ix int, i int, j int, dir int", "dir",
            lambda t: codecs_mod.decode(bytes(t.bytes), t.fmt)
            .astype(np.int32),
            lambda cid: {"ix": _cell_hi(cid)},
        )

    q["flow_direction_f4"] = flow_direction_f4

    def flow_accumulation_f4(spark, sf_dir):
        """GLOBAL flow accumulation (G2: cross-tile fixpoint with
        boundary-outflow exchange), ORACLE-CHECKED per pixel: on the
        ascending-seed planar strip the D8 pointer field is the closed
        form proven by flow_direction_f4, so the oracle can replay
        every cell's full downstream path with a recursive CTE and
        count visits -- acc(v) == number of strictly-upstream cells.
        Flow crosses all six tile seams (west seam columns drain W),
        driving the distributed rounds + driver-tail finish."""
        import zlib as _zlib

        from . import flow as flow_mod
        from .operators import flow_op, focal

        images = synth.linear_f4_images_df(spark, 100)
        images = images.filter((F.col("w") == 64) & (F.col("h") == 64))
        tiles = images.selectExpr(
            "(CAST(10 AS BIGINT) << 56) | (CAST("
            "CASE (phash DIV 15) WHEN 0 THEN 0 WHEN 4 THEN 1"
            " WHEN 3 THEN 2 WHEN 2 THEN 3 WHEN 6 THEN 4"
            " WHEN 1 THEN 5 ELSE 6 END AS BIGINT) << 28) AS cell_id",
            "bytes", "fmt",
        )
        dirs = focal.halo_stencil(
            tiles, flow_mod.calculate_flow_direction,
            margin=8, tile_px=64,
        )
        acc = flow_op.accumulate_tiles(
            dirs.select("cell_id", "bytes", "fmt"), tile_px=64
        )
        return _per_pixel_rows(
            acc, "ix int, i int, j int, acc long", "acc",
            lambda t: np.frombuffer(
                _zlib.decompress(bytes(t.acc)), np.int64
            ).reshape(64, 64),
            lambda cid: {"ix": _cell_hi(cid)},
        )

    q["flow_accumulation_f4"] = flow_accumulation_f4

    def shadow_march_flat(spark, sf_dir):
        """Shadow march through the halo exchange, ORACLE-CHECKED per
        pixel on a descending STEP fixture (constant-z f4 tiles
        c = [60,57,51,42,30,28,21] on a west-east strip).  On constants
        the cross-max pre-pass and the NW diagonal march lose all row
        dependence: a pixel at in-tile column J of tile k is shadowed
        iff 1 <= J <= margin and the west wall clears the sun ray at
        the first seam-crossing step, c[k-1] - max(J,1)*dz > c[k]
        (larger steps only subtract more).  The seam deltas
        [3,6,9,12,2,7] produce six different band widths, and every
        lit/shadow decision has >= 0.07 m of slack, far beyond any
        cross-engine trig ulp."""
        from . import shadow as shadow_mod
        from .operators import focal

        consts = [60.0, 57.0, 51.0, 42.0, 30.0, 28.0, 21.0]

        def gen(batches):
            for pdf in batches:
                rows = []
                for k in pdf["id"]:
                    k = int(k)
                    arr = np.full((64, 64), consts[k], np.float32)
                    rows.append(
                        (
                            int((10 << 56) | (k << 28)),
                            codecs_mod.rawz_encode(arr),
                            "rawz",
                        )
                    )
                yield pd.DataFrame(
                    rows, columns=["cell_id", "bytes", "fmt"]
                )

        tiles = spark.range(0, 7, 1, 4).mapInPandas(
            gen, "cell_id long, bytes binary, fmt string"
        )
        kern = shadow_mod.shadow_kernel_factory(
            azimuth=315.0, elevation=45.0, m_per_px=1.0, mz=100.0,
            margin=8,
        )
        out = focal.halo_stencil(tiles, kern, margin=8, tile_px=64)
        return _per_pixel_rows(
            out, "ix int, i int, j int, lit int", "lit",
            lambda t: codecs_mod.decode(bytes(t.bytes), t.fmt)
            .astype(np.int32),
            lambda cid: {"ix": _cell_hi(cid)},
        )

    q["shadow_march_flat"] = shadow_march_flat

    def shadow_march_towers(spark, sf_dir):
        """W4 shadow march ORACLE-CHECKED on a tower skyline: 13
        towers of dyadic-quarter heights on flat ground across 7
        tiles, sun due WEST (azimuth 270 -> per-step shift exactly
        (0, -it), dz = tan(45deg)).  Exercises every branch of the
        bounded march: multi-step shadows, cross-max widening, shadow
        bands crossing tile seams through the halo exchange, heights
        > margin truncating at 8 steps, tower-shadows-tower overlap,
        and the world-edge replicate clamp on tile 0.  Quarter-step
        heights keep every lit/shadow decision >= 0.25 from a tie, so
        cross-engine trig ulps cannot flip a pixel."""
        from . import shadow as shadow_mod
        from .operators import focal

        def gen(batches):
            for pdf in batches:
                rows = []
                for k in pdf["id"]:
                    k = int(k)
                    arr = np.zeros((64, 64), np.float32)
                    for p, h in SHADOW_TOWERS:
                        if 64 * k <= p < 64 * (k + 1):
                            arr[:, p - 64 * k] = h
                    rows.append(
                        (
                            int((10 << 56) | (k << 28)),
                            codecs_mod.rawz_encode(arr),
                            "rawz",
                        )
                    )
                yield pd.DataFrame(
                    rows, columns=["cell_id", "bytes", "fmt"]
                )

        tiles = spark.range(0, 7, 1, 4).mapInPandas(
            gen, "cell_id long, bytes binary, fmt string"
        )
        kern = shadow_mod.shadow_kernel_factory(
            azimuth=270.0, elevation=45.0, m_per_px=1.0, mz=100.0,
            margin=8,
        )
        out = focal.halo_stencil(tiles, kern, margin=8, tile_px=64)
        return _per_pixel_rows(
            out, "ix int, i int, j int, lit int", "lit",
            lambda t: codecs_mod.decode(bytes(t.bytes), t.fmt)
            .astype(np.int32),
            lambda cid: {"ix": _cell_hi(cid)},
        )

    q["shadow_march_towers"] = shadow_march_towers

    def jdbc_reclass(spark, sf_dir):
        """S6 external-database dimension source with pushdown: a size
        LUT is published to embedded Derby (the JDBC engine inside
        Spark's own jars; same plumbing as the reference's PostGIS
        source, postgis.py:59-66), read back through the JDBC relation
        with an attribute filter -- Catalyst pushes the predicate into
        the remote SQL (plan-audited in tests/test_jdbc.py and
        docs/PLANS.md) -- then broadcast-range-joined to part."""
        from .sources import jdbc as jdbc_src

        lut = spark.createDataFrame(
            pd.DataFrame(
                [(0, 10, "small"), (10, 30, "medium"),
                 (30, 60, "large"), (60, 1000, "huge")],
                columns=["lo", "hi", "cls"],
            ),
            schema="lo int, hi int, cls string",
        )
        import os as _os

        # per-process path: Derby's embedded lock is single-JVM, and a
        # fixed shared path would collide across concurrent drivers
        url = jdbc_src.derby_url(f"/tmp/rts_jdbc_dim_{_os.getpid()}")
        jdbc_src.write_table(lut, url, "size_lut")
        dim = (
            jdbc_src.read_table(spark, url, "size_lut")
            .filter(F.col("hi") <= 60)  # pushed into the remote query
        )
        part = _t(spark, sf_dir, "part")
        return (
            part.join(
                F.broadcast(dim),
                (part["p_size"] >= dim["lo"]) & (part["p_size"] < dim["hi"]),
            )
            .groupBy("cls")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("p_size").cast("long")).alias("sum_size"),
            )
        )

    q["jdbc_reclass"] = jdbc_reclass

    def contamination(spark, sf_dir):
        """Benchmark-contamination screen (training-data pipeline):
        per training doc, the fraction of its distinct word 3-grams
        found anywhere in the held-out eval slice (doc_id % 97 == 0).
        The eval shingle set is broadcast -- the training side is
        never shuffled for the screen."""
        from .functions import dedup as fdedup

        docs = _t(spark, sf_dir, "documents")
        train = docs.filter(F.col("doc_id") % 97 != 0)
        ev = docs.filter(F.col("doc_id") % 97 == 0)
        return fdedup.contamination(train, ev)

    q["contamination"] = contamination

    def pack_sequences(spark, sf_dir):
        """Greedy sequential sequence packing into 128-token packs,
        sharded by doc_id % derive_n_shards(corpus) (training-batch
        construction); the order-sensitive walk parallelizes across
        shards and the shard count scales with the corpus (~1e6
        docs/shard target), mirrored in the oracle SQL."""
        return ftext.pack_sequences(
            _t(spark, sf_dir, "documents"), budget=128
        )

    q["pack_sequences"] = pack_sequences

    def simhash_near_dup(spark, sf_dir):
        """Banded SimHash near-dup pairs (hamming <= 3 over 60 bits,
        4x15-bit pigeonhole bands): the candidate join is an equi-join
        on (band, slice), exact popcount filter JVM-side."""
        return fdedup.simhash_near_dup(
            _t(spark, sf_dir, "documents")
        )

    q["simhash_near_dup"] = simhash_near_dup

    def image_near_dup_phash(spark, sf_dir):
        """Image-dedup pass over pixels, ORACLE-HARD: the full DCT
        pHash pipeline (decode, 2x2 block means, orthonormal DCT-II,
        median threshold with the 1e-9 self-tie guard, 64-bit pack,
        banded Hamming join) is replayed in closed-form SQL -- the
        cos-basis double sum, the median, the bit pack, and the
        band equi-join all recomputed by DuckDB from the same pixel
        formula.  Each synthetic base image gets a +1-brightness
        twin, and the banded pairing must marry the twins without an
        all-pairs join; recall/invariance are additionally
        property-tested in tests/test_phash.py."""
        from .functions import multimodal

        def gen(batches):
            for pdf in batches:
                rows = []
                for k in pdf["id"]:
                    k = int(k)
                    base = synth.linear_pixels(k, 64, 64)
                    twin = np.clip(
                        base.astype(np.int32) + 1, 0, 255
                    ).astype(np.uint8)
                    rows.append(
                        (f"img_{k:04d}a",
                         codecs_mod.png_encode(base), "png")
                    )
                    rows.append(
                        (f"img_{k:04d}b",
                         codecs_mod.png_encode(twin), "png")
                    )
                yield pd.DataFrame(
                    rows, columns=["image_id", "bytes", "fmt"]
                )

        images = spark.range(0, 40, 1, 8).mapInPandas(
            gen, "image_id string, bytes binary, fmt string"
        )
        return multimodal.image_near_dup(images)

    q["image_near_dup_phash"] = image_near_dup_phash

    def audio_near_dup(spark, sf_dir):
        """Audio-dedup pass over raw PCM, ORACLE-HARD: the whole
        fingerprint pipeline -- int16 synthesis, Hann window, 1024-pt
        frame DFT (replayed in SQL as a radix-32 two-stage
        Cooley-Tukey sum), per-frame peak-bin argmax, 64-band OR
        fingerprint, banded Hamming join -- is recomputed from
        scratch by DuckDB.  Planted same-tone twins must marry
        through the banded fp64 join without an all-pairs scan;
        recall is additionally property-tested in test_phash.py."""
        from .functions import multimodal

        sr = 16000

        def gen(batches):
            t = np.arange(sr) / sr
            for pdf in batches:
                rows = []
                for k in pdf["id"]:
                    k = int(k)
                    f = (2 * (k % 24) + 5 + 0.5) * (sr / 2.0) / 64.0
                    base = np.sin(2 * np.pi * f * t)
                    # deterministic micro-jitter for the twin
                    jit = 0.004 * np.sin(2 * np.pi * 7901.0 * t + k)
                    for suf, s in (("a", base), ("b", base + jit)):
                        rows.append(
                            (f"clip_{k:04d}{suf}",
                             (np.clip(s, -1, 1) * 32000)
                             .astype("<i2").tobytes())
                        )
                yield pd.DataFrame(rows, columns=["clip_id", "bytes"])

        clips = spark.range(0, 24, 1, 8).mapInPandas(
            gen, "clip_id string, bytes binary"
        )
        return multimodal.audio_near_dup(clips, max_hamming=1)

    q["audio_near_dup"] = audio_near_dup

    def multimodal_curation(spark, sf_dir):
        """END-TO-END multimodal curation as ONE oracle-hard query:
        every document row doubles as a multimodal record carrying a
        60-bit image perceptual hash and a 60-bit audio fingerprint
        (md5-derived so DuckDB rebuilds them bit-identically -- the
        DCT/FFT extractors themselves are property-tested and proven
        on the rows-only twins queries).  Planted twins (doc_id%10==0,
        1-bit image flip, 2-bit audio flip) must be caught by BOTH
        banded-Hamming near-dup stages (the image pHash pairing and
        the audio fp64 pairing run the same banded_hamming_pairs
        machinery being mirrored here); survivors aggregate per
        language with a value checksum."""
        docs = _t(spark, sf_dir, "documents")

        def h15(prefix):
            return F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(prefix),
                                   F.col("doc_id").cast("string"))),
                    1, 15,
                ), 16, 10,
            ).cast("long")

        base = docs.select(
            "doc_id", "lang",
            h15("img").alias("phash"), h15("aud").alias("afp"),
        )
        tw = docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "lang",
            h15("img").bitwiseXOR(
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(doc_id % 60 AS INT))")
            ).alias("phash"),
            h15("aud").bitwiseXOR(
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(doc_id % 58 AS INT))")
            ).bitwiseXOR(
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(doc_id % 58 AS INT) + 1)")
            ).alias("afp"),
        )
        recs = base.unionByName(tw)
        img_pairs = fdedup.banded_hamming_pairs(
            recs.select("doc_id", "phash"), "doc_id", "phash",
            max_hamming=3, bits=60, n_bands=4,
        )
        aud_pairs = fdedup.banded_hamming_pairs(
            recs.select("doc_id", "afp"), "doc_id", "afp",
            max_hamming=3, bits=60, n_bands=4,
        )
        drops = (
            img_pairs.select(F.col("doc_b").alias("doc_id"))
            .unionByName(
                aud_pairs.select(F.col("doc_b").alias("doc_id"))
            )
            .distinct()
        )
        surv = recs.join(drops, "doc_id", "left_anti")
        return surv.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("phash") % 1000003).alias("chk"),
        )

    q["multimodal_curation"] = multimodal_curation

    def repetition_quality(spark, sf_dir):
        """Gopher-family repetition quality screen: per-document
        top-bigram occupancy and duplicate-trigram fraction (pure JVM
        n-gram aggs), the boilerplate/spam signal of a pre-training
        quality pipeline, floor-scaled for an exact oracle."""
        return ftext.repetition_metrics(_t(spark, sf_dir, "documents"))

    q["repetition_quality"] = repetition_quality

    def oov_quality(spark, sf_dir):
        """Corpus-vocabulary OOV scoring (rank-based LM-quality
        proxy): top-100 vocabulary by (count desc, token asc), then
        each document's fraction of token occurrences outside it.
        Distributed top-K + broadcast join -- the corpus side never
        shuffles for the screen."""
        return ftext.oov_fraction(
            _t(spark, sf_dir, "documents"), vocab_size=100
        )

    q["oov_quality"] = oov_quality

    def pii_redaction(spark, sf_dir):
        """PII scrubbing screen: emails and long digit runs planted
        deterministically on the corpus (doc_id%5 selects the
        variant), then counted and redacted with typed placeholders;
        the redacted-text md5 is the downstream dedup key.  Pure JVM
        regexp codegen, zero shuffle; patterns restricted to the
        Java/RE2 common dialect so the oracle is exact."""
        docs = _t(spark, sf_dir, "documents")
        planted = docs.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.col("text"), F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).when(
                F.col("doc_id") % 5 == 1,
                F.concat(
                    F.col("text"), F.lit(" call 555"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"),
                           4, "0"),
                ),
            ).otherwise(F.col("text")).alias("text"),
        )
        return ftext.redact_pii(planted)

    q["pii_redaction"] = pii_redaction

    def curation_pipeline(spark, sf_dir):
        """END-TO-END corpus curation, the composition a training
        pipeline actually runs, as ONE oracle-hard query: exact dedup
        (keep min doc_id per content hash) -> decontaminate against
        the held-out eval slice (doc_id % 97 == 0 excluded from the
        corpus; 3-gram overlap fraction > 0.05 dropped; gramless short
        docs kept) -> token-count quality gate [15, 80] -> md5-quota
        stratified mixing (en 40%, zh 60%, es 80%) -> greedy 128-token
        sequence packing over derive_n_shards(|mixed|) corpus-scaled
        shards.  Every stage is an existing
        oracle-proven operator; the oracle chains their SQL mirrors."""
        docs = _t(spark, sf_dir, "documents")
        ev = docs.filter(F.col("doc_id") % 97 == 0)
        corpus = docs.filter(F.col("doc_id") % 97 != 0)
        reps = (
            corpus.select("doc_id", F.md5("text").alias("fp"))
            .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        kept = corpus.join(reps, "doc_id")
        cont = fdedup.contamination(kept, ev).select("doc_id", "frac")
        clean = (
            kept.join(cont, "doc_id", "left")
            .filter(F.coalesce(F.col("frac"), F.lit(0.0)) <= 0.05)
            .withColumn("n_tokens", F.size(F.split(F.col("text"), " ")))
            .filter(
                (F.col("n_tokens") >= 15) & (F.col("n_tokens") <= 80)
            )
        )
        mixed = ftext.stratified_sample(
            clean, quotas={"en": 40, "zh": 60, "es": 80}
        )
        # pack_sequences materializes `mixed` once for its sizing count
        # and the pack; lang comes from the documents table itself, so
        # the 5-stage chain is not run again for the join
        packed = ftext.pack_sequences(mixed, budget=128)
        return packed.join(
            docs.select("doc_id", "lang"), "doc_id"
        ).select("doc_id", "lang", "shard", "n_tokens", "pack_id")

    q["curation_pipeline"] = curation_pipeline

    def fill_voids_flat(spark, sf_dir):
        """G6 multi-res void fill, oracle-checked on the constant
        invariant: a constant tile with sprinkled voids must come back
        constant EVERYWHERE -- masked means of equal values are exact
        in float64 (sum of n copies of an integer / n), medians of
        equals are equal, and round/clip preserve them, at every level
        of the pyramid.  Any mis-weighted aggregate, leaked nodata, or
        edge-handling bug breaks constancy."""
        from .operators import fill_op

        def gen(batches):
            for pdf in batches:
                rows = []
                for k in pdf["id"]:
                    k = int(k)
                    c = (k * 37) % 199
                    px = np.full((64, 64), c, np.uint8)
                    ii, jj = np.meshgrid(
                        np.arange(64), np.arange(64), indexing="ij"
                    )
                    px[(ii + jj) % 17 == 0] = 255  # voids
                    rows.append(
                        (
                            int((10 << 56) | (k << 28)),
                            codecs_mod.png_encode(px),
                            "png",
                        )
                    )
                yield pd.DataFrame(
                    rows, columns=["cell_id", "bytes", "fmt"]
                )

        tiles = spark.range(0, 12, 1, 4).mapInPandas(
            gen, "cell_id long, bytes binary, fmt string"
        )
        out = fill_op.fill_voids_tiles(tiles)
        return _per_pixel_rows(
            out, "k int, i int, j int, v int, filled_px long", "v",
            lambda t: codecs_mod.decode(bytes(t.bytes), t.fmt)
            .astype(np.int32),
            lambda cid: {"k": _cell_hi(cid)},
            extra_of=lambda t: {"filled_px": np.int64(t.filled_px)},
        )

    q["fill_voids_flat"] = fill_voids_flat

    def contour_rect(spark, sf_dir):
        """Marching-squares footprint contour, oracle-checked on
        rectangle masks: an a x b data rectangle yields one ring with
        exactly 2(a+b)+1 vertices (edge midpoints, corners chamfered)
        and exact dyadic area (a*b - 0.5 pixels) * CELL_SIZE^2 -- the
        world-coordinate shoelace stays exact, so the SQL twin is a
        closed form.  Hole rings keep their pytest goldens
        (test_contour.py)."""
        from .operators import contour_op

        def gen(batches):
            for pdf in batches:
                rows = []
                for k in pdf["id"]:
                    k = int(k)
                    a = 5 + (k * 3) % 11
                    b = 4 + (k * 5) % 13
                    px = np.full((64, 64), 255, np.uint8)
                    r0, c0 = 2 + k % 3, 3 + k % 4
                    px[r0:r0 + a, c0:c0 + b] = 100 + k
                    rows.append(
                        (
                            int((10 << 56) | (k << 28)),
                            codecs_mod.png_encode(px),
                            "png",
                        )
                    )
                yield pd.DataFrame(
                    rows, columns=["cell_id", "bytes", "fmt"]
                )

        tiles = spark.range(0, 12, 1, 4).mapInPandas(
            gen, "cell_id long, bytes binary, fmt string"
        )
        rings = contour_op.contour_tiles(tiles)
        return rings.selectExpr(
            "CAST(shiftright(cell_id, 28) & CAST(268435455 AS BIGINT)"
            " AS INT) AS k",
            "ring_id", "n_pts", "area",
        )

    q["contour_rect"] = contour_rect

    def _diff_base(n: int):
        tx, ty = (n * 7) % 16, (n * 13) % 16
        off = 64.0 * (n // 16)  # keep anchor-sharing features apart
        x1 = tx * 128.0 + 8.0 + off
        y2 = WORLD_TOP - ty * 128.0 - 8.0 - off
        a, b = 6 + n % 5, 5 + n % 4  # rows, cols in 4 m pixels
        return x1, y2, a, b

    def _diff_l1(n: int) -> bytes:
        x1, y2, a, b = _diff_base(n)
        return wkb.box_wkb(x1, y2 - 4.0 * a, x1 + 4.0 * b, y2)

    def _diff_l2(n: int) -> bytes:
        x1, y2, a, b = _diff_base(n)
        if n % 2 == 0:  # flush NW corner cut -> L remainder
            c, d = 2 + n % 3, 2 + (n // 2) % 2
            return wkb.box_wkb(x1, y2 - 4.0 * c, x1 + 4.0 * d, y2)
        # strictly interior cut -> outer ring + hole ring
        return wkb.box_wkb(
            x1 + 8.0, y2 - 8.0 - 12.0, x1 + 16.0, y2 - 8.0
        )

    def difference_rings(spark, sf_dir):
        """Geometry-out polygon difference, ORACLE-CHECKED with EXACT
        areas: both layers are axis-aligned rectangles, so the
        operator's slab-decomposition fast path (overlay.py
        _exact_rect_difference) produces GEOS-exact remainders
        (difference.py:41-57 semantics) -- a flush corner cut leaves a
        6-corner L of exactly (a*b - c*d) px^2, an interior cut leaves
        the outer rectangle plus an is_hole ring of exactly c*d px^2.
        No chamfer term: the closed forms are the true vector areas.
        Non-rectangle inputs take the marching-squares general path
        (kept oracle-covered by contour_rect)."""
        from .operators import overlay

        l1 = _nation_layer(spark, sf_dir, _diff_l1)
        l2 = _nation_layer(spark, sf_dir, _diff_l2)
        out = overlay.mask_difference_polygons(l1, l2)
        return out.select(
            "feat_id", "ring_id", "n_pts", "is_hole", "area"
        )

    q["difference_rings"] = difference_rings

    def _conv_base(n: int):
        tx, ty = (n * 7) % 16, (n * 13) % 16
        off = 64.0 * (n // 16)  # keep anchor-sharing features apart
        cx = tx * 128.0 + 64.0 + off
        cy = WORLD_TOP - ty * 128.0 - 64.0 - off
        return cx, cy, float(8 + n % 5)

    def _conv_l1(n: int) -> bytes:
        cx, cy, r = _conv_base(n)
        return wkb.polygon_wkb(
            [(cx + r, cy), (cx, cy + r), (cx - r, cy), (cx, cy - r)]
        )

    def _conv_l2(n: int) -> bytes:
        cx, cy, r = _conv_base(n)
        if n % 3 == 0:
            # half-space-like rectangle: cuts the right nib beyond
            # x = cx + r/2 -> remainder area 7r^2/4, 5-corner ring
            return wkb.box_wkb(
                cx + r / 2.0, cy - 3.0 * r, cx + 3.0 * r, cy + 3.0 * r
            )
        if n % 3 == 1:
            # small diamond over the right vertex (s = 4): removes the
            # lens s^2/8 = 2 -> remainder area 2r^2 - 2, 6-corner ring
            s = 4.0
            c0 = cx + r + s / 2.0
            return wkb.polygon_wkb(
                [(c0 + s, cy), (c0, cy + s), (c0 - s, cy),
                 (c0, cy - s)]
            )
        # strictly interior 4x4 square -> outer diamond + hole ring
        return wkb.box_wkb(cx - 2.0, cy - 2.0, cx + 2.0, cy + 2.0)

    def difference_convex(spark, sf_dir):
        """Geometry-out polygon difference on ROTATED-CONVEX inputs,
        ORACLE-CHECKED with EXACT closed-form areas: diamond subjects
        (45-degree squares, area 2r^2) against a half-plane-like
        rectangle cut (remainder 7r^2/4), a vertex-lens diamond cut
        (remainder 2r^2 - 2), and a strictly interior square (outer
        2r^2 + is_hole ring of 16).  Exercises the Sutherland-Hodgman
        + difference-walk exact path (overlay._convex_difference_rings
        -- the GEOS-exact difference.py:41-57 semantics beyond the
        axis-aligned subset); no chamfer terms anywhere."""
        from .operators import overlay

        l1 = _nation_layer(spark, sf_dir, _conv_l1)
        l2 = _nation_layer(spark, sf_dir, _conv_l2)
        out = overlay.mask_difference_polygons(l1, l2)
        return out.select(
            "feat_id", "ring_id", "n_pts", "is_hole", "area"
        )

    q["difference_convex"] = difference_convex

    def _srs_l1(n: int) -> bytes:
        x1, y1 = n * 3.0, n * 2.0
        x2, y2 = x1 + 4 + n % 3, y1 + 5 + n % 4
        if n % 2 == 0:
            return wkb.box_wkb(x1, y1, x2, y2)
        return wkb.multipolygon_wkb([
            wkb.box_wkb(x1, y1, x2, y2),
            wkb.box_wkb(x1 + 20.0, y1 + 10.0, x2 + 20.0, y2 + 10.0),
        ])

    def srs_transform(spark, sf_dir):
        """Planar CRS-to-CRS reprojection of a vector layer
        (extract.py:574-580 semantics, planar frames): geometries
        authored in a rotated/scaled/offset source frame are
        transformed into a shrunk/offset destination frame via the
        exact affine composition inv(dst) o src, in ONE shuffle-free
        pandas UDF.  Oracle: closed-form transformed envelopes --
        src (x,y) -> world (-2y+1000, 2x+500) -> dst (-4y+1980,
        4x+960); mixed Polygon / MultiPolygon rows exercise both WKB
        branches."""
        from .operators import srs

        src = (0.0, -2.0, 1000.0, 2.0, 0.0, 500.0)
        dst = (0.5, 0.0, 10.0, 0.0, 0.5, 20.0)
        layer = _nation_layer(spark, sf_dir, _srs_l1)
        out = srs.transform_layer(layer, src=src, dst=dst)

        @F.pandas_udf("array<double>")
        def env(col: pd.Series) -> pd.Series:
            return col.map(lambda b: list(wkb.envelope(bytes(b))))

        return out.select(
            "feat_id", env("geom_wkb").alias("e")
        ).select(
            "feat_id",
            F.col("e")[0].alias("minx"), F.col("e")[1].alias("maxx"),
            F.col("e")[2].alias("miny"), F.col("e")[3].alias("maxy"),
        )

    q["srs_transform"] = srs_transform

    def _srs_geo_box(n: int) -> bytes:
        lon1 = -171.0 + n * 13.7
        lat1 = -80.0 + n * 6.1
        return wkb.box_wkb(
            lon1, lat1,
            lon1 + 0.5 + (n % 3) * 0.25, lat1 + 0.4 + (n % 4) * 0.2,
        )

    def srs_webmerc(spark, sf_dir):
        """CURVILINEAR reprojection (the reference's osr geographic->
        projected path, extract.py:574-580): a lon/lat polygon layer is
        projected to spherical Web Mercator (EPSG:3857 closed form) in
        one shuffle-free pandas UDF, envelopes emitted.  Mercator is
        separable and monotone in lon and lat, so the oracle transforms
        the envelope corners with the same published formula
        (x = a*radians(lon), y = a*ln(tan(pi/4 + radians(lat)/2)))."""
        from .operators import srs

        layer = _nation_layer(spark, sf_dir, _srs_geo_box)
        out = srs.transform_layer_curvilinear(layer, "geodetic->webmerc")

        @F.pandas_udf("array<double>")
        def env(col: pd.Series) -> pd.Series:
            return col.map(lambda b: list(wkb.envelope(bytes(b))))

        f4 = lambda c: (F.floor(c * 10000.0) / 10000.0)
        return out.select(
            "feat_id", env("geom_wkb").alias("e")
        ).select(
            "feat_id",
            f4(F.col("e")[0]).alias("minx"),
            f4(F.col("e")[1]).alias("maxx"),
            f4(F.col("e")[2]).alias("miny"),
            f4(F.col("e")[3]).alias("maxy"),
        )

    q["srs_webmerc"] = srs_webmerc

    def srs_utm(spark, sf_dir):
        """CURVILINEAR reprojection #2: customer-derived lon/lat POINTs
        (UTM zone 31 extent) projected with the ellipsoidal transverse
        Mercator (Krueger alpha series, order 6 -- operators/srs.py),
        exercising the Point WKB branch.  The oracle replays the whole
        series in SQL with the same embedded coefficients; hyperbolics
        are exp/ln compositions on BOTH sides, so the two engines run
        the same arithmetic (agreement ~1e-9 m, floored at mm)."""
        from .operators import srs

        @F.pandas_udf("binary")
        def mk(ck: pd.Series) -> pd.Series:
            return ck.map(
                lambda c: wkb.point_wkb(
                    0.3 + (int(c) % 540) / 100.0,
                    1.0 + (int(c) % 5900) / 100.0,
                )
            )

        layer = (
            _t(spark, sf_dir, "customer")
            .select(F.col("c_custkey").cast("long").alias("feat_id"))
            .withColumn("geom_wkb", mk(F.col("feat_id")))
        )
        out = srs.transform_layer_curvilinear(layer, "geodetic->utm")

        @F.pandas_udf("array<double>")
        def xy(col: pd.Series) -> pd.Series:
            return col.map(
                lambda b: list(map(float, wkb.parse(bytes(b))[1]))
            )

        f3 = lambda c: (F.floor(c * 1000.0) / 1000.0)
        return out.select("feat_id", xy("geom_wkb").alias("p")).select(
            "feat_id",
            f3(F.col("p")[0]).alias("easting"),
            f3(F.col("p")[1]).alias("northing"),
        )

    q["srs_utm"] = srs_utm

    def _star_base(n: int):
        tx, ty = (n * 11) % 16, (n * 5) % 16
        off = 64.0 * (n // 16)
        x0 = tx * 128.0 + 24.0 + off
        y0 = WORLD_TOP - ty * 128.0 - 96.0 - off
        return x0, y0, 4.0 * (6 + n % 4), 4.0 * (5 + n % 3)

    def _star_l1(n: int) -> bytes:
        x0, y0, W, H = _star_base(n)
        return wkb.polygon_wkb([
            (x0, y0), (x0 + W, y0), (x0 + W, y0 + H / 2),
            (x0 + W / 2, y0 + H / 2), (x0 + W / 2, y0 + H),
            (x0, y0 + H),
        ])

    def _star_l2(n: int) -> bytes:
        x0, y0, W, H = _star_base(n)
        if n % 2 == 0:
            # diamond poking through the bottom edge (center 1 below,
            # radius 4): removes the (s-t)^2 = 9 triangle above the
            # chord, remainder ring gains crossings + the apex
            cx, cy, s = x0 + W / 2.0, y0 - 1.0, 4.0
            return wkb.polygon_wkb(
                [(cx + s, cy), (cx, cy + s), (cx - s, cy),
                 (cx, cy - s)]
            )
        # strictly interior diamond (radius 3) -> 2s^2 = 18 hole
        cx, cy, s = x0 + W / 4.0, y0 + H / 4.0, 3.0
        return wkb.polygon_wkb(
            [(cx + s, cy), (cx, cy + s), (cx - s, cy), (cx, cy - s)]
        )

    def difference_star(spark, sf_dir):
        """Geometry-out polygon difference on NONCONVEX subjects,
        ORACLE-CHECKED with EXACT closed-form areas: L-shaped features
        (area 3WH/4) minus convex diamond cutters -- an edge-piercing
        diamond (removes exactly 9, ring gains 3 vertices) and a
        strictly interior diamond (outer L + is_hole ring of 18).
        Proves the exact clip+walk path handles arbitrary simple
        subjects, not just convex ones (the cutter supplies the
        convexity Sutherland-Hodgman needs)."""
        from .operators import overlay

        l1 = _nation_layer(spark, sf_dir, _star_l1)
        l2 = _nation_layer(spark, sf_dir, _star_l2)
        out = overlay.mask_difference_polygons(l1, l2)
        return out.select(
            "feat_id", "ring_id", "n_pts", "is_hole", "area"
        )

    q["difference_star"] = difference_star

    def _gen_base(n: int):
        # collision-free 256 m anchor grid (one feature per covering
        # cell): the candidate set is exactly the feature's own
        # cutter, the single-cutter exact path's gate
        tx, ty = n % 6, n // 6
        x0 = tx * 256.0 + 24.0
        y0 = WORLD_TOP - ty * 256.0 - 96.0
        return x0, y0, 4.0 * (7 + n % 4), 4.0 * (6 + n % 3)

    def _gen_l1(n: int) -> bytes:
        x0, y0, W, H = _gen_base(n)
        return wkb.box_wkb(x0, y0, x0 + W, y0 + H)

    def _gen_l2(n: int) -> bytes:
        x0, y0, W, H = _gen_base(n)
        yb = y0 if n % 2 == 0 else y0 + 4.0
        a1, a2, p, q = x0 + 8.0, x0 + 20.0, 4.0, 8.0
        return wkb.polygon_wkb([
            (a1, yb - 2.0), (a2 + p, yb - 2.0), (a2 + p, yb + q),
            (a2, yb + q), (a2, yb - 1.0), (a1 + p, yb - 1.0),
            (a1 + p, yb + q), (a1, yb + q),
        ])

    def difference_general(spark, sf_dir):
        """Geometry-out polygon difference with a NONCONVEX cutter,
        ORACLE-CHECKED with EXACT areas: rectangle subjects minus a
        two-prong U comb -- piercing the bottom edge (removes exactly
        2pq = 64, the ring detours around both prongs: 13 points) or
        placed strictly interior (the whole U survives as one
        nonconvex is_hole ring of 88).  Proves the single-cutter
        exact path: the difference walk needs no convexity on either
        side; a deterministic lattice membership audit guards it."""
        from .operators import overlay

        l1 = _nation_layer(spark, sf_dir, _gen_l1)
        l2 = _nation_layer(spark, sf_dir, _gen_l2)
        out = overlay.mask_difference_polygons(l1, l2)
        return out.select(
            "feat_id", "ring_id", "n_pts", "is_hole", "area"
        )

    q["difference_general"] = difference_general

    def _uex_base(n: int):
        tx, ty = n % 6, n // 6
        # x range straddles the vertical 256 m cell line on purpose:
        # the clip-split across covering cells must stay exact
        x1 = tx * 256.0 + 240.0
        y2 = WORLD_TOP - ty * 256.0 - 16.0
        return x1, y2, 4.0 * (3 + n % 3)

    def _uex_a(n: int) -> bytes:
        x1, y2, h = _uex_base(n)
        return wkb.box_wkb(x1, y2 - h, x1 + 32.0, y2)

    def _uex_b(n: int) -> bytes:
        x1, y2, h = _uex_base(n)
        return wkb.box_wkb(x1 + 16.0, y2 - h, x1 + 48.0, y2)

    def union_exact(spark, sf_dir):
        """EXACT geometric union area (O5, UnionCascaded semantics
        with overlaps counted once): rectangle pairs overlapping by a
        known 16 x h band, every rectangle straddling a 256 m cell
        line so the per-cell clip-split is exercised.  Slab
        decomposition per cell -- NO pixel term in the oracle's
        closed form (contrast the rasterized `union_area`), and
        inexact_cells == 0 certifies the vector-exact path ran
        everywhere."""
        from .operators import overlay

        a = _nation_layer(spark, sf_dir, _uex_a)
        b = _nation_layer(spark, sf_dir, _uex_b).filter(
            F.col("feat_id") % 2 == 0
        )
        return overlay.union_area_exact(a.unionByName(b))

    q["union_exact"] = union_exact

    def _mgen_u1(n: int) -> bytes:
        x0, y0, W, H = _gen_base(n)
        a1, a2, p, q = x0 + 8.0, x0 + 20.0, 4.0, 8.0
        return wkb.polygon_wkb([
            (a1, y0 - 2.0), (a2 + p, y0 - 2.0), (a2 + p, y0 + q),
            (a2, y0 + q), (a2, y0 - 1.0), (a1 + p, y0 - 1.0),
            (a1 + p, y0 + q), (a1, y0 + q),
        ])

    def _mgen_u2(n: int) -> bytes:
        # the piercing U shifted (+2, +12): strictly interior and
        # fully disjoint from it (vertical gap of 2 m)
        x0, y0, W, H = _gen_base(n)
        a1, a2, p, q = x0 + 10.0, x0 + 22.0, 4.0, 8.0
        yb = y0 + 12.0
        return wkb.polygon_wkb([
            (a1, yb - 2.0), (a2 + p, yb - 2.0), (a2 + p, yb + q),
            (a2, yb + q), (a2, yb - 1.0), (a1 + p, yb - 1.0),
            (a1 + p, yb + q), (a1, yb + q),
        ])

    def difference_multi(spark, sf_dir):
        """Geometry-out polygon difference with TWO pairwise-disjoint
        NONCONVEX cutters per feature, ORACLE-CHECKED with EXACT
        areas: rectangle subjects minus a bottom-piercing U comb
        (removes 2pq = 64, ring detours around both prongs) AND a
        strictly interior U (one nonconvex is_hole ring of 88).  The
        sequential-walk multi-cutter exact path; the lattice audit
        covers the composed result."""
        from .operators import overlay

        l1 = _nation_layer(spark, sf_dir, _gen_l1)
        l2 = _nation_layer(spark, sf_dir, _mgen_u1).unionByName(
            _nation_layer(spark, sf_dir, _mgen_u2)
        )
        out = overlay.mask_difference_polygons(l1, l2)
        return out.select(
            "feat_id", "ring_id", "n_pts", "is_hole", "area"
        )

    q["difference_multi"] = difference_multi

    def _ogen_c1(n: int) -> bytes:
        x0, y0, W, H = _gen_base(n)
        if n % 2 == 0:
            # interior two-prong U comb (area 88, 8 pts)
            a1, a2, p, q_, yb = x0 + 8.0, x0 + 20.0, 4.0, 8.0, y0 + 8.0
            return wkb.polygon_wkb([
                (a1, yb - 2.0), (a2 + p, yb - 2.0), (a2 + p, yb + q_),
                (a2, yb + q_), (a2, yb - 1.0), (a1 + p, yb - 1.0),
                (a1 + p, yb + q_), (a1, yb + q_),
            ])
        # nonconvex L-shape (area 80)
        L0 = [(2, 2), (8, 2), (8, 4), (4, 4), (4, 8), (2, 8)]
        return wkb.polygon_wkb(
            [(x0 + 2.0 * a, y0 + 2.0 * b) for a, b in L0]
        )

    def _ogen_c2(n: int) -> bytes:
        x0, y0, W, H = _gen_base(n)
        if n % 2 == 0:
            # rectangle CROSSING the U's bottom strip (4 crossings);
            # overlap with the U is exactly the 4 x 1 strip piece
            gn = 2.0 + n % 3
            return wkb.box_wkb(
                x0 + 14.0, y0 + 6.0 - gn, x0 + 18.0, y0 + 9.0
            )
        # the L shifted (+2, +2): CROSSES the first L (union 124)
        L0 = [(2, 2), (8, 2), (8, 4), (4, 4), (4, 8), (2, 8)]
        return wkb.polygon_wkb(
            [(x0 + 2.0 * a + 2.0, y0 + 2.0 * b + 2.0) for a, b in L0]
        )

    def difference_overlap(spark, sf_dir):
        """Geometry-out polygon difference with OVERLAPPING /
        CROSSING cutters -- the reference's UnionCascaded-then-
        difference semantics (difference.py:41-57), the last exact-
        geometry gap: even features subtract a U comb crossed by a
        rectangle through its bottom strip (union 96 + 4*(2+n%3),
        one 17-pt hole ring); odd features subtract two crossing
        NONCONVEX L-shapes (union 124, one 11-pt hole ring).  The
        cutters are cascade-unioned by the forward-forward walk, the
        merged ring subtracted by the difference walk, and a lattice
        membership audit scaled to the smallest cutter certifies the
        result -- all areas closed-form in the oracle."""
        from .operators import overlay

        l1 = _nation_layer(spark, sf_dir, _gen_l1)
        l2 = _nation_layer(spark, sf_dir, _ogen_c1).unionByName(
            _nation_layer(spark, sf_dir, _ogen_c2)
        )
        out = overlay.mask_difference_polygons(l1, l2)
        return out.select(
            "feat_id", "ring_id", "n_pts", "is_hole", "area"
        )

    q["difference_overlap"] = difference_overlap

    def asof_rates(spark, sf_dir):
        """AS-OF join (the temporal operator Spark lacks natively):
        every event reads the most recent rate-change row for its
        event_type at or before its timestamp.  Implemented as ONE
        shuffle -- union both sides tagged + a running
        last(ignoreNulls) window -- never a range-join blowup; the
        oracle is the classic correlated top-1 subquery."""
        from .functions import temporal

        ev = _t(spark, sf_dir, "events")
        dim = (
            ev.filter(F.col("event_id") % 97 == 0)
            .groupBy("event_type", "ts")
            .agg(F.min("value").alias("rate"))
        )
        out = temporal.asof_join(
            ev.select("event_id", "event_type", "ts"), dim,
            key_col="event_type", ts_col="ts", value_cols=["rate"],
        )
        return out.select("event_id", "event_type", "rate")

    q["asof_rates"] = asof_rates

    def asof_bucketed(spark, sf_dir):
        """Carried-state AS-OF join on a deliberately HOT key set
        (every event collapsed to 2 keys): each key's timeline splits
        into 32 time buckets, so the one real shuffle sorts a hot key
        in 32 parallel tasks instead of one (the skew escape hatch
        asof_join's docstring promises; >1-task-per-key pinned in
        tests/test_temporal.py).  Same correlated-top-1 oracle
        semantics as asof_rates."""
        from .functions import temporal

        ev = _t(spark, sf_dir, "events").select(
            "event_id",
            (F.col("event_type").isin("view", "click"))
            .cast("int").alias("grp"),
            "ts", "value",
        )
        dim = (
            ev.filter(F.col("event_id") % 89 == 0)
            .groupBy("grp", "ts")
            .agg(F.min("value").alias("rate"))
        )
        out = temporal.asof_join_bucketed(
            ev.select("event_id", "grp", "ts"), dim,
            key_col="grp", ts_col="ts", value_cols=["rate"],
        )
        return out.select("event_id", "grp", "rate")

    q["asof_bucketed"] = asof_bucketed

    def kmv_users(spark, sf_dir):
        """KMV (bottom-k) distinct-count sketch, oracle-checked ON THE
        SKETCH ITSELF: per event_type, estimate distinct users from
        the 64 smallest md5 hash fractions -- deterministic, so
        DuckDB reproduces the estimate bit-for-bit (HLL cannot be
        checked this way).  One shuffle, k rows per group, small
        groups exact by construction."""
        from .functions import sketch

        return sketch.kmv_distinct(
            _t(spark, sf_dir, "events"), "event_type", "user_id",
        )

    q["kmv_users"] = kmv_users

    def cm_heavy(spark, sf_dir):
        """Count-min heavy-hitter frequencies over the documents
        token stream, oracle-checked ON THE SKETCH (like kmv_users:
        md5 cell placement is deterministic, so DuckDB rebuilds the
        identical depth x width table and min-of-rows estimates).
        The corpus side collapses to <= 4*512 groups map-side
        regardless of corpus size or token skew -- the bounded-state
        frequency primitive of a 100 TB token-statistics pass."""
        from .functions import sketch

        docs = _t(spark, sf_dir, "documents")
        toks = docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        sk = sketch.cm_sketch(toks, "tok")
        cand = docs.filter(F.col("doc_id") % 83 == 0).select(
            F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        return sketch.cm_estimate(
            sk, cand, "tok"
        ).select(F.col("item"), F.col("estimate"))

    q["cm_heavy"] = cm_heavy

    def stratified_sample(spark, sf_dir):
        """Language-balanced deterministic corpus downsampling
        (training-data mixing): md5-derived per-doc uniform draw vs
        per-language quota, pure JVM, RNG-free, partitioning-proof."""
        out = ftext.stratified_sample(
            _t(spark, sf_dir, "documents"),
            quotas={"en": 40, "de": 75, "fr": 10},
        )
        return out.select("doc_id", "lang")

    q["stratified_sample"] = stratified_sample

    def vectorize_streams(spark, sf_dir):
        """G7 streamline vectorization, ORACLE-CHECKED on a hand-built
        Y-river: river A flows south down one column, a west-running
        tributary joins it mid-stream.  Hand-assigned accumulation puts
        three 1-chain class bands downstream and one band across the
        junction, whose MERGE cell (two in-class inflows) both stops
        the two tributary chains and starts the continuation -- so the
        published semantics (sources + merges start, merges + sinks
        stop, walks include the terminating off-class cell) produce
        exactly six polylines with closed-form vertex counts and
        endpoints, hand-derived in the oracle."""
        from .operators import flow_op

        def gen(batches):
            for pdf in batches:
                rows = []
                for _ in pdf["id"]:
                    d = np.zeros((256, 256), np.uint8)
                    a = np.zeros((256, 256), np.int64)
                    d[20:101, 10] = 8    # river A: south along col 10
                    d[50, 11:16] = 32    # tributary: west along row 50
                    a[40:61, 10] = 5     # class [4.7, 9.9) across the
                    a[50, 11:16] = 5     # junction at (50, 10)
                    a[70, 10] = 2        # class [2, 3): one cell
                    a[75, 10] = 3        # class [3, 4): one cell
                    a[80:84, 10] = 4     # class [4, 4.7): four cells
                    rows.append(
                        (
                            int((10 << 56) | (3 << 28) | 2),
                            codecs_mod.png_encode(d),
                            "png",
                            _zlib_mod.compress(a.tobytes(), 1),
                        )
                    )
                yield pd.DataFrame(
                    rows, columns=["cell_id", "bytes", "fmt", "acc"]
                )

        tiles = spark.range(0, 1, 1, 1).mapInPandas(
            gen, "cell_id long, bytes binary, fmt string, acc binary"
        )
        out = flow_op.vectorize_streams_tiles(
            tiles.select("cell_id", "bytes", "fmt"),
            tiles.select("cell_id", "acc"),
        )

        @F.pandas_udf("struct<xf: double, yf: double, xl: double, "
                      "yl: double>")
        def endpoints(wkb_s: pd.Series) -> pd.DataFrame:
            rows = []
            for b in wkb_s:
                _, coords = wkb.parse(bytes(b))
                rows.append(
                    (
                        float(coords[0, 0]), float(coords[0, 1]),
                        float(coords[-1, 0]), float(coords[-1, 1]),
                    )
                )
            return pd.DataFrame(rows, columns=["xf", "yf", "xl", "yl"])

        return out.select(
            "cls", "seq",
            F.pandas_udf("int")(
                lambda b: b.map(
                    lambda x: len(wkb.parse(bytes(x))[1])
                )
            )(F.col("geom_wkb")).alias("n_pts"),
            endpoints(F.col("geom_wkb")).alias("e"),
        ).select("cls", "seq", "n_pts", "e.xf", "e.yf", "e.xl", "e.yl")

    q["vectorize_streams"] = vectorize_streams

    def remote_extract(spark, sf_dir):
        """S7 remote raster extraction, ORACLE-CHECKED end to end via
        the deterministic fake service (closed-form pixel function):
        window snap + row-major chunk grid + serials, per-chunk fetch
        with the reference's retry classes (every 3rd serial 503s once
        -> attempts == 2), and payload integrity via per-chunk count +
        exact sum.  The network itself is the only stubbed piece
        (sources/remote.py, disclosed)."""
        from .sources import remote

        feats = _t(spark, sf_dir, "nation").selectExpr(
            "CAST(n_nationkey AS BIGINT) AS feat_id",
            "((n_nationkey*7) % 16) * 128.0 + 17.0 AS x1",
            "(524288.0 - ((n_nationkey*13) % 16) * 128.0 - 13.0)"
            " - (33.0 + (n_nationkey % 3) * 12.0) AS y1",
            "((n_nationkey*7) % 16) * 128.0 + 17.0"
            " + 49.0 + (n_nationkey % 4) * 16.0 AS x2",
            "524288.0 - ((n_nationkey*13) % 16) * 128.0 - 13.0 AS y2",
        )
        reqs = remote.chunk_requests(feats, chunk_px=64)
        fetched = remote.fetch_chunks(
            reqs, remote.fake_raster_transport(fail_first_every=3),
        )

        @F.pandas_udf("struct<n_px: long, sum_v: long>")
        def px_stats(b: pd.Series) -> pd.DataFrame:
            rows = []
            for x in b:
                a = np.frombuffer(
                    _zlib_mod.decompress(bytes(x)), np.uint8
                ).astype(np.int64)
                rows.append((int(a.size), int(a.sum())))
            return pd.DataFrame(rows, columns=["n_px", "sum_v"])

        return fetched.select(
            "feat_id", "serial", "status", "attempts",
            "width", "height",
            px_stats(F.col("bytes")).alias("s"),
        ).select(
            "feat_id", "serial", "status", "attempts", "width",
            "height", "s.n_px", "s.sum_v",
        )

    q["remote_extract"] = remote_extract

    def fill_depressions_f4(spark, sf_dir):
        """G4 staged complex depression fill, ORACLE-CHECKED on the
        identity invariant: on the ascending-seed planar strip every
        cell drains NW through monotone seams to the raster edge, so
        there are NO depressions and all three staged offset passes
        must return the mosaic bit-identically -- any spurious raise,
        fragment mis-stitch, or boundary artifact breaks equality with
        the closed-form plane."""
        from .operators import flow_op

        images = synth.linear_f4_images_df(spark, 100)
        images = images.filter((F.col("w") == 64) & (F.col("h") == 64))
        # res 12 cells ARE 64 px, so the fill rebuilds tiles at the
        # input size (fill derives tile_px from the cell res)
        tiles = images.selectExpr(
            "(CAST(12 AS BIGINT) << 56) | (CAST("
            "CASE (phash DIV 15) WHEN 0 THEN 0 WHEN 4 THEN 1"
            " WHEN 3 THEN 2 WHEN 2 THEN 3 WHEN 6 THEN 4"
            " WHEN 1 THEN 5 ELSE 6 END AS BIGINT) << 28) AS cell_id",
            "bytes", "fmt",
        )
        out = flow_op.fill_depressions_tiles(tiles).join(
            tiles.select("cell_id"), "cell_id", "left_semi"
        )
        return _per_pixel_rows(
            out, "ix int, i int, j int, v double", "v",
            lambda t: codecs_mod.decode(bytes(t.bytes), t.fmt)
            .astype(np.float64),
            lambda cid: {"ix": _cell_hi(cid)},
        )

    q["fill_depressions_f4"] = fill_depressions_f4

    def streaming_parity(spark, sf_dir):
        """Tumbling-window event aggregate, oracle-checked (window
        start formatted for engine-TZ independence)."""
        from .streaming import windows as sw

        out = sw.windowed_agg_batch(_t(spark, sf_dir, "events"))
        return out.select(
            F.date_format("win_start", "yyyy-MM-dd HH:mm:ss")
            .alias("win_start"),
            "event_type", "cnt", "sum_v",
        )

    q["streaming_parity"] = streaming_parity

    def image_resize(spark, sf_dir):
        from .functions import multimodal

        images = synth.linear_images_df(spark, 100)
        return multimodal.resize(images, factor=2).select(
            "image_id", "w", "h"
        )

    q["image_resize"] = image_resize

    def hll_users(spark, sf_dir):
        """HyperLogLog distinct users per event_type, oracle-checked
        ON THE ESTIMATE itself: rho comes from integer bit-length
        (length(bin(x)) -- never floating log2) and every 2^-rho
        addend is an exact dyadic below the 52-bit mantissa span, so
        DuckDB rebuilds the identical 64-register table AND the
        identical harmonic-mean estimate.  (kmv_users' docstring
        claimed HLL can't be cross-checked this way; only
        floating-point rho extraction can't.)  Shuffle carries <= 64
        rows per (key, input partition) regardless of corpus size or
        skew -- the canonical distinct-count at 10^12 rows."""
        from .functions import sketch

        return sketch.hll_distinct(
            _t(spark, sf_dir, "events"), "event_type", "user_id"
        )

    q["hll_users"] = hll_users

    def bm25_rank(spark, sf_dir):
        """Okapi BM25 relevance of every document against a fixed
        query (training-data quality/retrieval scoring).  Corpus
        stats (N, df, avgdl) reduce to ONE broadcast row; term
        frequencies are JVM codegen; per-term contributions add in
        explicit list order so the float association is
        deterministic and DuckDB reproduces the score bit-for-bit
        (floor-rounded 4 dp)."""
        return ftext.bm25_scores(
            _t(spark, sf_dir, "documents"), ["spark", "query", "merge"]
        )

    q["bm25_rank"] = bm25_rank

    def line_dedup(spark, sf_dir):
        """CCNet-style line-level corpus dedup: drop lines occurring
        in >= 10 distinct docs, reassemble surviving lines in order.
        The synthetic documents are single-line, so the fixture
        deterministically re-lines each doc into 2-word lines (small
        vocabulary -> genuine cross-doc hot lines) with an
        identically mirrored SQL construction; the dedup itself
        shuffles 16-byte md5s with map-side partial aggregation and
        anti-joins the tiny hot set back (AQE broadcasts it)."""
        docs = _t(spark, sf_dir, "documents")
        words = docs.select(
            "doc_id", F.split(F.col("text"), " ").alias("_w")
        )
        n_lines = F.floor((F.size("_w") + F.lit(1)) / F.lit(2)).cast(
            "int"
        )
        ml = words.select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), n_lines - F.lit(1)),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("_w"), i * 2 + 1, 2)
                    ),
                ),
                "\n",
            ).alias("text"),
        )
        return fdedup.line_dedup(ml, min_df=10)

    q["line_dedup"] = line_dedup

    def bloom_semijoin(spark, sf_dir):
        """Bloom-prefiltered semi-join: orders of BUILDING-segment
        customers.  The filter builds DISTRIBUTED (per-partition
        bitmaps bit_or-merged; only m/64 words reach the driver),
        broadcasts m/8 bytes, and drops probe rows map-side BEFORE
        the exchange; the exact semi-join then kills the <1% false
        positives, so the result is exactly LEFT SEMI.  At a 1%
        match rate on 100 TB this cuts the shuffle 100x."""
        from .functions import bloom

        cust = _t(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        return bloom.bloom_semi_join(
            _t(spark, sf_dir, "orders"), cust,
            "o_custkey", small_key_col="c_custkey",
        ).select("o_orderkey", "o_custkey")

    q["bloom_semijoin"] = bloom_semijoin

    def grouped_quantile(spark, sf_dir):
        """Exact grouped quantiles (25/50/75) of lineitem quantity:
        Spark's exact `percentile` vs DuckDB's quantile_cont -- both
        interpolate at p*(n-1); the input is integer-valued, so every
        interpolation lands on an exact dyadic and the engines agree
        bit-for-bit.  Partial-aggregated JVM path, one shuffle."""
        li = _t(spark, sf_dir, "lineitem")
        g = li.groupBy("l_returnflag").agg(
            F.expr(
                "percentile(CAST(l_quantity AS DOUBLE),"
                " array(0.25D, 0.5D, 0.75D))"
            ).alias("_qs"),
            F.count(F.lit(1)).alias("n"),
        )
        def _q(i):
            return (
                F.floor(F.element_at("_qs", i) * 10000.0) / 10000.0
            )
        return g.select(
            "l_returnflag",
            "n",
            _q(1).alias("q25"),
            _q(2).alias("q50"),
            _q(3).alias("q75"),
        )

    q["grouped_quantile"] = grouped_quantile

    def kmv_setops(spark, sf_dir):
        """Theta-sketch-style set operations from bottom-k sketches
        ALONE: |A u B|, |A n B|, J(A,B) between two customer cohorts
        (BUILDING segment vs high-balance), each corpus reduced once
        to 64 doubles.  Every estimate is a deterministic md5
        function, so DuckDB reproduces the numbers bit-for-bit --
        the oracle checks the SKETCH ALGEBRA, not just counts."""
        from .functions import sketch

        cust = _t(spark, sf_dir, "customer")
        return sketch.kmv_set_ops(
            cust.filter(F.col("c_mktsegment") == "BUILDING"),
            cust.filter(F.col("c_acctbal") > 5000),
            "c_custkey",
        )

    q["kmv_setops"] = kmv_setops

    # -- round-5 late batch: OLAP grouping sets, pivot, time-series
    #    gap fill, graph triangles, edit-distance dedup, and three
    #    image-plane operators (moments, template match, blobs) --

    def rollup_agg(spark, sf_dir):
        """OLAP ROLLUP grouping sets over lineitem: per
        (returnflag, linestatus) plus per-flag subtotals plus the
        grand total in ONE pass, tagged by grouping_id.  Catalyst
        expands the rollup into a single Expand + partial/final
        hash agg -- one shuffle for all three granularities (three
        separate GROUP BYs would scan the 100-TB fact three
        times)."""
        li = _t(spark, sf_dir, "lineitem")
        return li.rollup("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            F.grouping_id().alias("gid"),
        )

    q["rollup_agg"] = rollup_agg

    def pivot_wide(spark, sf_dir):
        """Pivot (long -> wide): orders re-shaped to one row per
        priority with per-status count and exact decimal revenue
        columns.  The status domain is DECLARED (F/O/P), so Spark
        skips the extra distinct-values job and plans a single
        pivot hash agg -- one shuffle, no per-status scans."""
        o = _t(spark, sf_dir, "orders")
        p = (
            o.groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["F", "O", "P"])
            .agg(
                F.count(F.lit(1)).alias("n"),
                _dsum(F.col("o_totalprice")).alias("rev"),
            )
        )
        # empty pivot cells: Spark yields NULL even for count; the
        # SQL mirror's FILTERed COUNT yields 0 -- coalesce counts so
        # both engines agree (revenue NULLs agree already)
        return p.select(
            "o_orderpriority",
            F.coalesce("F_n", F.lit(0)).alias("f_n"),
            F.col("F_rev").alias("f_rev"),
            F.coalesce("O_n", F.lit(0)).alias("o_n"),
            F.col("O_rev").alias("o_rev"),
            F.coalesce("P_n", F.lit(0)).alias("p_n"),
            F.col("P_rev").alias("p_rev"),
        )

    q["pivot_wide"] = pivot_wide

    def gap_fill(spark, sf_dir):
        """Time-series gap fill + linear interpolation: a sparse
        hourly per-type value series (every 13th event) densified to
        its full hour grid, missing hours linearly interpolated
        between nearest observations (hypertable
        time_bucket_gapfill + interpolate).  sequence()+explode
        generates the grid executor-side; two shuffles total."""
        from .functions import temporal

        ev = _t(spark, sf_dir, "events").filter(
            F.col("event_id") % 13 == 0
        )
        obs = ev.groupBy(
            F.col("event_type"),
            # floor-consistent bucketing: (a - pmod(a, b)) div b ==
            # floor(a / b) exactly (integer math, no double rounding),
            # matching DuckDB's // even for pre-1970 timestamps; plain
            # `div` truncates toward zero and diverges there (ADVICE
            # r5).  Identical on non-negative epochs.
            F.expr(
                "(unix_micros(CAST(ts AS TIMESTAMP)) - "
                "pmod(unix_micros(CAST(ts AS TIMESTAMP)), 3600000000))"
                " div 3600000000"
            ).alias("bucket"),
        ).agg(_dsum(F.col("value")).alias("v"))
        filled = temporal.gap_fill(obs, "event_type", "bucket", "v")
        return filled.select(
            "event_type", "bucket",
            (F.floor(F.col("v") * 10000.0) / 10000.0).alias("v4"),
            "filled",
        )

    q["gap_fill"] = gap_fill

    def triangle_count(spark, sf_dir):
        """Exact triangle count on a deterministic 2000-node
        double-ring graph via degree-ordered orientation (Suri &
        Vassilvitskii's compact-forward): wedge volume is bounded by
        orientation out-degree O(sqrt(m)) even under hub skew.  The
        oracle recomputes the closure from scratch in SQL."""
        from .functions import graph as fgraph

        n = 2000
        nodes = spark.range(n).select(F.col("id").alias("node"))
        e1 = nodes.select(
            F.col("node").alias("src"),
            ((F.col("node") * 7 + 3) % n).alias("dst"),
        )
        e2 = nodes.select(
            F.col("node").alias("src"),
            ((F.col("node") * 13 + 5) % n).alias("dst"),
        )
        return fgraph.triangle_count(e1.unionByName(e2))

    q["triangle_count"] = triangle_count

    def fuzzy_dedup(spark, sf_dir):
        """Edit-distance near-dup pairs with blocked candidate
        generation: prefix-block equi-join + length-band lower bound
        BEFORE the O(L^2) JVM levenshtein kernel; the corpus never
        self-joins unblocked.  Catches the small-edit dup class that
        shingle Jaccard (ngram_jaccard) and MinHash both blur."""
        return fdedup.levenshtein_near_dup(
            _t(spark, sf_dir, "documents")
        )

    q["fuzzy_dedup"] = fuzzy_dedup

    def image_moments(spark, sf_dir):
        """Raw + central image moments in exact int64 (m_pq and the
        centroid-cleared central numerators m00^2*mu_pq) over real
        PNG payloads -- the blob orientation/spread primitives.
        Zero shuffles; oracle recomputes every moment from the
        closed-form pixel table."""
        from .functions import image_enhance

        images = synth.linear_images_df(spark, 40)
        return image_enhance.image_moments(images)

    q["image_moments"] = image_moments

    def ssd_match(spark, sf_dir):
        """Integer-exact template matching: minimum
        sum-of-squared-differences offset of a 4x4 closed-form
        template over every payload (ties -> row-major first).
        16 vectorized plane shifts per image, zero shuffles; the
        oracle rescans every offset with a 16-way pixel join."""
        from .functions import image_enhance

        tmpl = (
            3 + 7 * np.arange(4)[:, None] + 13 * np.arange(4)[None, :]
        ) % 251
        images = synth.linear_images_df(spark, 6)
        return image_enhance.ssd_template_match(images, tmpl)

    q["ssd_match"] = ssd_match

    def blob_label(spark, sf_dir):
        """8-connected blob statistics of the saturated mask
        (v = 255) per payload: mask size, blob count, largest blob,
        fragmentation (sum of squared sizes).  Generic union-find
        per image, zero shuffles; the oracle labels the same mask
        with a from-scratch recursive reachability closure."""
        from .functions import image_enhance

        images = synth.linear_images_df(spark, 6)
        return image_enhance.blob_stats(images)

    q["blob_label"] = blob_label

    def cohort_retention(spark, sf_dir):
        """Cohort retention matrix: users grouped by first-seen week
        (cohort), counted distinct per (cohort, week offset) -- the
        product-analytics retention triangle.  One pass computes
        first-seen via a min agg; the big event stream shuffles once
        on user for the cohort join (broadcast when the user dim is
        small), then once for the (cohort, offset) count-distinct."""
        ev = _t(spark, sf_dir, "events").select(
            "user_id",
            # floor-consistent week bucket (see gap_fill's note)
            F.expr(
                "(unix_micros(CAST(ts AS TIMESTAMP)) - "
                "pmod(unix_micros(CAST(ts AS TIMESTAMP)), 604800000000)"
                ") div 604800000000"
            ).alias("wk"),
        )
        first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort"))
        # no broadcast hint: the user dimension is per-user (can be
        # billions of rows at corpus scale); the equi-join reuses the
        # event stream's user_id hash partitioning, and AQE will
        # broadcast on its own whenever the dim is actually small
        return (
            ev.join(first, "user_id")
            .groupBy("cohort", (F.col("wk") - F.col("cohort")).alias("offset"))
            .agg(F.countDistinct("user_id").alias("n_users"))
        )

    q["cohort_retention"] = cohort_retention

    def skyline(spark, sf_dir):
        """2-D skyline (Pareto frontier) of lineitem on (maximize
        extendedprice, maximize quantity): rows no other row weakly
        dominates with one strict inequality.  The scalable shape is
        NOT the quadratic NOT EXISTS the oracle runs: collapse to max
        quantity per price (one hash agg), then a single ordered
        window pass keeps prices whose max-quantity beats the running
        max of all strictly-higher prices -- O(n log n) total, one
        shuffle + one window, vs the oracle's O(n^2) self-join."""
        li = _t(spark, sf_dir, "lineitem")
        per_p = li.groupBy(
            F.col("l_extendedprice").alias("price")
        ).agg(F.max("l_quantity").alias("qty"))
        return _skyline_front(per_p)

    q["skyline"] = skyline

    def event_transitions(spark, sf_dir):
        """First-order Markov transition counts over per-user event
        streams: lag() over the (ts, event_id)-total-ordered stream,
        then a count per (prev_type, type) pair.  One shuffle for the
        per-user window, one tiny agg -- the transition matrix of a
        100-TB clickstream without ever materializing sequences."""
        ev = _t(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            ev.withColumn("prev_type", F.lag("event_type").over(w))
            .filter(F.col("prev_type").isNotNull())
            .groupBy("prev_type", F.col("event_type").alias("next_type"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["event_transitions"] = event_transitions

    def unpivot_long(spark, sf_dir):
        """UNPIVOT (wide -> long), the inverse reshape of pivot_wide:
        lineitem's four charge columns melted to (measure, value)
        rows with per-measure decimal-exact totals.  stack() expands
        executor-side inside the projection -- no shuffle beyond the
        final tiny agg, vs four self-unions that would rescan the
        fact four times."""
        li = _t(spark, sf_dir, "lineitem")
        melted = li.select(
            "l_returnflag",
            F.expr(
                "stack(4, 'qty', l_quantity, 'price', l_extendedprice,"
                " 'disc', l_discount, 'tax', l_tax)"
            ).alias("measure", "value"),
        )
        return melted.groupBy("l_returnflag", "measure").agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("value")).alias("total"),
        )

    q["unpivot_long"] = unpivot_long



    def box_blur(spark, sf_dir):
        """Integral-image box filter (radius 2, clamped windows) over
        real PNG payloads; per-image aggregates of the floor-mean
        blurred plane.  O(pixels) regardless of radius; the oracle
        recomputes every window with a bounded self-join."""
        from .functions import image_enhance

        images = synth.linear_images_df(spark, 12)
        return image_enhance.box_blur_stats(images)

    q["box_blur"] = box_blur

    def hist_equalize(spark, sf_dir):
        """Integer-exact histogram equalization (floor CDF remap) of
        40 PNG tiles; per-image aggregates + distinct output levels of
        the equalized plane."""
        from .functions import image_enhance

        images = synth.linear_images_df(spark, 40)
        return image_enhance.equalize_stats(images)

    q["hist_equalize"] = hist_equalize

    def otsu_threshold(spark, sf_dir):
        """Otsu's between-class-variance threshold per image, argmax
        computed from exact integer moments (Python bigint on the
        Spark side, HUGEINT in DuckDB) so the picked threshold and
        the foreground stats agree bit-for-bit."""
        from .functions import image_enhance

        images = synth.linear_images_df(spark, 40)
        return image_enhance.otsu_stats(images)

    q["otsu_threshold"] = otsu_threshold

    def rle_stats(spark, sf_dir):
        """Per-scanline run-length statistics (compressibility score)
        of 40 PNG tiles; mirrors a SQL gaps-and-islands plan."""
        from .functions import image_enhance

        images = synth.linear_images_df(spark, 40)
        return image_enhance.rle_stats(images)

    q["rle_stats"] = rle_stats

    def sobel_edges(spark, sf_dir):
        """Integer Sobel |gx|+|gy| over interior pixels; per-image
        edge energy / peak / edge-pixel count (curation quality
        signal).  Exact vs a 3x3 neighborhood self-join oracle."""
        from .functions import image_enhance

        images = synth.linear_images_df(spark, 12)
        return image_enhance.sobel_stats(images)

    q["sobel_edges"] = sobel_edges

    def quadtree_compress(spark, sf_dir):
        """Adaptive quadtree subdivision of the thresholded bitmap
        (A2's quad aggregation inverted into an encoder): leaf count,
        single-pixel leaves, and exact compression ratio, mirrored by
        seven levels of grouped min/max in SQL."""
        from .functions import image_enhance

        images = synth.linear_images_df(spark, 12)
        return image_enhance.quadtree_stats(images)

    q["quadtree_compress"] = quadtree_compress

    def morph_gradient(spark, sf_dir):
        """Grayscale morphological gradient (clamped 3x3 dilation
        minus erosion); per-image energy / peak / flat-pixel count,
        exact vs a bounded neighborhood self-join."""
        from .functions import image_enhance

        images = synth.linear_images_df(spark, 20)
        return image_enhance.morph_gradient_stats(images)

    q["morph_gradient"] = morph_gradient

    def hist_match(spark, sf_dir):
        """Histogram matching: each image's distribution is remapped
        onto its ring-successor's ((idx+1) mod 12) via the exact
        cross-multiplied integer quantile map; per-image aggregates
        of the matched plane.  The pairing join broadcasts (tiny
        reference side)."""
        from .functions import image_enhance

        images = synth.linear_images_df(spark, 12)
        refs = images.select(
            F.col("phash").alias("ref_of"),
            F.col("bytes").alias("ref_bytes"),
            F.col("fmt").alias("ref_fmt"),
        )
        paired = images.join(
            F.broadcast(refs),
            ((F.col("phash") + 1) % 12) == F.col("ref_of"),
        )
        return image_enhance.match_histograms(paired)

    q["hist_match"] = hist_match

    def span_dedup(spark, sf_dir):
        """ExactSubstr-style span dedup: document pairs sharing an
        identical 32-char substring, indexed only at content-defined
        anchor grams (md5 class 0 mod 4) with a hot-gram guard.
        Pure JVM gram/hash side; one equi-join on the hash."""
        from .functions import dedup as fdedup

        docs = _t(spark, sf_dir, "documents")
        return fdedup.anchored_span_pairs(docs)

    q["span_dedup"] = span_dedup

    def pagerank(spark, sf_dir):
        """Fixed-3-iteration PageRank on a deterministic out-degree-2
        functional graph (2000 nodes), kept ORACLE-HARD by running
        the recurrence in exact integer numerators over the common
        denominator N*(80)^k -- the first iterative-algorithm row
        whose VALUES (not just row counts) are bit-checked."""
        from .functions import graph as fgraph

        n = 2000
        nodes = spark.range(n).select(F.col("id").alias("node"))
        e1 = nodes.select(
            F.col("node").alias("src"),
            ((F.col("node") * 7 + 3) % n).alias("dst"),
        )
        e2 = nodes.select(
            F.col("node").alias("src"),
            ((F.col("node") * 13 + 5) % n).alias("dst"),
        )
        return fgraph.pagerank_fixed(
            nodes, e1.unionByName(e2)
        )

    q["pagerank"] = pagerank

    def text_clean(spark, sf_dir):
        """Corpus normalization: lowercase, whitespace-to-space,
        printable-ASCII filter, space collapse + trim; md5 of the
        normalized text is the downstream dedup key.  Pure JVM regex
        (Java/RE2-common dialect), zero shuffles."""
        from .functions import text as ftext

        return ftext.normalize_text(_t(spark, sf_dir, "documents"))

    q["text_clean"] = text_clean

    def aspect_class(spark, sf_dir):
        """8-way aspect octant classification of the f4 DEM planes
        through the SAME halo exchange the hillshade oracle proves
        per pixel; per-tile class histogram.  The octant is decided
        by sign/magnitude comparisons on dyadic-exact gradients, so
        the closed-form SQL twin classifies identically."""
        from .operators import focal

        images = synth.linear_f4_images_df(spark, 100)
        images = images.filter((F.col("w") == 64) & (F.col("h") == 64))
        tiles = images.selectExpr(
            "(CAST(10 AS BIGINT) << 56)"
            " | (CAST((phash DIV 15) % 4 AS BIGINT) << 28)"
            " | CAST((phash DIV 15) DIV 4 AS BIGINT) AS cell_id",
            "bytes", "fmt",
        )
        out = focal.halo_stencil(
            tiles, focal.aspect_octant_kernel, margin=1, tile_px=64
        )

        def counts(px, t):
            bc = np.bincount(px.ravel(), minlength=9)
            return [(_cell_hi(t.cell_id), _cell_lo(t.cell_id), c,
                     int(bc[c])) for c in range(9) if bc[c]]

        return codecs_mod.map_payloads(
            out, counts, "ix int, iy int, cls int, n long"
        )

    q["aspect_class"] = aspect_class

    def streaming_image_stats(spark, sf_dir):
        """REAL Structured Streaming run over image payloads: the 12
        deterministic PNGs are staged to a file source (kafka-shaped
        in production), streamed 2 files per trigger through the
        stateless Arrow box-blur stage, and drained into a memory
        sink -- then hash-checked against the SAME SQL mirror as the
        batch box_blur row.  Streaming x image axis, oracle-hard."""
        import os

        from .streaming import image_stream as sim

        path = "/tmp/rts_stream_images_12"
        if not os.path.isdir(path):
            synth.linear_images_df(spark, 12).select(
                "image_id", "bytes", "w", "h", "fmt"
            ).repartition(6).write.mode("overwrite").parquet(path)
        return sim.run_image_stats_to_memory(
            spark, path, query_name="q_streaming_image_stats"
        )

    q["streaming_image_stats"] = streaming_image_stats

    def interval_union(spark, sf_dir):
        """Interval SET arithmetic (gaps-and-islands): merge
        overlapping [ts, ts + (event_id%7+1)*2min) windows per
        event_type; island count / covered time / longest island /
        max merge factor.  Pure JVM single-shuffle window plan."""
        from .functions import intervals as fint

        us = F.unix_micros(F.col("ts").cast("timestamp"))
        iv = _t(spark, sf_dir, "events").select(
            F.col("event_type"),
            us.alias("s"),
            (us + (F.col("event_id") % 7 + 1) * 120000000).alias("e"),
        )
        return fint.interval_union(iv, "event_type")

    q["interval_union"] = interval_union

    def contrast_stretch(spark, sf_dir):
        """2-98% percentile linear stretch; integer cut points via
        CDF cross-multiplication, clamp-before-scale so no negative
        division exists to disagree on (DuckDB truncates, numpy
        floors).  Per-image aggregates + saturated-pixel count."""
        from .functions import image_enhance

        images = synth.linear_images_df(spark, 40)
        return image_enhance.contrast_stretch_stats(images)

    q["contrast_stretch"] = contrast_stretch

    def funnel(spark, sf_dir):
        """Ordered view->click->purchase funnel with a 24h budget per
        hop, first-occurrence semantics; the 100-TB event side is
        only scanned (type filter pushed down), each frontier is a
        broadcast.  One summary row."""
        from .functions import temporal as ftemp

        return ftemp.funnel_counts(_t(spark, sf_dir, "events"))

    q["funnel"] = funnel

    def priority_sample(spark, sf_dir):
        """Deterministic uniform k-per-group sample without
        replacement: top-3 docs per lang by md5 priority (salted),
        reproducible by any engine with md5 -- the corpus sampling
        primitive that needs no RNG state.  Single window shuffle."""
        w = Window.partitionBy("lang").orderBy(
            F.md5(F.concat(F.lit("ps1"),
                           F.col("doc_id").cast("string"))).desc(),
            F.col("doc_id"),
        )
        return (
            _t(spark, sf_dir, "documents")
            .select("doc_id", "lang", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= 3)
            .select("doc_id", "lang", F.col("rn").cast("long").alias("rn"))
        )

    q["priority_sample"] = priority_sample

    def simplify_vw(spark, sf_dir):
        """One-pass Visvalingam-Whyatt simplification of 200 synthetic
        41-vertex polylines, pure JVM (lag/lead + filter + row_number,
        single shuffle, zero UDFs).  Doubled-area threshold keeps the
        whole operator in exact integer arithmetic."""
        from .operators import simplify as op_simplify

        n_lines, n_v = 200, 41
        verts = (
            spark.range(n_lines * n_v)
            .select(
                (F.col("id") / n_v).cast("long").alias("line_id"),
                (F.col("id") % n_v).alias("seq"),
            )
            .select(
                "line_id",
                "seq",
                (F.col("seq") * 8).alias("x"),
                (
                    (F.col("line_id") * 31 + F.col("seq") * F.col("seq") * 17)
                    % 29
                    - 14
                ).alias("y"),
            )
        )
        return op_simplify.simplify_vw(verts, threshold2=160)

    q["simplify_vw"] = simplify_vw

    def poly_centroid(spark, sf_dir):
        """Shoelace area + centroid of 500 synthetic L-shaped rings,
        pure JVM (wrap-around lead + one hash aggregation).  Integer
        cross-term sums; the only float op is the final division, so
        DuckDB reproduces area/cx/cy bit-for-bit."""
        from .operators import simplify as op_simplify

        n_feat = 500
        f = F.col("feat_id")
        a = 40 + (f % 7) * 8
        b = 8 + (f % 4) * 8
        c = 8 + (f % 3) * 8
        d = 40 + (f % 5) * 8
        ox, oy = (f * 3) % 50, (f * 7) % 50
        s = F.col("seq")
        verts = (
            spark.range(n_feat * 6)
            .select(
                (F.col("id") / 6).cast("long").alias("feat_id"),
                (F.col("id") % 6).alias("seq"),
            )
            .select(
                "feat_id",
                "seq",
                (
                    ox
                    + F.when(s == 0, 0)
                    .when(s == 1, a)
                    .when(s == 2, a)
                    .when(s == 3, c)
                    .when(s == 4, c)
                    .otherwise(0)
                ).alias("x"),
                (
                    oy
                    + F.when(s == 0, 0)
                    .when(s == 1, 0)
                    .when(s == 2, b)
                    .when(s == 3, b)
                    .when(s == 4, d)
                    .otherwise(d)
                ).alias("y"),
            )
        )
        return op_simplify.centroids(verts)

    q["poly_centroid"] = poly_centroid

    # The driver's correctness gate inspects only the FIRST 50 registry
    # entries: order the registry (1) a curated head, (2) the
    # remaining oracle-backed queries in registration order, (3) the
    # rows-only Philox/realistic variants of machinery that is
    # oracle-proven elsewhere.  Derived from oracle_sql() so the
    # ordering self-corrects as oracles are added.
    #
    # ROUND-5 ROTATION (VERDICT r4 #9, standing invariant pinned in
    # tests/test_registry_head.py): lead with this round's new/changed
    # queries.  49 round-5 queries have no prior driver-green row, so
    # with a 50-entry window only ONE changed-semantics operator fits
    # alongside them: ivf_ann (two-level quantizer, no in-window
    # machinery twin) takes that slot; asof_rates and kmv_users sit
    # at positions 51-52, each re-validated this round by an
    # IN-window twin of the same changed machinery (asof_bucketed
    # exercises the struct-window as-of carry, kmv_setops the
    # NULL-filtered bottom-k sketch) plus the committed full-registry
    # sweep on the final tree (FULLCHECK_r05.json, all green).
    head = [
        # -- newest round-5 late batch (OLAP grouping sets, pivot,
        #    gap fill, triangles, edit-distance dedup, image moments/
        #    template-match/blobs) --
        "rollup_agg", "pivot_wide", "gap_fill", "triangle_count",
        "fuzzy_dedup", "image_moments", "ssd_match", "blob_label",
        "cohort_retention", "skyline", "event_transitions",
        "unpivot_long", "image_near_dup_phash", "audio_near_dup",
        # -- round-5 additions (image enhancement axis +
        #    pure-JVM vertex-table geometry) --
        "box_blur", "hist_equalize", "otsu_threshold", "rle_stats",
        "sobel_edges", "quadtree_compress", "morph_gradient",
        "hist_match", "span_dedup", "pagerank", "text_clean",
        "aspect_class", "streaming_image_stats", "interval_union",
        "contrast_stretch", "funnel", "priority_sample",
        "simplify_vw", "poly_centroid",
        # -- round-5 additions (sketches, ranking, corpus dedup,
        #    bloom join) --
        "hll_users", "bm25_rank", "line_dedup", "bloom_semijoin",
        "grouped_quantile", "kmv_setops",
        # -- new / changed in round 5 --
        "flow_direction", "flow_accumulation", "contour_footprint",
        "difference_polygons", "fill_voids", "difference_overlap",
        "asof_bucketed", "cm_heavy", "srs_webmerc", "srs_utm",
        "ivf_ann", "asof_rates", "kmv_users",
        # -- oldest driver-green anchors (round 3), re-checked now --
        "grid_assign", "quad_rollup", "mosaic_merge", "rebase_diff",
        "reclass_lut", "clamp_filter", "skip_empty",
        "antijoin_resume", "semijoin_aoi", "interval_class",
        "topk_cells", "second_smallest", "rank_along_line",
        "histogram", "weighted_indicator", "set_ops", "dedup_rows",
        "streaming_window_batch", "token_quality", "lang_id",
        "fingerprint_dedup", "ngram_jaccard", "minhash_lsh",
        "cosine_topk", "running_sum", "topk_per_group", "range_join",
        "pip_polygon", "zonal_image", "simhash_docs", "hillshade_f4",
        "upstream_levels", "grid_linear_tiles", "flow_direction_f4",
        "flow_accumulation_f4", "shadow_march_flat",
    ]
    hard = set(oracle_sql())
    ordered = {k: q[k] for k in head if k in q and k in hard}
    ordered.update(
        {k: v for k, v in q.items() if k in hard and k not in ordered}
    )
    ordered.update({k: v for k, v in q.items() if k not in hard})
    return ordered


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect, on the pre-registered driver views)
# ---------------------------------------------------------------------------


def oracle_sql() -> Dict[str, str]:
    o: Dict[str, str] = {}
    top = f"{WORLD_TOP:.1f}"
    lpix150 = synth.linear_pixels_sql(150)
    R9 = 9 << 56
    R10 = 10 << 56
    R8 = 8 << 56

    o["grid_assign"] = f"""
    WITH pts AS (
      SELECT event_id, {_PX} AS cx, {_PY} AS cy FROM events
    )
    SELECT event_id,
      {R9} + CAST(floor(cx/256.0) AS BIGINT) * 268435456
           + CAST(floor(({top} - cy)/256.0) AS BIGINT) AS cell9,
      {R10} + CAST(floor(cx/128.0) AS BIGINT) * 268435456
            + CAST(floor(({top} - cy)/128.0) AS BIGINT) AS cell10,
      {R8} + CAST(floor(cx/512.0) AS BIGINT) * 268435456
           + CAST(floor(({top} - cy)/512.0) AS BIGINT) AS cell8
    FROM pts
    """

    o["pip_rect"] = f"""
    WITH {_rects_sql()}
    SELECT p.event_id, r.feat_id
    FROM pts p JOIN rects r
      ON p.cx >= r.x1 AND p.cx < r.x2 AND p.cy >= r.y1 AND p.cy < r.y2
    """

    o["zonal_rect"] = f"""
    WITH {_rects_sql()}
    SELECT r.feat_id,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(p.value AS DECIMAL(30,6))) AS DOUBLE) AS sum_v,
           MIN(p.value) AS min_v,
           MAX(p.value) AS max_v,
           floor(CAST(SUM(CAST(p.value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) * 10000.0) / 10000.0 AS avg_v
    FROM pts p JOIN rects r
      ON p.cx >= r.x1 AND p.cx < r.x2 AND p.cy >= r.y1 AND p.cy < r.y2
    GROUP BY r.feat_id
    """

    o["quad_rollup"] = f"""
    WITH pts AS (
      SELECT event_id, value, {_PX} AS cx, {_PY} AS cy FROM events
    )
    SELECT
      {R8} + CAST(floor(cx/512.0) AS BIGINT) * 268435456
           + CAST(floor(({top} - cy)/512.0) AS BIGINT) AS cell8,
      floor(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)/COUNT(value) * 10000.0) / 10000.0 AS mean_v,
      COUNT(value) AS n
    FROM pts GROUP BY 1
    """

    o["mosaic_merge"] = """
    WITH t AS (
      SELECT l_orderkey AS cell_id, l_linenumber AS layer,
             CASE WHEN l_discount >= 0.02 THEN l_quantity END AS value
      FROM lineitem
    ), active AS (SELECT * FROM t WHERE value IS NOT NULL)
    SELECT cell_id,
           arg_max(value, layer*1000000.0 + value) AS value,
           MAX(layer) AS top_layer,
           COUNT(*) AS n_layers
    FROM active GROUP BY cell_id
    """

    o["rebase_diff"] = """
    WITH base AS (
      SELECT l_orderkey AS cell_id, l_quantity AS value
      FROM lineitem WHERE l_linenumber = 1
    ), upd AS (
      SELECT l_orderkey AS cell_id, l_quantity AS value
      FROM lineitem WHERE l_linenumber = 2
    )
    SELECT u.cell_id, u.value
    FROM upd u LEFT JOIN base b ON u.cell_id = b.cell_id
    WHERE u.value IS DISTINCT FROM b.value
    """

    o["reclass_lut"] = """
    SELECT CASE WHEN p_size < 10 THEN 'small'
                WHEN p_size < 30 THEN 'medium'
                ELSE 'large' END AS size_class,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """

    o["clamp_filter"] = """
    WITH c AS (
      SELECT CASE WHEN value >= 10.0 AND value <= 90.0 THEN value END AS v
      FROM events
    )
    SELECT COUNT(*) AS n_total, COUNT(v) AS n_active,
           CAST(SUM(CAST(v AS DECIMAL(30,6))) AS DOUBLE) AS sum_active
    FROM c
    """

    o["skip_empty"] = """
    SELECT l_orderkey, COUNT(CASE WHEN l_discount >= 0.05
                                  THEN l_quantity END) AS n_active
    FROM lineitem GROUP BY l_orderkey HAVING n_active > 0
    """

    o["antijoin_resume"] = """
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
    """

    o["semijoin_aoi"] = """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """

    o["interval_class"] = """
    SELECT CASE WHEN value < 20.0 THEN 'low'
                WHEN value < 60.0 THEN 'mid'
                WHEN value < 90.0 THEN 'high'
                ELSE 'extreme' END AS cls,
           COUNT(*) AS cnt, CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_v
    FROM events GROUP BY 1
    """

    o["topk_cells"] = """
    SELECT user_id, COUNT(*) AS cnt FROM events
    GROUP BY user_id ORDER BY cnt DESC, user_id ASC LIMIT 10
    """

    o["second_smallest"] = """
    SELECT l_suppkey, l_extendedprice AS second_price FROM (
      SELECT l_suppkey, l_extendedprice,
             row_number() OVER (PARTITION BY l_suppkey
               ORDER BY l_extendedprice ASC, l_orderkey ASC,
                        l_linenumber ASC) AS rn
      FROM lineitem
    ) WHERE rn = 2
    """

    o["rank_along_line"] = """
    SELECT l_orderkey, l_linenumber AS argmax_line,
           l_quantity AS max_qty FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_quantity DESC, l_linenumber ASC) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """

    o["histogram"] = """
    SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
    """

    o["weighted_indicator"] = """
    SELECT l_orderkey,
           floor(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) * 10000.0) / 10000.0
             AS weighted_price
    FROM lineitem GROUP BY l_orderkey
    """

    o["set_ops"] = """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0
    """

    o["dedup_rows"] = """
    WITH d AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT event_type, COUNT(*) AS n_users FROM d GROUP BY event_type
    """

    o["streaming_window_batch"] = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
           event_type, COUNT(*) AS cnt, CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_v
    FROM events GROUP BY 1, 2
    """

    o["token_quality"] = """
    SELECT doc_id,
      length(text) AS n_chars_m,
      CASE WHEN length(text) = 0 THEN 0
           ELSE length(text) - length(replace(text, ' ', '')) + 1
      END AS n_tokens,
      ROUND(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
            / length(text), 6) AS alpha_ratio,
      ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
            / (length(text) - length(replace(text, ' ', '')) + 1), 6)
        AS avg_word_len,
      ROUND(CAST(len(list_filter(string_split(text, ' '),
                  t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
            / len(string_split(text, ' ')), 6) AS stopword_ratio
    FROM documents
    """

    o["lang_id"] = """
    WITH p AS (
      SELECT doc_id, lang,
        CASE WHEN len(list_filter(string_split(text, ' '),
                     t -> t IN ('the','a','of','and','to'))) > 0
             THEN 'en' ELSE 'unk' END AS pred_lang
      FROM documents
    )
    SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY 1, 2
    """

    o["fingerprint_dedup"] = """
    SELECT md5(text) AS fp, MIN(doc_id) AS rep_doc_id,
           COUNT(*) AS n_dupes
    FROM documents GROUP BY 1
    """

    # mirrors functions/dedup.py's default-ON document-frequency guard
    # (max_df = max(16, 0.5 * n_docs)) so the prune itself is
    # oracle-checked, not just the happy path
    _shingles = """
    sh0 AS (
      SELECT DISTINCT doc_id,
        lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2] AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS lst FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(lst) - 2)) AS i)
    ),
    shkeep AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING COUNT(*) <= GREATEST(16, CAST(floor(
        0.5 * (SELECT COUNT(*) FROM documents)) AS BIGINT))
    ),
    sh AS (
      SELECT sh0.doc_id, sh0.shingle FROM sh0
      JOIN shkeep USING (shingle)
    )
    """

    o["ngram_jaccard"] = f"""
    WITH {_shingles},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter,
           ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.1
    """

    o["minhash_lsh"] = f"""
    WITH {_shingles},
    sig AS (
      SELECT doc_id, seed, MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle))
               AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(floor(seed/2.0) AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_key
      FROM sig GROUP BY 1, 2
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """

    o["running_sum"] = """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_qty
    FROM lineitem
    """

    o["topk_per_group"] = """
    SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer
    ) WHERE rn <= 3
    """

    o["range_join"] = """
    SELECT p_partkey, COUNT(*) AS cnt
    FROM lineitem JOIN part
      ON l_quantity >= p_size AND l_quantity < p_size + 3
    GROUP BY p_partkey
    """

    o["streaming_parity"] = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS win_start,
           event_type, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_v
    FROM events GROUP BY 1, 2
    """

    o["pip_polygon"] = f"""
    WITH {_diamonds_sql()}
    SELECT p.event_id, d.feat_id
    FROM dpts p JOIN diamonds d
      ON abs(p.cx - d.dcx) + abs(p.cy - d.dcy) < d.r
    """

    o["knn_grid"] = f"""
    WITH pts AS (
      SELECT event_id AS id,
             ((event_id * 48271) % 4096) + 0.5 AS cx,
             {top} - (((event_id * 69621) % 4096) + 0.5) AS cy
      FROM events WHERE event_id < 2000
    ),
    q AS (SELECT id AS qid, cx AS qx, cy AS qy FROM pts WHERE id < 100),
    scored AS (
      SELECT qid, p.id AS cid,
             sqrt((qx - p.cx)*(qx - p.cx) + (qy - p.cy)*(qy - p.cy))
               AS dist
      FROM q CROSS JOIN pts p
    )
    SELECT qid, cid, dist, rn FROM (
      SELECT qid, cid, dist,
             row_number() OVER (PARTITION BY qid
               ORDER BY dist ASC, cid ASC) AS rn
      FROM scored
    ) WHERE rn <= 4
    """

    # connected components as a reachability closure: min reachable
    # node == the component minimum that graph.dedup_clusters assigns
    _cluster_walk = f"""
    WITH RECURSIVE {_shingles},
    sig AS (
      SELECT doc_id, seed, MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle))
               AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(floor(seed/2.0) AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_key
      FROM sig GROUP BY 1, 2
    ),
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION SELECT doc_b, doc_a FROM prs
      UNION SELECT doc_a, doc_a FROM prs
      UNION SELECT doc_b, doc_b FROM prs
    ),
    walk(node, reach) AS (
      SELECT u, v FROM edges
      UNION
      SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u
    )"""

    o["dedup_clusters"] = _cluster_walk + """
    SELECT node AS doc_id, MIN(reach) AS cluster,
           (node = MIN(reach)) AS is_representative
    FROM walk GROUP BY node
    """

    # dedup APPLY: the canonical-document selection step -- drop every
    # non-representative cluster member, keep everything else
    o["dedup_apply"] = _cluster_walk + """,
    clusters AS (
      SELECT node AS doc_id, (node = MIN(reach)) AS is_rep
      FROM walk GROUP BY node
    )
    SELECT COUNT(*) AS docs_before,
           CAST(SUM(CASE WHEN c.is_rep = false THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped,
           CAST(COUNT(*) - SUM(CASE WHEN c.is_rep = false THEN 1
                                    ELSE 0 END) AS BIGINT) AS docs_after,
           CAST(SUM(CASE WHEN COALESCE(c.is_rep, true)
                         THEN length(d.text) ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    """

    # banded LSH with corpus-derived plane count: np mirrors
    # similarity.derive_n_planes (GREATEST/LEAST/ceil/log2 on the same
    # count), band b uses plane rows [b*n_planes, (b+1)*n_planes) of
    # the shared closed-form matrix, candidates = DISTINCT over bands
    o["lsh_ann"] = """
    WITH np AS (
      SELECT CASE WHEN count(*) <= 1024 THEN 8
             ELSE GREATEST(8, LEAST(32,
               CAST(ceil(log2(count(*) / 1024.0)) AS INT))) END
             AS n_planes
      FROM embeddings
    ),
    sigs AS (
      SELECT e.vec_id, e.embedding, bd.band,
        list_sum(list_transform(range(0, np.n_planes), p ->
          CASE WHEN list_sum(list_transform(range(0, 64), d ->
                 CAST(e.embedding[d+1] AS DOUBLE) *
                 (((((bd.band*np.n_planes + p)*8191 + d) * 2654435761)
                   % 2147483648) / 1073741824.0 - 1.0)
               )) > 0
               THEN (CAST(1 AS BIGINT) << p) ELSE 0 END
        )) AS sig,
        sqrt(list_sum(list_transform(e.embedding,
          x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings e, np, (SELECT unnest(range(0, 2)) AS band) bd
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id != b.vec_id
    ),
    nv AS (SELECT DISTINCT vec_id, embedding, nrm FROM sigs),
    scored AS (
      SELECT c.qid, c.cid,
        floor(
          list_sum(list_transform(range(1, 65),
            i -> CAST(qa.embedding[i] AS DOUBLE)
                 * CAST(qb.embedding[i] AS DOUBLE)))
          / (qa.nrm * qb.nrm) * 1000000.0) / 1000000.0 AS sim
      FROM cand c
      JOIN nv qa ON qa.vec_id = c.qid
      JOIN nv qb ON qb.vec_id = c.cid
    )
    SELECT qid, cid, sim, rn FROM (
      SELECT qid, cid, sim,
             row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, cid ASC) AS rn
      FROM scored
    ) WHERE rn <= 5
    """

    o["embedding_near_dup"] = """
    WITH np AS (
      SELECT CASE WHEN count(*) <= 1024 THEN 8
             ELSE GREATEST(8, LEAST(32,
               CAST(ceil(log2(count(*) / 1024.0)) AS INT))) END
             AS n_planes
      FROM embeddings
    ),
    sigs AS (
      SELECT e.vec_id, e.embedding, bd.band,
        list_sum(list_transform(range(0, np.n_planes), p ->
          CASE WHEN list_sum(list_transform(range(0, 64), d ->
                 CAST(e.embedding[d+1] AS DOUBLE) *
                 (((((bd.band*np.n_planes + p)*8191 + d) * 2654435761)
                   % 2147483648) / 1073741824.0 - 1.0)
               )) > 0
               THEN (CAST(1 AS BIGINT) << p) ELSE 0 END
        )) AS sig,
        sqrt(list_sum(list_transform(e.embedding,
          x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings e, np, (SELECT unnest(range(0, 2)) AS band) bd
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    ),
    nv AS (SELECT DISTINCT vec_id, embedding, nrm FROM sigs)
    SELECT doc_a, doc_b, sim FROM (
      SELECT c.doc_a, c.doc_b,
        floor(
          list_sum(list_transform(range(1, 65),
            i -> CAST(qa.embedding[i] AS DOUBLE)
                 * CAST(qb.embedding[i] AS DOUBLE)))
          / (qa.nrm * qb.nrm) * 1000000.0) / 1000000.0 AS sim
      FROM cand c
      JOIN nv qa ON qa.vec_id = c.doc_a
      JOIN nv qb ON qb.vec_id = c.doc_b
    ) WHERE sim >= 0.3
    """

    o["sessionize"] = """
    WITH m AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN epoch_ms(ts)/1000.0
                  - lag(epoch_ms(ts)/1000.0) OVER (
                      PARTITION BY user_id
                      ORDER BY ts ASC, event_id ASC) > 1800.0
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
        SUM(new_session) OVER (PARTITION BY user_id
          ORDER BY ts ASC, event_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS session_no
      FROM m
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_v
    FROM s GROUP BY user_id, session_no
    """

    o["line_drape"] = f"""
    WITH {lpix150},
    merged AS (
      SELECT CAST(floor(px * 2.0) AS BIGINT) AS wj,
             CAST(floor(({top} - py) * 2.0) AS BIGINT) AS wi,
             arg_max(v, image_id) AS v
      FROM lpix WHERE v != 255 GROUP BY 1, 2
    ),
    live_tiles AS (
      SELECT DISTINCT wj // 256 AS tx, wi // 256 AS ty FROM merged
    ),
    lns AS (
      SELECT n_nationkey AS line_id,
             (n_nationkey*7) % 16 AS tx,
             (n_nationkey*13) % 16 AS ty,
             ((n_nationkey*7) % 16) * 128.0 + 1.25 AS x1,
             {top} - ((n_nationkey*13) % 16) * 128.0 - 5.25 AS y
      FROM nation
    ),
    samples AS (
      SELECT l.line_id, gk.k AS seq,
             l.x1 + 2.0 * gk.k AS sx, l.y AS sy, l.tx, l.ty
      FROM lns l,
           LATERAL (SELECT unnest(generate_series(0, 48)) AS k) gk
    ),
    prof AS (
      SELECT s.line_id, s.seq, s.sx, s.sy,
             CAST(COALESCE(m.v, 255) AS INT) AS value
      FROM samples s
      JOIN live_tiles t ON t.tx = s.tx AND t.ty = s.ty
      LEFT JOIN merged m
        ON m.wj = CAST(floor(s.sx * 2.0) AS BIGINT)
       AND m.wi = CAST(floor(({top} - s.sy) * 2.0) AS BIGINT)
    )
    SELECT line_id, seq AS extremum_seq, sx AS extremum_x,
           sy AS extremum_y, value AS extremum_value
    FROM (
      SELECT line_id, seq, sx, sy, value,
             row_number() OVER (PARTITION BY line_id
               ORDER BY value DESC, seq ASC) AS rn
      FROM prof
    ) WHERE rn = 1
    """

    # upstream composite: every float expression below mirrors the
    # operator's numpy expressions op-for-op (same subtractions, same
    # product order, sqrt not hypot), so both engines compute identical
    # doubles and every >=/<= decision lands the same side to the ulp.
    o["upstream_levels"] = f"""
    WITH {lpix150},
    merged AS (
      SELECT CAST(floor(px * 2.0) AS BIGINT) AS wj,
             CAST(floor(({top} - py) * 2.0) AS BIGINT) AS wi,
             arg_max(v, image_id) AS v
      FROM lpix WHERE v != 255 GROUP BY 1, 2
    ),
    mpix AS (
      SELECT (wj + 0.5) * 0.5 AS cx, {top} - (wi + 0.5) * 0.5 AS cy, v
      FROM merged
    ),
    {_urects_sql().strip().rstrip()},
    lparam AS (
      SELECT feat_id AS line_id,
             x1 - 6.75 AS ax, y2 - 3.25 AS ay,
             (x2 + 5.25) - (x1 - 6.75) AS dxl,
             (y1 + 2.75) - (y2 - 3.25) AS dyl,
             sqrt( ((x2 + 5.25) - (x1 - 6.75))
                   * ((x2 + 5.25) - (x1 - 6.75))
                 + ((y1 + 2.75) - (y2 - 3.25))
                   * ((y1 + 2.75) - (y2 - 3.25)) ) AS L
      FROM urects
    ),
    samp AS (
      SELECT line_id, CAST(gk.k AS INT) AS seq,
             ax + dxl * (least(gk.k * 4.25, L) / L) AS sx,
             ay + dyl * (least(gk.k * 4.25, L) / L) AS sy
      FROM lparam,
           LATERAL (SELECT unnest(generate_series(0,
                GREATEST(CAST(floor(L / 4.25) AS BIGINT), 1))) AS k) gk
    ),
    sdir AS (
      SELECT line_id, seq, sx, sy,
        COALESCE(lead(sx) OVER w - sx, sx - lag(sx) OVER w) AS fdx,
        COALESCE(lead(sy) OVER w - sy, sy - lag(sy) OVER w) AS fdy,
        COALESCE(lag(sx) OVER w - sx, sx - lead(sx) OVER w) AS rdx,
        COALESCE(lag(sy) OVER w - sy, sy - lead(sy) OVER w) AS rdy
      FROM samp
      WINDOW w AS (PARTITION BY line_id ORDER BY seq)
    ),
    upairs AS (
      SELECT s.line_id, r.feat_id, s.seq, s.sx, s.sy,
             s.fdx, s.fdy, s.rdx, s.rdy, r.x1, r.x2, r.y1, r.y2
      FROM sdir s JOIN urects r
        ON GREATEST(r.x1 - s.sx, s.sx - r.x2, 0.0)
             * GREATEST(r.x1 - s.sx, s.sx - r.x2, 0.0)
         + GREATEST(r.y1 - s.sy, s.sy - r.y2, 0.0)
             * GREATEST(r.y1 - s.sy, s.sy - r.y2, 0.0)
           <= 576.0
    ),
    hits AS (
      SELECT p.line_id, p.feat_id, p.seq, m.v,
             CASE WHEN (m.cx - p.sx) * p.fdx + (m.cy - p.sy) * p.fdy
                       >= 0.0 THEN 1 ELSE 0 END AS fok,
             CASE WHEN (m.cx - p.sx) * p.rdx + (m.cy - p.sy) * p.rdy
                       >= 0.0 THEN 1 ELSE 0 END AS rok
      FROM upairs p JOIN mpix m
        ON m.cx >= p.sx - 33.25 AND m.cx <= p.sx + 33.25
       AND m.cy >= p.sy - 33.25 AND m.cy <= p.sy + 33.25
       AND (m.cx - p.sx) * (m.cx - p.sx)
           + (m.cy - p.sy) * (m.cy - p.sy) <= 1105.5625
       AND m.cx > p.x1 AND m.cx < p.x2
       AND m.cy > p.y1 AND m.cy < p.y2
    ),
    flevel AS (
      SELECT line_id, feat_id, seq, CAST(v AS DOUBLE) AS lv
      FROM (SELECT line_id, feat_id, seq, v,
                   row_number() OVER (PARTITION BY line_id, feat_id, seq
                                      ORDER BY v) AS rn
            FROM hits WHERE fok = 1)
      WHERE rn = 2
    ),
    rlevel AS (
      SELECT line_id, feat_id, seq, CAST(v AS DOUBLE) AS lv
      FROM (SELECT line_id, feat_id, seq, v,
                   row_number() OVER (PARTITION BY line_id, feat_id, seq
                                      ORDER BY v) AS rn
            FROM hits WHERE rok = 1)
      WHERE rn = 2
    ),
    fsort AS (
      SELECT line_id, feat_id, seq, lv,
             row_number() OVER (PARTITION BY line_id, feat_id
                                ORDER BY seq) AS rn,
             COUNT(*) OVER (PARTITION BY line_id, feat_id) AS n
      FROM flevel
    ),
    choice AS (
      SELECT line_id, feat_id,
             CASE WHEN MAX(n) > 1
                   AND SUM(CASE WHEN rn <= n // 2 THEN lv ELSE 0 END)
                       * (MAX(n) - MAX(n) // 2)
                     > SUM(CASE WHEN rn > n // 2 THEN lv ELSE 0 END)
                       * (MAX(n) // 2)
                  THEN 1 ELSE 0 END AS rev
      FROM fsort GROUP BY 1, 2
    ),
    chosen AS (
      SELECT c.line_id, c.feat_id, f.seq, f.lv AS height, c.rev
      FROM choice c JOIN flevel f
        ON f.line_id = c.line_id AND f.feat_id = c.feat_id
      WHERE c.rev = 0
      UNION ALL
      SELECT c.line_id, c.feat_id, r.seq, r.lv, c.rev
      FROM choice c JOIN rlevel r
        ON r.line_id = c.line_id AND r.feat_id = c.feat_id
      WHERE c.rev = 1
    )
    SELECT o.line_id, o.feat_id, o.seq, s.sx, s.sy, o.height,
           CAST(o.rev AS INT) AS reversed
    FROM chosen o JOIN samp s
      ON s.line_id = o.line_id AND s.seq = o.seq
    """

    # f4 hillshade through the halo exchange: each tile is an exact
    # plane 3*seed + 0.5i + 0.25j on a 4x2 cell block, so every padded
    # np.gradient case is a closed form -- interior (0.5 / 0.25), seam
    # with a live neighbor (cross-plane difference), edge-replicated
    # world border (halved).  Shade truncation uses floor (DuckDB CAST
    # rounds; numpy astype truncates).
    o["hillshade_f4"] = """
    WITH htiles AS (
      SELECT g.t, CAST(g.t % 4 AS INT) AS ix,
             CAST(g.t // 4 AS INT) AS iy,
             ((g.t * 15) * 37) % 199 AS seed
      FROM (SELECT unnest(generate_series(0, 6)) AS t) g
    ),
    nbrs AS (
      SELECT c.ix, c.iy, c.seed,
             n.seed AS seed_n, s.seed AS seed_s,
             w.seed AS seed_w, e.seed AS seed_e
      FROM htiles c
      LEFT JOIN htiles n ON n.ix = c.ix AND n.iy = c.iy - 1
      LEFT JOIN htiles s ON s.ix = c.ix AND s.iy = c.iy + 1
      LEFT JOIN htiles w ON w.ix = c.ix - 1 AND w.iy = c.iy
      LEFT JOIN htiles e ON e.ix = c.ix + 1 AND e.iy = c.iy
    ),
    hpx AS (
      SELECT ix, iy, seed, seed_n, seed_s, seed_w, seed_e,
             CAST(gi.i AS INT) AS i, CAST(gj.j AS INT) AS j
      FROM nbrs,
           LATERAL (SELECT unnest(generate_series(0, 63)) AS i) gi,
           LATERAL (SELECT unnest(generate_series(0, 63)) AS j) gj
    ),
    grad AS (
      SELECT ix, iy, i, j,
        CAST(CASE
          WHEN i = 0 AND seed_n IS NOT NULL THEN
            ((3.0*seed + 0.5 + 0.25*j)
             - (3.0*seed_n + 31.5 + 0.25*j)) / 2.0
          WHEN i = 0 THEN 0.25
          WHEN i = 63 AND seed_s IS NOT NULL THEN
            ((3.0*seed_s + 0.25*j)
             - (3.0*seed + 31.0 + 0.25*j)) / 2.0
          WHEN i = 63 THEN 0.25
          ELSE 0.5 END AS DOUBLE) AS gy_raw,
        CAST(CASE
          WHEN j = 0 AND seed_w IS NOT NULL THEN
            ((3.0*seed + 0.25 + 0.5*i)
             - (3.0*seed_w + 15.75 + 0.5*i)) / 2.0
          WHEN j = 0 THEN 0.125
          WHEN j = 63 AND seed_e IS NOT NULL THEN
            ((3.0*seed_e + 0.5*i)
             - (3.0*seed + 15.5 + 0.5*i)) / 2.0
          WHEN j = 63 THEN 0.125
          ELSE 0.25 END AS DOUBLE) AS gx_raw
      FROM hpx
    ),
    cang AS (
      SELECT ix, iy, i, j,
        (sin(radians(45.0))
         - cos(radians(45.0)) * 0.5
           * sqrt((gx_raw * -4.0)*(gx_raw * -4.0)
                  + (gy_raw * 4.0)*(gy_raw * 4.0))
           * sin(atan2(gy_raw * 4.0, gx_raw * -4.0) - radians(315.0)))
        / sqrt(1.0 + 0.25 * ((gx_raw * -4.0)*(gx_raw * -4.0)
                             + (gy_raw * 4.0)*(gy_raw * 4.0))) AS v
      FROM grad
    )
    SELECT ix, iy, i, j,
           CAST(CASE WHEN v <= 0 THEN 1
                ELSE floor(1.0 + 254.0 * v) END AS INT) AS shade
    FROM cang
    """

    # D8 direction on the ascending-seed planar strip.  Derivation
    # (flow.calculate_flow_direction semantics on the padded array):
    # own-plane drops are N 0.5, W 0.25, NW 0.75/sqrt(2) ~ 0.5303, all
    # others <= 0; the halo replicates absent north/south sides, so
    # top rows lose vertical drops (W wins) and the westmost first
    # column loses horizontal drops (N wins); west seams see the
    # cross-plane drop 3*ds - 15.75 >= 17.25 which dominates (the
    # diagonal variant is divided by sqrt(2)); the single global NW
    # corner pixel has zero best drop, accumulates bits NW|N|W = 224,
    # and the flat-flood from the outward-edge frame walks the
    # replicated ring diagonally so the pixel adopts its first
    # candidate slot in _D8 order: NW (64).
    o["flow_direction_f4"] = """
    WITH strip AS (SELECT unnest(generate_series(0, 6)) AS k),
    fpx AS (
      SELECT CAST(k AS INT) AS ix,
             CAST(gi.i AS INT) AS i, CAST(gj.j AS INT) AS j
      FROM strip,
           LATERAL (SELECT unnest(generate_series(0, 63)) AS i) gi,
           LATERAL (SELECT unnest(generate_series(0, 63)) AS j) gj
    )
    SELECT ix, i, j,
           CASE WHEN ix = 0 AND j = 0 AND i = 0 THEN 64
                WHEN ix = 0 AND j = 0 THEN 128
                WHEN j = 0 THEN 32
                WHEN i = 0 THEN 32
                ELSE 64 END AS dir
    FROM fpx
    """

    # global accumulation on the strip: replay every cell's downstream
    # path (successor map == the proven closed-form direction field in
    # GLOBAL coords gJ = ix*64 + j) with a recursive CTE; UNION ALL
    # keeps one row per (walker, step), so counting rows at a position
    # is exactly "number of strictly-upstream cells".
    o["flow_accumulation_f4"] = """
    WITH RECURSIVE fcell AS (
      SELECT CAST(gi.i AS INT) AS i, CAST(gj.g AS INT) AS gj
      FROM (SELECT unnest(generate_series(0, 63)) AS i) gi,
           (SELECT unnest(generate_series(0, 447)) AS g) gj
    ),
    walk(pi, pj) AS (
      SELECT CASE WHEN gj = 0 THEN i - 1
                  WHEN i = 0 THEN 0
                  WHEN gj % 64 = 0 THEN i
                  ELSE i - 1 END,
             CASE WHEN gj = 0 THEN 0
                  WHEN i = 0 THEN gj - 1
                  WHEN gj % 64 = 0 THEN gj - 1
                  ELSE gj - 1 END
      FROM fcell WHERE NOT (i = 0 AND gj = 0)
      UNION ALL
      SELECT CASE WHEN pj = 0 THEN pi - 1
                  WHEN pi = 0 THEN 0
                  WHEN pj % 64 = 0 THEN pi
                  ELSE pi - 1 END,
             CASE WHEN pj = 0 THEN 0
                  WHEN pi = 0 THEN pj - 1
                  WHEN pj % 64 = 0 THEN pj - 1
                  ELSE pj - 1 END
      FROM walk WHERE NOT (pi = 0 AND pj = 0)
    ),
    counts AS (
      SELECT pi, pj, COUNT(*) AS c FROM walk GROUP BY 1, 2
    )
    SELECT CAST(f.gj // 64 AS INT) AS ix, f.i,
           CAST(f.gj % 64 AS INT) AS j,
           CAST(COALESCE(c.c, 0) AS BIGINT) AS acc
    FROM fcell f LEFT JOIN counts c ON c.pi = f.i AND c.pj = f.gj
    """

    # valley-mosaic D8 direction: the closed-form field proven on the
    # exact fixture in tests/test_flow_valley.py (trend margins beat
    # the hash noise at every drop comparison, no flats, no ties)
    o["flow_direction"] = """
    WITH vcell AS (
      SELECT CAST(gi.g AS INT) AS gi, CAST(gj.g AS INT) AS gj
      FROM (SELECT unnest(generate_series(0, 191)) AS g) gi,
           (SELECT unnest(generate_series(0, 191)) AS g) gj
    )
    SELECT CAST(gj // 64 AS INT) AS tx, CAST(gi // 64 AS INT) AS ty,
           CAST(gi % 64 AS INT) AS i, CAST(gj % 64 AS INT) AS j,
           CASE WHEN gj = 96 THEN 8
                WHEN gj > 96 AND gi = 191 THEN 32
                WHEN gj > 96 THEN 16
                WHEN gi = 191 THEN 2
                ELSE 4 END AS dir
    FROM vcell
    """

    # valley-mosaic global accumulation: replay every cell's downstream
    # path over the closed-form pointers (SW/SE toward the j=96
    # channel, S down it, W/E along the bottom row; off-grid = sink)
    # with a recursive CTE, then aggregate per 64-px tile.  UNION ALL
    # keeps one row per (walker, step), so row count at a position is
    # exactly the strictly-upstream cell count.
    o["flow_accumulation"] = """
    WITH RECURSIVE vcell AS (
      SELECT CAST(gi.g AS INT) AS gi, CAST(gj.g AS INT) AS gj
      FROM (SELECT unnest(generate_series(0, 191)) AS g) gi,
           (SELECT unnest(generate_series(0, 191)) AS g) gj
    ),
    walk(ci, cj) AS (
      SELECT CASE WHEN gj = 96 THEN gi + 1
                  WHEN gi = 191 THEN gi ELSE gi + 1 END,
             CASE WHEN gj = 96 THEN gj
                  WHEN gj > 96 THEN gj - 1 ELSE gj + 1 END
      FROM vcell WHERE NOT (gi = 191 AND gj = 96)
      UNION ALL
      SELECT CASE WHEN cj = 96 THEN ci + 1
                  WHEN ci = 191 THEN ci ELSE ci + 1 END,
             CASE WHEN cj = 96 THEN cj
                  WHEN cj > 96 THEN cj - 1 ELSE cj + 1 END
      FROM walk WHERE NOT (ci = 191 AND cj = 96)
    ),
    counts AS (
      SELECT ci, cj, COUNT(*) AS c FROM walk GROUP BY 1, 2
    ),
    acc AS (
      SELECT v.gi, v.gj, CAST(COALESCE(c.c, 0) AS BIGINT) AS a
      FROM vcell v LEFT JOIN counts c ON c.ci = v.gi AND c.cj = v.gj
    )
    SELECT CAST(720575940379279360
                + CAST(32 + gj // 64 AS BIGINT) * 268435456
                + (16 + gi // 64) AS BIGINT) AS cell_id,
           MAX(a) AS max_acc, CAST(SUM(a) AS BIGINT) AS sum_acc,
           CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_src
    FROM acc GROUP BY 1
    """

    # step-fixture shadow march: shadow (lit = 0) iff 1 <= j <= 8 on a
    # tile with a west wall high enough to clear the sun ray at the
    # first seam-crossing step; dz mirrors shadow._params op-for-op
    o["shadow_march_flat"] = """
    WITH sconst AS (
      SELECT * FROM (VALUES
        (0, CAST(60.0 AS DOUBLE)), (1, 57.0), (2, 51.0), (3, 42.0),
        (4, 30.0), (5, 28.0), (6, 21.0)) AS t(k, c)
    ),
    spx AS (
      SELECT s.k AS ix, CAST(gi.i AS INT) AS i, CAST(gj.j AS INT) AS j,
             s.c, w.c AS c_w
      FROM sconst s
      LEFT JOIN sconst w ON w.k = s.k - 1,
      LATERAL (SELECT unnest(generate_series(0, 63)) AS i) gi,
      LATERAL (SELECT unnest(generate_series(0, 63)) AS j) gj
    )
    SELECT ix, i, j,
      CASE WHEN c_w IS NOT NULL AND j >= 1 AND j <= 8
            AND (c_w - CAST(GREATEST(j, 1) AS DOUBLE)
                 * ((1.0 / GREATEST(ABS(sin(radians(315.0))),
                                    ABS(0.0 - cos(radians(315.0)))))
                    * tan(radians(45.0)) * 1.0)) > c
           THEN 0 ELSE 255 END AS lit
    FROM spx
    """

    o["contamination"] = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS lst FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2] AS s
      FROM t, LATERAL (SELECT unnest(
             generate_series(1, len(lst) - 2)) AS i)
    ),
    e AS (SELECT DISTINCT s FROM g WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, s FROM g WHERE doc_id % 97 != 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM tr GROUP BY doc_id),
    hit AS (
      SELECT tr.doc_id, COUNT(*) AS n_hits
      FROM tr JOIN e USING (s) GROUP BY tr.doc_id
    )
    SELECT t2.doc_id, t2.n_grams,
           COALESCE(h.n_hits, 0) AS n_hits,
           floor(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t2.n_grams
                 * 1000000.0) / 1000000.0 AS frac
    FROM tot t2 LEFT JOIN hit h USING (doc_id)
    """

    o["simhash_near_dup"] = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, gb.b AS bit,
             SUM(CASE WHEN (h >> gb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h, LATERAL (SELECT unnest(generate_series(0, 59)) AS b) gb
      GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE 0 END) AS BIGINT) AS sh
      FROM votes GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, sh, gb.b AS band,
             (sh >> (gb.b * 15)) & 32767 AS key
      FROM sig, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) gb
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sh AS sh_a, b.sh AS sh_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """

    o["curation_pipeline"] = """
    WITH RECURSIVE corpus AS (
      SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 != 0
    ),
    reps AS (
      SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5(text)
    ),
    kept AS (SELECT c.* FROM corpus c JOIN reps USING (doc_id)),
    t AS (
      SELECT doc_id, string_split(text, ' ') AS lst FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             lst[i] || ' ' || lst[i+1] || ' ' || lst[i+2] AS s
      FROM t, LATERAL (SELECT unnest(
             generate_series(1, len(lst) - 2)) AS i)
    ),
    e AS (SELECT DISTINCT s FROM g WHERE doc_id % 97 = 0),
    tr AS (
      SELECT g.doc_id, g.s FROM g JOIN kept k ON k.doc_id = g.doc_id
    ),
    fr AS (
      SELECT tr.doc_id,
             floor(CAST(SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0
                                 END) AS DOUBLE)
                   / COUNT(*) * 1000000.0) / 1000000.0 AS frac
      FROM tr LEFT JOIN e USING (s) GROUP BY tr.doc_id
    ),
    clean AS (
      SELECT k.doc_id, k.lang,
             CAST(len(string_split(k.text, ' ')) AS BIGINT) AS n_tokens
      FROM kept k LEFT JOIN fr f USING (doc_id)
      WHERE COALESCE(f.frac, 0.0) <= 0.05
        AND len(string_split(k.text, ' ')) BETWEEN 15 AND 80
    ),
    mixed AS (
      SELECT doc_id, lang, n_tokens FROM (
        SELECT *, CAST('0x' || substring(
                 md5('strat1' || CAST(doc_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % 100 AS draw
        FROM clean)
      WHERE draw < CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 60
                             WHEN 'es' THEN 80 ELSE 100 END
    ),
    ns AS (
      -- mirrors text.derive_n_shards on the mixed corpus
      SELECT CASE WHEN COUNT(*) <= 8000000 THEN 8
                  ELSE GREATEST(8, CAST(ceil(CAST(COUNT(*) AS DOUBLE)
                                             / 1000000.0) AS BIGINT))
             END AS k
      FROM mixed
    ),
    r AS (
      SELECT doc_id, lang, n_tokens,
             doc_id % (SELECT k FROM ns) AS shard,
             row_number() OVER (PARTITION BY doc_id % (SELECT k FROM ns)
                                ORDER BY doc_id) AS rn
      FROM mixed
    ),
    walk AS (
      SELECT shard, rn, doc_id, lang, n_tokens,
             0 AS pack_id, n_tokens AS fill
      FROM r WHERE rn = 1
      UNION ALL
      SELECT r.shard, r.rn, r.doc_id, r.lang, r.n_tokens,
        CASE WHEN w.fill + r.n_tokens <= 128 THEN w.pack_id
             ELSE w.pack_id + 1 END,
        CASE WHEN w.fill + r.n_tokens <= 128
             THEN w.fill + r.n_tokens ELSE r.n_tokens END
      FROM walk w JOIN r ON r.shard = w.shard AND r.rn = w.rn + 1
    )
    SELECT doc_id, lang, shard, n_tokens,
           CAST(pack_id AS INT) AS pack_id
    FROM walk
    """

    o["pack_sequences"] = """
    WITH RECURSIVE ns AS (
      -- mirrors text.derive_n_shards: ~1e6 docs per shard, min 8
      SELECT CASE WHEN COUNT(*) <= 8000000 THEN 8
                  ELSE GREATEST(8, CAST(ceil(CAST(COUNT(*) AS DOUBLE)
                                             / 1000000.0) AS BIGINT))
             END AS k
      FROM documents
    ),
    d AS (
      SELECT doc_id, doc_id % (SELECT k FROM ns) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT shard, doc_id, n_tokens,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id)
               AS rn
      FROM d
    ),
    walk AS (
      SELECT shard, rn, doc_id, n_tokens,
             0 AS pack_id, n_tokens AS fill
      FROM r WHERE rn = 1
      UNION ALL
      SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
        CASE WHEN w.fill + r.n_tokens <= 128 THEN w.pack_id
             ELSE w.pack_id + 1 END,
        CASE WHEN w.fill + r.n_tokens <= 128
             THEN w.fill + r.n_tokens ELSE r.n_tokens END
      FROM walk w JOIN r ON r.shard = w.shard AND r.rn = w.rn + 1
    )
    SELECT doc_id, shard, n_tokens, CAST(pack_id AS INT) AS pack_id
    FROM walk
    """

    o["jdbc_reclass"] = """
    WITH lut(lo, hi, cls) AS (VALUES
      (0, 10, 'small'), (10, 30, 'medium'),
      (30, 60, 'large'), (60, 1000, 'huge'))
    SELECT l.cls, COUNT(*) AS n,
           CAST(SUM(p.p_size) AS BIGINT) AS sum_size
    FROM part p JOIN lut l
      ON p.p_size >= l.lo AND p.p_size < l.hi
    WHERE l.hi <= 60
    GROUP BY l.cls
    """

    towers_vals = ", ".join(
        f"({p}, CAST({h} AS DOUBLE))" for p, h in SHADOW_TOWERS
    )
    o["shadow_march_towers"] = f"""
    WITH towers(p, h) AS (VALUES {towers_vals}),
    cols AS (SELECT unnest(generate_series(0, 447)) AS j),
    hcol AS (
      SELECT c.j, COALESCE(max(t.h), CAST(0.0 AS DOUBLE)) AS h
      FROM cols c LEFT JOIN towers t ON t.p = c.j GROUP BY c.j
    ),
    cm AS (
      SELECT a.j, GREATEST(w.h, a.h, e.h) AS c
      FROM hcol a
      JOIN hcol w ON w.j = GREATEST(a.j - 1, 0)
      JOIN hcol e ON e.j = LEAST(a.j + 1, 447)
    ),
    sh AS (
      SELECT a.j,
        CASE WHEN EXISTS (
          SELECT 1
          FROM (SELECT unnest(generate_series(1, 8)) AS it) s
          JOIN cm w ON w.j = GREATEST(a.j - s.it, 0)
          WHERE w.c - CAST(s.it AS DOUBLE) *
                ((1.0 / GREATEST(ABS(sin(radians(270.0))),
                                 ABS(0.0 - cos(radians(270.0)))))
                 * tan(radians(45.0)) * 1.0) > a.c
        ) THEN 0 ELSE 255 END AS lit
      FROM cm a
    )
    SELECT CAST(s.j // 64 AS INT) AS ix, CAST(gi.i AS INT) AS i,
           CAST(s.j % 64 AS INT) AS j, s.lit
    FROM sh s, LATERAL (SELECT unnest(generate_series(0, 63)) AS i) gi
    """

    # fill_voids: quadrant-constant tiles through retile + fill --
    # every pixel must equal its quadrant constant (voids fill from
    # their uniform 4-neighbor edge ring); filled_px is the void
    # count of the shared (i+j)%17 interior pattern
    o["fill_voids"] = """
    WITH px AS (
      SELECT CAST(g.k AS INT) AS k,
             CAST(gi.g AS INT) AS i, CAST(gj.g AS INT) AS j
      FROM (SELECT unnest(generate_series(0, 7)) AS k) g,
           (SELECT unnest(generate_series(0, 255)) AS g) gi,
           (SELECT unnest(generate_series(0, 255)) AS g) gj
    ),
    nv AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM px
      WHERE k = 0 AND (i + j) % 17 = 0
        AND (i % 128) BETWEEN 2 AND 125
        AND (j % 128) BETWEEN 2 AND 125
    )
    SELECT k, i, j,
           CAST((100 + 7*k + 31*(2*(i//128) + (j//128))) % 199
                AS INT) AS v,
           (SELECT n FROM nv) AS filled_px
    FROM px
    """

    o["fill_voids_flat"] = """
    WITH fv AS (SELECT unnest(generate_series(0, 11)) AS k),
    holes AS (
      SELECT COUNT(*) AS n
      FROM (SELECT unnest(generate_series(0, 63)) AS i) a,
           (SELECT unnest(generate_series(0, 63)) AS j) b
      WHERE (a.i + b.j) % 17 = 0
    )
    SELECT CAST(f.k AS INT) AS k, CAST(gi.i AS INT) AS i,
           CAST(gj.j AS INT) AS j,
           CAST((f.k * 37) % 199 AS INT) AS v,
           CAST(holes.n AS BIGINT) AS filled_px
    FROM fv f, holes,
         LATERAL (SELECT unnest(generate_series(0, 63)) AS i) gi,
         LATERAL (SELECT unnest(generate_series(0, 63)) AS j) gj
    """

    # contour_footprint: closed-form ring combinatorics per fixture
    # family (k%4: lone rect / two disjoint rects / plus-union /
    # hole-filled frame); areas are px^2 * CELL_SIZE^2 = 0.25
    o["contour_footprint"] = """
    WITH fk AS (
      SELECT CAST(g.k AS INT) AS k,
             5 + (3*g.k) % 11 AS a, 4 + (5*g.k) % 13 AS b,
             4 + g.k % 5 AS c, 3 + g.k % 6 AS d,
             16 + g.k % 7 AS a2, 3 + g.k % 3 AS w1,
             18 + g.k % 5 AS b2, 4 + g.k % 3 AS h1,
             10 + g.k % 5 AS fa, 12 + g.k % 7 AS fb
      FROM (SELECT unnest(generate_series(0, 11)) AS k) g
    )
    SELECT CAST(720575940379279360
                + CAST(k AS BIGINT) * 268435456 + k AS BIGINT)
             AS cell_id,
           CAST(CASE WHEN k % 4 = 1 THEN 2 ELSE 1 END AS BIGINT)
             AS n_rings,
           CAST(CASE k % 4
                WHEN 0 THEN 2*(a+b) + 1
                WHEN 1 THEN 2*(a+b) + 2*(c+d) + 2
                WHEN 2 THEN 2*(a2+b2) + 1
                ELSE 2*(fa+fb) + 1 END AS BIGINT) AS n_pts,
           floor(CAST(CASE k % 4
                WHEN 0 THEN a*b - 0.5
                WHEN 1 THEN a*b + c*d - 1.0
                WHEN 2 THEN a2*w1 + b2*h1 - w1*h1 - 0.5
                ELSE fa*fb - 0.5 END AS DOUBLE) * 0.25 * 100.0)
             / 100.0 AS area
    FROM fk
    """

    o["contour_rect"] = """
    SELECT CAST(k AS INT) AS k, CAST(0 AS INT) AS ring_id,
           CAST(2 * ((5 + (k*3) % 11) + (4 + (k*5) % 13)) + 1 AS INT)
             AS n_pts,
           CAST(((5 + (k*3) % 11) * (4 + (k*5) % 13) - 0.5) * 0.25
                AS DOUBLE) AS area
    FROM (SELECT unnest(generate_series(0, 11)) AS k)
    """

    o["difference_rings"] = """
    WITH feats AS (
      SELECT n_nationkey AS k,
             6 + n_nationkey % 5 AS a, 5 + n_nationkey % 4 AS b,
             2 + n_nationkey % 3 AS c,
             2 + (n_nationkey // 2) % 2 AS d
      FROM nation
    )
    SELECT k AS feat_id, CAST(0 AS INT) AS ring_id,
           CAST(CASE WHEN k % 2 = 0 THEN 7 ELSE 5 END AS INT)
             AS n_pts,
           FALSE AS is_hole,
           CAST(CASE WHEN k % 2 = 0 THEN (a*b - c*d) * 16.0
                     ELSE a*b * 16.0 END AS DOUBLE) AS area
    FROM feats
    UNION ALL
    SELECT k, CAST(1 AS INT), CAST(5 AS INT), TRUE,
           CAST(2*3 * 16.0 AS DOUBLE)
    FROM feats WHERE k % 2 = 1
    """

    # difference_polygons: exact slab-path remainders per n%5 family
    # (band split / hole / two holes / corner-L + hole / split +
    # hole); ring order mirrors the operator's outers-then-holes,
    # area-descending enumeration.  Closed forms pinned against the
    # slab decomposition in tests/test_overlay_floor.py.
    o["difference_polygons"] = """
    WITH f AS (
      SELECT n_nationkey AS n, n_nationkey % 5 AS m,
             CAST(320 + (n_nationkey%5)*64 AS DOUBLE) AS w,
             CAST(256 + (n_nationkey%3)*64 AS DOUBLE) AS h,
             CAST(48 + (n_nationkey%2)*16 AS DOUBLE) AS cw,
             CAST(64 + (n_nationkey%2)*32 AS DOUBLE) AS cc
      FROM nation
    )
    SELECT n AS feat_id, CAST(0 AS INT) AS ring_id,
           CAST(CASE WHEN m = 3 THEN 7 ELSE 5 END AS INT) AS n_pts,
           FALSE AS is_hole,
           CAST(CASE WHEN m IN (0, 4) THEN (w/2 + 16)*h
                     WHEN m = 3 THEN w*h - cc*96
                     ELSE w*h END AS DOUBLE) AS area
    FROM f
    UNION ALL
    SELECT n, CAST(1 AS INT), CAST(5 AS INT), m IN (1, 2, 3),
           CAST(CASE WHEN m IN (0, 4) THEN (w/2 - 80)*h
                     WHEN m IN (1, 2) THEN cw*40
                     ELSE 768 END AS DOUBLE)
    FROM f
    UNION ALL
    SELECT n, CAST(2 AS INT), CAST(5 AS INT), TRUE,
           CAST(CASE WHEN m = 2 THEN 672 ELSE 1280 END AS DOUBLE)
    FROM f WHERE m IN (2, 4)
    """

    o["difference_convex"] = """
    WITH feats AS (
      SELECT n_nationkey AS k,
             CAST(8 + n_nationkey % 5 AS DOUBLE) AS r
      FROM nation
    )
    SELECT k AS feat_id, CAST(0 AS INT) AS ring_id,
           CAST(CASE k % 3 WHEN 0 THEN 6 WHEN 1 THEN 7 ELSE 5 END
                AS INT) AS n_pts,
           FALSE AS is_hole,
           CAST(CASE k % 3 WHEN 0 THEN 7.0 * r * r / 4.0
                           WHEN 1 THEN 2.0 * r * r - 2.0
                           ELSE 2.0 * r * r END AS DOUBLE) AS area
    FROM feats
    UNION ALL
    SELECT k, CAST(1 AS INT), CAST(5 AS INT), TRUE,
           CAST(16.0 AS DOUBLE)
    FROM feats WHERE k % 3 = 2
    """

    o["multimodal_curation"] = """
    WITH recs AS (
      SELECT doc_id, lang,
        CAST('0x' || substring(md5('img' || CAST(doc_id AS VARCHAR)),
             1, 15) AS BIGINT) AS phash,
        CAST('0x' || substring(md5('aud' || CAST(doc_id AS VARCHAR)),
             1, 15) AS BIGINT) AS afp
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000, lang,
        xor(CAST('0x' || substring(md5('img' ||
              CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
            CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT)),
        xor(CAST('0x' || substring(md5('aud' ||
              CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
            (CAST(1 AS BIGINT) << CAST(doc_id % 58 AS INT))
            | (CAST(1 AS BIGINT) << (CAST(doc_id % 58 AS INT) + 1)))
      FROM documents WHERE doc_id % 10 = 0
    ),
    ib AS (
      SELECT doc_id, phash, gb.b AS band,
             (phash >> (gb.b * 15)) & 32767 AS key
      FROM recs, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) gb
    ),
    ip AS (
      SELECT DISTINCT b.doc_id AS doc_id
      FROM ib a JOIN ib b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.phash, b.phash)) <= 3
    ),
    ab AS (
      SELECT doc_id, afp, gb.b AS band,
             (afp >> (gb.b * 15)) & 32767 AS key
      FROM recs, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) gb
    ),
    ap AS (
      SELECT DISTINCT b.doc_id AS doc_id
      FROM ab a JOIN ab b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.afp, b.afp)) <= 3
    ),
    drops AS (SELECT doc_id FROM ip UNION SELECT doc_id FROM ap)
    SELECT lang, COUNT(*) AS n,
           CAST(SUM(phash % 1000003) AS BIGINT) AS chk
    FROM recs WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    GROUP BY lang
    """

    o["repetition_quality"] = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS lst FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    bc AS (
      SELECT doc_id, lst[i] || ' ' || lst[i + 1] AS g, COUNT(*) AS c
      FROM t, LATERAL (SELECT unnest(
             generate_series(1, len(lst) - 1)) AS i)
      GROUP BY doc_id, g
    ),
    bs AS (
      SELECT doc_id,
             floor(CAST(MAX(c) AS DOUBLE) / SUM(c) * 1000000.0)
               / 1000000.0 AS top_bigram_frac
      FROM bc GROUP BY doc_id
    ),
    tg AS (
      SELECT doc_id,
             lst[i] || ' ' || lst[i + 1] || ' ' || lst[i + 2] AS g
      FROM t, LATERAL (SELECT unnest(
             generate_series(1, len(lst) - 2)) AS i)
    ),
    ts AS (
      SELECT doc_id,
             floor(CAST(COUNT(*) - COUNT(DISTINCT g) AS DOUBLE)
                   / COUNT(*) * 1000000.0) / 1000000.0
               AS dup_trigram_frac
      FROM tg GROUP BY doc_id
    )
    SELECT bs.doc_id, bs.top_bigram_frac, ts.dup_trigram_frac
    FROM bs JOIN ts USING (doc_id)
    """

    o["oov_quality"] = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t
      FROM documents
    ),
    vocab AS (
      SELECT t FROM (
        SELECT t, COUNT(*) AS c FROM toks GROUP BY t
        ORDER BY c DESC, t ASC LIMIT 100
      )
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           floor(CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 1000000.0)
             / 1000000.0 AS oov_frac
    FROM toks LEFT JOIN vocab v USING (t)
    GROUP BY doc_id
    """

    o["pii_redaction"] = """
    WITH planted AS (
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0
             THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com now'
             WHEN doc_id % 5 = 1
             THEN text || ' call 555'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
      len(regexp_extract_all(text,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+')) AS n_emails,
      len(regexp_extract_all(
          regexp_replace(text,
            '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+',
            '<EMAIL>', 'g'),
          '[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+')) AS n_phones,
      md5(regexp_replace(
            regexp_replace(text,
              '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+',
              '<EMAIL>', 'g'),
            '[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+',
            '<PHONE>', 'g')) AS clean_fp
    FROM planted
    """

    o["difference_star"] = """
    WITH feats AS (
      SELECT n_nationkey AS k,
             CAST(4 * (6 + n_nationkey % 4) AS DOUBLE) AS w,
             CAST(4 * (5 + n_nationkey % 3) AS DOUBLE) AS h
      FROM nation
    )
    SELECT k AS feat_id, CAST(0 AS INT) AS ring_id,
           CAST(CASE k % 2 WHEN 0 THEN 10 ELSE 7 END AS INT)
             AS n_pts,
           FALSE AS is_hole,
           CAST(CASE k % 2 WHEN 0 THEN 3.0 * w * h / 4.0 - 9.0
                           ELSE 3.0 * w * h / 4.0 END AS DOUBLE)
             AS area
    FROM feats
    UNION ALL
    SELECT k, CAST(1 AS INT), CAST(5 AS INT), TRUE,
           CAST(18.0 AS DOUBLE)
    FROM feats WHERE k % 2 = 1
    """

    o["kmv_users"] = """
    WITH hashed AS (
      SELECT DISTINCT event_type AS key,
             CAST(CAST('0x' || substring(
                    md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                  AS DOUBLE) / 1152921504606846976.0 AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    ranked AS (
      SELECT key, h,
             row_number() OVER (PARTITION BY key ORDER BY h) AS rn
      FROM hashed
    ),
    kept AS (SELECT key, h FROM ranked WHERE rn <= 64)
    SELECT key, COUNT(*) AS n_kept,
           floor(CASE WHEN COUNT(*) < 64
                      THEN CAST(COUNT(*) AS DOUBLE)
                      ELSE 63 / MAX(h) END * 1000000.0)
             / 1000000.0 AS estimate
    FROM kept GROUP BY key
    """

    # count-min sketch: identical md5 cell placement in both engines,
    # so the depth x width count table and the min-of-rows estimates
    # agree bit-for-bit (same oracle-on-the-sketch idea as kmv_users)
    o["cm_heavy"] = """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS v FROM documents
    ),
    drows AS (SELECT unnest(generate_series(0, 3)) AS d),
    cells AS (
      SELECT d.d,
             CAST(CAST('0x' || substring(md5(d.d || ':' || t.v), 1, 15)
                       AS BIGINT) % 512 AS BIGINT) AS cell,
             COUNT(*) AS cnt
      FROM tok t, drows d
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT v AS item FROM (
        SELECT unnest(string_split(text, ' ')) AS v
        FROM documents WHERE doc_id % 83 = 0
      )
    ),
    probes AS (
      SELECT c.item, d.d,
             CAST(CAST('0x' || substring(md5(d.d || ':' || c.item),
                                         1, 15)
                       AS BIGINT) % 512 AS BIGINT) AS cell
      FROM cand c, drows d
    )
    SELECT p.item, MIN(COALESCE(s.cnt, 0)) AS estimate
    FROM probes p LEFT JOIN cells s ON s.d = p.d AND s.cell = p.cell
    GROUP BY p.item
    """

    o["asof_rates"] = """
    WITH dim AS (
      SELECT event_type, ts, MIN(value) AS rate FROM events
      WHERE event_id % 97 = 0 GROUP BY event_type, ts
    )
    SELECT e.event_id, e.event_type,
           (SELECT d.rate FROM dim d
            WHERE d.event_type = e.event_type AND d.ts <= e.ts
            ORDER BY d.ts DESC LIMIT 1) AS rate
    FROM events e
    """

    # bucketed (carried-state) as-of: identical semantics to the
    # single-window operator, so the same correlated-top-1 shape
    o["asof_bucketed"] = """
    WITH ev AS (
      SELECT event_id,
             CASE WHEN event_type IN ('view', 'click') THEN 1
                  ELSE 0 END AS grp,
             ts, value
      FROM events
    ),
    dim AS (
      SELECT grp, ts, MIN(value) AS rate FROM ev
      WHERE event_id % 89 = 0 GROUP BY grp, ts
    )
    SELECT e.event_id, e.grp,
           (SELECT d.rate FROM dim d
            WHERE d.grp = e.grp AND d.ts <= e.ts
            ORDER BY d.ts DESC LIMIT 1) AS rate
    FROM ev e
    """

    o["difference_multi"] = """
    WITH feats AS (
      SELECT n_nationkey AS k,
             CAST(4 * (7 + n_nationkey % 4) AS DOUBLE) AS w,
             CAST(4 * (6 + n_nationkey % 3) AS DOUBLE) AS h
      FROM nation
    )
    SELECT k AS feat_id, CAST(0 AS INT) AS ring_id,
           CAST(13 AS INT) AS n_pts, FALSE AS is_hole,
           CAST(w * h - 64.0 AS DOUBLE) AS area
    FROM feats
    UNION ALL
    SELECT k, CAST(1 AS INT), CAST(9 AS INT), TRUE,
           CAST(88.0 AS DOUBLE)
    FROM feats
    """

    o["difference_overlap"] = """
    WITH feats AS (
      SELECT n_nationkey AS k,
             CAST(4 * (7 + n_nationkey % 4) AS DOUBLE) AS w,
             CAST(4 * (6 + n_nationkey % 3) AS DOUBLE) AS h
      FROM nation
    )
    SELECT k AS feat_id, CAST(0 AS INT) AS ring_id,
           CAST(5 AS INT) AS n_pts, FALSE AS is_hole,
           CAST(w * h AS DOUBLE) AS area
    FROM feats
    UNION ALL
    SELECT k, CAST(1 AS INT),
           CAST(CASE WHEN k % 2 = 0 THEN 17 ELSE 11 END AS INT),
           TRUE,
           CAST(CASE WHEN k % 2 = 0 THEN 96.0 + 4.0 * (2 + k % 3)
                     ELSE 124.0 END AS DOUBLE)
    FROM feats
    """

    o["union_exact"] = """
    WITH feats AS (
      SELECT n_nationkey AS k,
             CAST(4 * (3 + n_nationkey % 3) AS DOUBLE) AS h
      FROM nation
    )
    SELECT CAST(SUM(CASE WHEN k % 2 = 0 THEN 48.0 * h
                         ELSE 32.0 * h END) AS DOUBLE) AS union_area,
           CAST(0 AS BIGINT) AS inexact_cells
    FROM feats
    """

    o["difference_general"] = """
    WITH feats AS (
      SELECT n_nationkey AS k,
             CAST(4 * (7 + n_nationkey % 4) AS DOUBLE) AS w,
             CAST(4 * (6 + n_nationkey % 3) AS DOUBLE) AS h
      FROM nation
    )
    SELECT k AS feat_id, CAST(0 AS INT) AS ring_id,
           CAST(CASE k % 2 WHEN 0 THEN 13 ELSE 5 END AS INT)
             AS n_pts,
           FALSE AS is_hole,
           CAST(CASE k % 2 WHEN 0 THEN w * h - 64.0
                           ELSE w * h END AS DOUBLE) AS area
    FROM feats
    UNION ALL
    -- interior U: 16x10 bounding block minus the 8x9 notch = 88
    SELECT k, CAST(1 AS INT), CAST(9 AS INT), TRUE,
           CAST(88.0 AS DOUBLE)
    FROM feats WHERE k % 2 = 1
    """

    o["srs_transform"] = """
    WITH feats AS (
      SELECT n_nationkey AS k,
             CAST(n_nationkey * 3 AS DOUBLE) AS x1,
             CAST(n_nationkey * 2 AS DOUBLE) AS y1,
             CAST(n_nationkey * 3 + 4 + n_nationkey % 3 AS DOUBLE)
               AS x2,
             CAST(n_nationkey * 2 + 5 + n_nationkey % 4 AS DOUBLE)
               AS y2,
             CASE WHEN n_nationkey % 2 = 1 THEN 20.0 ELSE 0.0 END
               AS mx,
             CASE WHEN n_nationkey % 2 = 1 THEN 10.0 ELSE 0.0 END
               AS my
      FROM nation
    )
    SELECT k AS feat_id,
           CAST(-4.0 * (y2 + my) + 1980.0 AS DOUBLE) AS minx,
           CAST(-4.0 * y1 + 1980.0 AS DOUBLE) AS maxx,
           CAST(4.0 * x1 + 960.0 AS DOUBLE) AS miny,
           CAST(4.0 * (x2 + mx) + 960.0 AS DOUBLE) AS maxy
    FROM feats
    """

    # curvilinear SRS mirrors: the published closed forms replayed in
    # SQL with the SAME embedded constants the engine uses
    # (operators/srs.py); hyperbolics are exp/ln on both sides.
    from .operators import srs as _srs

    o["srs_webmerc"] = """
    WITH feats AS (
      SELECT CAST(n_nationkey AS BIGINT) AS feat_id,
             -171.0 + n_nationkey * 13.7 AS lon1,
             -80.0 + n_nationkey * 6.1 AS lat1,
             -171.0 + n_nationkey * 13.7 + 0.5
               + (n_nationkey % 3) * 0.25 AS lon2,
             -80.0 + n_nationkey * 6.1 + 0.4
               + (n_nationkey % 4) * 0.2 AS lat2
      FROM nation
    )
    SELECT feat_id,
      floor(6378137.0 * radians(lon1) * 10000.0)/10000.0 AS minx,
      floor(6378137.0 * radians(lon2) * 10000.0)/10000.0 AS maxx,
      floor(6378137.0 * ln(tan(pi()/4.0 + radians(lat1)/2.0))
            * 10000.0)/10000.0 AS miny,
      floor(6378137.0 * ln(tan(pi()/4.0 + radians(lat2)/2.0))
            * 10000.0)/10000.0 AS maxy
    FROM feats
    """

    _E2N = repr(2.0 * __import__("math").sqrt(_srs.WGS84_N)
                / (1.0 + _srs.WGS84_N))
    _K0A = repr(0.9996 * _srs.WGS84_RECT_A)
    _A1, _A2, _A3, _A4, _A5, _A6 = (repr(a) for a in _srs.ALPHA)
    o["srs_utm"] = f"""
    WITH pts AS (
      SELECT CAST(c_custkey AS BIGINT) AS feat_id,
             radians(0.3 + (c_custkey % 540)/100.0 - 3.0) AS lam,
             sin(radians(1.0 + (c_custkey % 5900)/100.0)) AS sphi
      FROM customer
    ), s3 AS (
      SELECT feat_id, lam,
             0.5*(exp(q) - exp(-q)) AS t
      FROM (
        SELECT feat_id, lam,
               0.5*ln((1.0+sphi)/(1.0-sphi))
               - {_E2N}*(0.5*ln((1.0+{_E2N}*sphi)
                                 /(1.0-{_E2N}*sphi))) AS q
        FROM pts
      )
    ), s4 AS (
      SELECT feat_id,
             atan2(t, cos(lam)) AS xip,
             0.5*ln((1.0 + sin(lam)/sqrt(1.0+t*t))
                    /(1.0 - sin(lam)/sqrt(1.0+t*t))) AS etap
      FROM s3
    ), s5 AS (
      SELECT feat_id,
        xip + {_A1}*sin(2*xip)*(0.5*(exp(2*etap)+exp(-(2*etap))))
            + {_A2}*sin(4*xip)*(0.5*(exp(4*etap)+exp(-(4*etap))))
            + {_A3}*sin(6*xip)*(0.5*(exp(6*etap)+exp(-(6*etap))))
            + {_A4}*sin(8*xip)*(0.5*(exp(8*etap)+exp(-(8*etap))))
            + {_A5}*sin(10*xip)*(0.5*(exp(10*etap)+exp(-(10*etap))))
            + {_A6}*sin(12*xip)*(0.5*(exp(12*etap)+exp(-(12*etap))))
          AS xi,
        etap + {_A1}*cos(2*xip)*(0.5*(exp(2*etap)-exp(-(2*etap))))
             + {_A2}*cos(4*xip)*(0.5*(exp(4*etap)-exp(-(4*etap))))
             + {_A3}*cos(6*xip)*(0.5*(exp(6*etap)-exp(-(6*etap))))
             + {_A4}*cos(8*xip)*(0.5*(exp(8*etap)-exp(-(8*etap))))
             + {_A5}*cos(10*xip)*(0.5*(exp(10*etap)-exp(-(10*etap))))
             + {_A6}*cos(12*xip)*(0.5*(exp(12*etap)-exp(-(12*etap))))
          AS eta
      FROM s4
    )
    SELECT feat_id,
      floor((500000.0 + {_K0A}*eta)*1000.0)/1000.0 AS easting,
      floor(({_K0A}*xi)*1000.0)/1000.0 AS northing
    FROM s5
    """

    o["stratified_sample"] = """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             CAST('0x' || substring(
               md5('strat1' || CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 100 AS draw
      FROM documents
    )
    WHERE draw < CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 75
                           WHEN 'fr' THEN 10 ELSE 100 END
    """

    # hand-derived Y-river streamlines (semantics walked by hand from
    # flow_vec.vectorize_streams: sources+merges start, merges+sinks
    # stop, chains include the terminating off-class cell; starts
    # sorted by padded flat index; classes in CLASSES order)
    o["vectorize_streams"] = """
    SELECT CAST(cls AS DOUBLE) AS cls, CAST(seq AS INT) AS seq,
           CAST(n_pts AS INT) AS n_pts,
           CAST(xf AS DOUBLE) AS xf, CAST(yf AS DOUBLE) AS yf,
           CAST(xl AS DOUBLE) AS xl, CAST(yl AS DOUBLE) AS yl
    FROM (VALUES
      (2.0, 0, 2,  389.25, 523996.75, 389.25, 523996.25),
      (3.0, 1, 2,  389.25, 523994.25, 389.25, 523993.75),
      (4.0, 2, 5,  389.25, 523991.75, 389.25, 523989.75),
      (4.7, 3, 11, 389.25, 524011.75, 389.25, 524006.75),
      (4.7, 4, 12, 389.25, 524006.75, 389.25, 524001.25),
      (4.7, 5, 6,  391.75, 524006.75, 389.25, 524006.75)
    ) AS t(cls, seq, n_pts, xf, yf, xl, yl)
    """

    # remote extraction: re-derive the snapped window, the row-major
    # 64-px chunk grid with clipped edge chunks, the retry schedule
    # (every 3rd serial 503s once), and the fake service's exact pixel
    # sums per chunk
    o["remote_extract"] = """
    WITH rfeat AS (
      SELECT n_nationkey AS feat_id,
             ((n_nationkey*7) % 16) * 128.0 + 17.0 AS wx1,
             524288.0 - ((n_nationkey*13) % 16) * 128.0 - 13.0 AS wy2,
             CAST(2 * (49 + (n_nationkey % 4) * 16) AS INT) AS wpx,
             CAST(2 * (33 + (n_nationkey % 3) * 12) AS INT) AS hpx
      FROM nation
    ),
    rgrid AS (
      SELECT feat_id, wx1, wy2, wpx, hpx,
             CAST(ceil(wpx / 64.0) AS INT) AS ncx,
             CAST(ceil(hpx / 64.0) AS INT) AS ncy
      FROM rfeat
    ),
    rchunk AS (
      SELECT feat_id, CAST(gk.k + 1 AS INT) AS serial,
             wx1 + (gk.k % ncx) * 32.0 AS cx1,
             wy2 - (gk.k // ncx) * 32.0 AS cy2,
             CAST(LEAST(wpx - (gk.k % ncx) * 64, 64) AS INT) AS width,
             CAST(LEAST(hpx - (gk.k // ncx) * 64, 64) AS INT) AS height
      FROM rgrid,
           LATERAL (SELECT unnest(generate_series(0,
                ncx * ncy - 1)) AS k) gk
    ),
    rpx AS (
      SELECT c.feat_id, c.serial, c.width, c.height,
             CAST(floor((524288.0 - c.cy2) / 0.5) AS BIGINT) + gi.i
               AS wi,
             CAST(floor(c.cx1 / 0.5) AS BIGINT) + gj.j AS wj
      FROM rchunk c,
           LATERAL (SELECT unnest(generate_series(0, c.height - 1))
                    AS i) gi,
           LATERAL (SELECT unnest(generate_series(0, c.width - 1))
                    AS j) gj
    )
    SELECT feat_id, serial, CAST(200 AS INT) AS status,
           CAST(CASE WHEN serial % 3 = 0 THEN 2 ELSE 1 END AS INT)
             AS attempts,
           width, height,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM((7 * wi + 13 * wj + 3) % 251) AS BIGINT) AS sum_v
    FROM rpx
    GROUP BY feat_id, serial, width, height
    """

    # G4 identity invariant: the depression-free planar strip must
    # come back unchanged -- the oracle is the plane itself (seed per
    # strip position = ((t*555)%199) for t in the ascending order)
    o["fill_depressions_f4"] = """
    WITH fstrip AS (
      SELECT * FROM (VALUES (0, 0), (1, 31), (2, 73), (3, 115),
                            (4, 146), (5, 157), (6, 188))
        AS t(k, seed)
    )
    SELECT CAST(k AS INT) AS ix, CAST(gi.i AS INT) AS i,
           CAST(gj.j AS INT) AS j,
           CAST(CAST(3.0 * seed + 0.5 * gi.i + 0.25 * gj.j AS REAL)
                AS DOUBLE) AS v
    FROM fstrip,
         LATERAL (SELECT unnest(generate_series(0, 63)) AS i) gi,
         LATERAL (SELECT unnest(generate_series(0, 63)) AS j) gj
    """

    o["streaming_dedup"] = """
    WITH dup AS (
      SELECT event_id, event_type, value FROM events
      UNION ALL
      SELECT event_id, event_type, value FROM events
      WHERE event_id % 7 = 0
    ),
    ded AS (SELECT DISTINCT event_id, event_type, value FROM dup)
    SELECT event_type, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_v
    FROM ded GROUP BY event_type
    """

    # tiled Delaunay gridding, planar trick: center-tile pixels are all
    # deep inside the cloud hull, so the decoded f4 rasters carry the
    # exact dyadic plane -- the oracle computes the per-tile aggregates
    # in closed form, no triangulation needed
    o["grid_linear_tiles"] = """
    WITH cells AS (
      SELECT tx, ty FROM (VALUES (1, 1), (1, 2), (2, 1), (2, 2))
        AS t(tx, ty)
    ),
    px AS (
      SELECT (CAST(10 AS BIGINT) << 56)
             | (CAST(tx AS BIGINT) << 28) | CAST(ty AS BIGINT)
               AS cell_id,
             CAST(tx * 128.0 + (gj.j + 0.5) * 0.5 AS DOUBLE) AS cx,
             CAST(524288.0 - ty * 128.0 - (gi.i + 0.5) * 0.5 AS DOUBLE)
               AS cy
      FROM cells,
           LATERAL (SELECT unnest(generate_series(0, 255)) AS i) gi,
           LATERAL (SELECT unnest(generate_series(0, 255)) AS j) gj
    ),
    pv AS (
      SELECT cell_id,
             CAST(7.0 AS DOUBLE) + CAST(0.0625 AS DOUBLE) * cx
               - CAST(0.125 AS DOUBLE) * cy AS v
      FROM px
    )
    SELECT cell_id, COUNT(*) AS n_px,
           SUM(v) AS sum_v, MIN(v) AS min_v, MAX(v) AS max_v
    FROM pv GROUP BY cell_id
    """

    o["fix_nodata"] = f"""
    WITH {synth.linear_f4_pixels_sql(150)}
    SELECT image_id,
      CAST(CASE WHEN (idx % 2) != 0
                 OR SUM(CASE WHEN v = 300.0 THEN 1 ELSE 0 END) > 0
           THEN 1 ELSE 0 END AS INT) AS changed,
      CAST(SUM(CASE WHEN v = 300.0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_fixed,
      SUM(CASE WHEN v = 300.0 THEN 0.0 ELSE v END) AS sum_v
    FROM lf4
    GROUP BY image_id, idx
    """

    # Delaunay-linear gridding: checked via the planar-reproduction
    # property -- inside the hull (the fixture rectangle) ANY valid
    # triangulation returns the exact dyadic plane (6-dp exact, so the
    # ~1e-12 barycentric roundoff cannot move the hash); the pad ring
    # outside takes the nearest point's value with the same (d2, pid)
    # tie-break in both engines.
    o["grid_linear"] = f"""
    WITH {_urects_sql().strip()},
    uplanes AS (
      SELECT feat_id, x1, x2, y1, y2,
             (1 + feat_id % 4) * 0.0625 AS b,
             (1 + feat_id % 3) * 0.0625 AS c
      FROM urects
    ),
    upz AS (
      SELECT u.feat_id, p.pid,
        CASE WHEN p.pid = 0 OR p.pid = 1 THEN u.x1
             WHEN p.pid = 2 OR p.pid = 3 THEN u.x2
             ELSE u.x1 + 3.25 + (p.pid - 4) * 7.25 END AS x,
        CASE WHEN p.pid = 0 OR p.pid = 2 THEN u.y1
             WHEN p.pid = 1 OR p.pid = 3 THEN u.y2
             ELSE u.y1 + 2.75 + (((p.pid - 4) * 3) % 5) * 6.25 END AS y,
        u.b, u.c
      FROM uplanes u,
           LATERAL (SELECT unnest(generate_series(0, 8)) AS pid) p
    ),
    upts AS (
      SELECT feat_id, pid, x, y,
             CAST(feat_id AS DOUBLE) + b * x + c * y AS z
      FROM upz
    ),
    ugrid AS (
      SELECT u.feat_id, gi.i AS gi, gj.j AS gj,
             (u.x1 - 1.0) + (gj.j + 0.5) * 1.0 AS cx,
             (u.y2 + 1.0) - (gi.i + 0.5) * 1.0 AS cy,
             u.x1, u.x2, u.y1, u.y2, u.b, u.c
      FROM uplanes u,
           LATERAL (SELECT unnest(generate_series(0,
                CAST(u.y2 - u.y1 AS BIGINT) + 1)) AS i) gi,
           LATERAL (SELECT unnest(generate_series(0,
                CAST(u.x2 - u.x1 AS BIGINT) + 1)) AS j) gj
    )
    SELECT g.feat_id, CAST(g.gi AS INT) AS gi, CAST(g.gj AS INT) AS gj,
      CASE WHEN g.cx > g.x1 AND g.cx < g.x2
            AND g.cy > g.y1 AND g.cy < g.y2
           THEN CAST(g.feat_id AS DOUBLE) + g.b * g.cx + g.c * g.cy
           ELSE (SELECT p.z FROM upts p WHERE p.feat_id = g.feat_id
                 ORDER BY (p.x - g.cx) * (p.x - g.cx)
                        + (p.y - g.cy) * (p.y - g.cy), p.pid
                 LIMIT 1)
      END AS z
    FROM ugrid g
    """

    o["json_props"] = """
    SELECT event_type,
           COUNT(k) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k, MAX(k) AS max_k
    FROM (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    ) GROUP BY event_type
    """

    o["token_regex"] = """
    SELECT doc_id,
      CASE WHEN length(text) = 0 THEN 0
           ELSE length(text) - length(replace(text, ' ', '')) + 1
      END AS ws_tokens,
      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
        AS bpe_ish_tokens
    FROM documents
    """

    _horner = "CAST(ascii(substr(text, p + 0, 1)) AS BIGINT)"
    for _j in range(1, 8):
        _horner = (
            f"(({_horner}) * 256 "
            f"+ CAST(ascii(substr(text, p + {_j}, 1)) AS BIGINT))"
            " % 1000003"
        )
    # Spark's chain also reduces the FIRST term mod m; harmless (ascii
    # < m) but mirror it exactly
    _horner = f"({_horner}) % 1000003"
    o["rolling_fp"] = f"""
    WITH pos AS (
      SELECT doc_id, text,
             unnest(generate_series(1, length(text) - 7)) AS p
      FROM documents WHERE length(text) - 7 >= 16
    ),
    h AS (
      SELECT doc_id, p, {_horner} AS h,
             length(text) - 7 - 16 + 1 AS maxp
      FROM pos
    ),
    w AS (
      SELECT doc_id, p, maxp,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
      FROM h
    )
    SELECT doc_id, fp, COUNT(*) AS n_windows
    FROM w WHERE p <= maxp GROUP BY doc_id, fp
    """

    _interp_base = f"""
    pts AS (
      SELECT event_id AS cid,
             ((event_id * 48271) % 4096) + 0.5 AS cx,
             {top} - (((event_id * 69621) % 4096) + 0.5) AS cy,
             value AS z
      FROM events WHERE event_id < 2000
    ),
    grid AS (
      SELECT gi.i AS gi, gj.j AS gj,
             (gj.j + 0.5) * 64.0 AS cx,
             {top} - (gi.i + 0.5) * 64.0 AS cy
      FROM (SELECT unnest(generate_series(0, 63)) AS i) gi,
           (SELECT unnest(generate_series(0, 63)) AS j) gj
    ),
    scored AS (
      SELECT g.gi, g.gj, p.cid, p.z,
             sqrt((g.cx - p.cx)*(g.cx - p.cx)
                  + (g.cy - p.cy)*(g.cy - p.cy)) AS dist
      FROM grid g CROSS JOIN pts p
    ),
    ranked AS (
      SELECT gi, gj, cid, z, dist,
             row_number() OVER (PARTITION BY gi, gj
               ORDER BY dist ASC, cid ASC) AS rn
      FROM scored
    )
    """

    o["grid_interpolate"] = f"""
    WITH {_interp_base}
    SELECT gi, gj, z FROM ranked WHERE rn = 1
    """

    o["grid_idw"] = f"""
    WITH {_interp_base},
    terms AS (
      SELECT gi, gj,
             list(1.0/(dist*dist + 1e-12) * z ORDER BY rn) AS wz,
             list(1.0/(dist*dist + 1e-12) ORDER BY rn) AS w
      FROM ranked WHERE rn <= 4 GROUP BY gi, gj
    )
    SELECT gi, gj,
           floor(list_sum(wz) / list_sum(w) * 1000000.0)
             / 1000000.0 AS z
    FROM terms
    """

    o["green_factor"] = f"""
    WITH {synth.linear_rgb_pixels_sql(150)}, {_srects_sql()},
    sel AS (
      SELECT s.feat_id, p.r, p.g, p.b
      FROM lrgb p JOIN srects s
        ON p.px >= s.x1 AND p.px < s.x2
       AND p.py >= s.y1 AND p.py < s.y2
    )
    SELECT feat_id, COUNT(*) AS n_px,
           CAST(SUM(CASE WHEN r + b >= 1.6 * g
                          AND r + b <= 2.4 * g
                          AND g > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS result
    FROM sel GROUP BY feat_id
    """

    o["line_carpet"] = f"""
    WITH {lpix150},
    merged AS (
      SELECT CAST(floor(px * 2.0) AS BIGINT) AS wj,
             CAST(floor(({top} - py) * 2.0) AS BIGINT) AS wi,
             arg_max(v, image_id) AS v
      FROM lpix WHERE v != 255 GROUP BY 1, 2
    ),
    live_tiles AS (
      SELECT DISTINCT wj // 256 AS tx, wi // 256 AS ty FROM merged
    ),
    lns AS (
      SELECT n_nationkey AS line_id,
             (n_nationkey*7) % 16 AS tx,
             (n_nationkey*13) % 16 AS ty,
             ((n_nationkey*7) % 16) * 128.0 + 1.25 AS x1,
             {top} - ((n_nationkey*13) % 16) * 128.0 - 5.25 AS y
      FROM nation
    ),
    samples AS (
      SELECT l.line_id, gk.k AS seq, go.o AS off,
             l.x1 + 2.0 * gk.k AS sx,
             l.y + 0.5 * go.o AS sy,
             l.x1 + 2.0 * gk.k AS cx, l.y AS cy, l.tx, l.ty
      FROM lns l,
           LATERAL (SELECT unnest(generate_series(0, 48)) AS k) gk,
           LATERAL (SELECT unnest(generate_series(-2, 2)) AS o) go
    ),
    vals AS (
      SELECT s.line_id, s.seq, s.cx, s.cy,
             COALESCE(m.v, 255) AS v
      FROM samples s
      JOIN live_tiles t ON t.tx = s.tx AND t.ty = s.ty
      LEFT JOIN merged m
        ON m.wj = CAST(floor(s.sx * 2.0) AS BIGINT)
       AND m.wi = CAST(floor(({top} - s.sy) * 2.0) AS BIGINT)
    )
    SELECT line_id, seq, MIN(cx) AS cx, MIN(cy) AS cy,
           CAST(MAX(v) AS INT) AS value
    FROM vals WHERE v != 255
    GROUP BY line_id, seq
    """

    o["simhash_docs"] = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, gb.b AS bit,
             SUM(CASE WHEN (h >> gb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h, LATERAL (SELECT unnest(generate_series(0, 59)) AS b) gb
      GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """

    o["ivf_ann"] = """
    WITH cents AS (
      SELECT vec_id AS cid_c, embedding AS cv,
        sqrt(list_sum(list_transform(embedding,
          x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cn
      FROM embeddings WHERE vec_id < 32
    ),
    vecs AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(embedding,
          x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS vn
      FROM embeddings
    ),
    csims AS (
      SELECT v.vec_id, c.cid_c,
        list_sum(list_transform(range(1, 65),
          i -> CAST(v.embedding[i] AS DOUBLE)
               * CAST(c.cv[i] AS DOUBLE))) / (v.vn * c.cn) AS sim
      FROM vecs v CROSS JOIN cents c
    ),
    ranked AS (
      SELECT vec_id, cid_c,
        row_number() OVER (PARTITION BY vec_id
          ORDER BY sim DESC, cid_c ASC) AS rn
      FROM csims
    ),
    assign AS (SELECT vec_id, cid_c AS cluster FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id, cid_c AS cluster FROM ranked
               WHERE rn <= 2),
    cand AS (
      SELECT DISTINCT p.vec_id AS qid, a.vec_id AS cid
      FROM probes p JOIN assign a ON p.cluster = a.cluster
      WHERE p.vec_id != a.vec_id
    ),
    scored AS (
      SELECT c.qid, c.cid,
        floor(
          list_sum(list_transform(range(1, 65),
            i -> CAST(q.embedding[i] AS DOUBLE)
                 * CAST(t.embedding[i] AS DOUBLE)))
          / (q.vn * t.vn) * 1000000.0) / 1000000.0 AS sim
      FROM cand c
      JOIN vecs q ON q.vec_id = c.qid
      JOIN vecs t ON t.vec_id = c.cid
    )
    SELECT qid, cid, sim, rn FROM (
      SELECT qid, cid, sim,
             row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, cid ASC) AS rn
      FROM scored
    ) WHERE rn <= 5
    """

    o["zonal_image"] = (
        f"WITH {lpix150}, {_zrects_sql()}, "
        + _zonal_stats_sql("", "v")
    )
    o["zonal_expr"] = (
        f"WITH {lpix150}, {_zrects_sql()}, "
        + _zonal_stats_sql(
            "",
            "CASE WHEN v*2.0 > 400.0 THEN 400.0 ELSE v*2.0 END",
            range_lo=100, range_hi=160,
        )
    )

    o["retile_tiles"] = f"""
    WITH {lpix150},
    tilepix AS (
      SELECT CAST(floor(px / 128.0) AS BIGINT) AS tx,
             CAST(floor(({top} - py) / 128.0) AS BIGINT) AS ty,
             CAST(floor(px * 2.0) AS BIGINT) AS wj,
             CAST(floor(({top} - py) * 2.0) AS BIGINT) AS wi,
             image_id, v
      FROM lpix
    ),
    merged AS (
      SELECT tx, ty, wi, wj FROM tilepix WHERE v != 255
      GROUP BY 1, 2, 3, 4
    ),
    act AS (SELECT tx, ty, COUNT(*) AS active_px FROM merged
            GROUP BY 1, 2),
    srcs AS (SELECT tx, ty, COUNT(DISTINCT image_id) AS n_sources
             FROM tilepix GROUP BY 1, 2)
    SELECT 10 * 72057594037927936 + s.tx * 268435456 + s.ty AS cell_id,
           s.n_sources, a.active_px
    FROM srcs s JOIN act a ON a.tx = s.tx AND a.ty = s.ty
    """

    o["image_features"] = f"""
    WITH {lpix150},
    tot AS (
      SELECT idx, image_id, COUNT(*) AS n,
             CAST(SUM(v) AS DOUBLE) AS s,
             CAST(SUM(v*v) AS DOUBLE) AS ss
      FROM lpix GROUP BY 1, 2
    ),
    gx AS (
      SELECT a.idx, CAST(SUM(ABS(b.v - a.v)) AS DOUBLE) / COUNT(*) AS g
      FROM lpix a JOIN lpix b
        ON b.idx = a.idx AND b.i = a.i AND b.j = a.j + 1
      GROUP BY 1
    ),
    gy AS (
      SELECT a.idx, CAST(SUM(ABS(b.v - a.v)) AS DOUBLE) / COUNT(*) AS g
      FROM lpix a JOIN lpix b
        ON b.idx = a.idx AND b.j = a.j AND b.i = a.i + 1
      GROUP BY 1
    ),
    hist AS (SELECT idx, v, COUNT(*) AS c FROM lpix GROUP BY 1, 2),
    ent AS (
      SELECT h.idx,
             -SUM((CAST(h.c AS DOUBLE) / t.n)
                  * log2(CAST(h.c AS DOUBLE) / t.n)) AS e
      FROM hist h JOIN tot t ON t.idx = h.idx GROUP BY 1
    ),
    cum AS (
      SELECT idx, v, SUM(c) OVER (PARTITION BY idx ORDER BY v) AS cum
      FROM hist
    ),
    qp AS (
      -- CAST the quantile to DOUBLE: DuckDB parses 0.9 as DECIMAL and
      -- would interpolate exactly, while numpy works in binary doubles
      SELECT idx, n,
             CAST(0.1 AS DOUBLE)*(n-1) AS lpos,
             floor(CAST(0.1 AS DOUBLE)*(n-1)) AS llo,
             ceil(CAST(0.1 AS DOUBLE)*(n-1)) AS lhi,
             CAST(0.9 AS DOUBLE)*(n-1) AS hpos,
             floor(CAST(0.9 AS DOUBLE)*(n-1)) AS hlo,
             ceil(CAST(0.9 AS DOUBLE)*(n-1)) AS hhi
      FROM tot
    ),
    pctl AS (
      SELECT q.idx,
        (SELECT MIN(c.v) FROM cum c WHERE c.idx = q.idx
          AND c.cum >= q.llo + 1) AS p10_lo,
        (SELECT MIN(c.v) FROM cum c WHERE c.idx = q.idx
          AND c.cum >= q.lhi + 1) AS p10_hi,
        (SELECT MIN(c.v) FROM cum c WHERE c.idx = q.idx
          AND c.cum >= q.hlo + 1) AS p90_lo,
        (SELECT MIN(c.v) FROM cum c WHERE c.idx = q.idx
          AND c.cum >= q.hhi + 1) AS p90_hi,
        q.lpos - q.llo AS lfrac, q.hpos - q.hlo AS hfrac
      FROM qp q
    )
    SELECT t.image_id,
      floor((t.s / t.n) * 10000.0) / 10000.0 AS mean,
      floor(sqrt(GREATEST(t.ss / t.n - (t.s / t.n)*(t.s / t.n), 0.0))
            * 10000.0) / 10000.0 AS std,
      -- np.percentile's _lerp switches formula at t >= 0.5
      -- (b - (b-a)*(1-t)) for monotonicity; mirror it exactly
      floor((CASE WHEN p.lfrac >= 0.5
             THEN CAST(p.p10_hi AS DOUBLE)
                  - (p.p10_hi - p.p10_lo) * (1 - p.lfrac)
             ELSE CAST(p.p10_lo AS DOUBLE)
                  + (p.p10_hi - p.p10_lo) * p.lfrac END)
            * 10000.0) / 10000.0 AS p10,
      floor((CASE WHEN p.hfrac >= 0.5
             THEN CAST(p.p90_hi AS DOUBLE)
                  - (p.p90_hi - p.p90_lo) * (1 - p.hfrac)
             ELSE CAST(p.p90_lo AS DOUBLE)
                  + (p.p90_hi - p.p90_lo) * p.hfrac END)
            * 10000.0) / 10000.0 AS p90,
      floor((gx.g + gy.g) * 10000.0) / 10000.0 AS edge_energy,
      floor(ent.e * 10000.0) / 10000.0 AS entropy
    FROM tot t
    JOIN gx ON gx.idx = t.idx
    JOIN gy ON gy.idx = t.idx
    JOIN ent ON ent.idx = t.idx
    JOIN pctl p ON p.idx = t.idx
    """

    o["floor_level"] = f"""
    WITH {lpix150}, {_zrects_sql()},
    ring AS (
      SELECT feat_id, v FROM (
        SELECT r.feat_id, p.v,
               GREATEST(r.x1 - p.px, p.px - r.x2, 0.0) AS dx,
               GREATEST(r.y1 - p.py, p.py - r.y2, 0.0) AS dy,
               (p.px >= r.x1 AND p.px < r.x2
                AND p.py >= r.y1 AND p.py < r.y2) AS inside
        FROM lpix p JOIN zrects r
          ON p.px >= r.x1 - 1.0 AND p.px <= r.x2 + 1.0
         AND p.py >= r.y1 - 1.0 AND p.py <= r.y2 + 1.0
      ) WHERE dx*dx + dy*dy <= 1.0 AND NOT inside AND v != 255
    ),
    agg AS (SELECT feat_id, COUNT(*) AS cnt FROM ring GROUP BY 1),
    cum AS (
      SELECT feat_id, v, SUM(COUNT(*)) OVER (
        PARTITION BY feat_id ORDER BY v) AS cum
      FROM ring GROUP BY feat_id, v
    ),
    qp AS (
      SELECT feat_id, cnt,
             CAST(0.75 AS DOUBLE)*(cnt-1) AS pos,
             floor(CAST(0.75 AS DOUBLE)*(cnt-1)) AS lo,
             ceil(CAST(0.75 AS DOUBLE)*(cnt-1)) AS hi
      FROM agg
    ),
    pct AS (
      SELECT q.feat_id,
        (SELECT MIN(c.v) FROM cum c WHERE c.feat_id = q.feat_id
          AND c.cum >= q.lo + 1) AS vlo,
        (SELECT MIN(c.v) FROM cum c WHERE c.feat_id = q.feat_id
          AND c.cum >= q.hi + 1) AS vhi,
        q.pos - q.lo AS frac
      FROM qp q
    )
    SELECT a.feat_id, a.cnt AS ring_px,
           CAST(p.vlo AS DOUBLE) + (p.vhi - p.vlo) * p.frac AS floor_75
    FROM agg a JOIN pct p ON p.feat_id = a.feat_id
    """

    o["mask_difference"] = f"""
    WITH {_zrects_sql()}, {_drects_sql()},
    pix AS (
      SELECT z.feat_id,
             4.0*gj.j + 2.0 AS px,
             {top} - (4.0*gi.i + 2.0) AS py,
             z.x1, z.x2, z.y1, z.y2
      FROM zrects z,
           LATERAL (SELECT unnest(generate_series(
             CAST(floor(z.x1/4.0) AS BIGINT) - 1,
             CAST(ceil(z.x2/4.0) AS BIGINT) + 1)) AS j) gj,
           LATERAL (SELECT unnest(generate_series(
             CAST(floor(({top} - z.y2)/4.0) AS BIGINT) - 1,
             CAST(ceil(({top} - z.y1)/4.0) AS BIGINT) + 1)) AS i) gi
    ),
    inpix AS (
      SELECT feat_id, px, py FROM pix
      WHERE px >= x1 AND px < x2 AND py >= y1 AND py < y2
    )
    SELECT feat_id,
           COUNT(*) AS total_px,
           CAST(SUM(CASE WHEN NOT EXISTS (
             SELECT 1 FROM drects d
             WHERE inpix.px >= d.x1 AND inpix.px < d.x2
               AND inpix.py >= d.y1 AND inpix.py < d.y2
           ) THEN 1 ELSE 0 END) AS BIGINT) AS kept_px,
           CAST(SUM(CASE WHEN NOT EXISTS (
             SELECT 1 FROM drects d
             WHERE inpix.px >= d.x1 AND inpix.px < d.x2
               AND inpix.py >= d.y1 AND inpix.py < d.y2
           ) THEN 1 ELSE 0 END) AS BIGINT) * 16.0 AS kept_area
    FROM inpix GROUP BY feat_id
    """

    o["union_area"] = f"""
    WITH {_drects_sql()},
    grid AS (
      SELECT 4.0*gj.j + 2.0 AS px, {top} - (4.0*gi.i + 2.0) AS py
      FROM (SELECT unnest(generate_series(0, 700)) AS j) gj,
           (SELECT unnest(generate_series(0, 700)) AS i) gi
    )
    SELECT COUNT(*) AS union_px, COUNT(*) * 16.0 AS union_area
    FROM grid g
    WHERE EXISTS (
      SELECT 1 FROM drects d
      WHERE g.px >= d.x1 AND g.px < d.x2
        AND g.py >= d.y1 AND g.py < d.y2
    )
    """

    o["xyz_bin"] = f"""
    WITH lines AS (
      SELECT CAST({_PX} AS VARCHAR) || ' ' || CAST({_PY} AS VARCHAR)
             || ' ' || CAST(value AS VARCHAR) AS line
      FROM events
    ),
    pts AS (
      SELECT CAST(string_split(trim(line), ' ')[1] AS DOUBLE) AS x,
             CAST(string_split(trim(line), ' ')[2] AS DOUBLE) AS y,
             CAST(string_split(trim(line), ' ')[3] AS DOUBLE) AS z
      FROM lines
    ),
    env AS (
      SELECT floor(MIN(x)/4096.0)*4096.0 AS p,
             ceil(MAX(y)/4096.0)*4096.0 AS q
      FROM pts
    )
    SELECT CAST(floor((q - y)/4096.0) AS BIGINT) AS "row",
           CAST(floor((x - p)/4096.0) AS BIGINT) AS col,
           MIN(z) AS z_min, MAX(z) AS z_max, COUNT(*) AS n
    FROM pts, env GROUP BY 1, 2
    """

    o["nodata_audit"] = f"""
    WITH {lpix150},
    tilepix AS (
      SELECT CAST(floor(px / 128.0) AS BIGINT) AS tx,
             CAST(floor(({top} - py) / 128.0) AS BIGINT) AS ty,
             CAST(floor(px * 2.0) AS BIGINT) AS wj,
             CAST(floor(({top} - py) * 2.0) AS BIGINT) AS wi,
             image_id, v
      FROM lpix
    ),
    merged AS (
      SELECT tx, ty, wi, wj FROM tilepix WHERE v != 255
      GROUP BY 1, 2, 3, 4
    ),
    act AS (SELECT tx, ty, COUNT(*) AS active_px FROM merged
            GROUP BY 1, 2)
    SELECT 10 * 72057594037927936 + tx * 268435456 + ty AS cell_id,
           65536 - active_px AS nodata_px
    FROM act WHERE active_px < 65536
    """

    o["area_guard"] = """
    SELECT feat_id, area FROM (
      SELECT n_nationkey AS feat_id,
             ((1 + n_nationkey%5)*160.0 + 31.0)
               * ((1 + n_nationkey%4)*128.0 + 53.0) AS area
      FROM nation
      UNION ALL
      SELECT n_nationkey + 1000 AS feat_id, 2.0*r*r AS area FROM (
        SELECT n_nationkey,
               CASE WHEN n_nationkey = 3 THEN 8196.0
                    ELSE (1 + n_nationkey%4)*192.0 + 12.0 END AS r
        FROM nation
      )
    ) WHERE area >= 100000.0
    """

    o["rgb_zonal"] = f"""
    WITH {synth.linear_rgb_pixels_sql(150)}, {_srects_sql()},
    sel AS (
      SELECT s.feat_id, p.image_id, p.r, p.g, p.b
      FROM lrgb p JOIN srects s
        ON p.px >= s.x1 AND p.px < s.x2
       AND p.py >= s.y1 AND p.py < s.y2
    )
    SELECT feat_id, COUNT(*) AS n_px,
           CAST(SUM(3*g - r - b) AS DOUBLE) / COUNT(*) AS result
    FROM sel GROUP BY feat_id
    """

    o["zonal_f4"] = f"""
    WITH {synth.linear_f4_pixels_sql(150)}, {_zrects_sql()},
    data AS (
      SELECT r.feat_id, p.v
      FROM lf4 p JOIN zrects r
        ON p.px >= r.x1 AND p.px < r.x2
       AND p.py >= r.y1 AND p.py < r.y2
    )
    SELECT feat_id,
           COUNT(*) AS size, COUNT(*) AS cnt,
           SUM(v) / COUNT(*) AS mean,
           sqrt(GREATEST(SUM(v*v) / COUNT(*)
                - (SUM(v)/COUNT(*)) * (SUM(v)/COUNT(*)), 0.0)) AS std,
           MIN(v) AS mn, MAX(v) AS mx
    FROM data GROUP BY feat_id
    """

    o["image_resize"] = f"""
    SELECT printf('img_%012d', idx) AS image_id,
           CAST(floor((64 - 2*(idx % 3)) / 2) AS INT) AS w,
           CAST(floor((64 - 2*(idx % 5)) / 2) AS INT) AS h
    FROM (SELECT unnest(generate_series(0, 99)) AS idx)
    """

    o["cosine_topk"] = """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id < 8),
    c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
    scored AS (
      SELECT qid, cid,
        floor(
          list_sum(list_transform(range(1, len(qv)+1),
            i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(qv,
               x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(cv,
               x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
          * 1000000.0) / 1000000.0 AS sim
      FROM q CROSS JOIN c WHERE qid != cid
    )
    SELECT qid, cid, sim, rn FROM (
      SELECT qid, cid, sim,
             row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, cid ASC) AS rn
      FROM scored
    ) WHERE rn <= 5
    """

    # HLL: rho via integer bit-length (length(bin(x))), never floating
    # log2; every 2^-rho addend is an exact dyadic (rho clamped <= 40,
    # span < 52 mantissa bits) so the register sum is order-free and
    # the ESTIMATE matches Spark bit-for-bit (same oracle-on-the-
    # sketch idea as kmv_users / cm_heavy).
    o["hll_users"] = """
    WITH h AS (
      SELECT event_type AS key,
             CAST('0x' || substring(
               md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    regs AS (
      SELECT key, h % 64 AS reg,
             MAX(LEAST(CASE WHEN (h >> 6) = 0 THEN 55
                            ELSE 54 - length(bin(h >> 6)) + 1 END,
                       40)) AS mj
      FROM h GROUP BY 1, 2
    ),
    pk AS (
      SELECT key, COUNT(*) AS n_regs,
             SUM(1.0 / CAST((CAST(1 AS BIGINT) << mj) AS DOUBLE))
               AS s_hit
      FROM regs GROUP BY key
    )
    SELECT key, n_regs,
      floor(
        CASE WHEN (0.709 * 64.0 * 64.0)
                    / (s_hit + (64.0 - CAST(n_regs AS DOUBLE)))
                  <= 160.0
              AND (64.0 - CAST(n_regs AS DOUBLE)) > 0.0
             THEN 64.0 * ln(64.0 / (64.0 - CAST(n_regs AS DOUBLE)))
             ELSE (0.709 * 64.0 * 64.0)
                    / (s_hit + (64.0 - CAST(n_regs AS DOUBLE)))
        END * 10000.0) / 10000.0 AS estimate
    FROM pk
    """

    # BM25: per-term contributions added in explicit order (t0+t1+t2),
    # constants written as the same arithmetic Spark folds
    # ((1.2 + 1.0), (1.0 - 0.75)) so both engines run identical IEEE
    # op sequences; floor-round 4 dp at the very end only.
    _bm_t = ("spark", "query", "merge")
    _bm_contrib = " + ".join(
        f"""(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)
               / (CAST(df{i} AS DOUBLE) + 0.5))
           * (CAST(tf{i} AS DOUBLE) * (1.2 + 1.0)
              / (CAST(tf{i} AS DOUBLE)
                 + 1.2 * ((1.0 - 0.75)
                          + 0.75 * (CAST(dl AS DOUBLE)
                                    / (CAST(sumdl AS DOUBLE)
                                       / CAST(n AS DOUBLE)))))))"""
        for i in range(len(_bm_t))
    )
    _bm_tf = ",\n".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_bm_t)
    )
    _bm_df = ",\n".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_bm_t))
    )
    o["bm25_rank"] = f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    t AS (
      SELECT doc_id, len(w) AS dl, {_bm_tf}
      FROM d
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sumdl, {_bm_df}
      FROM t
    )
    SELECT doc_id, dl, score FROM (
      SELECT t.doc_id, t.dl,
             floor(({_bm_contrib}) * 10000.0) / 10000.0 AS score
      FROM t CROSS JOIN s
    ) WHERE score > 0.0
    """

    # line-level dedup over the deterministically re-lined corpus
    # (2-word lines; mirrors the Spark fixture construction exactly:
    # sequence 0..floor((len+1)/2)-1, slice(i*2+1, 2), join ' ')
    o["line_dedup"] = """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    lines AS (
      SELECT doc_id,
             CAST(floor((len(w) + 1) / 2.0) AS BIGINT) AS n_total,
             i AS pos,
             array_to_string(w[i*2+1 : i*2+2], ' ') AS line
      FROM w, LATERAL (SELECT unnest(generate_series(
             0, CAST(floor((len(w) + 1) / 2.0) AS BIGINT) - 1)) AS i)
    ),
    hot AS (
      SELECT md5(line) AS hh FROM lines GROUP BY 1
      HAVING COUNT(DISTINCT doc_id) >= 10
    ),
    kept AS (
      SELECT * FROM lines
      WHERE md5(line) NOT IN (SELECT hh FROM hot)
    )
    SELECT doc_id, ANY_VALUE(n_total) AS n_total,
           COUNT(*) AS n_kept,
           string_agg(line, chr(10) ORDER BY pos) AS text_out
    FROM kept GROUP BY doc_id
    """

    o["bloom_semijoin"] = """
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """

    # theta-sketch set ops: both engines build the identical bottom-64
    # md5-fraction sketches, merge them, and apply the same estimate
    # arithmetic -- the sketch ALGEBRA is what's being checked
    _kmv_h = (
        "CAST(CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR)),"
        " 1, 15) AS BIGINT) AS DOUBLE) / 1152921504606846976.0"
    )
    o["kmv_setops"] = f"""
    WITH ha AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
          SELECT DISTINCT {_kmv_h} AS h
          FROM customer
          WHERE c_mktsegment = 'BUILDING' AND c_custkey IS NOT NULL
        )
      ) WHERE rn <= 64
    ),
    hb AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
          SELECT DISTINCT {_kmv_h} AS h
          FROM customer
          WHERE c_acctbal > 5000 AND c_custkey IS NOT NULL
        )
      ) WHERE rn <= 64
    ),
    un AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
          SELECT DISTINCT h FROM (
            SELECT h FROM ha UNION ALL SELECT h FROM hb
          )
        )
      ) WHERE rn <= 64
    ),
    s AS (
      SELECT
        (SELECT COUNT(*) FROM ha) AS n_a,
        (SELECT COUNT(*) FROM hb) AS n_b,
        (SELECT COUNT(*) FROM un) AS n_un,
        (SELECT MAX(h) FROM un) AS theta,
        (SELECT COUNT(*) FROM
          (SELECT h FROM ha INTERSECT SELECT h FROM hb)) AS n_inter,
        (SELECT COUNT(*) FROM
          (SELECT h FROM ha INTERSECT SELECT h FROM hb) t
         WHERE t.h < (SELECT MAX(h) FROM un)) AS n_alive
    ),
    s2 AS (
      SELECT *,
        CASE WHEN n_un < 64 THEN CAST(n_un AS DOUBLE)
             ELSE 63 / theta END AS ue,
        CASE WHEN n_un < 64 THEN CAST(n_inter AS DOUBLE)
             ELSE CAST(n_alive AS DOUBLE) / theta END AS ie
      FROM s
    )
    SELECT n_a AS n_a_kept, n_b AS n_b_kept, n_un AS n_union_kept,
           floor(ue * 10000.0) / 10000.0 AS union_est,
           floor(ie * 10000.0) / 10000.0 AS inter_est,
           floor(CASE WHEN ue > 0.0 THEN ie / ue ELSE 0.0 END
                 * 10000.0) / 10000.0 AS jaccard_est
    FROM s2
    """


    # -- round-5 late batch oracles --

    o["rollup_agg"] = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*)::BIGINT AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
             AS sum_qty,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """

    o["pivot_wide"] = """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F')::BIGINT AS f_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
                FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS f_rev,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O')::BIGINT AS o_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
                FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS o_rev,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P')::BIGINT AS p_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
                FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS p_rev
    FROM orders GROUP BY o_orderpriority
    """

    o["gap_fill"] = """
    WITH obs AS (
      SELECT event_type AS k,
             epoch_us(ts) // 3600000000 AS b,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v
      FROM events WHERE event_id % 13 = 0 GROUP BY 1, 2
    ),
    bounds AS (SELECT k, MIN(b) AS b0, MAX(b) AS b1 FROM obs GROUP BY k),
    grid AS (
      SELECT k, unnest(generate_series(b0, b1)) AS b FROM bounds
    ),
    g AS (
      SELECT grid.k, grid.b, obs.v
      FROM grid LEFT JOIN obs ON obs.k = grid.k AND obs.b = grid.b
    ),
    a AS (
      SELECT k, b, v,
        last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        first_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY b
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY b
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM g
    )
    SELECT k AS event_type, b AS bucket,
           floor(COALESCE(v, pv + (nv - pv) *
             (CAST(b - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)))
             * 10000.0) / 10000.0 AS v4,
           (v IS NULL) AS filled
    FROM a
    """

    o["triangle_count"] = """
    WITH nodes AS (
      SELECT unnest(generate_series(0, 1999)) AS n
    ),
    raw AS (
      SELECT n AS src, (n * 7 + 3) % 2000 AS dst FROM nodes
      UNION ALL
      SELECT n, (n * 13 + 5) % 2000 FROM nodes
    ),
    e AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM raw WHERE src <> dst
    ),
    deg AS (
      SELECT n, COUNT(*) AS d FROM (
        SELECT u AS n FROM e UNION ALL SELECT v FROM e
      ) GROUP BY n
    ),
    o AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS s,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS t
      FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
    ),
    w AS (
      SELECT x.s AS a, x.t AS b, y.t AS c
      FROM o x JOIN o y ON x.t = y.s
    )
    SELECT (SELECT COUNT(*) FROM w JOIN o z
              ON z.s = w.a AND z.t = w.c)::BIGINT AS n_triangles,
           (SELECT COUNT(*) FROM e)::BIGINT AS n_edges,
           (SELECT COUNT(*) FROM w)::BIGINT AS n_wedges
    """

    o["fuzzy_dedup"] = """
    WITH n AS (
      SELECT doc_id, lower(text) AS t,
             substr(lower(text), 1, 16) AS blk
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.t, b.t) AS INTEGER) AS dist
    FROM n a JOIN n b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
     AND abs(length(a.t) - length(b.t)) <= 8
    WHERE levenshtein(a.t, b.t) <= 6
    """

    o["image_moments"] = f"""
    WITH {synth.linear_pixels_sql(40)},
    m AS (
      SELECT image_id,
             CAST(SUM(v) AS BIGINT) AS m00,
             CAST(SUM(v * i) AS BIGINT) AS m10,
             CAST(SUM(v * j) AS BIGINT) AS m01,
             CAST(SUM(v * i * i) AS BIGINT) AS m20,
             CAST(SUM(v * j * j) AS BIGINT) AS m02,
             CAST(SUM(v * i * j) AS BIGINT) AS m11
      FROM lpix GROUP BY image_id
    )
    SELECT image_id, m00, m10, m01, m20, m02, m11,
           m00 * m20 - m10 * m10 AS mu20n,
           m00 * m02 - m01 * m01 AS mu02n,
           m00 * m11 - m10 * m01 AS mu11n
    FROM m
    """

    o["ssd_match"] = f"""
    WITH {synth.linear_pixels_sql(6)},
    tmpl AS (
      SELECT ga.a, gb.b, (3 + 7 * ga.a + 13 * gb.b) % 251 AS tv
      FROM (SELECT unnest(generate_series(0, 3)) AS a) ga,
           (SELECT unnest(generate_series(0, 3)) AS b) gb
    ),
    ssd AS (
      SELECT p.idx, p.image_id, p.i - t.a AS oi, p.j - t.b AS oj,
             SUM((p.v - t.tv) * (p.v - t.tv)) AS s
      FROM lpix p JOIN tmpl t ON p.i >= t.a AND p.j >= t.b
      GROUP BY 1, 2, 3, 4
      HAVING COUNT(*) = 16
    ),
    best AS (
      SELECT idx, image_id, oi, oj, s,
             row_number() OVER (PARTITION BY idx
               ORDER BY s, oi, oj) AS rn,
             COUNT(*) OVER (PARTITION BY idx) AS n_off
      FROM ssd
    )
    SELECT image_id, CAST(oi AS INTEGER) AS best_i,
           CAST(oj AS INTEGER) AS best_j,
           CAST(s AS BIGINT) AS best_ssd,
           CAST(n_off AS BIGINT) AS n_offsets
    FROM best WHERE rn = 1
    """

    o["blob_label"] = f"""
    WITH RECURSIVE {synth.linear_pixels_sql(6)},
    cells AS (
      SELECT idx, image_id, i, j, i * 1024 + j AS cid
      FROM lpix WHERE v = 255
    ),
    edges AS (
      SELECT a.idx, a.cid AS u, b.cid AS v
      FROM cells a JOIN cells b ON a.idx = b.idx
        AND abs(a.i - b.i) <= 1 AND abs(a.j - b.j) <= 1
    ),
    walk(idx, node, reach) AS (
      SELECT idx, u, v FROM edges
      UNION
      SELECT w.idx, w.node, e.v
      FROM walk w JOIN edges e ON e.idx = w.idx AND e.u = w.reach
    ),
    lab AS (
      SELECT idx, node, MIN(reach) AS comp
      FROM walk GROUP BY idx, node
    ),
    blobs AS (
      SELECT idx, comp, COUNT(*)::BIGINT AS sz
      FROM lab GROUP BY idx, comp
    ),
    per AS (
      SELECT idx, COUNT(*)::BIGINT AS n_blobs, MAX(sz) AS max_blob,
             CAST(SUM(sz * sz) AS BIGINT) AS sum_blob_sq
      FROM blobs GROUP BY idx
    ),
    msk AS (
      SELECT idx, image_id, COUNT(*)::BIGINT AS n_mask
      FROM cells GROUP BY idx, image_id
    )
    SELECT m.image_id, m.n_mask, p.n_blobs, p.max_blob, p.sum_blob_sq
    FROM msk m JOIN per p USING (idx)
    """


    o["cohort_retention"] = """
    WITH ev AS (
      SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events
    ),
    first AS (SELECT user_id, MIN(wk) AS cohort FROM ev GROUP BY 1)
    SELECT f.cohort, e.wk - f.cohort AS "offset",
           COUNT(DISTINCT e.user_id)::BIGINT AS n_users
    FROM ev e JOIN first f USING (user_id)
    GROUP BY 1, 2
    """

    o["skyline"] = """
    WITH pts AS (
      SELECT DISTINCT l_extendedprice AS price, l_quantity AS qty
      FROM lineitem
    )
    SELECT a.price, a.qty FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE b.price >= a.price AND b.qty >= a.qty
        AND (b.price > a.price OR b.qty > a.qty)
    )
    """

    o["event_transitions"] = """
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           COUNT(*)::BIGINT AS n
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """

    o["unpivot_long"] = """
    WITH m AS (
      SELECT l_returnflag, 'qty' AS measure, l_quantity AS value
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'price', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'disc', l_discount FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'tax', l_tax FROM lineitem
    )
    SELECT l_returnflag, measure, COUNT(*)::BIGINT AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total
    FROM m GROUP BY 1, 2
    """


    o["image_near_dup_phash"] = """
    WITH imgs AS (SELECT unnest(generate_series(0, 39)) AS k),
    pix AS (
      SELECT imgs.k, tt.t, gi.i, gj.j,
             LEAST(CASE WHEN (gi.i + gj.j) % 17 = 0 THEN 255
                   ELSE ((imgs.k*37) % 199 + 7*gi.i + 13*gj.j) % 251
                   END + tt.t, 255) AS v
      FROM imgs,
           (SELECT unnest(generate_series(0, 1)) AS t) tt,
           (SELECT unnest(generate_series(0, 63)) AS i) gi,
           (SELECT unnest(generate_series(0, 63)) AS j) gj
    ),
    small AS (
      SELECT k, t, i // 2 AS r, j // 2 AS c, SUM(v) / 4.0 AS s
      FROM pix GROUP BY 1, 2, 3, 4
    ),
    basis AS (
      SELECT u.u, x.x,
             cos(pi() * (2*x.x + 1) * u.u / 64.0) *
             CASE WHEN u.u = 0 THEN sqrt(1.0/32.0)
                  ELSE sqrt(2.0/32.0) END AS m
      FROM (SELECT unnest(generate_series(0, 7)) AS u) u,
           (SELECT unnest(generate_series(0, 31)) AS x) x
    ),
    freq AS (
      SELECT s.k, s.t, bu.u AS fu, bv.u AS fv,
             SUM(bu.m * s.s * bv.m) AS f
      FROM small s
      JOIN basis bu ON bu.x = s.r
      JOIN basis bv ON bv.x = s.c
      GROUP BY 1, 2, 3, 4
    ),
    med AS (
      SELECT k, t, median(f) AS med
      FROM freq WHERE NOT (fu = 0 AND fv = 0) GROUP BY 1, 2
    ),
    hb AS (
      SELECT f.k, f.t,
             CAST(SUM(CASE WHEN f.f > m.med + 1e-9
                           AND f.fu*8 + f.fv < 63
                      THEN 1::BIGINT << (f.fu*8 + f.fv)
                      ELSE 0 END) AS BIGINT) AS lo,
             MAX(CASE WHEN f.f > m.med + 1e-9 AND f.fu*8 + f.fv = 63
                 THEN 1 ELSE 0 END) AS hi
      FROM freq f JOIN med m ON m.k = f.k AND m.t = f.t
      GROUP BY 1, 2
    ),
    sig AS (
      SELECT printf('img_%04d%s', k,
                    CASE WHEN t = 0 THEN 'a' ELSE 'b' END) AS image_id,
             CASE WHEN hi = 1 THEN lo - 9223372036854775807 - 1
                  ELSE lo END AS phash
      FROM hb
    ),
    bnd AS (
      SELECT image_id, phash, gb.b AS band,
             (phash >> (gb.b * 8)) & 255 AS key
      FROM sig, LATERAL (SELECT unnest(generate_series(0, 7)) AS b) gb
    )
    SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM bnd a JOIN bnd b
      ON a.band = b.band AND a.key = b.key AND a.image_id < b.image_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 6
    """


    # full spectral-fingerprint mirror: the 1024-point frame DFT is
    # decomposed n = 32a + b, so stage 1 sums 32 partial spectra per
    # frame and stage 2 applies the twiddle -- ~35M terms instead of
    # the 377M of a naive DFT cross join.  argmax margins between the
    # top two bins are >= 2x (tones sit exactly on bins), so float
    # summation-order differences cannot flip the peak.
    o["audio_near_dup"] = """
    WITH clips AS (
      SELECT k.k, tt.t AS tw FROM
        (SELECT unnest(generate_series(0, 23)) AS k) k,
        (SELECT unnest(generate_series(0, 1)) AS t) tt
    ),
    samp AS (
      SELECT c.k, c.tw, m.m // 1024 AS fr,
             (m.m % 1024) // 32 AS a, (m.m % 1024) % 32 AS b,
             trunc(LEAST(GREATEST(
                 sin(2*pi() * ((2*c.k + 5.5) * 125.0) * (m.m / 16000.0))
                 + c.tw * 0.004 *
                   sin(2*pi() * 7901.0 * (m.m / 16000.0) + c.k),
               -1.0), 1.0) * 32000.0)
             * (0.5 - 0.5*cos(2*pi() * (m.m % 1024) / 1023.0)) AS xw
      FROM clips c,
           (SELECT unnest(generate_series(0, 15359)) AS m) m
    ),
    s1 AS (
      SELECT k, tw, fr, km.km, b,
             SUM(xw * cos(2*pi() * km.km * a / 32.0)) AS sre,
             -SUM(xw * sin(2*pi() * km.km * a / 32.0)) AS sim
      FROM samp, (SELECT unnest(generate_series(0, 31)) AS km) km
      GROUP BY 1, 2, 3, 4, 5
    ),
    s2 AS (
      SELECT s1.k, s1.tw, s1.fr, kk.kk,
             SUM(sre * cos(2*pi() * kk.kk * b / 1024.0)
                 + sim * sin(2*pi() * kk.kk * b / 1024.0)) AS re,
             SUM(sim * cos(2*pi() * kk.kk * b / 1024.0)
                 - sre * sin(2*pi() * kk.kk * b / 1024.0)) AS im
      FROM s1, (SELECT unnest(generate_series(1, 512)) AS kk) kk
      WHERE kk.kk % 32 = s1.km
      GROUP BY 1, 2, 3, 4
    ),
    peak AS (
      SELECT k, tw, fr, kk,
             row_number() OVER (PARTITION BY k, tw, fr
               ORDER BY re*re + im*im DESC, kk ASC) AS rn
      FROM s2
    ),
    bands AS (
      SELECT DISTINCT k, tw,
             LEAST(CAST(floor((kk * (16000.0/1024.0)) / 8000.0 * 64)
                        AS BIGINT), 63) AS band
      FROM peak WHERE rn = 1
    ),
    hb AS (
      SELECT k, tw,
             CAST(SUM(CASE WHEN band < 63 THEN 1::BIGINT << band
                      ELSE 0 END) AS BIGINT) AS lo,
             MAX(CASE WHEN band = 63 THEN 1 ELSE 0 END) AS hi
      FROM bands GROUP BY 1, 2
    ),
    sig AS (
      SELECT printf('clip_%04d%s', k,
                    CASE WHEN tw = 0 THEN 'a' ELSE 'b' END) AS clip_id,
             CASE WHEN hi = 1 THEN lo - 9223372036854775807 - 1
                  ELSE lo END AS fp
      FROM hb
    ),
    bnd AS (
      SELECT clip_id, fp, gb.g AS band, (fp >> (gb.g*8)) & 255 AS key
      FROM sig, LATERAL (SELECT unnest(generate_series(0, 7)) AS g) gb
    )
    SELECT DISTINCT x.clip_id AS id_a, y.clip_id AS id_b,
           CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS hamming
    FROM bnd x JOIN bnd y
      ON x.band = y.band AND x.key = y.key AND x.clip_id < y.clip_id
    WHERE bit_count(xor(x.fp, y.fp)) <= 1
    """

    o["grouped_quantile"] = """
    WITH g AS (
      SELECT l_returnflag,
             quantile_cont(CAST(l_quantity AS DOUBLE),
                           [0.25, 0.5, 0.75]) AS qs,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           floor(qs[1] * 10000.0) / 10000.0 AS q25,
           floor(qs[2] * 10000.0) / 10000.0 AS q50,
           floor(qs[3] * 10000.0) / 10000.0 AS q75
    FROM g
    """

    o["box_blur"] = f"""
    WITH {synth.linear_pixels_sql(12)},
    blur AS (
      SELECT a.idx, a.image_id, a.i, a.j,
             SUM(b.v) // COUNT(*) AS bv
      FROM lpix a JOIN lpix b ON b.idx = a.idx
        AND b.i BETWEEN a.i - 2 AND a.i + 2
        AND b.j BETWEEN a.j - 2 AND a.j + 2
      GROUP BY a.idx, a.image_id, a.i, a.j
    )
    SELECT image_id, COUNT(*) AS n_px,
           CAST(SUM(bv) AS BIGINT) AS blur_sum,
           CAST(MIN(bv) AS INTEGER) AS blur_min,
           CAST(MAX(bv) AS INTEGER) AS blur_max
    FROM blur GROUP BY image_id
    """

    o["hist_equalize"] = f"""
    WITH {synth.linear_pixels_sql(40)},
    hist AS (
      SELECT idx, image_id, v, COUNT(*)::BIGINT AS c
      FROM lpix GROUP BY idx, image_id, v
    ),
    cdf AS (
      SELECT idx, image_id, v, c,
             SUM(c) OVER (PARTITION BY idx ORDER BY v) AS cum
      FROM hist
    ),
    params AS (
      SELECT idx, MIN(cum) AS cdf_min, MAX(cum) AS n
      FROM cdf GROUP BY idx
    ),
    lut AS (
      SELECT c.idx, c.image_id, c.c,
             CASE WHEN p.n = p.cdf_min THEN 0
                  ELSE LEAST(GREATEST(
                    (c.cum - p.cdf_min) * 255 // (p.n - p.cdf_min),
                    0), 255) END AS ev
      FROM cdf c JOIN params p USING (idx)
    )
    SELECT image_id,
           CAST(SUM(ev * c) AS BIGINT) AS eq_sum,
           CAST(MIN(ev) AS INTEGER) AS eq_min,
           CAST(MAX(ev) AS INTEGER) AS eq_max,
           CAST(COUNT(DISTINCT ev) AS INTEGER) AS n_levels
    FROM lut GROUP BY image_id
    """

    o["otsu_threshold"] = f"""
    WITH {synth.linear_pixels_sql(40)},
    hist AS (
      SELECT idx, image_id, v, COUNT(*)::BIGINT AS c,
             (COUNT(*) * v)::BIGINT AS s
      FROM lpix GROUP BY idx, image_id, v
    ),
    cum AS (
      SELECT idx, image_id, v,
             SUM(c) OVER w AS c0, SUM(s) OVER w AS s0,
             SUM(c) OVER (PARTITION BY idx) AS n,
             SUM(s) OVER (PARTITION BY idx) AS st
      FROM hist WINDOW w AS (PARTITION BY idx ORDER BY v)
    ),
    scored AS (
      SELECT idx, image_id, v AS t,
             CAST((s0*(n-c0) - (st-s0)*c0) * (s0*(n-c0) - (st-s0)*c0)
                  AS DOUBLE)
             / CAST(c0 * (n - c0) AS DOUBLE) AS score
      FROM cum WHERE v <= 254 AND c0 > 0 AND c0 < n
    ),
    best AS (
      SELECT idx, image_id, t FROM scored
      QUALIFY row_number()
        OVER (PARTITION BY idx ORDER BY score DESC, t ASC) = 1
    )
    SELECT b.image_id, CAST(b.t AS INTEGER) AS otsu_t,
           COUNT(p.v) AS n_fg,
           CAST(COALESCE(SUM(p.v), 0) AS BIGINT) AS fg_sum
    FROM best b LEFT JOIN lpix p ON p.idx = b.idx AND p.v > b.t
    GROUP BY b.image_id, b.t
    """

    o["rle_stats"] = f"""
    WITH {synth.linear_pixels_sql(40)},
    brk AS (
      SELECT idx, image_id, i, j,
             CASE WHEN lag(v) OVER (PARTITION BY idx, i ORDER BY j)
                       IS DISTINCT FROM v
                  THEN 1 ELSE 0 END AS b
      FROM lpix
    ),
    runs AS (
      SELECT idx, image_id, i,
             SUM(b) OVER (PARTITION BY idx, i ORDER BY j) AS rid
      FROM brk
    ),
    agg AS (
      SELECT idx, image_id, i, rid, COUNT(*)::BIGINT AS len
      FROM runs GROUP BY idx, image_id, i, rid
    )
    SELECT image_id, COUNT(*) AS n_runs,
           CAST(MAX(len) AS INTEGER) AS max_run,
           CAST(3 * COUNT(*) AS BIGINT) AS rle_bytes
    FROM agg GROUP BY image_id
    """

    o["sobel_edges"] = f"""
    WITH {synth.linear_pixels_sql(12)},
    nb AS (
      SELECT a.idx, a.image_id, a.i, a.j,
             SUM(b.v
                 * (CASE b.j - a.j WHEN 1 THEN 1 WHEN -1 THEN -1
                    ELSE 0 END)
                 * (CASE WHEN b.i = a.i THEN 2 ELSE 1 END)) AS gx,
             SUM(b.v
                 * (CASE b.i - a.i WHEN 1 THEN 1 WHEN -1 THEN -1
                    ELSE 0 END)
                 * (CASE WHEN b.j = a.j THEN 2 ELSE 1 END)) AS gy
      FROM lpix a
      JOIN limg m ON m.idx = a.idx
      JOIN lpix b ON b.idx = a.idx
        AND b.i BETWEEN a.i - 1 AND a.i + 1
        AND b.j BETWEEN a.j - 1 AND a.j + 1
      WHERE a.i BETWEEN 1 AND m.h - 2
        AND a.j BETWEEN 1 AND m.w - 2
      GROUP BY a.idx, a.image_id, a.i, a.j
    )
    SELECT image_id,
           CAST(SUM(abs(gx) + abs(gy)) AS BIGINT) AS edge_sum,
           CAST(MAX(abs(gx) + abs(gy)) AS INTEGER) AS edge_max,
           COUNT(*) FILTER (abs(gx) + abs(gy) > 200) AS n_edge_px
    FROM nb GROUP BY image_id
    """

    _qt_lvls = ",\n".join(
        f"""lvl{_l} AS (
      SELECT idx, i // {64 >> _l} AS bi, j // {64 >> _l} AS bj,
             CASE WHEN MIN(v) = MAX(v) THEN 1 ELSE 0 END AS u
      FROM bpix GROUP BY idx, i // {64 >> _l}, j // {64 >> _l}
    )"""
        for _l in range(7)
    )
    _qt_anc = (
        "a0 AS (SELECT idx, bi, bj, u, 0 AS pab, u AS ab FROM lvl0)"
        + "".join(
            f""",
    a{_l} AS (
      SELECT c.idx, c.bi, c.bj, c.u, p.ab AS pab,
             GREATEST(c.u, p.ab) AS ab
      FROM lvl{_l} c JOIN a{_l - 1} p
        ON p.idx = c.idx AND p.bi = c.bi // 2 AND p.bj = c.bj // 2
    )"""
            for _l in range(1, 7)
        )
    )
    _qt_leaves = " UNION ALL ".join(
        f"SELECT idx, {_l} AS lvl, COUNT(*) AS c FROM a{_l} "
        f"WHERE u = 1 AND pab = 0 GROUP BY idx"
        for _l in range(7)
    )
    o["quadtree_compress"] = f"""
    WITH {synth.linear_pixels_sql(12)},
    bpix AS (
      SELECT idx, i, j, CASE WHEN v >= 128 THEN 1 ELSE 0 END AS v
      FROM lpix
    ),
    {_qt_lvls},
    {_qt_anc},
    lv AS ({_qt_leaves}),
    tot AS (
      SELECT idx, SUM(c) AS n_leaves,
             COALESCE(SUM(c) FILTER (lvl = 6), 0) AS n_singles
      FROM lv GROUP BY idx
    )
    SELECT m.image_id,
           CAST(t.n_leaves AS BIGINT) AS n_leaves,
           CAST(t.n_singles AS BIGINT) AS n_singles,
           CAST(1000 * m.w * m.h // t.n_leaves AS BIGINT) AS comp_x1000
    FROM tot t JOIN limg m ON m.idx = t.idx
    """

    o["morph_gradient"] = f"""
    WITH {synth.linear_pixels_sql(20)},
    g AS (
      SELECT a.idx, a.image_id, a.i, a.j,
             MAX(b.v) - MIN(b.v) AS g
      FROM lpix a JOIN lpix b ON b.idx = a.idx
        AND b.i BETWEEN a.i - 1 AND a.i + 1
        AND b.j BETWEEN a.j - 1 AND a.j + 1
      GROUP BY a.idx, a.image_id, a.i, a.j
    )
    SELECT image_id,
           CAST(SUM(g) AS BIGINT) AS grad_sum,
           CAST(MAX(g) AS INTEGER) AS grad_max,
           COUNT(*) FILTER (g = 0) AS n_flat
    FROM g GROUP BY image_id
    """

    o["hist_match"] = f"""
    WITH {synth.linear_pixels_sql(12)},
    hist AS (
      SELECT idx, image_id, v, COUNT(*)::BIGINT AS c
      FROM lpix GROUP BY idx, image_id, v
    ),
    cdf AS (
      SELECT idx, image_id, v, c,
             SUM(c) OVER (PARTITION BY idx ORDER BY v) AS cum
      FROM hist
    ),
    n AS (SELECT idx, COUNT(*)::BIGINT AS n FROM lpix GROUP BY idx),
    m AS (
      SELECT a.idx, a.image_id, a.v, a.c, MIN(b.v) AS mv
      FROM cdf a
      JOIN n na ON na.idx = a.idx
      JOIN n nb ON nb.idx = (a.idx + 1) % 12
      JOIN cdf b ON b.idx = (a.idx + 1) % 12
        AND b.cum * na.n >= a.cum * nb.n
      GROUP BY a.idx, a.image_id, a.v, a.c
    )
    SELECT image_id,
           CAST(SUM(mv * c) AS BIGINT) AS m_sum,
           CAST(MIN(mv) AS INTEGER) AS m_min,
           CAST(MAX(mv) AS INTEGER) AS m_max
    FROM m GROUP BY image_id
    """

    o["span_dedup"] = """
    WITH g AS (
      SELECT d.doc_id, md5(substring(d.text, s.pos, 32)) AS h
      FROM documents d,
           LATERAL (SELECT unnest(generate_series(
             1, LENGTH(d.text) - 31)) AS pos) s
      WHERE LENGTH(d.text) >= 32
    ),
    anch AS (
      SELECT DISTINCT doc_id, h FROM g
      WHERE CAST('0x' || substring(h, 1, 8) AS BIGINT) % 4 = 0
    ),
    cold AS (SELECT h FROM anch GROUP BY h HAVING COUNT(*) <= 50),
    d AS (SELECT a.doc_id, a.h FROM anch a JOIN cold USING (h))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_spans
    FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """

    o["aspect_class"] = """
    WITH htiles AS (
      SELECT g.t, CAST(g.t % 4 AS INT) AS ix,
             CAST(g.t // 4 AS INT) AS iy,
             ((g.t * 15) * 37) % 199 AS seed
      FROM (SELECT unnest(generate_series(0, 6)) AS t) g
    ),
    nbrs AS (
      SELECT c.ix, c.iy, c.seed,
             n.seed AS seed_n, s.seed AS seed_s,
             w.seed AS seed_w, e.seed AS seed_e
      FROM htiles c
      LEFT JOIN htiles n ON n.ix = c.ix AND n.iy = c.iy - 1
      LEFT JOIN htiles s ON s.ix = c.ix AND s.iy = c.iy + 1
      LEFT JOIN htiles w ON w.ix = c.ix - 1 AND w.iy = c.iy
      LEFT JOIN htiles e ON e.ix = c.ix + 1 AND e.iy = c.iy
    ),
    hpx AS (
      SELECT ix, iy, seed, seed_n, seed_s, seed_w, seed_e,
             CAST(gi.i AS INT) AS i, CAST(gj.j AS INT) AS j
      FROM nbrs,
           LATERAL (SELECT unnest(generate_series(0, 63)) AS i) gi,
           LATERAL (SELECT unnest(generate_series(0, 63)) AS j) gj
    ),
    grad AS (
      SELECT ix, iy, i, j,
        CAST(CASE
          WHEN i = 0 AND seed_n IS NOT NULL THEN
            ((3.0*seed + 0.5 + 0.25*j)
             - (3.0*seed_n + 31.5 + 0.25*j)) / 2.0
          WHEN i = 0 THEN 0.25
          WHEN i = 63 AND seed_s IS NOT NULL THEN
            ((3.0*seed_s + 0.25*j)
             - (3.0*seed + 31.0 + 0.25*j)) / 2.0
          WHEN i = 63 THEN 0.25
          ELSE 0.5 END AS DOUBLE) AS gy_raw,
        CAST(CASE
          WHEN j = 0 AND seed_w IS NOT NULL THEN
            ((3.0*seed + 0.25 + 0.5*i)
             - (3.0*seed_w + 15.75 + 0.5*i)) / 2.0
          WHEN j = 0 THEN 0.125
          WHEN j = 63 AND seed_e IS NOT NULL THEN
            ((3.0*seed_e + 0.5*i)
             - (3.0*seed + 15.5 + 0.5*i)) / 2.0
          WHEN j = 63 THEN 0.125
          ELSE 0.25 END AS DOUBLE) AS gx_raw
      FROM hpx
    ),
    sel AS (
      SELECT ix, iy,
        CASE WHEN gx_raw * -4.0 = 0 AND gy_raw * 4.0 = 0 THEN 8
             ELSE (CASE WHEN gx_raw * -4.0 > 0 THEN 4 ELSE 0 END
                 + CASE WHEN gy_raw * 4.0 > 0 THEN 2 ELSE 0 END
                 + CASE WHEN abs(gx_raw * -4.0) > abs(gy_raw * 4.0)
                        THEN 1 ELSE 0 END)
        END AS cls
      FROM grad
    )
    SELECT ix, iy, CAST(cls AS INTEGER) AS cls, COUNT(*) AS n
    FROM sel GROUP BY ix, iy, cls
    """

    o["pagerank"] = f"""
    WITH nodes AS (
      SELECT unnest(generate_series(0, 1999)) AS node
    ),
    e AS (
      SELECT node AS src, (node*7 + 3) % 2000 AS dst FROM nodes
      UNION ALL
      SELECT node AS src, (node*13 + 5) % 2000 AS dst FROM nodes
    ),
    r0 AS (SELECT node, 1::BIGINT AS num FROM nodes),
    r1 AS (
      SELECT n.node,
             (12 + 34*COALESCE(SUM(r.num), 0))::BIGINT AS num
      FROM nodes n
      LEFT JOIN e ON e.dst = n.node
      LEFT JOIN r0 r ON r.node = e.src
      GROUP BY n.node
    ),
    r2 AS (
      SELECT n.node,
             (960 + 34*COALESCE(SUM(r.num), 0))::BIGINT AS num
      FROM nodes n
      LEFT JOIN e ON e.dst = n.node
      LEFT JOIN r1 r ON r.node = e.src
      GROUP BY n.node
    ),
    r3 AS (
      SELECT n.node,
             (76800 + 34*COALESCE(SUM(r.num), 0))::BIGINT AS num
      FROM nodes n
      LEFT JOIN e ON e.dst = n.node
      LEFT JOIN r2 r ON r.node = e.src
      GROUP BY n.node
    )
    SELECT node, num AS pr_num,
           CAST(num AS DOUBLE) / {2000.0 * 512000.0!r} AS pr
    FROM r3
    """

    o["text_clean"] = r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(lower(text), '\s', ' ', 'g'),
               '[^\x20-\x7e]+', '', 'g'),
             ' +', ' ', 'g')) AS clean_text,
           LENGTH(trim(regexp_replace(
             regexp_replace(
               regexp_replace(lower(text), '\s', ' ', 'g'),
               '[^\x20-\x7e]+', '', 'g'),
             ' +', ' ', 'g'))) AS n_chars_clean,
           md5(trim(regexp_replace(
             regexp_replace(
               regexp_replace(lower(text), '\s', ' ', 'g'),
               '[^\x20-\x7e]+', '', 'g'),
             ' +', ' ', 'g'))) AS clean_fp
    FROM documents
    """

    o["streaming_image_stats"] = o["box_blur"]

    o["interval_union"] = """
    WITH iv AS (
      SELECT event_type,
             CAST(epoch_us(ts) AS BIGINT) AS s,
             CAST(epoch_us(ts) AS BIGINT)
               + (event_id % 7 + 1) * 120000000 AS e
      FROM events
    ),
    marked AS (
      SELECT event_type, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                  PARTITION BY event_type ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -4611686018427387904) THEN 1 ELSE 0 END AS brk
      FROM iv
    ),
    isl AS (
      SELECT event_type, s, e,
             SUM(brk) OVER (PARTITION BY event_type ORDER BY s, e
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    ),
    agg AS (
      SELECT event_type, island,
             MIN(s) AS is_, MAX(e) AS ie, COUNT(*)::BIGINT AS n
      FROM isl GROUP BY event_type, island
    )
    SELECT event_type, COUNT(*) AS n_islands,
           CAST(SUM(ie - is_) AS BIGINT) AS covered,
           CAST(MAX(ie - is_) AS BIGINT) AS longest,
           CAST(MAX(n) AS BIGINT) AS max_merged
    FROM agg GROUP BY event_type
    """

    o["contrast_stretch"] = f"""
    WITH {synth.linear_pixels_sql(40)},
    cdf AS (
      SELECT idx, image_id, v, COUNT(*)::BIGINT AS c,
             SUM(COUNT(*)) OVER (PARTITION BY idx ORDER BY v) AS cum
      FROM lpix GROUP BY idx, image_id, v
    ),
    n AS (SELECT idx, COUNT(*)::BIGINT AS n FROM lpix GROUP BY idx),
    plo AS (
      SELECT c.idx, MIN(c.v) AS p
      FROM cdf c JOIN n ON n.idx = c.idx
      WHERE c.cum * 100 >= 2 * n.n GROUP BY c.idx
    ),
    phi AS (
      SELECT c.idx, MIN(c.v) AS p
      FROM cdf c JOIN n ON n.idx = c.idx
      WHERE c.cum * 100 >= 98 * n.n GROUP BY c.idx
    ),
    st AS (
      SELECT c.idx, c.image_id, c.c,
             (LEAST(GREATEST(c.v, lo.p), hi.p) - lo.p) * 255
               // GREATEST(hi.p - lo.p, 1) AS sv
      FROM cdf c
      JOIN plo lo ON lo.idx = c.idx
      JOIN phi hi ON hi.idx = c.idx
    )
    SELECT image_id,
           CAST(SUM(sv * c) AS BIGINT) AS st_sum,
           CAST(MIN(sv) AS INTEGER) AS st_min,
           CAST(MAX(sv) AS INTEGER) AS st_max,
           CAST(COALESCE(SUM(c) FILTER (sv = 0 OR sv = 255), 0)
                AS BIGINT) AS n_sat
    FROM st GROUP BY image_id
    """

    o["funnel"] = """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
        AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 1440 MINUTE
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
        AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 1440 MINUTE
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_view,
           (SELECT COUNT(*) FROM s2) AS n_click,
           (SELECT COUNT(*) FROM s3) AS n_purchase
    """

    o["priority_sample"] = """
    SELECT doc_id, lang, rn FROM (
      SELECT doc_id, lang,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY md5('ps1' || CAST(doc_id AS VARCHAR)) DESC,
                        doc_id) AS BIGINT) AS rn
      FROM documents
    ) WHERE rn <= 3
    """

    o["simplify_vw"] = """
    WITH verts AS (
      SELECT (g.k // 41) AS line_id, (g.k % 41) AS seq,
             (g.k % 41) * 8 AS x,
             ((g.k // 41) * 31 + (g.k % 41) * (g.k % 41) * 17) % 29
               - 14 AS y
      FROM (SELECT unnest(generate_series(0, 200*41 - 1)) AS k) g
    ),
    a2 AS (
      SELECT line_id, seq, x, y,
             abs((x - lag(x) OVER w) * (lead(y) OVER w - lag(y) OVER w)
               - (lead(x) OVER w - lag(x) OVER w) * (y - lag(y) OVER w))
               AS area2
      FROM verts WINDOW w AS (PARTITION BY line_id ORDER BY seq)
    ),
    kept AS (SELECT * FROM a2 WHERE area2 IS NULL OR area2 >= 160)
    SELECT line_id,
           CAST(row_number()
                OVER (PARTITION BY line_id ORDER BY seq) - 1
                AS BIGINT) AS new_seq,
           x, y
    FROM kept
    """

    o["poly_centroid"] = """
    WITH v AS (
      SELECT (g.k // 6) AS feat_id, (g.k % 6) AS seq
      FROM (SELECT unnest(generate_series(0, 2999)) AS k) g
    ),
    p AS (
      SELECT feat_id, seq,
        (feat_id*3) % 50 + CASE seq
          WHEN 0 THEN 0
          WHEN 1 THEN 40 + (feat_id%7)*8
          WHEN 2 THEN 40 + (feat_id%7)*8
          WHEN 3 THEN 8 + (feat_id%3)*8
          WHEN 4 THEN 8 + (feat_id%3)*8
          ELSE 0 END AS x,
        (feat_id*7) % 50 + CASE seq
          WHEN 0 THEN 0
          WHEN 1 THEN 0
          WHEN 2 THEN 8 + (feat_id%4)*8
          WHEN 3 THEN 8 + (feat_id%4)*8
          WHEN 4 THEN 40 + (feat_id%5)*8
          ELSE 40 + (feat_id%5)*8 END AS y
      FROM v
    ),
    e AS (
      SELECT feat_id, x, y,
             COALESCE(lead(x) OVER w, first_value(x) OVER w2) AS xn,
             COALESCE(lead(y) OVER w, first_value(y) OVER w2) AS yn
      FROM p WINDOW
        w AS (PARTITION BY feat_id ORDER BY seq),
        w2 AS (PARTITION BY feat_id ORDER BY seq
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING)
    ),
    t AS (
      SELECT feat_id,
             x*yn - xn*y AS cr,
             (x + xn) * (x*yn - xn*y) AS sx,
             (y + yn) * (x*yn - xn*y) AS sy
      FROM e
    ),
    agg AS (
      SELECT feat_id, CAST(SUM(cr) AS BIGINT) AS a2,
             CAST(SUM(sx) AS BIGINT) AS gx,
             CAST(SUM(sy) AS BIGINT) AS gy
      FROM t GROUP BY feat_id
    )
    SELECT feat_id,
           CAST(a2 AS DOUBLE) / 2.0 AS area,
           CAST(gx AS DOUBLE) / (3.0 * CAST(a2 AS DOUBLE)) AS cx,
           CAST(gy AS DOUBLE) / (3.0 * CAST(a2 AS DOUBLE)) AS cy
    FROM agg
    """

    return o
