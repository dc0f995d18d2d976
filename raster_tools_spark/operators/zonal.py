"""Zonal statistics: polygon x raster aggregation (SURVEY.md J4 + A1,
A6 floor level, A8 multi-band calculation).

Reference semantics (raster_tools/zonal.py:28-123):

- pixels selected by burning the geometry onto the tile grid and keeping
  pixels whose center is inside (zonal.py:80-87);
- ``size``  = all selected pixels, ``count`` = selected pixels with data
  (value != nodata) -- the distinction at zonal.py:95,108-111;
- stats (min/max/mean/median/std/var/p<n>) computed over data pixels.

Spark-first shape (the reference's per-feature loop becomes one job),
shared by zonal_stats, floor_level and rgb_zonal:

1. ``_candidates``: a covering-cell broadcast join pairs images with
   polygons, and a pixel-center envelope predicate (grown by the mask's
   reach, ``pad``) drops pairs that cannot select a pixel;
2. ``_pair_stream`` decodes each paired tile ONCE, parses each polygon
   once per task and yields every distinct pair's pixels with its mask
   (center-inside for zonal/rgb, the buffer ring for floor level);
3. ``_partials_stream`` folds that stream into a tiny partial-stats row
   per (task, feature) (count, sum, sumsq, min, max, 256-bin
   histogram) -- the expensive pixel work happens map-side, mirroring
   the reference's blocked partial aggregation (ruimtekaart.py:214-233);
4. ``groupBy(feat_id)`` combines partials with JVM aggregates (sums,
   min/max, a zip_with histogram merge); exact percentiles come from
   the merged uint8 histogram through a higher-order expression
   (bit-exact vs np.percentile, no approx_percentile needed because
   the value domain is u8).  rgb_zonal instead ships the masked band
   vectors and finalizes in Python, because it evaluates a user
   expression over them.

Per-pair partial rows are ~300 bytes vs ~64 KiB of pixels, so the
shuffle moves ~0.5% of the scanned data -- the property that keeps this
plan alive at 100 TB.
"""

from __future__ import annotations

import ast
import functools
import itertools
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs, geom
from ..grid import CELL_SIZE, JOIN_RES, WORLD_TOP, GeoTransform, cell_edge
from ..materialize import reuse
from .pip import _cover_udf
from .tile import _d, sql_of

NODATA_DEFAULT = 255  # dtype-max convention (extract.py:94-99, merge.py:59)


def _hist_sum_sql(hist) -> str:
    return f"aggregate({sql_of(hist)}, CAST(0 AS BIGINT), (_a, _x) -> _a + _x)"


def percentile_from_hist(hist, q: float):
    """Exact percentile of u8 data from its 256-bin histogram column,
    matching np.percentile's default linear interpolation (same
    ``pos = q / 100.0 * (n - 1)`` operation order); NaN for an empty
    histogram.

    One pass over the bins finds the first bin whose running count
    reaches ``lo + 1`` and ``hi + 1`` (the
    ``np.searchsorted(np.cumsum(hist), k)`` rule).  Every per-row
    constant rides in the zero struct, which is evaluated once: a
    lambda body referencing ``n`` would re-sum the histogram for every
    bin, because higher-order functions run interpreted."""
    n = _hist_sum_sql(hist)
    pos = f"({_d(q)} / 100.0D * CAST({n} - 1 AS DOUBLE))"
    lo = f"FLOOR({pos})"
    zero = (
        f"struct({lo} + 1 AS k_lo, CEIL({pos}) + 1 AS k_hi,"
        f" {pos} - CAST({lo} AS DOUBLE) AS frac, CAST(0 AS BIGINT) AS c,"
        f" 0 AS i, -1 AS v_lo, -1 AS v_hi)"
    )
    step = (
        "(_s, _x) -> struct(_s.k_lo AS k_lo, _s.k_hi AS k_hi,"
        " _s.frac AS frac, _s.c + _x AS c, _s.i + 1 AS i,"
        " CASE WHEN _s.v_lo < 0 AND _s.c + _x >= _s.k_lo"
        " THEN _s.i ELSE _s.v_lo END AS v_lo,"
        " CASE WHEN _s.v_hi < 0 AND _s.c + _x >= _s.k_hi"
        " THEN _s.i ELSE _s.v_hi END AS v_hi)"
    )
    finish = (
        "_s -> CAST(_s.v_lo AS DOUBLE)"
        " + (CAST(_s.v_hi AS DOUBLE) - CAST(_s.v_lo AS DOUBLE)) * _s.frac"
    )
    return F.expr(
        f"CASE WHEN {n} > 0 THEN aggregate({sql_of(hist)}, {zero}, {step},"
        f" {finish}) ELSE CAST('NaN' AS DOUBLE) END"
    )


def _image_cover_udf(res: int):
    """Covering cell ids of an image tile at ``res`` as a pure JVM
    array expression: the half-open cover of the tile's pixel extent
    (floor/ceil on IEEE doubles, clamped to the world, packed like
    grid.pack_cell).  Unlike grid.covering_cells it has no closed
    bottom row: pixel centers are strictly interior, so that row would
    only add empty pairs.  Whole-stage-codegen instead of an
    ArrowEvalPython hop: the former pandas UDF put a Python round trip
    on the full image scan of every zonal/retile pipeline (measured
    2.9 s of flagship zonal's 5.8 s in the pre-decode candidate
    stage).  Returns a builder so call sites keep the
    ``_image_cover_udf(res)(x0, y_top, w, h)`` shape."""
    edge = _d(cell_edge(res))
    top = _d(WORLD_TOP)
    px = _d(CELL_SIZE)
    n_axis = f"CAST({1 << (res + 2)} AS BIGINT)"

    def cover(x0, y_top, w, h):
        x0, y_top, w, h = map(sql_of, (x0, y_top, w, h))
        jx1 = f"CAST(FLOOR({x0} / {edge}) AS BIGINT)"
        jx2 = f"CAST(CEIL(({x0} + {w} * {px}) / {edge}) AS BIGINT)"
        jy1 = f"CAST(FLOOR(({top} - {y_top}) / {edge}) AS BIGINT)"
        jy2 = (f"CAST(CEIL(({top} - ({y_top} - {h} * {px})) / {edge})"
               f" AS BIGINT)")
        jx2 = f"greatest({jx2}, {jx1} + 1)"
        jy2 = f"greatest({jy2}, {jy1} + 1)"
        jx1 = f"greatest({jx1}, CAST(0 AS BIGINT))"
        jx2 = f"least({jx2}, {n_axis})"
        jy1 = f"greatest({jy1}, CAST(0 AS BIGINT))"
        jy2 = f"least({jy2}, {n_axis})"
        packed = (
            f"flatten(transform(sequence({jy1}, {jy2} - 1), _iy ->"
            f" transform(sequence({jx1}, {jx2} - 1), _ix ->"
            f" shiftleft(CAST({res} AS BIGINT), 56)"
            f" | shiftleft(_ix, 28) | _iy)))"
        )
        # fully out-of-world tiles clamp to an empty range; sequence()
        # would count DOWN there, so guard with an empty array
        return F.expr(
            f"CASE WHEN {jx2} > {jx1} AND {jy2} > {jy1} THEN {packed}"
            f" ELSE CAST(array() AS ARRAY<BIGINT>) END"
        )

    return cover


def _candidates(
    images_cells: DataFrame,
    polygons: DataFrame,
    join_res: int,
    pad: float,
    max_extent: float | None = None,
) -> DataFrame:
    """Candidate (image, polygon) pairs for a mask that selects pixel
    centers at most ``pad`` meters outside the polygon's envelope.

    The exploded polygon cells are broadcast-hash-joined (polygon
    layers are the small side in the reference's workloads), so the
    IMAGE SIDE IS NEVER SHUFFLED OR SORTED: candidate pairs stream out
    of the scan with all pairs of an image contiguous (the explode+BHJ
    preserves row adjacency).  A pair can arise from up to 4 shared
    corner cells; the pair stream drops the repeats.

    ``max_extent`` drops polygons whose unpadded envelope is wider or
    taller than it (bag2tif.py:95-97)."""
    img = images_cells.withColumn(
        "icell",
        # explode_outer + null filter below: plain explode infers a
        # size()/isnotnull generate filter that would re-evaluate the
        # whole cover expression per conjunct in the scan stage
        F.explode_outer(
            _image_cover_udf(join_res)("x0", "y_top", "w", "h")
        ),
    ).select(
        "image_id", "bytes", "fmt", "x0", "y_top", "w", "h", "icell"
    ).filter("icell IS NOT NULL")

    # reuse the cover BEFORE field extraction: the broadcast build
    # and every extracted field otherwise re-run the pandas UDF (same
    # fix as pip_join's polygon meta)
    polys = reuse(polygons.withColumn(
        "_pc", _cover_udf(join_res, pad)("geom_wkb")
    ))
    if max_extent is not None:
        polys = polys.filter(
            "greatest(_pc.ex2 - _pc.ex1, _pc.ey2 - _pc.ey1)"
            f" <= {_d(max_extent)}"
        )
    grow = _d(pad)
    pcells = polys.selectExpr(
        "feat_id", "geom_wkb", "explode(_pc.cells) AS pcell",
        f"_pc.ex1 - {grow} AS _ex1", f"_pc.ex2 + {grow} AS _ex2",
        f"_pc.ey1 - {grow} AS _ey1", f"_pc.ey2 + {grow} AS _ey2",
    )

    # The JVM-side predicate drops pairs BEFORE they pay a decode +
    # mask in the pandas stage.  It tests the PIXEL-CENTER lattice
    # against the padded envelope, not raw tile bounds: centers sit
    # CELL_SIZE/2 inside the tile edge, so a tile merely TOUCHING the
    # box (the closed-bottom cover row, edge-adjacent tiles) can never
    # contribute a pixel and is dropped exactly, while any tile with a
    # center inside the box passes (closed comparisons keep
    # boundary-center ties).
    half, px = _d(CELL_SIZE * 0.5), _d(CELL_SIZE)
    overlap = (
        f"x0 + {half} <= _ex2 AND x0 + w * {px} - {half} >= _ex1"
        f" AND y_top - h * {px} + {half} <= _ey2"
        f" AND y_top - {half} >= _ey1"
    )
    return img.join(
        F.broadcast(pcells), F.expr(f"icell = pcell AND ({overlap})")
    ).select(
        "image_id", "bytes", "fmt", "x0", "y_top", "feat_id", "geom_wkb",
    )


def _pair_stream(batches, mask_fn):
    """(row, pixels, mask) of every distinct candidate pair whose mask
    selects a pixel, over candidate batches with all pairs of an image
    adjacent: each image is decoded once, each polygon's rings are
    parsed once per task.  ``mask_fn(rings, gt, height, width)`` burns
    the polygon onto the tile's pixel grid."""
    cur_img = None
    px = None
    gt = None
    seen: set = set()
    ring_cache: dict = {}
    for pdf in batches:
        for t in pdf.itertuples():
            if t.image_id != cur_img:
                cur_img = t.image_id
                px = codecs.decode(bytes(t.bytes), t.fmt)
                gt = GeoTransform(
                    (t.x0, CELL_SIZE, 0.0, t.y_top, 0.0, -CELL_SIZE)
                )
                seen = set()
            if t.feat_id in seen:  # pair dup via shared corner cells
                continue
            seen.add(t.feat_id)
            rings = ring_cache.get(t.feat_id)
            if rings is None:
                rings = geom._rings_of(bytes(t.geom_wkb))
                ring_cache[t.feat_id] = rings
            mask = mask_fn(rings, gt, px.shape[0], px.shape[1])
            if mask.any():
                yield t, px, mask


_PARTIAL_SCHEMA = (
    "feat_id long, size long, cnt long, s double, ss double, "
    "mn double, mx double, hist array<long>, decode_bytes long"
)


def _partials_stream(batches, mask_fn=geom.rasterize_mask_rings,
                     expr: str | None = None):
    """Partial stats of the pair stream (rows need a ``nodata``
    column), PRE-AGGREGATED per feat_id within the task before
    anything crosses back over Arrow: the finalize step is a pure
    commutative merge (sums, min/max, histogram adds), so collapsing
    the per-pair rows to one row per (task, feat) is result-identical
    while shrinking the Python->JVM return and the partials shuffle
    from O(pairs) rows x 256-long histograms to O(features) rows
    (guide 2.3: aggregate before you shuffle).  The accumulator is
    flushed if it ever exceeds ``_MAX_ACC_FEATS`` distinct features,
    so task memory stays bounded on enormous polygon layers.

    ``expr``: optional whitelisted band expression applied to the
    masked data vector before stats (A8 semantics, rgb_zonal.py:95-98);
    histogram/percentiles are raw-value only (u8 domain)."""
    # feat_id -> [size, cnt, s, ss, mn, mx, hist, decode_bytes]
    acc: dict = {}

    def _flush():
        rows = [
            (fid, a[0], a[1], a[2], a[3],
             a[4] if a[1] else None,
             a[5] if a[1] else None,
             a[6], a[7])
            for fid, a in acc.items()
        ]
        acc.clear()
        return pd.DataFrame(
            rows,
            columns=[
                "feat_id", "size", "cnt", "s", "ss", "mn", "mx",
                "hist", "decode_bytes",
            ],
        )

    for t, px, mask in _pair_stream(batches, mask_fn):
        vals = px[mask]
        data = vals[vals != t.nodata]
        if data.dtype == np.uint8:
            hist = np.bincount(data, minlength=256).astype(np.int64)
        else:
            # non-u8 band (f4 DEM etc.): exact-histogram
            # percentiles are a u8-domain feature; mean/std/min/max
            # remain exact, median/p75/frac become NaN downstream
            hist = None
        if expr is not None and data.size:
            stat_data = eval_band_expr(expr, data)
        else:
            stat_data = data.astype(np.float64)
        a = acc.get(t.feat_id)
        if a is None:
            a = [0, 0, 0.0, 0.0, math.inf, -math.inf,
                 np.zeros(256, dtype=np.int64), 0]
            acc[t.feat_id] = a
        a[0] += len(vals)
        a[1] += int(data.size)
        a[2] += float(stat_data.sum(dtype=np.float64))
        a[3] += float((stat_data.astype(np.float64) ** 2).sum())
        if data.size:
            a[4] = min(a[4], float(stat_data.min()))
            a[5] = max(a[5], float(stat_data.max()))
        if hist is not None:
            a[6] += hist
        a[7] += len(t.bytes)
        if len(acc) >= _MAX_ACC_FEATS:
            yield _flush()
    if acc:
        yield _flush()


_MAX_ACC_FEATS = 65536


def _check_expr(expr: str, allowed: set):
    """Parse ``expr`` and reject it unless every name is in ``allowed``
    and every attribute is ``np.<name in allowed>``."""
    tree = ast.parse(expr, mode="eval")
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id not in allowed:
            raise ValueError(f"name {node.id!r} not allowed")
        if isinstance(node, ast.Attribute) and not (
            isinstance(node.value, ast.Name)
            and node.value.id == "np"
            and node.attr in allowed
        ):
            raise ValueError("only np.<whitelisted> calls allowed")
    return tree


_EXPR_WHITELIST = {"v", "np", "clip", "sqrt", "log1p", "abs", "minimum",
                   "maximum", "where"}


def eval_band_expr(expr: str, values: np.ndarray) -> np.ndarray:
    """Whitelisted band expression over the masked pixel vector ``v``
    -- the safe re-expression of rgb_zonal's literal eval
    (rgb_zonal.py:95-98).  Only numpy ufuncs from the whitelist and the
    variable ``v`` are visible."""
    tree = _check_expr(expr, _EXPR_WHITELIST)
    ns = {"v": values.astype(np.float64), "np": np,
          "clip": np.clip, "sqrt": np.sqrt, "log1p": np.log1p,
          "abs": np.abs, "minimum": np.minimum, "maximum": np.maximum,
          "where": np.where}
    return np.asarray(eval(compile(tree, "<band_expr>", "eval"), {"__builtins__": {}}, ns))


def _merge_hists(hist):
    """Element-wise sum of the group's 256-bin histograms: a
    collect_list folded with zip_with, so the merge rides the same
    partial/final aggregate (and exchange) as the scalar sums."""
    return F.expr(
        f"aggregate(collect_list({sql_of(hist)}),"
        " array_repeat(CAST(0 AS BIGINT), 256),"
        " (_s, _h) -> zip_with(_s, _h, (_x, _y) -> _x + _y))"
    )


def _finalize_stats(partials: DataFrame, range_frac=None) -> DataFrame:
    """Merge per-(task, feature) partials into the A1 stats row with JVM
    aggregates.  Every partial sum on u8 pixels (and on the dyadic
    expr/f4 registry inputs) is integer-valued or dyadic, so the double
    sums are exact and independent of merge order.  Partials carry null
    ``mn``/``mx`` when ``cnt == 0``, which min/max skip; a feature with
    no data pixel gets null stats."""
    m = partials.groupBy("feat_id").agg(
        F.sum("size").alias("size"), F.sum("cnt").alias("cnt"),
        F.sum("s").alias("s"), F.sum("ss").alias("ss"),
        F.min("mn").alias("mn"), F.max("mx").alias("mx"),
        _merge_hists("hist").alias("hist"),
    )
    # non-u8 band: the histogram is empty, so no exact percentiles
    u8 = f"cnt > 0 AND {_hist_sum_sql('hist')} = cnt"
    if range_frac is not None:
        lo, hi = range_frac
        # green-factor style in-range fraction, exact from the u8
        # histogram (green_factor.py:176-193 semantics)
        in_range = _hist_sum_sql(f"slice(hist, {lo + 1}, {hi - lo + 1})")
        frac = f"CASE WHEN {u8} THEN CAST({in_range} AS DOUBLE) / cnt END"
    else:
        frac = "CAST(NULL AS DOUBLE)"
    return m.select(
        "feat_id", "size", "cnt",
        F.expr("CASE WHEN cnt > 0 THEN s / cnt END AS mean"),
        # population std (np.std default, matching getattr(np, 'std'))
        F.expr("CASE WHEN cnt > 0 THEN SQRT(greatest("
               "ss / cnt - (s / cnt) * (s / cnt), 0.0D)) END AS std"),
        "mn", "mx",
        *(F.when(F.expr(u8), percentile_from_hist("hist", q)).alias(name)
          for name, q in (("median", 50.0), ("p75", 75.0))),
        F.expr(f"{frac} AS frac_in_range"),
    )


_RGB_EXPR_WHITELIST = {"r", "g", "b", "np", "mean", "median", "sum",
                       "clip", "sqrt", "abs", "minimum", "maximum",
                       "where", "log1p", "std", "percentile"}


def eval_rgb_expr(expr: str, r, g, b) -> float:
    """AST-whitelisted per-feature calculation over the masked band
    vectors r/g/b (int64) -- the safe re-expression of rgb_zonal's
    ``eval(calculation)`` (rgb_zonal.py:95-98)."""
    tree = _check_expr(expr, _RGB_EXPR_WHITELIST)
    ns = {"r": r, "g": g, "b": b, "np": np}
    return float(
        eval(compile(tree, "<rgb_expr>", "eval"), {"__builtins__": {}}, ns)
    )


_RGB_PARTIAL_SCHEMA = (
    "feat_id long, image_id string, r array<long>, g array<long>, "
    "b array<long>"
)
_RGB_FINAL_SCHEMA = "feat_id long, n_px long, result double"
_RGB_FLUSH_ROWS = 1024
# rgb_zonal skips polygons larger than this area (m^2)
RGB_MAX_AREA = 1000.0
# floor_level: buffer-ring width (m) and the widest geometry it reads
FLOOR_DIST = 1.0
FLOOR_MAX_EXTENT = 1000.0


def rgb_zonal(
    images_cells: DataFrame,
    polygons: DataFrame,
    calculation: str,
) -> DataFrame:
    """Multi-band zonal calculation (SURVEY.md S2/A8,
    rgb_zonal.py:57-98): per polygon, evaluate an AST-whitelisted
    expression over the masked (r, g, b) int64 vectors of every
    overlapping RGB tile.  Polygons with area > ``RGB_MAX_AREA`` are
    skipped (rgb_zonal.py:74-76), as are polygons with no masked
    pixels.

    Same candidate join and decode-once pair stream as zonal_stats.
    The partials carry the masked band vectors (features are small by
    the guard) and are concatenated in image_id order by a Python
    finalize, so the result is partitioning-independent."""

    @F.pandas_udf("double")
    def area_udf(wkb_s: pd.Series) -> pd.Series:
        return wkb_s.map(lambda bb: geom.area(bytes(bb)))

    polys = polygons.withColumn(
        "_area", area_udf("geom_wkb")
    ).filter(f"_area <= {_d(RGB_MAX_AREA)}").drop("_area")
    cand = _candidates(images_cells, polys, JOIN_RES, 0.0)

    def partials(batches):
        # px[mask] is (n, 3): its transpose lists the r, g, b vectors
        rows = (
            (t.feat_id, t.image_id, *px[mask].astype(np.int64).T.tolist())
            for t, px, mask in _pair_stream(
                batches, geom.rasterize_mask_rings
            )
        )
        while chunk := list(itertools.islice(rows, _RGB_FLUSH_ROWS)):
            yield pd.DataFrame(
                chunk, columns=["feat_id", "image_id", "r", "g", "b"]
            )

    def finalize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("image_id")
        r = np.concatenate([np.asarray(v) for v in pdf["r"]])
        g = np.concatenate([np.asarray(v) for v in pdf["g"]])
        b = np.concatenate([np.asarray(v) for v in pdf["b"]])
        if r.size == 0 or not (r.any() or g.any() or b.any()):
            # reference skips empty / all-zero reads
            return pd.DataFrame(columns=["feat_id", "n_px", "result"])
        return pd.DataFrame(
            {
                "feat_id": [int(pdf["feat_id"].iloc[0])],
                "n_px": [int(r.size)],
                "result": [eval_rgb_expr(calculation, r, g, b)],
            }
        )

    parts = cand.mapInPandas(partials, schema=_RGB_PARTIAL_SCHEMA)
    return parts.groupBy("feat_id").applyInPandas(
        finalize, schema=_RGB_FINAL_SCHEMA
    )


def floor_level(images_cells: DataFrame, polygons: DataFrame) -> DataFrame:
    """Buffer-ring floor level (SURVEY.md A6, bag2tif.py:83-127): per
    polygon, the 75th percentile of data pixels whose centers fall in
    the ``FLOOR_DIST``-meter buffer RING around the geometry.
    Geometries wider than ``FLOOR_MAX_EXTENT`` are skipped
    (bag2tif.py:95-97), as are polygons with no data pixel in the ring
    (reference returns None).

    zonal_stats' plan with a ring mask: the candidate join is padded by
    the ring width, the pair stream is folded into the same partials,
    and the only shuffle carries 256-bin histograms.
    """
    dist = FLOOR_DIST
    cand = _candidates(
        images_cells, polygons, JOIN_RES, dist,
        max_extent=FLOOR_MAX_EXTENT,
    ).withColumn("nodata", F.lit(NODATA_DEFAULT))
    partials = cand.mapInPandas(
        lambda it: _partials_stream(
            it, functools.partial(geom.buffer_ring_mask, dist=dist)
        ),
        schema=_PARTIAL_SCHEMA,
    )
    return partials.groupBy("feat_id").agg(
        F.sum("cnt").alias("cnt"), _merge_hists("hist").alias("hist")
    ).filter("cnt > 0").select(
        "feat_id", F.expr(f"{_hist_sum_sql('hist')} AS ring_px"),
        percentile_from_hist("hist", 75.0).alias("floor_75"),
    )


def zonal_stats(
    images_cells: DataFrame,
    polygons: DataFrame,
    nodata: int = NODATA_DEFAULT,
    expr: str | None = None,
    range_frac=None,
) -> DataFrame:
    """Per-polygon pixel statistics over all overlapping image tiles.

    ``images_cells``: output of tile.assign_cells (needs x0, y_top, w, h,
    bytes, fmt).  Returns one row per feat_id with A1 stats.

    VALUE DOMAINS when ``expr`` is set: mean/std/mn/mx are computed over
    the EXPR-TRANSFORMED pixel values, while median/p75/frac_in_range
    always come from the RAW u8-value histogram (exact u8 percentiles
    are only possible in the raw domain).  One output row therefore
    mixes two domains under a band expression -- consumers needing
    expr-space percentiles must apply the expression upstream of the
    tile encode instead.

    The image side is never shuffled or sorted (see _candidates); the
    only shuffle in the whole job is the tiny partial-stats groupBy.
    """
    cand = _candidates(images_cells, polygons, JOIN_RES, 0.0).withColumn(
        "nodata", F.lit(nodata)
    )
    partials = cand.mapInPandas(
        lambda it: _partials_stream(it, expr=expr), schema=_PARTIAL_SCHEMA
    )
    return _finalize_stats(partials, range_frac=range_frac)
