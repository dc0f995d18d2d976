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
from ..grid import CELL_SIZE, JOIN_RES, GeoTransform
from .pip import _cover_udf

NODATA_DEFAULT = 255  # dtype-max convention (extract.py:94-99, merge.py:59)


def _hist_sum(hist):
    return F.aggregate(hist, F.lit(0).cast("long"), lambda a, x: a + x)


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
    n = _hist_sum(hist)
    pos = F.lit(q) / F.lit(100.0) * (n - 1).cast("double")
    lo = F.floor(pos)
    zero = F.struct(
        (lo + 1).alias("k_lo"), (F.ceil(pos) + 1).alias("k_hi"),
        (pos - lo.cast("double")).alias("frac"),
        F.lit(0).cast("long").alias("c"), F.lit(0).alias("i"),
        F.lit(-1).alias("v_lo"), F.lit(-1).alias("v_hi"),
    )

    def step(acc, x):
        c = acc["c"] + x
        return F.struct(
            acc["k_lo"].alias("k_lo"), acc["k_hi"].alias("k_hi"),
            acc["frac"].alias("frac"), c.alias("c"),
            (acc["i"] + 1).alias("i"),
            F.when((acc["v_lo"] < 0) & (c >= acc["k_lo"]), acc["i"])
            .otherwise(acc["v_lo"]).alias("v_lo"),
            F.when((acc["v_hi"] < 0) & (c >= acc["k_hi"]), acc["i"])
            .otherwise(acc["v_hi"]).alias("v_hi"),
        )

    def finish(acc):
        v_lo = acc["v_lo"].cast("double")
        v_hi = acc["v_hi"].cast("double")
        return v_lo + (v_hi - v_lo) * acc["frac"]

    return F.when(n > 0, F.aggregate(hist, zero, step, finish)).otherwise(
        F.lit(float("nan"))
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
    from ..grid import WORLD_TOP, cell_edge

    edge = float(cell_edge(res))
    n_axis = 1 << (res + 2)

    def cover(x0, y_top, w, h):
        jx1 = F.floor(x0 / F.lit(edge)).cast("long")
        jx2 = F.ceil((x0 + w * F.lit(CELL_SIZE)) / F.lit(edge)).cast(
            "long"
        )
        jy1 = F.floor((F.lit(WORLD_TOP) - y_top) / F.lit(edge)).cast(
            "long"
        )
        jy2 = F.ceil(
            (F.lit(WORLD_TOP) - (y_top - h * F.lit(CELL_SIZE)))
            / F.lit(edge)
        ).cast("long")
        jx2 = F.greatest(jx2, jx1 + 1)
        jy2 = F.greatest(jy2, jy1 + 1)
        jx1 = F.greatest(jx1, F.lit(0).cast("long"))
        jx2 = F.least(jx2, F.lit(n_axis).cast("long"))
        jy1 = F.greatest(jy1, F.lit(0).cast("long"))
        jy2 = F.least(jy2, F.lit(n_axis).cast("long"))
        packed = F.flatten(
            F.transform(
                F.sequence(jy1, jy2 - 1),
                lambda iy: F.transform(
                    F.sequence(jx1, jx2 - 1),
                    lambda ix: F.shiftleft(F.lit(res).cast("long"), 56)
                    .bitwiseOR(F.shiftleft(ix, 28))
                    .bitwiseOR(iy),
                ),
            )
        )
        # fully out-of-world tiles clamp to an empty range; sequence()
        # would count DOWN there, so guard with an empty array
        return F.when(
            (jx2 > jx1) & (jy2 > jy1), packed
        ).otherwise(F.array().cast("array<bigint>"))

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
            _image_cover_udf(join_res)(
                F.col("x0"), F.col("y_top"), F.col("w"), F.col("h")
            )
        ),
    ).select(
        "image_id", "bytes", "fmt", "x0", "y_top", "w", "h", "icell"
    ).filter(F.col("icell").isNotNull())

    # checkpoint the cover BEFORE field extraction: the broadcast build
    # and every extracted field otherwise re-run the pandas UDF (same
    # fix as pip_join's polygon meta)
    polys = polygons.withColumn(
        "_pc", _cover_udf(join_res, pad)(F.col("geom_wkb"))
    ).localCheckpoint(eager=False)
    if max_extent is not None:
        polys = polys.filter(
            F.greatest(
                F.col("_pc.ex2") - F.col("_pc.ex1"),
                F.col("_pc.ey2") - F.col("_pc.ey1"),
            ) <= max_extent
        )
    pcells = polys.select(
        "feat_id", "geom_wkb",
        F.explode("_pc.cells").alias("pcell"),
        (F.col("_pc.ex1") - pad).alias("_ex1"),
        (F.col("_pc.ex2") + pad).alias("_ex2"),
        (F.col("_pc.ey1") - pad).alias("_ey1"),
        (F.col("_pc.ey2") + pad).alias("_ey2"),
    )

    # The JVM-side predicate drops pairs BEFORE they pay a decode +
    # mask in the pandas stage.  It tests the PIXEL-CENTER lattice
    # against the padded envelope, not raw tile bounds: centers sit
    # CELL_SIZE/2 inside the tile edge, so a tile merely TOUCHING the
    # box (the closed-bottom cover row, edge-adjacent tiles) can never
    # contribute a pixel and is dropped exactly, while any tile with a
    # center inside the box passes (closed comparisons keep
    # boundary-center ties).
    half = CELL_SIZE * 0.5
    overlap = (
        (F.col("x0") + half <= F.col("_ex2"))
        & (F.col("x0") + F.col("w") * CELL_SIZE - half >= F.col("_ex1"))
        & (F.col("y_top") - F.col("h") * CELL_SIZE + half
           <= F.col("_ey2"))
        & (F.col("y_top") - half >= F.col("_ey1"))
    )
    return img.join(
        F.broadcast(pcells), (img["icell"] == pcells["pcell"]) & overlap
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
    return F.aggregate(
        F.collect_list(hist),
        F.array_repeat(F.lit(0).cast("long"), 256),
        lambda acc, h: F.zip_with(acc, h, lambda x, y: x + y),
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
    cnt = F.col("cnt")
    hist = F.col("hist")
    has = cnt > 0
    # non-u8 band: the histogram is empty, so no exact percentiles
    u8 = has & (_hist_sum(hist) == cnt)
    mean = F.col("s") / cnt
    # population std (np.std default, matching getattr(np, 'std'))
    var = F.greatest(F.col("ss") / cnt - mean * mean, F.lit(0.0))
    if range_frac is not None:
        lo, hi = range_frac
        # green-factor style in-range fraction, exact from the u8
        # histogram (green_factor.py:176-193 semantics)
        frac = F.when(
            u8, _hist_sum(F.slice(hist, lo + 1, hi - lo + 1))
            .cast("double") / cnt,
        )
    else:
        frac = F.lit(None).cast("double")
    return m.select(
        "feat_id", "size", "cnt",
        F.when(has, mean).alias("mean"),
        F.when(has, F.sqrt(var)).alias("std"),
        "mn", "mx",
        F.when(u8, percentile_from_hist(hist, 50.0)).alias("median"),
        F.when(u8, percentile_from_hist(hist, 75.0)).alias("p75"),
        frac.alias("frac_in_range"),
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


def rgb_zonal(
    images_cells: DataFrame,
    polygons: DataFrame,
    calculation: str,
    join_res: int = JOIN_RES,
    max_area: float = 1000.0,
) -> DataFrame:
    """Multi-band zonal calculation (SURVEY.md S2/A8,
    rgb_zonal.py:57-98): per polygon, evaluate an AST-whitelisted
    expression over the masked (r, g, b) int64 vectors of every
    overlapping RGB tile.  Polygons with area > ``max_area`` are
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
        "_area", area_udf(F.col("geom_wkb"))
    ).filter(F.col("_area") <= max_area).drop("_area")
    cand = _candidates(images_cells, polys, join_res, 0.0)

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


def floor_level(
    images_cells: DataFrame,
    polygons: DataFrame,
    dist: float = 1.0,
    join_res: int = JOIN_RES,
    nodata: int = NODATA_DEFAULT,
    max_extent: float = 1000.0,
) -> DataFrame:
    """Buffer-ring floor level (SURVEY.md A6, bag2tif.py:83-127): per
    polygon, the 75th percentile of data pixels whose centers fall in
    the ``dist``-meter buffer RING around the geometry.  Geometries
    wider than ``max_extent`` are skipped (bag2tif.py:95-97), as are
    polygons with no data pixel in the ring (reference returns None).

    zonal_stats' plan with a ring mask: the candidate join is padded by
    ``dist``, the pair stream is folded into the same partials, and the
    only shuffle carries 256-bin histograms.
    """
    cand = _candidates(
        images_cells, polygons, join_res, dist, max_extent=max_extent
    ).withColumn("nodata", F.lit(nodata))
    partials = cand.mapInPandas(
        lambda it: _partials_stream(
            it, functools.partial(geom.buffer_ring_mask, dist=dist)
        ),
        schema=_PARTIAL_SCHEMA,
    )
    hist = F.col("hist")
    return partials.groupBy("feat_id").agg(
        F.sum("cnt").alias("cnt"), _merge_hists("hist").alias("hist")
    ).filter(F.col("cnt") > 0).select(
        "feat_id", _hist_sum(hist).alias("ring_px"),
        percentile_from_hist(hist, 75.0).alias("floor_75"),
    )


def zonal_stats(
    images_cells: DataFrame,
    polygons: DataFrame,
    join_res: int = JOIN_RES,
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
    cand = _candidates(images_cells, polygons, join_res, 0.0).withColumn(
        "nodata", F.lit(nodata)
    )
    partials = cand.mapInPandas(
        lambda it: _partials_stream(it, expr=expr), schema=_PARTIAL_SCHEMA
    )
    return _finalize_stats(partials, range_frac=range_frac)
