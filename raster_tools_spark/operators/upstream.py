"""Lowest-upstream levels along lines confined to polygons (the
reference's ``upstream.py`` composite, raster_tools/upstream.py:89-267).

Semantics, re-expressed Spark-first:

- **MinimumGroup** (upstream.py:89-107, elementwise min of several
  raster stores) composes UPSTREAM of this operator as a per-cell min
  over the stacked stores -- this operator takes one already-merged
  tile table (cell_id, bytes, fmt, x0, y_top), e.g. retile/mosaic
  output.
- **Directed samples** (upstream.py:121-138): points every
  ``separation`` meters along each line; the direction at a sample is
  the delta to the NEXT sample, the last sample reuses the previous
  direction; the reversed traversal's directions are the deltas walked
  backwards (the reversed list's last point -- the line's first --
  reuses the reversed first segment).  Directions stay UNNORMALIZED:
  they only enter sign tests, which are invariant to positive scaling,
  so no sqrt enters the mask math and both engines of the correctness
  gate compute bit-identical predicates.
- **Search area** (upstream.py:140-179): the reference intersects a
  radius-r circle with a 4r x 2r rectangle oriented forward from the
  sample.  The rectangle spans the full circle laterally (+-2r) and
  behind-to-front [0, 2r] along the direction, so the intersection is
  EXACTLY the forward half-disc {q : |q - p| <= r, (q - p) . d >= 0};
  we burn that directly as two arithmetic predicates.  The half-disc is
  further intersected with the confining polygon (pixel-center
  rasterization).  The reference's MULTIPOLYGON nearest-piece
  refinement (upstream.py:185-191) IS applied: when the polygon ∩
  half-disc mask is disconnected, the pairing stage resolves the
  component nearest the sample (pure geometry, radius-bounded local
  window) and ships it as a packed bitmask; the tile stage intersects
  with it, so the cut is consistent across tiles.  Connected areas --
  the common case and the whole oracle corpus -- carry a NULL bitmask
  and take the untouched predicate path.  Nearest-piece distance is
  min pixel-center distance (raster-space stand-in for GEOS
  point-to-polygon distance; tests/test_upstream.py
  TestNearestPieceRefinement).
- **Radius** (upstream.py:169-172): max(distance, multiplier *
  dist(sample, polygon boundary)).
- **Level** (upstream.py:193-199): the SECOND-smallest data pixel of
  the area (``argsort()[1]``).  Areas with fewer than two data pixels
  yield no level (the reference would raise on a single-pixel area; we
  skip, matching its behavior for empty areas).
- **Upstream check** (upstream.py:249-260): per (line, polygon), if the
  mean of the first half of the forward levels exceeds the mean of the
  last half, the reversed traversal's levels are used instead; if the
  reversed pass yields no levels the whole case emits nothing.  The
  mean comparison is done by exact integer/decimal cross-multiplication
  so the decision is bit-identical across engines.

Distributed shape (one broadcast, two shuffles):

1. mapInPandas sampler: lines -> directed samples;
2. broadcast equi-join on coarse grid cells pairs samples with nearby
   polygons (polygon covering cells padded by ``grow``); a vectorized
   filter keeps samples inside-or-within-``grow`` of the polygon
   (the reference's Buffer(grow).Contains(point)) and computes the
   per-sample radius;
3. samples explode their half-disc covering cells, are GROUPED PER
   CELL (collect_list of sample structs), and the per-cell groups
   equi-join the tile table -- so a tile's bytes cross the join
   exchange ONCE PER CELL, never once per sample (the halo-stencil
   lesson); each joined row is one tile plus all of its samples,
   decoded once, emitting partials that carry only the TWO SMALLEST
   data values per orientation (the global second-smallest of a union
   is always among the per-part two smallest);
4. one small groupBy(line, polygon) merges partials, applies the
   upstream check, and emits the chosen orientation's points.

At 100 TB the wide exchanges carry ~90-byte sample/partial rows plus
one encoded tile per touched cell -- raster bytes are never duplicated
per sample.  For vertex-heavy polygon layers, rehydrate geom_wkb by
feat_id after the pairing join instead of carrying it through the
sample structs (the PIP operator's rehydrate option shows the shape).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import codecs, geom, wkb as _wkb
from ..fillnodata import label
from ..grid import (CELL_SIZE, JOIN_RES, RES_TILE, WORLD_TOP,
                    covering_cells)
from .pip import _cover_udf
from .tile import cell_col

# radius = max(distance, MULTIPLIER * boundary distance)
MULTIPLIER = 1.0

DIRECTED_SCHEMA = (
    "line_id long, seq int, sx double, sy double, "
    "fdx double, fdy double, rdx double, rdy double"
)


def sample_directed_points(lines: DataFrame, step: float) -> DataFrame:
    """lines(line_id, geom_wkb) -> samples every ``step`` meters with
    forward AND reverse traversal directions (unnormalized deltas).

    Forward direction at sample k is ``p[k+1] - p[k]``; the last sample
    reuses the previous one (upstream.py:130-138).  Reverse direction at
    sample k is ``p[k-1] - p[k]``; sample 0 (last in the reversed walk)
    reuses the reversed first segment ``-(p[1] - p[0])``.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                gtype, coords = _wkb.parse(bytes(t.geom_wkb))
                if gtype != _wkb.LINESTRING or len(coords) < 2:
                    continue
                seg = np.diff(coords, axis=0)
                # sqrt(dx*dx + dy*dy), NOT np.hypot: hypot's scaling
                # algorithm can differ from IEEE sqrt by an ulp, and the
                # SQL oracle mirror of this sampler only has sqrt
                seg_len = np.sqrt(
                    seg[:, 0] * seg[:, 0] + seg[:, 1] * seg[:, 1]
                )
                total = float(seg_len.sum())
                if total <= 0:
                    continue
                n = max(int(np.floor(total / step)), 1)
                params = np.arange(n + 1) * step
                params[-1] = min(params[-1], total)
                cum = np.concatenate([[0.0], np.cumsum(seg_len)])
                idx = np.clip(
                    np.searchsorted(cum, params, side="right") - 1,
                    0,
                    len(seg) - 1,
                )
                frac = (params - cum[idx]) / np.where(
                    seg_len[idx] > 0, seg_len[idx], 1.0
                )
                pts = coords[idx] + seg[idx] * frac[:, None]
                fd = np.diff(pts, axis=0)
                fd = np.vstack([fd, fd[-1]])        # last reuses previous
                rd = np.empty_like(fd)
                rd[1:] = pts[:-1] - pts[1:]
                rd[0] = -fd[0]
                for k in range(len(pts)):
                    rows.append(
                        (
                            t.line_id, k,
                            float(pts[k, 0]), float(pts[k, 1]),
                            float(fd[k, 0]), float(fd[k, 1]),
                            float(rd[k, 0]), float(rd[k, 1]),
                        )
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "line_id", "seq", "sx", "sy",
                        "fdx", "fdy", "rdx", "rdy",
                    ],
                )

    return lines.select("line_id", "geom_wkb").mapInPandas(
        gen, schema=DIRECTED_SCHEMA
    )


_PAIR_SCHEMA = (
    "line_id long, feat_id long, seq int, sx double, sy double, "
    "fdx double, fdy double, rdx double, rdy double, radius double, "
    "geom_wkb binary, wj0 long, wi0 long, ww int, wh int, "
    "fbits binary, rbits binary"
)


def _is_convex(rings) -> bool:
    """True when the polygon is a single convex ring (no holes): the
    half-disc is convex (circle ∩ half-plane), so convex ∩ convex is
    connected and the nearest-piece analysis can be skipped for EVERY
    sample of the feature without rasterizing anything."""
    if len(rings) != 1:
        return False
    ring = np.asarray(rings[0], dtype=np.float64)
    if len(ring) >= 2 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    if len(ring) < 3:
        return False
    a = np.roll(ring, -1, axis=0) - ring
    b = np.roll(a, -1, axis=0)
    cross = a[:, 0] * b[:, 1] - a[:, 1] * b[:, 0]
    return bool((cross >= 0).all() or (cross <= 0).all())


def _nearest_piece_bits(mask, dx, dy):
    """None when ``mask`` is one connected piece (the common case and
    the whole oracle corpus -- the refinement must not perturb it);
    otherwise the packed bitmask of the component nearest the sample
    (min pixel-center distance, ties to the lowest label), mirroring
    the reference's MULTIPOLYGON nearest-piece rule
    (upstream.py:185-191) in raster space.

    8-connectivity, not 4: one connected GEOMETRIC piece (a thin
    diagonal arm) can rasterize to a staircase of diagonally-adjacent
    pixels, and the piece test must match the reference's vector-space
    connectivity, never split it."""
    labels, n = label(mask, 8)
    if n < 2:
        return None
    d2 = dx[None, :] * dx[None, :] + dy[:, None] * dy[:, None]
    dmin = np.full(n, np.inf)
    np.minimum.at(dmin, labels[mask] - 1, d2[mask])
    best_lab = int(np.argmin(dmin)) + 1
    return np.packbits(
        (labels == best_lab).ravel()
    ).tobytes()


def _pair_with_polygons(
    samples: DataFrame,
    polygons: DataFrame,
    grow: float,
    distance: float,
    multiplier: float,
) -> DataFrame:
    """Broadcast coarse-cell equi-join samples x polygons, then a
    vectorized containment/buffer filter + per-sample radius.

    Keeps a sample for a polygon iff the sample is inside it or within
    ``grow`` of its boundary (== Buffer(grow).Contains for points,
    upstream.py:233).  Radius = max(distance, multiplier * boundary
    distance) (upstream.py:169-172).
    """
    pcells = polygons.withColumn(
        "pcell", F.explode(_cover_udf(JOIN_RES, grow)("geom_wkb")["cells"])
    ).select("feat_id", "geom_wkb", "pcell")
    s = samples.withColumn(
        "scell", cell_col(F.col("sx"), F.col("sy"), JOIN_RES)
    )
    cand = s.join(F.broadcast(pcells), s["scell"] == pcells["pcell"]).select(
        "line_id", "feat_id", "seq", "sx", "sy",
        "fdx", "fdy", "rdx", "rdy", "geom_wkb",
    )
    grow2 = float(grow) * float(grow)

    def filt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ring_cache: dict = {}
        convex_cache: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            for fid, sub in pdf.groupby("feat_id", sort=False):
                rings = ring_cache.get(fid)
                if rings is None:
                    rings = geom._rings_of(bytes(sub["geom_wkb"].iloc[0]))
                    ring_cache[fid] = rings
                px = sub["sx"].to_numpy()
                py = sub["sy"].to_numpy()
                inside = geom.points_in_rings(px, py, rings)
                d2 = geom.sq_distance_to_rings(px, py, rings)
                keep = inside | (d2 <= grow2)
                if not keep.any():
                    continue
                radius = np.maximum(
                    distance, multiplier * np.sqrt(d2[keep])
                )
                out = sub.loc[keep, [
                    "line_id", "feat_id", "seq", "sx", "sy",
                    "fdx", "fdy", "rdx", "rdy", "geom_wkb",
                ]].copy()
                out["radius"] = radius
                # nearest-piece refinement (upstream.py:185-191): when
                # polygon ∩ half-disc is DISCONNECTED, only the piece
                # nearest the sample contributes.  Pieces are purely
                # geometric (no raster data), so they are resolved HERE
                # over the sample's own small window and shipped as a
                # packed bitmask; NULL for the connected common case,
                # which stays on the untouched predicate path.  Convex
                # polygons (cached per feature) skip the analysis for
                # every sample: convex ∩ convex half-disc is connected.
                if fid not in convex_cache:
                    convex_cache[fid] = _is_convex(rings)
                if convex_cache[fid]:
                    out["wj0"] = 0
                    out["wi0"] = 0
                    out["ww"] = 0
                    out["wh"] = 0
                    out["fbits"] = None
                    out["rbits"] = None
                    outs.append(out[[
                        "line_id", "feat_id", "seq", "sx", "sy",
                        "fdx", "fdy", "rdx", "rdy", "radius",
                        "geom_wkb",
                        "wj0", "wi0", "ww", "wh", "fbits", "rbits",
                    ]])
                    continue
                wj0s, wi0s, wws, whs, fbs, rbs = [], [], [], [], [], []
                for row, rr in zip(out.itertuples(), radius):
                    sx, sy = row.sx, row.sy
                    gj0 = int(math.floor((sx - rr) / CELL_SIZE)) - 1
                    gj1 = int(math.ceil((sx + rr) / CELL_SIZE)) + 2
                    gi0 = int(
                        math.floor((WORLD_TOP - sy - rr) / CELL_SIZE)
                    ) - 1
                    gi1 = int(
                        math.ceil((WORLD_TOP - sy + rr) / CELL_SIZE)
                    ) + 2
                    h, w = gi1 - gi0, gj1 - gj0
                    gt = (gj0 * CELL_SIZE, CELL_SIZE, 0.0,
                          WORLD_TOP - gi0 * CELL_SIZE, 0.0, -CELL_SIZE)
                    m = geom.rasterize_mask_rings(rings, gt, h, w)
                    cx = (np.arange(gj0, gj1) + 0.5) * CELL_SIZE
                    cy = WORLD_TOP - (np.arange(gi0, gi1) + 0.5) * CELL_SIZE
                    dx = cx - sx
                    dy = cy - sy
                    base = m & (
                        (dx[None, :] * dx[None, :]
                         + dy[:, None] * dy[:, None]) <= rr * rr
                    )
                    fb = _nearest_piece_bits(
                        base & ((dx[None, :] * row.fdx
                                 + dy[:, None] * row.fdy) >= 0.0),
                        dx, dy,
                    )
                    rb = _nearest_piece_bits(
                        base & ((dx[None, :] * row.rdx
                                 + dy[:, None] * row.rdy) >= 0.0),
                        dx, dy,
                    )
                    wj0s.append(gj0); wi0s.append(gi0)
                    wws.append(w); whs.append(h)
                    fbs.append(fb); rbs.append(rb)
                out["wj0"] = wj0s
                out["wi0"] = wi0s
                out["ww"] = wws
                out["wh"] = whs
                out["fbits"] = fbs
                out["rbits"] = rbs
                outs.append(out[[
                    "line_id", "feat_id", "seq", "sx", "sy",
                    "fdx", "fdy", "rdx", "rdy", "radius", "geom_wkb",
                    "wj0", "wi0", "ww", "wh", "fbits", "rbits",
                ]])
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return cand.mapInPandas(filt, schema=_PAIR_SCHEMA)


_PARTIAL_SCHEMA = (
    "line_id long, feat_id long, seq int, sx double, sy double, "
    "f0 double, f1 double, fc long, r0 double, r1 double, rc long"
)

_LEVEL_SCHEMA = (
    "line_id long, feat_id long, seq int, sx double, sy double, "
    "height double, reversed int"
)


def _two_smallest(vals: np.ndarray):
    """(min, second-or-None, count) of a 1-D value array."""
    n = int(vals.size)
    if n == 0:
        return None, None, 0
    if n == 1:
        return float(vals[0]), None, 1
    two = np.partition(vals, 1)[:2]
    return float(two[0]), float(two[1]), n


def upstream_levels(
    lines: DataFrame,
    polygons: DataFrame,
    tiles: DataFrame,
    *,
    separation: float = 1.0,
    distance: float = 15.0,
    grow: float = 0.5,
) -> DataFrame:
    """Lowest-upstream point levels (upstream.py:213-267).

    ``lines``    : (line_id, geom_wkb) linestrings;
    ``polygons`` : (feat_id, geom_wkb) confining polygons;
    ``tiles``    : merged tile table (cell_id, bytes, fmt, x0, y_top) --
                   min-of-stores composes upstream via op_mosaic.

    Returns (line_id, feat_id, seq, sx, sy, height, reversed): the
    SECOND-smallest data pixel of each sample's forward half-disc
    (clipped to the polygon), with the traversal direction auto-reversed
    per (line, polygon) when the forward levels trend downward.
    """
    samples = sample_directed_points(lines, separation)
    pairs = _pair_with_polygons(
        samples, polygons, grow, distance, MULTIPLIER
    )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def disc_cells(sx: pd.Series, sy: pd.Series, r: pd.Series) -> pd.Series:
        out = []
        for x, y, rr in zip(sx, sy, r):
            out.append(
                covering_cells((x - rr, x + rr, y - rr, y + rr), RES_TILE)
            )
        return pd.Series(out)

    # group samples per covering cell BEFORE the tile join: the join
    # then moves one sample-struct array + one encoded tile per cell,
    # never tile bytes duplicated per sample
    scols = (
        "line_id", "feat_id", "seq", "sx", "sy",
        "fdx", "fdy", "rdx", "rdy", "radius", "geom_wkb",
        "wj0", "wi0", "ww", "wh", "fbits", "rbits",
    )
    per_cell = (
        pairs.withColumn(
            "cell_id", F.explode(disc_cells("sx", "sy", "radius"))
        )
        .groupBy("cell_id")
        .agg(F.collect_list(F.struct(*scols)).alias("samples"))
    )
    cand = per_cell.join(
        tiles.select("cell_id", "bytes", "fmt", "x0", "y_top"), "cell_id"
    )

    def partials(px, t):
        H, W = px.shape
        x0 = float(t.x0)
        y_top = float(t.y_top)
        mask_cache: dict = {}
        rows = []
        for s in t.samples:
            fid = s["feat_id"]
            m = mask_cache.get(fid)
            if m is None:
                gt = (x0, CELL_SIZE, 0.0, y_top, 0.0, -CELL_SIZE)
                m = geom.rasterize_mask(
                    bytes(s["geom_wkb"]), gt, H, W
                )
                mask_cache[fid] = m
            r = s["radius"]
            sx, sy = s["sx"], s["sy"]
            # generous window; the exact predicates decide
            j0 = max(int(math.floor((sx - r - x0) / CELL_SIZE)) - 1, 0)
            j1 = min(int(math.ceil((sx + r - x0) / CELL_SIZE)) + 2, W)
            i0 = max(int(math.floor((y_top - sy - r) / CELL_SIZE)) - 1, 0)
            i1 = min(int(math.ceil((y_top - sy + r) / CELL_SIZE)) + 2, H)
            if j0 >= j1 or i0 >= i1:
                continue
            # pixel-center deltas; expressions mirror the SQL
            # oracle op-for-op so both engines agree to the ulp
            cx = x0 + (np.arange(j0, j1) + 0.5) * CELL_SIZE
            cy = y_top - (np.arange(i0, i1) + 0.5) * CELL_SIZE
            dx = cx - sx
            dy = cy - sy
            in_circle = (
                dx[None, :] * dx[None, :]
                + dy[:, None] * dy[:, None]
            ) <= r * r
            base = (
                in_circle
                & m[i0:i1, j0:j1]
                & (px[i0:i1, j0:j1] != 255)
            )
            if not base.any():
                continue
            fwd = (
                dx[None, :] * s["fdx"] + dy[:, None] * s["fdy"]
            ) >= 0.0
            rev = (
                dx[None, :] * s["rdx"] + dy[:, None] * s["rdy"]
            ) >= 0.0

            def clip_piece(orient_mask, bits):
                # disconnected area: keep only the nearest
                # piece (bits computed globally at pair time,
                # so the cut is consistent across tiles)
                if bits is None:
                    return orient_mask
                wj0, wi0 = int(s["wj0"]), int(s["wi0"])
                ww, wh = int(s["ww"]), int(s["wh"])
                piece = np.unpackbits(
                    np.frombuffer(bytes(bits), dtype=np.uint8),
                    count=wh * ww,
                ).reshape(wh, ww).astype(bool)
                gj = int(round(x0 / CELL_SIZE))
                gi = int(round((WORLD_TOP - y_top) / CELL_SIZE))
                out = np.zeros_like(orient_mask)
                # overlap of tile window rows/cols with the
                # sample's piece window, in global indices
                ri0 = max(gi + i0, wi0)
                ri1 = min(gi + i1, wi0 + wh)
                rj0 = max(gj + j0, wj0)
                rj1 = min(gj + j1, wj0 + ww)
                if ri0 >= ri1 or rj0 >= rj1:
                    return out
                out[ri0 - gi - i0:ri1 - gi - i0,
                    rj0 - gj - j0:rj1 - gj - j0] = piece[
                    ri0 - wi0:ri1 - wi0, rj0 - wj0:rj1 - wj0
                ]
                return orient_mask & out

            fwd = clip_piece(fwd, s["fbits"])
            rev = clip_piece(rev, s["rbits"])
            win = px[i0:i1, j0:j1]
            f0, f1, fc = _two_smallest(
                win[base & fwd].astype(np.float64)
            )
            r0, r1, rc = _two_smallest(
                win[base & rev].astype(np.float64)
            )
            if fc == 0 and rc == 0:
                continue
            rows.append(
                (
                    s["line_id"], fid, s["seq"], sx, sy,
                    f0, f1, fc, r0, r1, rc,
                )
            )
        return rows

    parts = codecs.map_payloads(cand, partials, _PARTIAL_SCHEMA)

    def finalize(pdf: pd.DataFrame) -> pd.DataFrame:
        def merged_level(sub: pd.DataFrame, v0: str, v1: str, vc: str):
            cnt = int(sub[vc].sum())
            if cnt < 2:
                return None
            pool = np.concatenate([
                sub[v0].dropna().to_numpy(dtype=np.float64),
                sub[v1].dropna().to_numpy(dtype=np.float64),
            ])
            return float(np.partition(pool, 1)[1])

        per_seq = []
        for seq, sub in pdf.groupby("seq", sort=True):
            per_seq.append(
                (
                    int(seq),
                    float(sub["sx"].iloc[0]),
                    float(sub["sy"].iloc[0]),
                    merged_level(sub, "f0", "f1", "fc"),
                    merged_level(sub, "r0", "r1", "rc"),
                )
            )
        fwd_levels = [p[3] for p in per_seq if p[3] is not None]
        use_rev = False
        if len(fwd_levels) > 1:
            # mean(first half) > mean(last half), decided by exact
            # cross-multiplication (upstream.py:249-254)
            idx = len(fwd_levels) // 2
            s1 = sum(fwd_levels[:idx])
            s2 = sum(fwd_levels[idx:])
            use_rev = s1 * (len(fwd_levels) - idx) > s2 * idx
        elif not fwd_levels:
            # forward yielded nothing: the reference's zip() would fail
            # before any reversal check -- emit nothing
            return pd.DataFrame(
                columns=[
                    "line_id", "feat_id", "seq", "sx", "sy",
                    "height", "reversed",
                ]
            )
        pick = 4 if use_rev else 3
        rows = [
            (
                int(pdf["line_id"].iloc[0]), int(pdf["feat_id"].iloc[0]),
                p[0], p[1], p[2], p[pick], int(use_rev),
            )
            for p in per_seq
            if p[pick] is not None
        ]
        # reversed chosen but the reversed pass has no levels: the whole
        # case is dropped (upstream.py:256-260)
        return pd.DataFrame(
            rows,
            columns=[
                "line_id", "feat_id", "seq", "sx", "sy",
                "height", "reversed",
            ],
        )

    return parts.groupBy("line_id", "feat_id").applyInPandas(
        finalize, schema=_LEVEL_SCHEMA
    )
