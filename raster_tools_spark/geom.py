"""Vectorized planar geometry predicates (pure numpy; no shapely/GDAL).

Provides the exact-refinement half of the two-phase spatial join
(SURVEY.md J1/J2) and polygon->pixel-mask rasterization with GDAL
``RasterizeLayer`` center-inside semantics (zonal.py:80-87,
groups.py:115-135 in the reference burn a mask and select pixels whose
*centers* fall inside the geometry).

Containment convention (documented, deterministic): even-odd ray cast,
half-open so that for an axis-aligned rectangle a point is inside iff
``xmin <= x < xmax AND ymin <= y < ymax``.  Synthetic data places points
off polygon boundaries so the convention never decides a test case, but
it guarantees bit-identical results across partitionings (north rule).
"""

from __future__ import annotations

from typing import List, Sequence

import numpy as np

from . import wkb as _wkb
from .grid import GeoTransform


def _rings_of(wkb_bytes: bytes) -> List[np.ndarray]:
    """All rings of a polygon/multipolygon as a flat list (even-odd
    parity over the union of rings)."""
    gtype, payload = _wkb.parse(wkb_bytes)
    if gtype == _wkb.POLYGON:
        return payload
    if gtype == _wkb.MULTIPOLYGON:
        return [ring for poly in payload for ring in poly]
    raise ValueError("containment requires polygon or multipolygon")


def _edges_of_rings(rings: Sequence[np.ndarray]):
    """Stack ring edges into (x1, y1, x2, y2) arrays."""
    xs1, ys1, xs2, ys2 = [], [], [], []
    for ring in rings:
        xs1.append(ring[:-1, 0])
        ys1.append(ring[:-1, 1])
        xs2.append(ring[1:, 0])
        ys2.append(ring[1:, 1])
    return (
        np.concatenate(xs1),
        np.concatenate(ys1),
        np.concatenate(xs2),
        np.concatenate(ys2),
    )


def points_in_rings(px, py, rings, chunk=262144):
    """Even-odd PIP for arrays of points against a ring set.

    Returns a boolean array aligned with ``px``/``py``.  Vectorized over
    points x edges, chunked to bound memory.
    """
    px = np.asarray(px, dtype=np.float64).ravel()
    py = np.asarray(py, dtype=np.float64).ravel()
    x1, y1, x2, y2 = _edges_of_rings(rings)
    n_edges = x1.size
    if n_edges == 0:
        return np.zeros(px.shape, dtype=bool)

    out = np.zeros(px.size, dtype=bool)
    step = max(chunk // max(n_edges, 1), 1)
    with np.errstate(divide="ignore", invalid="ignore"):
        for s in range(0, px.size, step):
            e = min(s + step, px.size)
            pyc = py[s:e, None]
            pxc = px[s:e, None]
            straddle = (y1[None, :] > pyc) != (y2[None, :] > pyc)
            xint = x1 + (pyc - y1) * (x2 - x1) / (y2 - y1)
            cross = straddle & (pxc < xint)
            out[s:e] = (cross.sum(axis=1) & 1).astype(bool)
    return out


def points_in_wkb(px, py, wkb_bytes: bytes):
    """PIP of point arrays against a WKB polygon/multipolygon."""
    return points_in_rings(px, py, _rings_of(wkb_bytes))


def rasterize_mask(wkb_bytes: bytes, gt: GeoTransform, height: int, width: int):
    """Burn a polygon onto a ``height x width`` pixel grid.

    True where the *pixel center* is inside -- the reference's
    ``gdal.RasterizeLayer(..., burn_values=[1])`` default semantics
    (zonal.py:80-87).  ``gt`` anchors pixel (0, 0)'s outer corner.
    """
    rings = _rings_of(wkb_bytes)
    return rasterize_mask_rings(rings, gt, height, width)


def rasterize_mask_rings(
    rings, gt: GeoTransform, height: int, width: int
) -> np.ndarray:
    """Clipped + short-circuit rasterization (the 100-TB-minded path):

    1. only pixels inside the polygon envelope are candidates -- the
       rest of the tile is skipped without testing;
    2. if no ring crosses the candidate window, the whole window is
       uniformly in or out: one center test decides it (fast path for
       tiles fully covered by hot polygons);
    3. otherwise ray-cast only the clipped window.
    """
    p, a, b, q, c, d = gt
    mask = np.zeros((height, width), dtype=bool)

    env = _rings_env(rings)
    # pixel-center coordinate of col j: p + a*(j+0.5); assume north-up
    # (b == c == 0), which holds for every grid in this engine
    j0 = max(int(np.floor((env[0] - p) / a - 0.5)), 0)
    j1 = min(int(np.ceil((env[1] - p) / a - 0.5)) + 1, width)
    # rows: y = q + d*(i+0.5), d < 0
    i0 = max(int(np.floor((env[3] - q) / d - 0.5)), 0)
    i1 = min(int(np.ceil((env[2] - q) / d - 0.5)) + 1, height)
    if j0 >= j1 or i0 >= i1:
        return mask

    wx1 = p + a * j0
    wx2 = p + a * j1
    wy2 = q + d * i0
    wy1 = q + d * i1
    crossing = any(
        _bbox_overlap(_ring_env(r), (wx1, wx2, wy1, wy2)) for r in rings
    )
    if not crossing:
        cx = p + a * (j0 + 0.5)
        cy = q + d * (i0 + 0.5)
        if bool(points_in_rings([cx], [cy], rings)[0]):
            mask[i0:i1, j0:j1] = True
        return mask

    _scanline_fill(mask, rings, p, a, q, d, i0, i1, j0, j1)
    return mask


def _scanline_fill(mask, rings, p, a, q, d, i0, i1, j0, j1):
    """Even-odd scanline fill over row centers -- O(rows x edges), not
    O(pixels x edges), with results bit-identical to the per-point ray
    cast (same strict ``cx < xint`` crossing rule):

    per row, sorted edge intersections t1 <= t2 <= ... bound the inside
    intervals [t1, t2), [t3, t4), ... (cx == t_odd is inside because a
    crossing at exactly cx is not counted to the right)."""
    x1e, y1e, x2e, y2e = _edges_of_rings(rings)
    ys = q + d * (np.arange(i0, i1, dtype=np.float64) + 0.5)
    with np.errstate(divide="ignore", invalid="ignore"):
        straddle = (y1e[None, :] > ys[:, None]) != (
            y2e[None, :] > ys[:, None]
        )
        xint = x1e + (ys[:, None] - y1e) * (x2e - x1e) / (y2e - y1e)
    M = np.where(straddle, xint, np.inf)
    M.sort(axis=1)
    counts = straddle.sum(axis=1)
    maxm = int(counts.max()) if counts.size else 0
    if maxm < 2:
        return
    # vectorized interval fill: the same even-odd pairs ((0,1), (2,3),
    # ...; an odd trailing crossing is skipped exactly as the scalar
    # loop did), the same ceil((t - p)/a - 0.5) pixel arithmetic, then
    # one difference-array accumulation instead of a Python loop over
    # rows x intervals
    lo = M[:, 0:maxm - 1:2]
    hi = M[:, 1:maxm:2]
    valid = np.arange(0, maxm - 1, 2)[None, :] < (counts[:, None] - 1)
    with np.errstate(invalid="ignore"):
        jsf = np.ceil((lo - p) / a - 0.5)
        jef = np.ceil((hi - p) / a - 0.5)
    jsf = np.where(valid, jsf, 0.0)
    jef = np.where(valid, jef, 0.0)
    # clamp BEFORE the int cast: ceil yields exact integral floats, so
    # clamping to the integer bounds commutes with the cast while
    # keeping huge intersections (near-horizontal edges) in range
    js = np.clip(jsf, j0, j1).astype(np.int64)
    je = np.clip(jef, j0, j1).astype(np.int64)
    valid &= je > js
    if not valid.any():
        return
    if maxm == 2:
        # one interval per row (every convex ring): a broadcast range
        # test needs no scatter or cumsum
        cols = np.arange(j0, j1)
        inside = (
            valid[:, :1]
            & (cols[None, :] >= js[:, :1])
            & (cols[None, :] < je[:, :1])
        )
        mask[i0:i1, j0:j1] |= inside
        return
    rows, cols = np.nonzero(valid)
    width1 = j1 - j0 + 1
    diff = np.zeros((i1 - i0) * width1, dtype=np.int32)
    np.add.at(diff, rows * width1 + (js[rows, cols] - j0), 1)
    np.add.at(diff, rows * width1 + (je[rows, cols] - j0), -1)
    inside = diff.reshape(i1 - i0, width1).cumsum(axis=1)[:, :-1] > 0
    mask[i0:i1, j0:j1] |= inside


def _ring_env(ring: np.ndarray):
    return (
        ring[:, 0].min(), ring[:, 0].max(),
        ring[:, 1].min(), ring[:, 1].max(),
    )


def _rings_env(rings):
    envs = [_ring_env(r) for r in rings]
    return (
        min(e[0] for e in envs),
        max(e[1] for e in envs),
        min(e[2] for e in envs),
        max(e[3] for e in envs),
    )


def _bbox_overlap(a, b) -> bool:
    """(x1, x2, y1, y2) envelope intersection test.

    Interior-overlap semantics on the ring-bbox side: a ring whose bbox
    merely touches the window edge cannot flip any pixel-center test
    inside the window, so touching does not count as crossing."""
    return not (
        a[1] <= b[0] or a[0] >= b[1] or a[3] <= b[2] or a[2] >= b[3]
    )


def sq_distance_to_rings(px, py, rings, chunk=262144) -> np.ndarray:
    """SQUARED Euclidean distance from each point to the polygon
    BOUNDARY (the ring edges), vectorized points x edges.

    Squared form on purpose: every input here is dyadic (pixel centers,
    integer-ish vertices), so dx*dx + dy*dy stays exactly reproducible
    by an oracle engine, while sqrt would be fine too -- the square
    simply skips it.  Distance to the SOLID polygon is 0 for inside
    points -- combine with points_in_rings.
    """
    px = np.asarray(px, dtype=np.float64).ravel()
    py = np.asarray(py, dtype=np.float64).ravel()
    x1, y1, x2, y2 = _edges_of_rings(rings)
    ex = x2 - x1
    ey = y2 - y1
    ee = ex * ex + ey * ey
    out = np.full(px.size, np.inf)
    step = max(chunk // max(x1.size, 1), 1)
    with np.errstate(divide="ignore", invalid="ignore"):
        for s in range(0, px.size, step):
            e = min(s + step, px.size)
            dx = px[s:e, None] - x1[None, :]
            dy = py[s:e, None] - y1[None, :]
            t = np.where(ee > 0, (dx * ex + dy * ey) / ee, 0.0)
            t = np.clip(t, 0.0, 1.0)
            qx = dx - t * ex
            qy = dy - t * ey
            out[s:e] = (qx * qx + qy * qy).min(axis=1)
    return out


def buffer_ring_mask(
    rings, gt: GeoTransform, height: int, width: int, dist: float
) -> np.ndarray:
    """Pixel-center mask of the BUFFER RING: centers within ``dist`` of
    the polygon but not inside it -- the exact-Euclidean re-expression
    of the reference's ``geometry.Buffer(1).Difference(geometry)`` +
    RasterizeLayer (bag2tif.py:92-120; GEOS approximates the buffer
    arcs with segments, this mask is the exact disc sweep)."""
    p, a, b, q, c, d = gt
    env = _rings_env(rings)
    j0 = max(int(np.floor((env[0] - dist - p) / a - 0.5)), 0)
    j1 = min(int(np.ceil((env[1] + dist - p) / a - 0.5)) + 1, width)
    i0 = max(int(np.floor((env[3] + dist - q) / d - 0.5)), 0)
    i1 = min(int(np.ceil((env[2] - dist - q) / d - 0.5)) + 1, height)
    mask = np.zeros((height, width), dtype=bool)
    if j0 >= j1 or i0 >= i1:
        return mask
    jj, ii = np.meshgrid(
        np.arange(j0, j1), np.arange(i0, i1), indexing="xy"
    )
    cx = p + a * (jj.ravel() + 0.5)
    cy = q + d * (ii.ravel() + 0.5)
    near = sq_distance_to_rings(cx, cy, rings) <= dist * dist
    inside = points_in_rings(cx, cy, rings)
    mask[ii.ravel()[near & ~inside], jj.ravel()[near & ~inside]] = True
    return mask


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area of one ring."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def area(wkb_bytes: bytes) -> float:
    """Even-odd area of polygon/multipolygon: interior rings subtract
    regardless of their winding orientation."""
    gtype, payload = _wkb.parse(wkb_bytes)
    polys = [payload] if gtype == _wkb.POLYGON else payload
    total = 0.0
    for rings in polys:
        total += abs(ring_area(rings[0]))
        for hole in rings[1:]:
            total -= abs(ring_area(hole))
    return total


def envelope(wkb_bytes: bytes):
    """(x1, x2, y1, y2) of any supported WKB geometry."""
    return _wkb.envelope(wkb_bytes)
