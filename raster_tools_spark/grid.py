"""Bit-exact grid math + quadtree cell keys.

This module re-implements the *semantics* of the reference's geo-transform
math (raster_tools/utils.py:13-16,81-162 in /root/reference) as pure
Python/numpy functions with no GDAL/OGR dependency, and layers a
deterministic quadtree cell-key scheme on top of it (the "quadtree-on-H3"
analog demanded by the north rule -- H3/S2 libraries are not available in
this environment, so the hierarchy is an explicit power-of-two quadtree
over the reference grid; the parent/child math is identical in spirit:
``parent(ix, iy) = (ix >> 1, iy >> 1)``).

Everything here is deterministic pure functions of integers/floats so that
tile assignment is bit-identical across parallelism levels (north rule),
and cheap enough to broadcast to every executor.

Reference semantics ported bit-exactly:

- ``get_inverse``        <- raster_tools/utils.py:13-16
- ``GeoTransform.shifted``        <- utils.py:82-92
- ``GeoTransform.scaled``         <- utils.py:94-101
- ``GeoTransform.get_coordinates``<- utils.py:103-112
- ``GeoTransform.get_indices``    <- utils.py:114-144, round mode (Python 3
  banker's rounding); the floor/ceil "inflate" mode has no caller here
- ``GeoTransform.get_slices`` / ``get_window`` <- utils.py:146-162
"""

from __future__ import annotations

import math

import numpy as np

# ---------------------------------------------------------------------------
# World constants (engine grid).
#
# Planar CRS akin to the reference's fixed EPSG:28992 usage
# (rasterize2.py:41, extract.py:61).  The engine world is a square
# [0, WORLD_SIZE) x (0, WORLD_SIZE] with the y axis pointing down from
# WORLD_TOP, cell size CELL_SIZE meters -- mirroring the reference's
# canonical 0.5 m cellsize (rasterize2.py:44, extract.py:57).
# ---------------------------------------------------------------------------

CELL_SIZE = 0.5            # meters per pixel (reference canonical cellsize)
TILE_PX = 256              # canonical tile edge, pixels
TILE_SIZE = TILE_PX * CELL_SIZE   # 128.0 m per canonical tile
WORLD_SIZE = 2 ** 19       # 524288 m  (4096 x 4096 canonical tiles)
WORLD_TOP = float(WORLD_SIZE)     # y of the top edge (row 0)
N_TILES_AXIS = int(WORLD_SIZE // TILE_SIZE)  # 4096

# Quadtree resolutions: cell edge at resolution r is 2**(17-r) meters.
#   r7 = 1024 m, r8 = 512 m, r9 = 256 m, r10 = 128 m (canonical tile),
#   r11 = 64 m.  RES_MIN..RES_MAX bound the hierarchy.
RES_MIN = 0
RES_MAX = 14
RES_TILE = 10              # resolution whose cell == one canonical tile
JOIN_RES = 9               # default PIP-join resolution (256 m cells)

_RES_SHIFT = 56
_IX_SHIFT = 28
_IDX_MASK = (1 << 28) - 1


def cell_edge(res: int) -> float:
    """Cell edge length in meters at quadtree resolution ``res``."""
    return float(2 ** (17 - res))


# ---------------------------------------------------------------------------
# Affine geo-transform math (bit-exact port of utils.py:13-16, 81-162).
# ---------------------------------------------------------------------------

def get_inverse(a: float, b: float, c: float, d: float):
    """Inverse of a 2x2 matrix ((a, b), (c, d)). utils.py:13-16."""
    D = 1 / (a * d - b * c)
    return d * D, -b * D, -c * D, a * D


class GeoTransform(tuple):
    """GDAL-style 6-tuple affine transform ``(p, a, b, q, c, d)``.

    ``x = p + a*j + b*i``; ``y = q + c*j + d*i`` for pixel indices
    ``(i, j)`` (row, col).  Port of raster_tools/utils.py:81-162.
    """

    def shifted(self, envelope) -> "GeoTransform":
        """Re-anchor origin to the envelope's top-left grid point.

        utils.py:82-92.  ``envelope`` is ``(x1, x2, y1, y2)`` as returned
        by OGR ``GetEnvelope`` (minx, maxx, miny, maxy).
        """
        values = list(self)
        index = self.get_indices(envelope)[1::-1]
        values[0], values[3] = self.get_coordinates(index)
        return self.__class__(values)

    def scaled(self, w, h) -> "GeoTransform":
        """Scale cell size by (w, h). utils.py:94-101."""
        p, a, b, q, c, d = self
        return self.__class__([p, a * w, b * h, q, c * w, d * h])

    def get_coordinates(self, indices):
        """(i, j) pixel indices -> (x, y) world coordinates. utils.py:103-112."""
        p, a, b, q, c, d = self
        i, j = indices
        return p + a * j + b * i, q + c * j + d * i

    def get_indices(self, envelope):
        """Envelope -> integer pixel window ``(X1, Y1, X2, Y2)``.

        utils.py:114-144 in its round mode: Python 3 ``round``
        (banker's rounding) on both corners.
        """
        x1, x2, y1, y2 = envelope

        p, a, b, q, c, d = self
        e, f, g, h = get_inverse(a, b, c, d)

        X1 = int(round(e * (x1 - p) + f * (y2 - q)))
        Y1 = int(round(g * (x1 - p) + h * (y2 - q)))
        X2 = int(round(e * (x2 - p) + f * (y1 - q)))
        Y2 = int(round(g * (x2 - p) + h * (y1 - q)))

        return X1, Y1, X2, Y2

    def get_slices(self, envelope):
        """utils.py:146-153."""
        x1, y1, x2, y2 = self.get_indices(envelope)
        return slice(y1, y2), slice(x1, x2)

    def get_window(self, envelope):
        """utils.py:155-162."""
        x1, y1, x2, y2 = self.get_indices(envelope)
        return {"xoff": x1, "yoff": y1, "xsize": x2 - x1, "ysize": y2 - y1}


# ---------------------------------------------------------------------------
# Quadtree cell keys.
# ---------------------------------------------------------------------------

def pack_cell(res, ix, iy):
    """Pack (res, ix, iy) into an int64 cell id.  Vectorized-safe."""
    return (
        (np.int64(res) << _RES_SHIFT)
        | (np.int64(ix) << _IX_SHIFT)
        | np.int64(iy)
    )


def unpack_cell(cell_id):
    """Inverse of :func:`pack_cell`."""
    cell_id = np.int64(cell_id)
    res = cell_id >> _RES_SHIFT
    ix = (cell_id >> _IX_SHIFT) & _IDX_MASK
    iy = cell_id & _IDX_MASK
    return res, ix, iy


def cell_of_xy(x, y, res):
    """World (x, y) -> packed cell id at ``res``.

    Uses the same floor convention as the reference's block index
    (rextract.py:108-141 scales the geo transform then floors into it).
    Accepts scalars or numpy arrays.
    """
    edge = cell_edge(res)
    ix = np.floor(np.asarray(x, dtype=np.float64) / edge).astype(np.int64)
    iy = np.floor((WORLD_TOP - np.asarray(y, dtype=np.float64)) / edge).astype(
        np.int64
    )
    return pack_cell(np.int64(res), ix, iy)


def cell_bounds(cell_id):
    """Packed cell id -> world envelope (x1, x2, y1, y2)."""
    res, ix, iy = unpack_cell(cell_id)
    edge = 2.0 ** (17 - np.asarray(res, dtype=np.float64))
    x1 = ix * edge
    y2 = WORLD_TOP - iy * edge
    return x1, x1 + edge, y2 - edge, y2


def _cover_range(envelope, res, pad):
    """Index ranges ``(jx1, jx2, jy1, jy2)``, half-open and clamped to
    the world, of the cells at ``res`` that cover ``envelope`` widened
    by ``pad``: the one place that knows the cover convention."""
    x1, x2, y1, y2 = envelope
    x1, x2, y1, y2 = x1 - pad, x2 + pad, y1 - pad, y2 + pad
    edge = cell_edge(res)
    jx1 = int(math.floor(x1 / edge))
    jx2 = max(int(math.ceil(x2 / edge)), jx1 + 1)
    jy1 = int(math.floor((WORLD_TOP - y2) / edge))
    jy2 = max(int(math.floor((WORLD_TOP - y1) / edge)) + 1, jy1 + 1)
    # clamp to the world: negative indices would smear into the res/ix
    # bit fields of pack_cell and collapse distinct out-of-world
    # regions onto one garbage id
    n_axis = 1 << (res + 2)  # WORLD_SIZE / cell_edge(res)
    return max(jx1, 0), min(jx2, n_axis), max(jy1, 0), min(jy2, n_axis)


def covering_cells(envelope, res, pad=0.0):
    """All cell ids at ``res`` whose square intersects ``envelope``.

    The bbox-prejoin key generator: the Spark-side analog of the
    reference's envelope ``&&`` prefilter (rasterize2.py:151-158,
    datasources.py:28-33).  An envelope whose left, right or top edge
    only touches a shared cell edge does not pull in that neighbor
    (pad to widen).  The bottom edge is closed: the row containing an
    exactly grid-aligned bottom edge is kept, because the PIP
    convention (geom.py) counts ``y == ymin`` as inside, so a point on
    that edge lives in the row BELOW and must still find the polygon
    in the cell-key equi-join.  Cells outside the world are dropped.
    """
    jx1, jx2, jy1, jy2 = _cover_range(envelope, res, pad)
    out = []
    for iy in range(jy1, jy2):
        for ix in range(jx1, jx2):
            out.append(int(pack_cell(res, ix, iy)))
    return out


def n_covering(envelope, res):
    """Count of :func:`covering_cells` (unpadded) without materializing
    them."""
    jx1, jx2, jy1, jy2 = _cover_range(envelope, res, 0.0)
    return max(jx2 - jx1, 0) * max(jy2 - jy1, 0)


def ring_cells(cell_id, k=1):
    """Cells in the square ring at Chebyshev distance exactly ``k``
    around ``cell_id`` (the grid analog of ``h3.grid_ring`` used for
    halo joins and kNN ring expansion, SURVEY.md J6/W1)."""
    res, ix, iy = (int(v) for v in unpack_cell(cell_id))
    if k == 0:
        return [int(cell_id)]
    out = []
    for dy in range(-k, k + 1):
        for dx in range(-k, k + 1):
            if max(abs(dx), abs(dy)) != k:
                continue
            jx, jy = ix + dx, iy + dy
            if jx < 0 or jy < 0:
                continue
            out.append(int(pack_cell(res, jx, jy)))
    return out


# ---------------------------------------------------------------------------
# Image anchoring (FIXTURES.md section 1: phash drives the grid anchor).
# ---------------------------------------------------------------------------

_ANCHOR_MULT = np.int64(2654435761)          # Knuth multiplicative hash
_ANCHOR_MASK = np.int64(N_TILES_AXIS - 1)    # 4095


def anchor_of_phash(phash):
    """Deterministic ``phash -> (x0, y_top)`` world anchor on the
    canonical tile grid.  Pure integer ops then exact dyadic float
    math, so the result is bit-identical everywhere.

    Mirrors the reference's re-anchoring role of
    ``geo_transform.shifted(geometry)`` (retile.py:47 -> utils.py:82-92):
    every image sits exactly on a canonical 128 m tile corner.
    """
    p = np.asarray(phash, dtype=np.int64)
    mixed = (p * _ANCHOR_MULT) & np.int64((1 << 62) - 1)
    tx = (mixed >> np.int64(20)) & _ANCHOR_MASK
    ty = (mixed >> np.int64(2)) & _ANCHOR_MASK
    x0 = tx.astype(np.float64) * TILE_SIZE
    y_top = WORLD_TOP - ty.astype(np.float64) * TILE_SIZE
    return x0, y_top
