"""Seam test for the tiled linear gridding (linear_grid_tiles,
reference zvp2tif.py:55-80): per-tile triangulation over halo-extended
local clouds must equal ONE GLOBAL triangulation wherever triangles are
smaller than the halo -- checked exactly on a band of pixels crossing
the tile seams (a jittered-grid cloud is in general position, so the
Delaunay triangulation is unique and local == global is an equality,
not an approximation)."""

import numpy as np
import pytest

from raster_tools_spark import codecs
from raster_tools_spark.functions import interp as finterp
from raster_tools_spark.functions.triangulate import interp_linear
from raster_tools_spark.grid import CELL_SIZE, WORLD_TOP, pack_cell

RES = 10
TILE = 128.0  # meters at res 10 (256 px)
SPACING = 10.0
PAD = 32.0  # cloud extends past the 2x1 tile block
NODATA = float(np.finfo("f4").min)


def _cloud():
    """Jittered grid cloud over the 2x1-tile block + pad."""
    rng = np.random.default_rng(42)
    xs = np.arange(-PAD, 2 * TILE + PAD, SPACING)
    ys = np.arange(-PAD, TILE + PAD, SPACING)
    gx, gy = np.meshgrid(xs, ys)
    px = gx.ravel() + rng.uniform(-2.5, 2.5, gx.size)
    py = gy.ravel() + rng.uniform(-2.5, 2.5, gx.size)
    z = rng.uniform(-10, 50, gx.size)
    return px, WORLD_TOP - py, z  # world coords (y down from top)


@pytest.fixture(scope="module")
def tiles(spark):
    px, py, z = _cloud()
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y), float(v))
         for i, (x, y, v) in enumerate(zip(px, py, z))],
        "pid long, x double, y double, z double",
    )
    out = finterp.linear_grid_tiles(pts)
    return {
        r.cell_id: (codecs.decode(bytes(r.bytes), r.fmt), r.x0, r.y_top)
        for r in out.collect()
    }


def test_seam_band_equals_global(tiles):
    px, py, z = _cloud()
    pts = np.column_stack([px, py])
    checked = 0
    for (tx, ty) in [(0, 0), (1, 0)]:
        cid = pack_cell(RES, tx, ty)
        assert cid in tiles
        arr, x0, y_top = tiles[cid]
        # bands hugging this tile's right and bottom seams
        for band in ("right", "bottom"):
            if band == "right":
                jj = np.arange(252, 256)
                ii = np.arange(0, 256, 32)
            else:
                ii = np.arange(252, 256)
                jj = np.arange(0, 256, 32)
            J, I = np.meshgrid(jj, ii)
            J, I = J.ravel(), I.ravel()
            inside = (J < arr.shape[1]) & (I < arr.shape[0])
            J, I = J[inside], I[inside]
            cx = x0 + (J + 0.5) * CELL_SIZE
            cy = y_top - (I + 0.5) * CELL_SIZE
            expect = interp_linear(pts, z, cx, cy)
            got = arr[I, J].astype(np.float64)
            exp = np.where(np.isnan(expect), NODATA, expect)
            exp32 = np.asarray(exp, np.float32).astype(np.float64)
            assert np.array_equal(got, exp32), (tx, ty, band)
            checked += len(J)
    assert checked > 80


def test_tile_coverage_and_skip(tiles):
    # the 2x2 block plus a halo ring of partially covered neighbors
    # exists; far-away tiles were skipped
    assert pack_cell(RES, 0, 0) in tiles
    assert pack_cell(RES, 2, 0) in tiles  # pad reaches into column 2
    assert pack_cell(RES, 5, 5) not in tiles
