"""Halo-exchange stencil tests: a 2x2 tile grid must produce the same
result as running the kernel on the stitched global array (tile seams
invisible -- the point of the halo join).  Besides the shipped
hillshade, the halo is driven with test kernels: 3x3 min/max filters
and a margin-2 smoothing kernel."""

import numpy as np
import pandas as pd
import pytest

from raster_tools_spark import codecs
from raster_tools_spark.grid import pack_cell
from raster_tools_spark.operators import focal

TILE = 64


def _global_array(seed=5):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 255, size=(2 * TILE, 2 * TILE), dtype=np.uint8)


def _tiles_df(spark, g):
    rows = []
    for ty in range(2):
        for tx in range(2):
            px = g[ty * TILE : (ty + 1) * TILE, tx * TILE : (tx + 1) * TILE]
            rows.append(
                (int(pack_cell(10, 100 + tx, 200 + ty)),
                 codecs.png_encode(px), "png")
            )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["cell_id", "bytes", "fmt"])
    )


def _stitch(rows):
    out = np.zeros((2 * TILE, 2 * TILE), dtype=np.uint8)
    for r in rows:
        from raster_tools_spark.grid import unpack_cell

        _, ix, iy = (int(v) for v in unpack_cell(r.cell_id))
        tx, ty = ix - 100, iy - 200
        out[ty * TILE : (ty + 1) * TILE, tx * TILE : (tx + 1) * TILE] = (
            codecs.png_decode(bytes(r.bytes))
        )
    return out


def _reference(kernel, g, margin):
    padded = np.pad(g, margin, mode="edge")
    return kernel(padded)[margin:-margin, margin:-margin]


# The test kernels are closures built by factories: Spark ships a
# closure to its Python workers by value, while a top-level function of
# this module would be pickled by reference to a module the workers
# cannot import.

def _smooth_kernel():
    """3x3 restore-smoothing kernel (fill/fill.py:41-51)."""
    from raster_tools_spark.fillnodata import KERNEL

    def kernel(padded):
        acc = np.zeros(padded.shape, dtype=np.float64)
        p = np.pad(padded.astype(np.float64), 1, mode="symmetric")
        for di in range(3):
            for dj in range(3):
                acc += KERNEL[di, dj] * p[
                    di : di + padded.shape[0], dj : dj + padded.shape[1]
                ]
        return np.clip(np.round(acc), 0, 255).astype(np.uint8)

    return kernel


def _extreme_filter3(reduce):
    """3x3 minimum/maximum filter (flow_fil.py:34-41 depression edge,
    shadow.py:126-127 widening)."""

    def kernel(padded):
        p = np.pad(padded, 1, mode="edge")
        out = padded.copy()
        for di in range(3):
            for dj in range(3):
                reduce(
                    out,
                    p[di : di + padded.shape[0], dj : dj + padded.shape[1]],
                    out=out,
                )
        return out

    return kernel


@pytest.mark.parametrize(
    "kernel,margin",
    [
        (_extreme_filter3(np.minimum), 1),
        (_extreme_filter3(np.maximum), 1),
        (focal.zevenbergen_thorne, 1),
        (_smooth_kernel(), 2),
    ],
    ids=["min3", "max3", "hillshade", "smooth"],
)
def test_seamless_vs_global(spark, kernel, margin):
    g = _global_array()
    tiles = _tiles_df(spark, g)
    out = focal.halo_stencil(
        tiles, kernel, margin=margin, tile_px=TILE
    ).collect()
    assert len(out) == 4
    got = _stitch(out)
    exp = _reference(kernel, g, margin)
    np.testing.assert_array_equal(got, exp)


def test_hillshade_golden_values():
    # flat surface -> uniform shade value sin(45 deg) mapped to u1
    flat = np.full((8, 8), 100, dtype=np.uint8)
    out = focal.zevenbergen_thorne(flat)
    expected = int(1 + 254 * np.sin(np.radians(45)))
    assert (out == expected).all()

    # a west-facing slope lit from azimuth 315 is brighter than flat
    xs = np.tile(np.arange(8, dtype=np.uint8) * 10, (8, 1))
    sloped = focal.zevenbergen_thorne(xs[:, ::-1])
    assert sloped[4, 4] != out[4, 4]


def test_aspect_octant_kernel_ramps():
    import numpy as np

    from raster_tools_spark.operators.focal import aspect_octant_kernel

    # east-ascending ramp: gradient purely in x -> one non-flat octant
    ramp = np.tile(np.arange(8.0), (8, 1))
    cls = aspect_octant_kernel(ramp)
    inner = cls[1:-1, 1:-1]
    assert len(np.unique(inner)) == 1 and inner[0, 0] != 8
    # flat plane -> class 8 everywhere
    assert (aspect_octant_kernel(np.full((6, 6), 3.0)) == 8).all()
    # transposing the ramp flips the |gx|>|gy| bit and the axis bits
    cls_t = aspect_octant_kernel(ramp.T)
    assert cls_t[2, 2] != cls[2, 2]
