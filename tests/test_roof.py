"""Property tests for the roof composite (reference roof.py:59-205) and
the Delaunay machinery behind it.

The pixel-level checks use triangulation-independent properties:
- a planar z-field is reproduced exactly (up to f4 storage) inside the
  kept cloud's convex hull, for ANY valid triangulation;
- pixels outside the footprint are nodata;
- pixels inside the footprint but outside the hull take the nearest
  kept point's value;
- the foliage cluster (smaller k-NN-graph component) is dropped, the
  sub-min_points path keeps everything.
"""

import numpy as np
import pytest

from raster_tools_spark import codecs, wkb
from raster_tools_spark.functions.triangulate import (
    delaunay, interp_linear,
)
from raster_tools_spark.operators import roof as op_roof
from raster_tools_spark.grid import WORLD_TOP

B, C = 0.0625, 0.125  # plane slopes
X1, X2, Y1, Y2 = 17.0, 66.0, WORLD_TOP - 46.0, WORLD_TOP - 13.0


def _clouds():
    """(roof cluster, foliage cluster) point arrays."""
    roof = []
    for i in range(40):
        for j in range(34):
            px = X1 + 5.0 + j * 0.3
            py = Y1 + 5.0 + i * 0.3
            roof.append((px, py, 10.0 + B * px + C * py))
    fol = []
    fx = X1 + 5.0 + 34 * 0.3 + 2.0
    for i in range(12):
        for j in range(13):
            px = fx + j * 0.3
            py = Y1 + 5.0 + i * 0.3
            fol.append((px, py, 18.0 + B * px + C * py))
    return np.array(roof), np.array(fol)


@pytest.fixture(scope="module")
def raster(spark):
    roof, fol = _clouds()
    pts = [(1, float(x), float(y), float(z))
           for x, y, z in np.vstack([roof, fol])]
    points = spark.createDataFrame(
        pts, "feat_id long, x double, y double, z double"
    )
    polys = spark.createDataFrame(
        [(1, wkb.box_wkb(X1, Y1, X2, Y2))],
        "feat_id long, geom_wkb binary",
    )
    row = op_roof.roof_rasterize(points, polys, edge=0.5).collect()[0]
    px = codecs.decode(bytes(row.bytes), row.fmt)
    return row, px


def test_counts_and_grid(raster):
    row, px = raster
    roof, fol = _clouds()
    assert row.total == len(roof) + len(fol)
    assert row.kept == len(roof)  # foliage component dropped
    # 4 m-aligned snap of the footprint envelope
    assert row.x0 == 16.0 and row.y_top == WORLD_TOP - 12.0
    assert px.shape == (row.h, row.w) and px.dtype == np.float32


def test_clip_outside_footprint(raster):
    row, px = raster
    cx = row.x0 + (np.arange(row.w) + 0.5) * 0.5
    cy = row.y_top - (np.arange(row.h) + 0.5) * 0.5
    outside = (
        (cx[None, :] < X1) | (cx[None, :] > X2)
        | (cy[:, None] < Y1) | (cy[:, None] > Y2)
    )
    assert (px[outside] == op_roof.NODATA_F4).all()
    assert (px[~outside] != op_roof.NODATA_F4).all()


def test_planar_inside_hull(raster):
    row, px = raster
    roof, _ = _clouds()
    hx1, hx2 = roof[:, 0].min(), roof[:, 0].max()
    hy1, hy2 = roof[:, 1].min(), roof[:, 1].max()
    cx = row.x0 + (np.arange(row.w) + 0.5) * 0.5
    cy = row.y_top - (np.arange(row.h) + 0.5) * 0.5
    m = (
        (cx[None, :] > hx1 + 0.5) & (cx[None, :] < hx2 - 0.5)
        & (cy[:, None] > hy1 + 0.5) & (cy[:, None] < hy2 - 0.5)
    )
    assert m.sum() > 100
    expect = 10.0 + B * cx[None, :] + C * cy[:, None]
    assert np.allclose(px[m], np.broadcast_to(expect, px.shape)[m],
                       rtol=1e-5, atol=1e-4)


def test_nearest_outside_hull(raster):
    row, px = raster
    roof, _ = _clouds()
    # footprint's far corner: inside polygon, far from the hull
    cx = row.x0 + (np.arange(row.w) + 0.5) * 0.5
    cy = row.y_top - (np.arange(row.h) + 0.5) * 0.5
    j = int(np.argmin(np.abs(cx - (X2 - 1.25))))
    i = int(np.argmin(np.abs(cy - (Y2 - 1.25))))
    d2 = (roof[:, 0] - cx[j]) ** 2 + (roof[:, 1] - cy[i]) ** 2
    assert px[i, j] == np.float32(roof[np.argmin(d2), 2])


def test_small_cloud_keeps_all():
    rng = np.random.default_rng(3)
    pts = rng.uniform(0, 50, (200, 3))
    assert op_roof.classify_points(pts).all()


def test_classify_drops_minor_component():
    roof, fol = _clouds()
    keep = op_roof.classify_points(np.vstack([roof, fol]))
    assert keep[: len(roof)].all() and not keep[len(roof):].any()


def test_delaunay_triangle_count():
    rng = np.random.default_rng(11)
    pts = rng.uniform(0, 10, (120, 2))
    tri = delaunay(pts)
    # Euler: 2n - 2 - hull_size triangles; hull <= n
    assert 2 * 120 - 2 - 120 <= len(tri) <= 2 * 120 - 3
    # every triangle non-degenerate and circumcircle empty (spot check)
    a, b, c = pts[tri[:, 0]], pts[tri[:, 1]], pts[tri[:, 2]]
    area2 = (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1]) - (
        b[:, 1] - a[:, 1]
    ) * (c[:, 0] - a[:, 0])
    assert (np.abs(area2) > 1e-12).all()


def test_interp_convex_bounds():
    rng = np.random.default_rng(5)
    pts = rng.uniform(0, 10, (80, 2))
    z = rng.uniform(-3, 7, 80)
    q = rng.uniform(2, 8, (500, 2))
    v = interp_linear(pts, z, q[:, 0], q[:, 1])
    fin = np.isfinite(v)
    assert fin.sum() > 400
    assert v[fin].min() >= z.min() - 1e-9
    assert v[fin].max() <= z.max() + 1e-9
