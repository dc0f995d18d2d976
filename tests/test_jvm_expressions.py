"""The JVM expressions that replaced Python stages: the PIP ray cast
(pip._inside) must equal geom.points_in_rings point for point, the
image cover (zonal._image_cover_udf) must equal the half-open grid
cover cell for cell, and the zonal merge must keep the nodata edge
(features with no data pixel).  The percentile expression is checked
in test_operators_spark."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_tools_spark import codecs, geom, wkb
from raster_tools_spark import grid
from raster_tools_spark.grid import CELL_SIZE, WORLD_TOP
from raster_tools_spark.operators import pip, zonal


# ---- image cover -----------------------------------------------------------


def _half_open_cover(x0, y_top, w, h, res):
    """Reference: the cells at ``res`` whose half-open squares
    ``[x1, x2) x [y1, y2)`` the tile's pixel extent intersects, clamped
    to the world, in the same floor/ceil double arithmetic and the same
    row-major order as the JVM expression.  Pixel centers are strictly
    interior, so no closed bottom row is needed."""
    import math

    edge = grid.cell_edge(res)
    jx1 = math.floor(x0 / edge)
    jx2 = max(math.ceil((x0 + w * CELL_SIZE) / edge), jx1 + 1)
    jy1 = math.floor((WORLD_TOP - y_top) / edge)
    jy2 = max(
        math.ceil((WORLD_TOP - (y_top - h * CELL_SIZE)) / edge), jy1 + 1
    )
    n_axis = 1 << (res + 2)
    jx1, jx2 = max(jx1, 0), min(jx2, n_axis)
    jy1, jy2 = max(jy1, 0), min(jy2, n_axis)
    return [int(grid.pack_cell(res, ix, iy))
            for iy in range(jy1, jy2) for ix in range(jx1, jx2)]


def test_image_cover_matches_half_open_cover(spark):
    size = float(grid.WORLD_SIZE)
    rng = np.random.default_rng(21)
    tiles = []
    for w, h in ((256, 256), (250, 100), (100, 250), (1, 1)):
        # aligned: anchors on the 128 m canonical tile grid
        for tx, ty in ((0, 0), (3, 5), (4095, 4095), (17, 2)):
            tiles.append((tx * 128.0, WORLD_TOP - ty * 128.0, w, h))
        # unaligned: anchors anywhere, some on the quarter-pixel lattice
        for _ in range(12):
            x0, dy = rng.uniform(0.0, 5000.0, size=2)
            tiles.append((float(x0), WORLD_TOP - float(dy), w, h))
            x0, dy = rng.integers(0, 20000, size=2) * 0.125
            tiles.append((float(x0), WORLD_TOP - float(dy), w, h))
    tiles += [
        # edge-clipped: straddling the world's west, north, east and
        # south edges
        (-40.0, WORLD_TOP - 300.0, 256, 256),
        (300.0, WORLD_TOP + 60.0, 256, 256),
        (size - 50.0, 5000.0, 256, 256),
        (700.0, 30.0, 256, 256),
        (-64.0, WORLD_TOP + 64.0, 256, 256),
        # out of world: entirely west, north, east, south
        (-300.0, WORLD_TOP - 10.0, 256, 256),
        (10.0, WORLD_TOP + 300.0, 256, 256),
        (size + 1.0, 5000.0, 256, 256),
        (10.0, -1.0, 256, 256),
    ]
    df = spark.createDataFrame(
        tiles, "x0 double, y_top double, w int, h int"
    )
    for res in (9, 10, 11):
        got = df.select(
            zonal._image_cover_udf(res)(
                F.col("x0"), F.col("y_top"), F.col("w"), F.col("h")
            ).alias("cells")
        ).collect()
        for t, r in zip(tiles, got):
            assert list(r.cells) == _half_open_cover(*t, res), (t, res)


# ---- ray cast ------------------------------------------------------------


def _star(n, r_out, r_in, cx, cy, step):
    """n-point star, vertices rounded to a ``step`` lattice."""
    t = np.arange(2 * n) * np.pi / n
    r = np.where(np.arange(2 * n) % 2 == 0, r_out, r_in)
    ring = np.c_[cx + r * np.cos(t), cy + r * np.sin(t)]
    return np.round(ring / step) * step


def _square(x1, y1, x2, y2):
    return [(x1, y1), (x2, y1), (x2, y2), (x1, y2)]


def _lattice(x1, x2, y1, y2, step):
    xs = np.arange(x1, x2 + step / 2, step)
    ys = np.arange(y1, y2 + step / 2, step)
    gx, gy = np.meshgrid(xs, ys)
    return gx.ravel(), gy.ravel()


def _jvm_inside(spark, wkbs, px, py):
    """(feat_id, point index) pairs the JVM ray cast keeps, with edges
    taken from the polygon-meta UDF exactly as pip_join takes them."""
    polys = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(wkbs)],
        "feat_id long, geom_wkb binary",
    )
    edges = polys.select(
        "feat_id",
        pip._poly_meta_udf(9, -1)(F.col("geom_wkb"))["edges"].alias("e"),
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(len(px)), "cx": px, "cy": py})
    )
    rows = pts.crossJoin(F.broadcast(edges)).filter(
        pip._inside(F.col("cx"), F.col("cy"), F.col("e"))
    ).select("feat_id", "i").collect()
    return {(r.feat_id, r.i) for r in rows}


def _numpy_inside(wkbs, px, py):
    out = set()
    for fid, b in enumerate(wkbs):
        out |= {(fid, int(i)) for i in
                np.flatnonzero(geom.points_in_wkb(px, py, b))}
    return out


def _assert_same(spark, wkbs, px, py):
    want = _numpy_inside(wkbs, px, py)
    assert _jvm_inside(spark, wkbs, px, py) == want
    return want


@pytest.mark.parametrize("step", [0.25, 0.125])
def test_ray_cast_lattice_ties(spark, step):
    """Vertices on a 1/4 lattice and points on a 1/4 or 1/8 lattice:
    points land exactly on vertices and edges, where the half-open
    rule decides.  Covers a star with a square hole, a rectilinear
    staircase (horizontal and vertical edges) and a multipolygon whose
    third part sits inside the first part's hole."""
    star = _star(20, 3.75, 1.5, 4.0, 4.0, 0.25)
    hole = _square(3.25, 3.25, 4.75, 4.75)
    stairs = [(0, 0), (6, 0), (6, 1.5), (4.5, 1.5), (4.5, 3.25),
              (2.25, 3.25), (2.25, 5), (0, 5)]
    multi = wkb.multipolygon_wkb([
        wkb.polygon_wkb(star, [hole]),
        wkb.polygon_wkb(_square(8.5, 0.25, 9.75, 7.5)),
        wkb.polygon_wkb(_square(3.75, 3.75, 4.25, 4.25)),
    ])
    wkbs = [wkb.polygon_wkb(star, [hole]), wkb.polygon_wkb(stairs), multi]
    px, py = _lattice(-0.5, 10.0, -0.5, 8.5, step)
    want = _assert_same(spark, wkbs, px, py)
    # the lattice really exercises both outcomes on every geometry
    for fid in range(len(wkbs)):
        n_in = sum(1 for f, _ in want if f == fid)
        assert 0 < n_in < len(px)


def test_ray_cast_zero_area_rings(spark):
    """A collinear ring and a single-point ring have no inside; their
    horizontal/vertical edges never straddle or divide by zero."""
    wkbs = [
        wkb.polygon_wkb([(1, 1), (3, 3), (5, 5), (1, 1)]),
        wkb.polygon_wkb([(2, 2), (2, 2), (2, 2), (2, 2)]),
        wkb.polygon_wkb([(0, 4), (6, 4), (0, 4)]),
        wkb.polygon_wkb([(4, 0), (4, 6), (4, 0)]),
    ]
    px, py = _lattice(-0.5, 6.5, -0.5, 6.5, 0.25)
    assert _assert_same(spark, wkbs, px, py) == set()


def test_ray_cast_points_on_computed_crossings(spark):
    """Points placed exactly on numpy's rounded crossing x of a ring with
    non-lattice vertices, and one ulp to either side: any change to the
    operation order of the crossing arithmetic moves some crossings by
    an ulp and flips their point."""
    rng = np.random.default_rng(17)
    ring = _star(100, 40.0, 25.0, 50.0, 50.0, 1e-9)
    ring = ring + rng.uniform(-0.3, 0.3, ring.shape)
    x1, y1, x2, y2 = geom._edges_of_rings([np.vstack([ring, ring[:1]])])
    pxs, pys = [], []
    for cy in rng.uniform(12.0, 88.0, 60):
        s = (y1 > cy) != (y2 > cy)
        xint = x1[s] + (cy - y1[s]) * (x2[s] - x1[s]) / (y2[s] - y1[s])
        for x in (np.nextafter(xint, -np.inf), xint,
                  np.nextafter(xint, np.inf)):
            pxs.append(x)
            pys.append(np.full(x.size, cy))
    px, py = np.concatenate(pxs), np.concatenate(pys)
    assert len(_assert_same(spark, [wkb.polygon_wkb(ring)], px, py)) > 0


def test_ray_cast_2000_edge_ring(spark):
    star = _star(1000, 60.0, 35.0, 64.0, 64.0, 0.125)
    px, py = _lattice(2.0, 126.0, 2.0, 126.0, 2.125)
    rng = np.random.default_rng(5)
    # plus vertices and edge midpoints of the ring itself
    k = rng.choice(len(star), 400, replace=False)
    mid = (star[k] + star[(k + 1) % len(star)]) / 2
    px = np.r_[px, star[k, 0], mid[:, 0]]
    py = np.r_[py, star[k, 1], mid[:, 1]]
    b = wkb.polygon_wkb(star)
    assert geom._edges_of_rings(geom._rings_of(b))[0].size == 2000
    assert len(_assert_same(spark, [b], px, py)) > 0


# ---- zonal merge at the nodata edge --------------------------------------


def test_zonal_nodata_feature_and_mixed_partials(spark):
    """Feature 1 sees only nodata pixels (size > 0, cnt = 0): its stats
    are null.  Feature 2's partials come from two tasks, one with
    cnt = 0 (image A is all nodata) and one with data: the merge skips
    the empty partial, so min/max stay finite."""
    a = np.full((8, 8), 255, dtype=np.uint8)
    b = np.arange(64, dtype=np.uint8).reshape(8, 8)
    rows = [
        ("A", bytearray(codecs.png_encode(a)), "png", 0.0, WORLD_TOP, 8, 8),
        ("B", bytearray(codecs.png_encode(b)), "png", 4.0, WORLD_TOP, 8, 8),
    ]
    imgs = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        "image_id string, bytes binary, fmt string, x0 double, "
        "y_top double, w int, h int",
    )
    polys = spark.createDataFrame(
        [(1, bytearray(wkb.box_wkb(0.5, WORLD_TOP - 3.5, 2.5,
                                   WORLD_TOP - 0.5))),
         (2, bytearray(wkb.box_wkb(2.0, WORLD_TOP - 3.0, 6.0,
                                   WORLD_TOP - 1.0)))],
        "feat_id long, geom_wkb binary",
    )
    got = {r.feat_id: tuple(r) for r in
           zonal.zonal_stats(imgs, polys).collect()}
    assert got[1] == (1, 24, 0) + (None,) * 7
    # feature 2's data pixels: rows 2..5, columns 0..3 of image B
    data = b[2:6, 0:4].ravel().astype(np.float64)
    assert got[2] == (
        2, 32, 16, data.mean(), data.std(),
        data.min(), data.max(), float(np.percentile(data, 50)),
        float(np.percentile(data, 75)), None,
    )
