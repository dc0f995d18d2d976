"""floor_level and rgb_zonal against a numpy brute force: every image x
polygon pair is masked directly, with no cell cover and no join, so a
candidate join that drops a pair (a missing or wrong ``pad``, a wrong
envelope predicate) changes the result.

The tiles straddle a join-cell corner (x = 256, y = WORLD_TOP - 256 at
the default resolution), and rectangles end just short of tile
boundaries, so buffer rings reach tiles and cells that the unpadded
envelope does not."""

import numpy as np
import pandas as pd
import pytest

from raster_tools_spark import codecs, geom, wkb
from raster_tools_spark.grid import CELL_SIZE, WORLD_TOP, GeoTransform
from raster_tools_spark.operators import zonal

NODATA = 255
TILE_W, TILE_H = 32, 28  # pixels
X0, Y0 = 224.0, WORLD_TOP - 228.0  # top-left of the 4 x 4 tile block
XS = [X0 + j * TILE_W * CELL_SIZE for j in range(5)]
YS = [Y0 - i * TILE_H * CELL_SIZE for i in range(5)]
MAX_EXTENT = 9.0
MAX_AREA = 40.0
CALC = "np.mean(3.0 * g - r - b)"


def _tiles(bands):
    rng = np.random.default_rng(11 + bands)
    rows = []
    for i in range(4):
        for j in range(4):
            shape = (TILE_H, TILE_W) if bands == 1 else (TILE_H, TILE_W, 3)
            px = rng.integers(0, 256, shape, dtype=np.uint8)
            if bands == 1:
                px[rng.random(shape) < 0.1] = NODATA
            else:
                px[rng.random(shape[:2]) < 0.2] = 0
            rows.append((f"t{i}{j}", codecs.png_encode(px), "png",
                         XS[j], YS[i], TILE_W, TILE_H))
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "fmt", "x0", "y_top", "w", "h"]
    )


def _polygons():
    """Rectangles ending 0.05-0.2 m short of a tile boundary (inside
    the first pixel-center reach of every tested ``dist``), of widths on
    both sides of MAX_EXTENT, plus random stars."""
    rng = np.random.default_rng(5)
    rows = []
    for k in range(24):
        bx = XS[1 + k % 3]
        by = YS[1 + (k // 3) % 3]
        gap = (0.05, 0.1, 0.2)[k % 3]
        wd = float(rng.uniform(1.0, 14.0))
        ht = float(rng.uniform(1.0, 12.0))
        if k % 2:
            x1, x2 = bx - gap - wd, bx - gap
        else:
            x1, x2 = bx + gap, bx + gap + wd
        if k % 4 < 2:
            y1, y2 = by + gap, by + gap + ht
        else:
            y1, y2 = by - gap - ht, by - gap
        rows.append((k, wkb.box_wkb(x1, y1, x2, y2)))
    for k in range(24, 36):
        cx = float(rng.uniform(XS[0], XS[4]))
        cy = float(rng.uniform(YS[4], YS[0]))
        ang = np.sort(rng.uniform(0, 2 * np.pi, int(rng.integers(5, 9))))
        rad = rng.uniform(0.5, 7.0, ang.size)
        rows.append((k, wkb.polygon_wkb(np.column_stack(
            [cx + rad * np.cos(ang), cy + rad * np.sin(ang)]))))
    return pd.DataFrame(rows, columns=["feat_id", "geom_wkb"])


def _decoded(tiles):
    return [
        (t.image_id, codecs.decode(t.bytes, t.fmt), GeoTransform(
            (t.x0, CELL_SIZE, 0.0, t.y_top, 0.0, -CELL_SIZE)))
        for t in tiles.sort_values("image_id").itertuples()
    ]


def _extent(b):
    env = geom.envelope(b)
    return max(env[1] - env[0], env[3] - env[2])


def _floor_reference(tiles, polys, dist, max_extent):
    out = {}
    for p in polys.itertuples():
        if _extent(p.geom_wkb) > max_extent:
            continue
        rings = geom._rings_of(p.geom_wkb)
        vals = np.concatenate([
            px[geom.buffer_ring_mask(rings, gt, *px.shape, dist)]
            for _, px, gt in _decoded(tiles)
        ])
        data = vals[vals != NODATA]
        if data.size:
            out[p.feat_id] = (int(data.size), float(np.percentile(data, 75)))
    return out


def _unpadded_misses(tiles, polys, dist):
    """Pairs whose ring selects a pixel although no pixel center of the
    tile lies in the polygon's unpadded envelope."""
    n = 0
    for p in polys.itertuples():
        x1, x2, y1, y2 = geom.envelope(p.geom_wkb)
        rings = geom._rings_of(p.geom_wkb)
        for _, px, gt in _decoded(tiles):
            h, w = px.shape
            cx1 = gt[0] + CELL_SIZE / 2
            cx2 = gt[0] + (w - 0.5) * CELL_SIZE
            cy2 = gt[3] - CELL_SIZE / 2
            cy1 = gt[3] - (h - 0.5) * CELL_SIZE
            outside = cx1 > x2 or cx2 < x1 or cy1 > y2 or cy2 < y1
            if outside and geom.buffer_ring_mask(
                    rings, gt, h, w, dist).any():
                n += 1
    return n


def _rgb_reference(tiles, polys, max_area):
    out = {}
    for p in polys.itertuples():
        if geom.area(p.geom_wkb) > max_area:
            continue
        sel = np.concatenate([
            px[geom.rasterize_mask(p.geom_wkb, gt, *px.shape[:2])]
            for _, px, gt in _decoded(tiles)
        ]).astype(np.int64)
        r, g, b = sel[:, 0], sel[:, 1], sel[:, 2]
        if r.size == 0 or not (r.any() or g.any() or b.any()):
            continue
        out[p.feat_id] = (int(r.size), zonal.eval_rgb_expr(CALC, r, g, b))
    return out


@pytest.fixture(scope="module")
def layers(spark):
    tiles1, tiles3, polys = _tiles(1), _tiles(3), _polygons()
    schema = ("image_id string, bytes binary, fmt string, x0 double, "
              "y_top double, w int, h int")
    return (
        tiles1, spark.createDataFrame(tiles1, schema),
        tiles3, spark.createDataFrame(tiles3, schema),
        polys, spark.createDataFrame(polys, "feat_id long, geom_wkb binary"),
    )


@pytest.mark.parametrize("dist", [0.5, 1.0, 3.0, 7.25])
def test_floor_level_matches_brute_force(layers, dist, monkeypatch):
    tiles, images, _, _, polys, polys_df = layers
    expect = _floor_reference(tiles, polys, dist, MAX_EXTENT)
    # the fixture must exercise what it guards: the extent filter drops
    # some polygons with ring data but not all, and some rings reach a
    # tile outside the unpadded envelope
    unfiltered = _floor_reference(tiles, polys, dist, np.inf)
    assert 0 < len(expect) < len(unfiltered)
    assert _unpadded_misses(tiles, polys, dist) > 0
    monkeypatch.setattr(zonal, "FLOOR_DIST", dist)
    monkeypatch.setattr(zonal, "FLOOR_MAX_EXTENT", MAX_EXTENT)
    got = {
        r.feat_id: (r.ring_px, r.floor_75)
        for r in zonal.floor_level(images, polys_df).collect()
    }
    assert got.keys() == expect.keys()
    for fid, (n, p75) in expect.items():
        assert got[fid][0] == n
        assert got[fid][1] == pytest.approx(p75, rel=0, abs=1e-9)


def test_rgb_zonal_matches_brute_force(layers, monkeypatch):
    _, _, tiles, images, polys, polys_df = layers
    expect = _rgb_reference(tiles, polys, MAX_AREA)
    assert 0 < len(expect) < len(_rgb_reference(tiles, polys, np.inf))
    monkeypatch.setattr(zonal, "RGB_MAX_AREA", MAX_AREA)
    got = {
        r.feat_id: (r.n_px, r.result)
        for r in zonal.rgb_zonal(images, polys_df, CALC).collect()
    }
    assert got.keys() == expect.keys()
    for fid, (n, res) in expect.items():
        assert got[fid][0] == n
        assert got[fid][1] == pytest.approx(res, rel=1e-12)
