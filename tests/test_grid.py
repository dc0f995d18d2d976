"""Golden tests for the grid math -- the reference's get_indices
round/floor/ceil rules (raster_tools/utils.py:114-144) and the quadtree
key scheme."""

import math

import numpy as np
import pytest

from raster_tools_spark import grid


REF_GT = grid.GeoTransform((200000.0, 1.0, 0.0, 400007.0, 0.0, -1.0))


class TestGetIndices:
    def test_round_mode(self):
        # envelope in fixture coordinates (fill/tests.py:47-52 grid)
        env = (200001.3, 200004.9, 400001.1, 400005.2)
        assert REF_GT.get_indices(env) == (1, 2, 5, 6)

    def test_banker_rounding(self):
        # 0.5 offsets exercise Python 3 round-half-even, the exact
        # behavior of the reference under py3 (utils.py:130-135)
        env = (200000.5, 200002.5, 400004.5, 400006.5)
        X1, Y1, X2, Y2 = REF_GT.get_indices(env)
        assert X1 == round(0.5) == 0
        assert X2 == round(2.5) == 2
        assert Y1 == round(400007.0 - 400006.5)  # 0.5 -> 0
        assert Y2 == round(400007.0 - 400004.5)  # 2.5 -> 2

    def test_shifted_anchors_origin(self):
        env = (200001.3, 200004.9, 400001.1, 400005.2)
        # round mode: top-left pixel index (col 1, row 2)
        sh = REF_GT.shifted(env)
        assert sh == (200001.0, 1.0, 0.0, 400005.0, 0.0, -1.0)

    def test_scaled(self):
        assert REF_GT.scaled(2, 3) == (200000.0, 2.0, 0.0, 400007.0, 0.0, -3.0)

    def test_get_window(self):
        env = (200001.3, 200004.9, 400001.1, 400005.2)
        w = REF_GT.get_window(env)
        assert w == {"xoff": 1, "yoff": 2, "xsize": 4, "ysize": 4}


class TestCells:
    def test_pack_roundtrip(self):
        for res in (7, 9, 11, 14):
            c = grid.pack_cell(res, 12345, 6789)
            assert tuple(int(v) for v in grid.unpack_cell(c)) == (
                res, 12345, 6789,
            )

    def test_cell_of_xy_bounds(self):
        c = grid.cell_of_xy(1000.0, grid.WORLD_TOP - 1000.0, 9)
        x1, x2, y1, y2 = grid.cell_bounds(c)
        assert x1 <= 1000.0 < x2
        assert y1 < grid.WORLD_TOP - 1000.0 <= y2

    def test_covering_cells_exact(self):
        env = (0.0, 1000.0, grid.WORLD_TOP - 1000.0, grid.WORLD_TOP)
        cells = grid.covering_cells(env, 9)  # 256 m cells -> 4x4
        assert len(cells) == 16
        assert len(set(cells)) == 16
        assert grid.n_covering(env, 9) == 16

    def test_aligned_bottom_edge_keeps_row_below(self):
        # a point on a grid-aligned bottom edge lives in the row below
        edge = grid.cell_edge(9)
        env = (0.0, edge, grid.WORLD_TOP - edge, grid.WORLD_TOP)
        y_bottom = grid.cell_of_xy(1.0, env[2], 9)
        assert int(y_bottom) in grid.covering_cells(env, 9)
        assert grid.n_covering(env, 9) == 2

    def test_n_covering_counts_covering_cells(self):
        """n_covering is len(covering_cells) on aligned, unaligned,
        padded and out-of-world envelopes."""
        rng = np.random.default_rng(13)
        top, size = grid.WORLD_TOP, float(grid.WORLD_SIZE)
        envs = []
        for _ in range(300):
            # quarter-cell lattice at r13 (16 m cells): many edges aligned
            x1, y1 = rng.integers(-64, 256, size=2) * 4.0
            w, h = rng.integers(0, 24, size=2) * 4.0
            envs.append((x1, x1 + w, top - y1 - h, top - y1))
            x1, y1 = rng.uniform(-300.0, 3000.0, size=2)
            w, h = rng.uniform(0.0, 300.0, size=2)
            envs.append((x1, x1 + w, top - y1 - h, top - y1))
        envs += [
            (-500.0, -100.0, top - 50.0, top - 10.0),      # west of world
            (size + 10.0, size + 90.0, 10.0, 20.0),        # east of world
            (10.0, 90.0, top + 10.0, top + 50.0),          # above world
            (10.0, 90.0, -50.0, -10.0),                    # below world
            (-100.0, 100.0, top - 100.0, top + 100.0),     # straddles corner
            (32.0, 32.0, top - 48.0, top - 48.0),          # aligned point
        ]
        for env in envs:
            for res in (9, 11, 13):
                for pad in (0.0, 3.5, 16.0):
                    x1, x2, y1, y2 = env
                    padded = (x1 - pad, x2 + pad, y1 - pad, y2 + pad)
                    assert grid.n_covering(padded, res) == len(
                        grid.covering_cells(env, res, pad)
                    ), (env, res, pad)

    def test_ring_and_disk(self):
        c = grid.cell_of_xy(5000.0, grid.WORLD_TOP - 5000.0, 9)
        assert len(grid.ring_cells(c, 1)) == 8
        # the radius-2 disk is the union of rings 0, 1 and 2
        disk = {x for r in range(3) for x in grid.ring_cells(c, r)}
        assert len(disk) == 25
        assert grid.ring_cells(c, 0) == [int(c)]


class TestAnchor:
    def test_anchor_on_tile_grid(self):
        x0, y_top = grid.anchor_of_phash(np.array([12345, 999999]))
        assert np.all(x0 % grid.TILE_SIZE == 0)
        assert np.all((grid.WORLD_TOP - y_top) % grid.TILE_SIZE == 0)

    def test_anchor_deterministic(self):
        a = grid.anchor_of_phash(np.array([42]))
        b = grid.anchor_of_phash(np.array([42]))
        assert a[0][0] == b[0][0] and a[1][0] == b[1][0]
