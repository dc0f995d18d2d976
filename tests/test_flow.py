"""D8 flow kernel goldens (hand-derivable cases) + distributed halo
seamlessness."""

import numpy as np
import pandas as pd
import pytest

from raster_tools_spark import flow
from references import accumulate


class TestFlowDirection:
    def test_plane_flows_west(self):
        # elevation increases eastward -> steepest descent is west (32)
        v = np.tile(np.arange(8, dtype=float) * 10, (8, 1))
        d = flow.calculate_flow_direction(v)
        assert (d[1:-1, 1:-1] == 32).all()

    def test_plane_flows_north(self):
        # elevation increases with row index -> flow to smaller rows.
        # course for offset (-1, 0) is COURSES[0,1] = 128
        v = np.tile(np.arange(8, dtype=float)[:, None] * 10, (1, 8))
        d = flow.calculate_flow_direction(v)
        assert (d[1:-1, 1:-1] == 128).all()

    def test_edges_point_outward(self):
        v = np.zeros((5, 5))
        d = flow.calculate_flow_direction(v)
        assert d[0, -1] == 1 and d[-1, -1] == 4
        assert d[0, 0] == 64 and d[-1, 0] == 16
        assert (d[1:-1, -1] == 2).all()
        assert (d[0, 1:-1] == 128).all()

    def test_lut_resolves_ties_to_resultant(self):
        lut = flow.get_look_up_table()
        # single courses map to themselves
        for n in (1, 2, 4, 8, 16, 32, 64, 128):
            assert lut[n] == n
        assert lut[0] == 0
        # tie between east (2) and south (8): the reference picks the
        # best-dot-product course AMONG THE SET ones (not the
        # resultant 4); ties break by NUMBERS order -> east (2)
        # (flow_dir.py:47-53)
        assert lut[2 | 8] == 2
        # east+southeast+south: resultant points exactly southeast ->
        # the southeast course has strictly the best dot product
        assert lut[2 | 4 | 8] == 4

    def test_pit_unresolved_stays_zero_center(self):
        v = np.full((7, 7), 10.0)
        v[3, 3] = 0.0  # pit: center has no downhill neighbor
        d = flow.calculate_flow_direction(v)
        # neighbors of the pit drain into it; flat area resolution fills
        # the rest; the pit itself must not get a valid course toward
        # higher ground unless flat-resolved -- accept either 0 or a
        # resolved course, but accumulation must still terminate
        acc = accumulate(d)
        assert acc.shape == (7, 7)


class TestDepressionFill:
    def test_single_pit_filled(self):
        v = np.full((5, 5), 8.0)
        v[2, 2] = 1.0
        flow.fill_simple_depressions(v)
        assert v[2, 2] == 8.0

    def test_non_depression_untouched(self):
        v = np.tile(np.arange(5, dtype=float), (5, 1))
        before = v.copy()
        flow.fill_simple_depressions(v)
        np.testing.assert_array_equal(v, before)

    def test_two_cell_depression_not_simple(self):
        # two adjacent low cells: each has a low neighbor -> the 8-min
        # of the pair includes the partner, only partially raised
        v = np.full((5, 5), 9.0)
        v[2, 2] = 1.0
        v[2, 3] = 1.0
        flow.fill_simple_depressions(v)
        assert v[2, 2] == 1.0 and v[2, 3] == 1.0  # stays (complex case)


class TestAccumulate:
    def test_row_flowing_east(self):
        # single row, all flowing east (2): cell k accumulates k units
        d = np.full((1, 6), 2, dtype="u1")
        acc = accumulate(d)
        np.testing.assert_array_equal(acc[0], np.arange(6))

    def test_confluence(self):
        # two rows draining into a middle row flowing east
        d = np.array(
            [
                [8, 8, 8],    # south
                [2, 2, 2],    # east
                [128, 128, 128],  # north
            ],
            dtype="u1",
        )
        acc = accumulate(d)
        # middle row: cell(1,0) gets (0,0)+(2,0)=2; (1,1) gets
        # 2 neighbors + upstream 3 = 5; (1,2) gets 2 + 6 = 8
        np.testing.assert_array_equal(acc[1], [2, 5, 8])

    def test_undefined_cells_absorb(self):
        d = np.zeros((3, 3), dtype="u1")
        acc = accumulate(d)
        assert (acc == 0).all()


class TestDistributedFlowDir:
    def test_seamless_on_tiles(self, spark):
        from raster_tools_spark import codecs
        from raster_tools_spark.grid import pack_cell, unpack_cell
        from raster_tools_spark.operators import focal

        TILE = 64
        rng = np.random.default_rng(3)
        # smooth-ish DEM: few flats wider than the margin
        gx, gy = np.meshgrid(np.arange(2 * TILE), np.arange(2 * TILE))
        g = (
            (gx * 0.7 + gy * 0.3 + 20 * np.sin(gx / 9.0)
             + rng.normal(0, 0.3, gx.shape))
        )
        g = ((g - g.min()) / (g.max() - g.min()) * 250).astype(np.uint8)

        rows = []
        for ty in range(2):
            for tx in range(2):
                px = g[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE]
                rows.append(
                    (int(pack_cell(10, 50 + tx, 60 + ty)),
                     codecs.png_encode(px), "png")
                )
        tiles = spark.createDataFrame(
            pd.DataFrame(rows, columns=["cell_id", "bytes", "fmt"])
        )
        margin = 4

        def kernel(padded):
            return flow.calculate_flow_direction(
                padded.astype(np.float64)
            ).astype(np.uint8)

        out = focal.halo_stencil(
            tiles, kernel, margin=margin, tile_px=TILE
        ).collect()
        got = np.zeros_like(g)
        for r in out:
            _, ix, iy = (int(v) for v in unpack_cell(r.cell_id))
            tx, ty = ix - 50, iy - 60
            got[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE] = (
                codecs.png_decode(bytes(r.bytes))
            )
        exp_pad = flow.calculate_flow_direction(
            np.pad(g, margin, mode="edge").astype(np.float64)
        )[margin:-margin, margin:-margin]
        # interior must match exactly; (flat areas wider than margin
        # may differ -- this DEM has none)
        agree = (got == exp_pad).mean()
        assert agree > 0.995, f"only {agree:.3f} agreement"
