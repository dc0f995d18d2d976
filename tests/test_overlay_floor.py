"""Buffer-ring mask, floor level, mask overlay, void-fill face."""

import numpy as np
import pandas as pd
import pytest

from raster_tools_spark import codecs, geom, wkb
from raster_tools_spark.grid import GeoTransform


class TestBufferRingMask:
    def test_ring_excludes_interior_includes_halo(self):
        gt = GeoTransform((0.0, 0.5, 0.0, 64.0, 0.0, -0.5))
        rect = wkb.box_wkb(10.0, 10.0, 20.0, 20.0)
        rings = geom._rings_of(rect)
        inside = geom.rasterize_mask(rect, gt, 128, 128)
        ring = geom.buffer_ring_mask(rings, gt, 128, 128, dist=1.0)
        assert not (ring & inside).any()
        # brute force: per pixel center, clamp distance to rect
        ii, jj = np.meshgrid(np.arange(128), np.arange(128),
                             indexing="ij")
        cx = 0.5 * (jj + 0.5)
        cy = 64.0 - 0.5 * (ii + 0.5)
        dx = np.maximum(np.maximum(10.0 - cx, cx - 20.0), 0.0)
        dy = np.maximum(np.maximum(10.0 - cy, cy - 20.0), 0.0)
        near = dx * dx + dy * dy <= 1.0
        expected = near & ~inside
        assert np.array_equal(ring, expected)

    def test_sq_distance_matches_brute(self):
        rng = np.random.default_rng(4)
        verts = rng.uniform(0, 30, (6, 2))
        ring = np.vstack([verts, verts[:1]])
        px = rng.uniform(-5, 35, 200)
        py = rng.uniform(-5, 35, 200)
        got = geom.sq_distance_to_rings(px, py, [ring])
        # brute per-edge point-segment distance
        exp = np.full(200, np.inf)
        for k in range(len(ring) - 1):
            ax, ay = ring[k]
            bx, by = ring[k + 1]
            ex, ey = bx - ax, by - ay
            t = np.clip(
                ((px - ax) * ex + (py - ay) * ey) / (ex * ex + ey * ey),
                0, 1,
            )
            qx = px - (ax + t * ex)
            qy = py - (ay + t * ey)
            exp = np.minimum(exp, qx * qx + qy * qy)
        assert np.allclose(got, exp, rtol=0, atol=1e-12)


class TestFillVoidsTiles:
    def test_fills_all_voids(self, spark):
        px = np.full((256, 256), 80, dtype=np.uint8)
        px[40:60, 40:70] = 255
        px[200:210, 100:105] = 255
        pdf = pd.DataFrame(
            [(1, codecs.png_encode(px), "png")],
            columns=["cell_id", "bytes", "fmt"],
        )
        tiles = spark.createDataFrame(
            pdf, schema="cell_id long, bytes binary, fmt string"
        )
        from raster_tools_spark.operators import fill_op

        out = fill_op.fill_voids_tiles(tiles).collect()[0]
        assert out.filled_px == 20 * 30 + 10 * 5
        filled = codecs.png_decode(bytes(out.bytes))
        assert (filled != 255).all()
        # uniform surroundings fill to the same level
        assert (filled[40:60, 40:70] == 80).all()


class TestXyzSource:
    def test_parse_and_bin(self, spark):
        lines = spark.createDataFrame(
            pd.DataFrame(
                {
                    "value": [
                        "0.5 9.5 10.0",
                        "0.75 9.5 12.0",  # same bin: min/max dedup
                        "3.5 1.5 7.0",
                        "garbage line x",
                    ]
                }
            )
        )
        from raster_tools_spark.sources import xyz

        pts = xyz.parse_xyz(lines)
        out = {
            (r.row, r.col): r
            for r in xyz.bin_stats(pts, width=1.0, height=1.0).collect()
        }
        assert out[(0, 0)].z_min == 10.0
        assert out[(0, 0)].z_max == 12.0
        assert out[(0, 0)].n == 2
        assert out[(8, 3)].z_min == 7.0


class TestDifferencePolygons:
    def test_rect_minus_rect_rings(self, spark):
        import pandas as pd

        from raster_tools_spark.operators import overlay
        from raster_tools_spark.grid import WORLD_TOP

        # layer1: 80x40 m rect; layer2: a 40x60 m rect overlapping its
        # right half -> remainder is one ring on the left
        top = WORLD_TOP
        l1 = spark.createDataFrame(
            pd.DataFrame(
                [(1, wkb.box_wkb(100.0, top - 140.0, 180.0,
                                 top - 100.0))],
                columns=["feat_id", "geom_wkb"],
            ),
            schema="feat_id long, geom_wkb binary",
        )
        l2 = spark.createDataFrame(
            pd.DataFrame(
                [(9, wkb.box_wkb(150.0, top - 160.0, 190.0,
                                 top - 100.0))],
                columns=["feat_id", "geom_wkb"],
            ),
            schema="feat_id long, geom_wkb binary",
        )
        rows = overlay.mask_difference_polygons(l1, l2).collect()
        assert len(rows) == 1
        r = rows[0]
        gtype, payload = wkb.parse(bytes(r.geom_wkb))
        assert gtype == wkb.POLYGON
        # remainder is ~50 x 40 m; ring area within a pixel band of it
        assert abs(r.area - 50.0 * 40.0) < 4.0 * (2 * (50 + 40))
        # every ring vertex stays inside the remainder's outer bounds
        ring = payload[0]
        assert ring[:, 0].min() >= 100.0 - 4.0
        assert ring[:, 0].max() <= 150.0 + 4.0

    def test_no_overlap_keeps_whole_feature(self, spark):
        import pandas as pd

        from raster_tools_spark.operators import overlay
        from raster_tools_spark.grid import WORLD_TOP

        top = WORLD_TOP
        l1 = spark.createDataFrame(
            pd.DataFrame(
                [(1, wkb.box_wkb(100.0, top - 140.0, 180.0,
                                 top - 100.0))],
                columns=["feat_id", "geom_wkb"],
            ),
            schema="feat_id long, geom_wkb binary",
        )
        l2 = spark.createDataFrame(
            pd.DataFrame(
                [(9, wkb.box_wkb(5000.0, top - 160.0, 5040.0,
                                 top - 100.0))],
                columns=["feat_id", "geom_wkb"],
            ),
            schema="feat_id long, geom_wkb binary",
        )
        rows = overlay.mask_difference_polygons(l1, l2).collect()
        assert len(rows) == 1
        # whole 80 x 40 footprint kept (half-pixel contour band)
        assert abs(rows[0].area - 80.0 * 40.0) < 4.0 * (2 * (80 + 40))

    def test_interior_hole_survives(self, spark):
        """A layer-2 polygon strictly inside the feature must come out
        as an is_hole ring, not be filled back (review finding)."""
        import pandas as pd

        from raster_tools_spark.operators import overlay
        from raster_tools_spark.grid import WORLD_TOP

        top = WORLD_TOP
        l1 = spark.createDataFrame(
            pd.DataFrame(
                [(1, wkb.box_wkb(100.0, top - 200.0, 200.0,
                                 top - 100.0))],
                columns=["feat_id", "geom_wkb"],
            ),
            schema="feat_id long, geom_wkb binary",
        )
        l2 = spark.createDataFrame(
            pd.DataFrame(
                [(9, wkb.box_wkb(140.0, top - 160.0, 160.0,
                                 top - 140.0))],
                columns=["feat_id", "geom_wkb"],
            ),
            schema="feat_id long, geom_wkb binary",
        )
        rows = overlay.mask_difference_polygons(l1, l2).collect()
        assert len(rows) == 2
        outer = [r for r in rows if not r.is_hole]
        holes = [r for r in rows if r.is_hole]
        assert len(outer) == 1 and len(holes) == 1
        # net area = outer - hole ~= 100*100 - 20*20
        net = outer[0].area - holes[0].area
        assert abs(net - (100.0 * 100.0 - 20.0 * 20.0)) < 4.0 * 500


class TestExactAlignedDifference:
    def _layers(self, spark, l1_rows, l2_rows):
        import pandas as pd

        mk = lambda rows: spark.createDataFrame(
            pd.DataFrame(rows, columns=["feat_id", "geom_wkb"]),
            schema="feat_id long, geom_wkb binary",
        )
        return mk(l1_rows), mk(l2_rows)

    def test_exact_l_shape(self, spark):
        from raster_tools_spark.operators import overlay
        from raster_tools_spark.grid import WORLD_TOP

        top = WORLD_TOP
        l1, l2 = self._layers(
            spark,
            [(1, wkb.box_wkb(100.0, top - 140.0, 180.0, top - 100.0))],
            [(9, wkb.box_wkb(100.0, top - 120.0, 140.0, top - 100.0))],
        )
        rows = overlay.mask_difference_polygons(l1, l2).collect()
        assert len(rows) == 1
        r = rows[0]
        # EXACT: 80x40 minus flush 40x20 corner = 2400, 6-corner ring
        assert r.area == 80.0 * 40.0 - 40.0 * 20.0
        assert r.n_pts == 7 and not r.is_hole

    def test_exact_split_into_two(self, spark):
        from raster_tools_spark.operators import overlay
        from raster_tools_spark.grid import WORLD_TOP

        top = WORLD_TOP
        l1, l2 = self._layers(
            spark,
            [(1, wkb.box_wkb(100.0, top - 140.0, 180.0, top - 100.0))],
            [(9, wkb.box_wkb(130.0, top - 150.0, 150.0, top - 90.0))],
        )
        rows = overlay.mask_difference_polygons(l1, l2).collect()
        assert len(rows) == 2
        assert sorted(r.area for r in rows) == [30.0 * 40.0,
                                                30.0 * 40.0]
        assert all(r.n_pts == 5 and not r.is_hole for r in rows)

    def test_non_rect_falls_back_to_pixel_path(self, spark):
        """A pentagon feature must take the marching-squares path and
        still produce a sane remainder (band-tolerance area)."""
        import numpy as np

        from raster_tools_spark.operators import overlay
        from raster_tools_spark.grid import WORLD_TOP

        top = WORLD_TOP
        pent = wkb.polygon_wkb(np.array([
            (100.0, top - 140.0), (180.0, top - 140.0),
            (180.0, top - 110.0), (140.0, top - 100.0),
            (100.0, top - 110.0), (100.0, top - 140.0),
        ]))
        l1, l2 = self._layers(
            spark,
            [(1, pent)],
            [(9, wkb.box_wkb(100.0, top - 140.0, 120.0, top - 120.0))],
        )
        rows = overlay.mask_difference_polygons(l1, l2).collect()
        assert len(rows) >= 1
        # pentagon ~= 80*40 - 2*(40*10/2) = 2800; cut 20x20 = 400
        net = sum(r.area * (-1 if r.is_hole else 1) for r in rows)
        assert abs(net - 2400.0) < 4.0 * 300


def test_exact_rings_never_carry_collinear_start():
    """Review regression: a hole ring whose walk starts at a mid-edge
    node (slab split by another cutter) must still come out with the
    minimal vertex set -- rectangular holes are 5-point rings."""
    from raster_tools_spark.operators.overlay import (
        _exact_rect_difference)

    rings = _exact_rect_difference(
        (0, 40, 0, 40), [(10, 20, 10, 20), (12, 16, 30, 38)]
    )
    for coords, sarea in rings:
        # every ring here is a rectangle: exactly 4 corners + closure
        assert len(coords) == 5, (len(coords), sarea)
        # and genuinely no collinear triple survives
        for k in range(1, len(coords) - 1):
            a, b, c = coords[k - 1], coords[k], coords[k + 1]
            assert not (
                (a[0] == b[0] == c[0]) or (a[1] == b[1] == c[1])
            )


class TestConvexExactDifference:
    """Sutherland-Hodgman + difference-walk exact path: closed forms
    on rotated fixtures, Monte Carlo membership on random ellipses,
    and the tangency fallback."""

    @staticmethod
    def _diamond(cx, cy, r):
        import numpy as np

        return np.array(
            [(cx + r, cy), (cx, cy + r), (cx - r, cy), (cx, cy - r)],
            dtype=float,
        )

    @staticmethod
    def _ellipse(cx, cy, a, b, phase, n=9):
        """Strictly convex ring: n distinct points on an ellipse."""
        import numpy as np

        th = phase + np.linspace(0.0, 2 * np.pi, n, endpoint=False)
        return np.column_stack(
            [cx + a * np.cos(th), cy + b * np.sin(th)]
        )

    def test_closed_forms(self):
        import numpy as np

        from raster_tools_spark.operators.overlay import (
            _convex_difference_rings)

        S = self._diamond(0.0, 0.0, 8.0)
        # half-plane cut: remainder 7r^2/4
        rect = np.array(
            [(4.0, -24.0), (24.0, -24.0), (24.0, 24.0), (4.0, 24.0)]
        )
        rings = _convex_difference_rings(S, [rect])
        assert [round(a, 9) for _, a in rings] == [112.0]
        # vertex lens: remainder 2r^2 - s^2/8
        lens = self._diamond(10.0, 0.0, 4.0)
        rings = _convex_difference_rings(S, [lens])
        assert [round(a, 9) for _, a in rings] == [126.0]
        # interior hole: outer + CW hole
        hole = np.array(
            [(-2.0, -2.0), (2.0, -2.0), (2.0, 2.0), (-2.0, 2.0)]
        )
        rings = _convex_difference_rings(S, [hole])
        assert sorted(round(a, 9) for _, a in rings) == [-16.0, 128.0]
        # splitting band: two 36-area triangles
        band = np.array(
            [(-2.0, -24.0), (2.0, -24.0), (2.0, 24.0), (-2.0, 24.0)]
        )
        rings = _convex_difference_rings(S, [band])
        assert sorted(round(a, 9) for _, a in rings) == [36.0, 36.0]

    def test_monte_carlo_membership(self):
        """Random convex subject/cutter pairs: a random point is in
        the remainder rings (even-odd over outers+holes) iff it is in
        S and not in C -- the walk's output is the true difference."""
        import numpy as np

        from raster_tools_spark.operators.overlay import (
            _convex_difference_rings, _pt_in_ring)

        rng = np.random.default_rng(7)
        done = 0
        for trial in range(40):
            S = self._ellipse(
                0.0, 0.0, 10.0 + rng.random() * 6, 7.0 + rng.random() * 6,
                rng.random(), n=int(rng.integers(5, 11)),
            )
            C = self._ellipse(
                float(rng.uniform(-12, 12)), float(rng.uniform(-9, 9)),
                3.0 + rng.random() * 6, 2.0 + rng.random() * 6,
                rng.random(), n=int(rng.integers(5, 11)),
            )
            rings = _convex_difference_rings(S, [C])
            if rings is None:
                continue  # degenerate draw fell back; fine
            done += 1
            for _ in range(120):
                p = (float(rng.uniform(-18, 18)),
                     float(rng.uniform(-15, 15)))
                want = _pt_in_ring(p, S) and not _pt_in_ring(p, C)
                got = False
                for coords, _a in rings:
                    if _pt_in_ring(p, coords[:-1]):
                        got = not got  # even-odd across outers/holes
                assert got == want, (trial, p)
        assert done >= 30  # the path must actually engage

    def test_tangency_falls_back(self):
        """A cutter vertex ON the subject boundary is not general
        position: the exact path must refuse (None), not guess."""
        import numpy as np

        from raster_tools_spark.operators.overlay import (
            _convex_difference_rings)

        S = self._diamond(0.0, 0.0, 8.0)
        # cutter vertex exactly on the subject's right vertex with its
        # body INSIDE the subject: zero proper crossings, nonzero
        # overlap -- the area-identity guard must refuse
        C = np.array(
            [(8.0, 0.0), (-2.0, 3.0), (-2.0, -3.0)], dtype=float
        )
        assert _convex_difference_rings(S, [C]) is None
        # point-touch with NO overlap is fine: remainder == subject
        C2 = np.array(
            [(8.0, 0.0), (14.0, -4.0), (14.0, 4.0)], dtype=float
        )
        rings = _convex_difference_rings(S, [C2])
        assert rings is not None
        assert [round(a, 9) for _, a in rings] == [128.0]

    def test_nonconvex_subject_exact(self):
        """The exact path handles arbitrary simple subjects (cutters
        supply the convexity): L-shape closed forms + Monte Carlo."""
        import numpy as np

        from raster_tools_spark.operators.overlay import (
            _convex_difference_rings, _pt_in_ring)

        L = np.array(
            [(0, 0), (20, 0), (20, 10), (10, 10), (10, 20), (0, 20)],
            dtype=float,
        )
        # corner cut
        C = np.array([(15, -5), (25, -5), (25, 5), (15, 5)], float)
        rings = _convex_difference_rings(L, [C])
        assert [round(a, 9) for _, a in rings] == [275.0]
        # band splitting the thin arm: two pieces
        C = np.array([(-5, 12), (30, 12), (30, 16), (-5, 16)], float)
        rings = _convex_difference_rings(L, [C])
        assert sorted(round(a, 9) for _, a in rings) == [40.0, 220.0]
        # interior hole in the fat part
        C = np.array([(2, 2), (6, 2), (6, 6), (2, 6)], float)
        rings = _convex_difference_rings(L, [C])
        assert sorted(round(a, 9) for _, a in rings) == [-16.0, 300.0]
        # Monte Carlo membership with random convex cutters
        rng = np.random.default_rng(3)
        done = 0
        for _ in range(25):
            cx, cy = rng.uniform(-4, 24, 2)
            n = int(rng.integers(4, 9))
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            a_, b_ = 2 + rng.random() * 6, 2 + rng.random() * 6
            C = np.column_stack(
                [cx + a_ * np.cos(ang), cy + b_ * np.sin(ang)]
            )
            rings = _convex_difference_rings(L, [C])
            if rings is None:
                continue
            done += 1
            for _ in range(100):
                p = (float(rng.uniform(-6, 26)),
                     float(rng.uniform(-6, 26)))
                want = _pt_in_ring(p, L) and not _pt_in_ring(p, C)
                got = False
                for coords, _a in rings:
                    if _pt_in_ring(p, coords[:-1]):
                        got = not got
                assert got == want, p
        assert done >= 18

    def test_general_single_cutter_exact(self):
        """One arbitrary simple (nonconvex) cutter: the difference
        walk is exact with the lattice audit standing guard."""
        import numpy as np

        from raster_tools_spark.operators.overlay import (
            _general_difference_rings, _pt_in_ring)

        W, H, p, q = 28.0, 24.0, 4.0, 8.0
        S = np.array([(0, 0), (W, 0), (W, H), (0, H)], float)
        a1, a2 = 8.0, 20.0
        U = np.array([
            (a1, -2.0), (a2 + p, -2.0), (a2 + p, q), (a2, q),
            (a2, -1.0), (a1 + p, -1.0), (a1 + p, q), (a1, q),
        ], float)
        rings = _general_difference_rings(S, [U])
        assert [(len(c), round(a, 9)) for c, a in rings] == [
            (13, W * H - 2 * p * q)
        ]
        # strictly interior U -> one nonconvex hole ring
        rings = _general_difference_rings(S, [U + np.array([0.0, 4.0])])
        assert sorted(round(a, 9) for _, a in rings) == [-88.0, 672.0]
        # random nonconvex star cutters: Monte Carlo membership
        L = np.array(
            [(0, 0), (20, 0), (20, 10), (10, 10), (10, 20), (0, 20)],
            float,
        )
        rng = np.random.default_rng(5)
        done = 0
        for _ in range(30):
            cx, cy = rng.uniform(-2, 22, 2)
            n = int(rng.integers(5, 10))
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            if np.min(np.diff(ang)) < 0.05:
                continue
            rad = rng.uniform(2, 9, n)
            C = np.column_stack(
                [cx + rad * np.cos(ang), cy + rad * np.sin(ang)]
            )
            rings = _general_difference_rings(L, [C])
            if rings is None:
                continue
            done += 1
            for _ in range(80):
                pt = (float(rng.uniform(-4, 24)),
                      float(rng.uniform(-4, 24)))
                want = _pt_in_ring(pt, L) and not _pt_in_ring(pt, C)
                got = False
                for coords, _a in rings:
                    if _pt_in_ring(pt, coords[:-1]):
                        got = not got
                assert got == want, pt
        assert done >= 15


def test_union_area_exact(spark):
    """Exact union: overlaps counted once, cell-straddling rects
    split losslessly, and a non-rect member flips the cell to the
    pixel path with the inexact_cells certificate raised."""
    import pandas as pd

    from raster_tools_spark.operators import overlay
    from raster_tools_spark.grid import WORLD_TOP

    top = WORLD_TOP
    # two overlapping rects straddling the 256 m line at x=256
    rows = [
        (0, wkb.box_wkb(240.0, top - 40.0, 272.0, top - 16.0)),
        (1, wkb.box_wkb(256.0, top - 40.0, 288.0, top - 16.0)),
    ]
    layer = spark.createDataFrame(
        pd.DataFrame(rows, columns=["feat_id", "geom_wkb"]),
        schema="feat_id long, geom_wkb binary",
    )
    r = overlay.union_area_exact(layer).collect()[0]
    assert r.inexact_cells == 0
    assert r.union_area == (288.0 - 240.0) * 24.0  # overlap once
    # add a triangle: the affected cell goes pixel-path, flagged
    tri = wkb.polygon_wkb([(250.0, top - 60.0), (262.0, top - 60.0),
                           (256.0, top - 48.0)])
    layer2 = spark.createDataFrame(
        pd.DataFrame(rows + [(2, tri)],
                     columns=["feat_id", "geom_wkb"]),
        schema="feat_id long, geom_wkb binary",
    )
    r2 = overlay.union_area_exact(layer2).collect()[0]
    assert r2.inexact_cells > 0
    assert r2.union_area >= r.union_area


def test_multi_disjoint_nonconvex_cutters_exact():
    """Several pairwise-disjoint nonconvex cutters cut exactly in
    sequence; overlapping cutters are refused (raster fallback)."""
    import numpy as np

    from raster_tools_spark.operators.overlay import (
        _general_difference_rings)

    W, H, p, q = 40.0, 32.0, 4.0, 8.0
    S = np.array([(0, 0), (W, 0), (W, H), (0, H)], float)
    a1, a2 = 8.0, 20.0
    U1 = np.array([
        (a1, -2), (a2 + p, -2), (a2 + p, q), (a2, q),
        (a2, -1), (a1 + p, -1), (a1 + p, q), (a1, q),
    ], float)
    U2 = U1 + np.array([4.0, 16.0])  # strictly interior copy
    rings = _general_difference_rings(S, [U1, U2])
    # piercing U removes 2pq = 64; interior U survives as an
    # 88-area hole
    assert sorted(round(a, 9) for _, a in rings) == [
        -88.0, W * H - 2 * p * q
    ]
    assert _general_difference_rings(
        S, [U1, U1 + np.array([1.0, 0.0])]
    ) is None


def test_gh_union_crossing_squares():
    from raster_tools_spark.operators.overlay import _gh_union

    A = [(0, 0), (10, 0), (10, 10), (0, 10)]
    B = [(5, 5), (15, 5), (15, 15), (5, 15)]
    res = _gh_union(A, B)
    assert res is not None and len(res) == 1
    assert abs(res[0][1] - 175.0) < 1e-9


def test_union_cutters_cascade_and_gap_gate():
    from raster_tools_spark.operators.overlay import _union_cutters

    # three-way overlap chain collapses to ONE ring
    chain = [
        [(5, 5), (15, 5), (15, 15), (5, 15)],
        [(12, 12), (22, 12), (22, 22), (12, 22)],
        [(19, 19), (29, 19), (29, 29), (19, 29)],
    ]
    m = _union_cutters(chain)
    assert m is not None and len(m) == 1
    # nested cutter absorbed
    m2 = _union_cutters(
        [[(0, 0), (10, 0), (10, 10), (0, 10)], [(2, 2), (4, 2), (3, 4)]]
    )
    assert m2 is not None and len(m2) == 1
    # U + cap enclosing a gap: UNCERTIFIABLE here -> None (raster path)
    U = [(5, 5), (20, 5), (20, 20), (15, 20), (15, 10), (10, 10),
         (10, 20), (5, 20)]
    cap = [(4, 18), (21, 18), (21, 23), (4, 23)]
    assert _union_cutters([U, cap]) is None


def test_general_difference_overlapping_nonconvex_exact():
    from raster_tools_spark.operators.overlay import (
        _general_difference_rings, _pt_in_ring)

    S = [(0, 0), (40, 0), (40, 40), (0, 40)]
    L0 = [(2, 2), (8, 2), (8, 4), (4, 4), (4, 8), (2, 8)]
    C1 = [(2 * a, 2 * b) for a, b in L0]
    C2 = [(2 * a + 2, 2 * b + 2) for a, b in L0]
    rings = _general_difference_rings(S, [C1, C2])
    assert rings is not None
    assert abs(sum(a for _, a in rings) - (1600.0 - 124.0)) < 1e-9
    # membership spot-check on an offset lattice
    for i in range(17):
        for j in range(17):
            p = (40 * (i + 0.37) / 17, 40 * (j + 0.61) / 17)
            want = _pt_in_ring(p, S) and not (
                _pt_in_ring(p, C1) or _pt_in_ring(p, C2)
            )
            got = False
            for coords, _a in rings:
                if _pt_in_ring(p, coords[:-1]):
                    got = not got
            assert got == want


def test_general_difference_tiny_cutter_uncertifiable():
    """A cutter far below the lattice resolution cap must NOT ship an
    'exact' answer it cannot certify -- it falls back (None)."""
    from raster_tools_spark.operators.overlay import (
        _general_difference_rings)

    S = [(0, 0), (1000, 0), (1000, 1000), (0, 1000)]
    tiny = [(500.1, 500.1), (502.1, 500.1), (501.1, 502.1)]
    big = [(100, 100), (300, 100), (200, 300)]
    assert _general_difference_rings(S, [tiny, big]) is None


def test_dpoly_slab_closed_forms():
    """Pin the difference_polygons ORACLE closed forms against the
    exact slab decomposition for every nation key: ring order
    (outers then holes, area-descending), vertex counts (7-corner L,
    5-corner rects), and exact areas for all five n%5 families."""
    from raster_tools_spark.operators.overlay import (
        _exact_rect_difference, _rect_of,
    )
    from raster_tools_spark.queries import (
        _dpoly_base, _dpoly_cutter_a, _dpoly_cutter_b, _dpoly_subject,
    )

    for n in range(25):
        _, _, w, h = _dpoly_base(n)
        m = n % 5
        rings = _exact_rect_difference(
            _rect_of(_dpoly_subject(n)),
            [_rect_of(_dpoly_cutter_a(n)), _rect_of(_dpoly_cutter_b(n))],
        )
        rings = sorted(rings, key=lambda t: (t[1] < 0, -abs(t[1])))
        got = [(rid, len(c), abs(sa), sa < 0)
               for rid, (c, sa) in enumerate(rings)]
        cw, cc = 48 + (n % 2) * 16, 64 + (n % 2) * 32
        exp = {
            0: [(0, 5, (w/2+16)*h, False), (1, 5, (w/2-80)*h, False)],
            1: [(0, 5, w*h, False), (1, 5, cw*40.0, True)],
            2: [(0, 5, w*h, False), (1, 5, cw*40.0, True),
                (2, 5, 672.0, True)],
            3: [(0, 7, w*h - cc*96, False), (1, 5, 768.0, True)],
            4: [(0, 5, (w/2+16)*h, False), (1, 5, (w/2-80)*h, False),
                (2, 5, 1280.0, True)],
        }[m]
        assert got == exp, (n, m, got)
