"""Brute-force golden for the upstream composite (reference
upstream.py:89-267) on the paths the DuckDB oracle cannot reach:
variable radius (multiplier * boundary distance), multi-segment lines,
and a tight ``grow`` that actually filters samples.

The reference implementation below is written straight from the spec
(plain loops over a materialized world raster), sharing no mask or
merge code with the operator.
"""

import numpy as np
import pytest

from raster_tools_spark import synth, wkb
from raster_tools_spark.grid import CELL_SIZE, TILE_SIZE, WORLD_TOP
from raster_tools_spark.operators import retile as op_retile
from raster_tools_spark.operators import upstream as op_up

N_IMG = 60
AXIS = 8
NODATA = 255

# world window covered by tiles_axis=8: [0, 1024] x [WORLD_TOP-1024, WORLD_TOP]
WIN = AXIS * TILE_SIZE  # 1024 m
WPX = int(WIN / CELL_SIZE)  # 2048 px


def world_raster() -> np.ndarray:
    """Last-wins merge of the linear images into one world array."""
    world = np.full((WPX, WPX), NODATA, dtype=np.uint8)
    for idx in range(N_IMG):
        w, h = synth.linear_size(idx)
        px = synth.linear_pixels(idx, h, w)
        x0, y_top = synth.linear_anchor(idx, AXIS)
        j0 = int(x0 / CELL_SIZE)
        i0 = int((WORLD_TOP - y_top) / CELL_SIZE)
        dst = world[i0:i0 + h, j0:j0 + w]
        act = px != NODATA
        dst[act] = px[act]
    return world


# fixture geometry: two multi-segment lines, two rectangles, placed on
# LIVE data patches -- linear images are ~64 px (32 m) squares at tile
# anchors, and the (idx*7 % 8, idx*13 % 8) anchor cycle only populates
# tiles with ty == 3*tx (mod 8), e.g. (1, 3) and (4, 4)
RECTS = {
    7: (120.0, 175.0, WORLD_TOP - 420.0, WORLD_TOP - 380.0),
    9: (505.0, 560.0, WORLD_TOP - 548.0, WORLD_TOP - 508.0),
}
LINES = {
    1: [(115.25, WORLD_TOP - 385.75), (140.5, WORLD_TOP - 398.25),
        (180.75, WORLD_TOP - 412.5)],
    2: [(500.5, WORLD_TOP - 512.25), (530.25, WORLD_TOP - 530.5),
        (565.5, WORLD_TOP - 545.75)],
}
SEP = 3.75
DIST = 6.25
MULT = 1.5
GROW = 4.0


def sample_points(coords, step):
    """Spec sampler: evenly spaced along arc length, directions from
    consecutive samples, last reuses previous; reversed walks back."""
    coords = np.asarray(coords, dtype=np.float64)
    seg = np.diff(coords, axis=0)
    seg_len = np.sqrt(seg[:, 0] ** 2 + seg[:, 1] ** 2)
    total = float(seg_len.sum())
    n = max(int(np.floor(total / step)), 1)
    params = np.arange(n + 1) * step
    params[-1] = min(params[-1], total)
    cum = np.concatenate([[0.0], np.cumsum(seg_len)])
    idx = np.clip(np.searchsorted(cum, params, side="right") - 1, 0,
                  len(seg) - 1)
    frac = (params - cum[idx]) / seg_len[idx]
    pts = coords[idx] + seg[idx] * frac[:, None]
    fd = np.diff(pts, axis=0)
    fd = np.vstack([fd, fd[-1]])
    rd = np.empty_like(fd)
    rd[1:] = pts[:-1] - pts[1:]
    rd[0] = -fd[0]
    return pts, fd, rd


def rect_boundary_dist(x, y, rect):
    """Exact distance from a point to a rectangle's boundary."""
    x1, x2, y1, y2 = rect
    if x1 <= x <= x2 and y1 <= y <= y2:
        return min(x - x1, x2 - x, y - y1, y2 - y)
    gx = max(x1 - x, 0.0, x - x2)
    gy = max(y1 - y, 0.0, y - y2)
    return float(np.sqrt(gx * gx + gy * gy))


def rect_solid_dist(x, y, rect):
    x1, x2, y1, y2 = rect
    if x1 <= x <= x2 and y1 <= y <= y2:
        return 0.0
    return rect_boundary_dist(x, y, rect)


def second_smallest_in_area(world, sx, sy, d, r, rect):
    """Brute-force level: scan the pixel window, keep data pixels whose
    centers are in the forward half-disc AND strictly inside the rect."""
    x1, x2, y1, y2 = rect
    j0 = max(int(np.floor((sx - r) / CELL_SIZE)) - 2, 0)
    j1 = min(int(np.ceil((sx + r) / CELL_SIZE)) + 2, WPX)
    i0 = max(int(np.floor((WORLD_TOP - sy - r) / CELL_SIZE)) - 2, 0)
    i1 = min(int(np.ceil((WORLD_TOP - sy + r) / CELL_SIZE)) + 2, WPX)
    vals = []
    for i in range(i0, i1):
        cy = WORLD_TOP - (i + 0.5) * CELL_SIZE
        for j in range(j0, j1):
            cx = (j + 0.5) * CELL_SIZE
            v = world[i, j]
            if v == NODATA:
                continue
            if not (x1 < cx < x2 and y1 < cy < y2):
                continue
            dx, dy = cx - sx, cy - sy
            if dx * dx + dy * dy > r * r:
                continue
            if dx * d[0] + dy * d[1] < 0.0:
                continue
            vals.append(int(v))
    if len(vals) < 2:
        return None
    return float(sorted(vals)[1])


def reference_upstream(world):
    """Full spec pipeline, one (line, rect) case at a time."""
    out = []
    for line_id, coords in LINES.items():
        pts, fd, rd = sample_points(coords, SEP)
        for feat_id, rect in RECTS.items():
            per = []
            for k in range(len(pts)):
                sx, sy = float(pts[k, 0]), float(pts[k, 1])
                if rect_solid_dist(sx, sy, rect) > GROW:
                    continue
                r = max(DIST, MULT * rect_boundary_dist(sx, sy, rect))
                lf = second_smallest_in_area(world, sx, sy, fd[k], r, rect)
                lr = second_smallest_in_area(world, sx, sy, rd[k], r, rect)
                per.append((k, sx, sy, lf, lr))
            fwd = [p[3] for p in per if p[3] is not None]
            if not fwd:
                continue
            rev = False
            if len(fwd) > 1:
                idx = len(fwd) // 2
                rev = (sum(fwd[:idx]) * (len(fwd) - idx)
                       > sum(fwd[idx:]) * idx)
            pick = 4 if rev else 3
            for p in per:
                if p[pick] is not None:
                    out.append((line_id, feat_id, p[0], p[pick], int(rev)))
    return sorted(out)


@pytest.fixture(scope="module")
def result(spark):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(synth, "LINEAR_TILES_AXIS", AXIS)
        mp.setattr(op_up, "MULTIPLIER", MULT)
        return _levels(spark, 1, 1, 1)


def _levels(spark, n_lines, n_polys, n_images):
    """upstream_levels over the fixture, its three inputs repartitioned
    as given; the caller sets LINEAR_TILES_AXIS and MULTIPLIER."""
    images = synth.linear_images_df(spark, N_IMG)
    if n_images > 1:
        images = images.repartition(n_images)
    tiles = op_retile.retile(images)
    lines = spark.createDataFrame(
        [(k, wkb.linestring_wkb(v)) for k, v in LINES.items()],
        "line_id long, geom_wkb binary",
    )
    if n_lines > 1:
        lines = lines.repartition(n_lines)
    polys = spark.createDataFrame(
        [(k, wkb.box_wkb(r[0], r[2], r[1], r[3]))
         for k, r in RECTS.items()],
        "feat_id long, geom_wkb binary",
    )
    if n_polys > 1:
        polys = polys.repartition(n_polys)
    out = op_up.upstream_levels(
        lines, polys, tiles,
        separation=SEP, distance=DIST, grow=GROW,
    )
    return sorted(
        (r.line_id, r.feat_id, r.seq, r.height, r.reversed)
        for r in out.collect()
    )


def test_matches_bruteforce(result):
    expect = reference_upstream(world_raster())
    assert len(expect) > 10, "fixture produced too few levels"
    assert result == expect


def test_grow_filter_active(result):
    # the tight grow must drop cross-case samples: line 1 never scores
    # against rect 9 and vice versa
    keys = {(r[0], r[1]) for r in result}
    assert keys == {(1, 7), (2, 9)}


def test_some_reversal_logic_ran(result):
    # at least one orientation decision of each kind across the fixture
    # is not guaranteed, but the flag must be constant per (line, rect)
    import itertools
    for _, grp in itertools.groupby(result, key=lambda r: (r[0], r[1])):
        assert len({g[4] for g in grp}) == 1


def test_partitioning_invariance(spark, result, monkeypatch):
    """North rule: the same upstream job at a different input
    partitioning produces identical rows (the two-smallest partial
    merge and the mean-halves decision are order-independent)."""
    monkeypatch.setattr(synth, "LINEAR_TILES_AXIS", AXIS)
    monkeypatch.setattr(op_up, "MULTIPLIER", MULT)
    assert _levels(spark, 7, 5, 3) == result


class TestNearestPieceRefinement:
    def test_disconnected_halfdisc_keeps_nearest_arm(self, spark,
                                                      monkeypatch):
        """Reference upstream.py:185-191: when polygon ∩ half-disc is a
        MULTIPOLYGON, only the piece nearest the sample contributes.
        A U-polygon whose connector lies outside the search radius
        splits the disc into two arms; levels must come from the
        sample's own (high-valued) arm, never the far (low-valued)
        arm."""
        import pandas as pd
        import zlib
        from raster_tools_spark import codecs
        from raster_tools_spark.grid import pack_cell

        top = WORLD_TOP
        # U: arms x[4,6] and x[12,14] over y[top-20, top-1], connector
        # y[top-20, top-19] -- 19+ m from the samples, radius is 8
        ring = [
            (4.0, top - 20.0), (14.0, top - 20.0), (14.0, top - 1.0),
            (12.0, top - 1.0), (12.0, top - 19.0), (6.0, top - 19.0),
            (6.0, top - 1.0), (4.0, top - 1.0), (4.0, top - 20.0),
        ]
        polys = spark.createDataFrame(
            pd.DataFrame(
                [(1, wkb.polygon_wkb(np.array(ring)))],
                columns=["feat_id", "geom_wkb"],
            ),
            schema="feat_id long, geom_wkb binary",
        )
        lines = spark.createDataFrame(
            pd.DataFrame(
                [(1, wkb.linestring_wkb(np.array(
                    [(5.0, top - 12.0), (5.0, top - 6.0)]
                )))],
                columns=["line_id", "geom_wkb"],
            ),
            schema="line_id long, geom_wkb binary",
        )
        px = np.full((256, 256), 200, dtype=np.uint8)
        px[:, 8:12] = 60    # left arm x[4,6): high values
        px[:, 24:28] = 5    # right arm x[12,14): low values
        tiles = spark.createDataFrame(
            pd.DataFrame(
                [(int(pack_cell(10, 0, 0)), codecs.png_encode(px),
                  "png", 0.0, float(top))],
                columns=["cell_id", "bytes", "fmt", "x0", "y_top"],
            ),
            schema=(
                "cell_id long, bytes binary, fmt string, "
                "x0 double, y_top double"
            ),
        )
        monkeypatch.setattr(op_up, "MULTIPLIER", 0.0)
        rows = op_up.upstream_levels(
            lines, polys, tiles,
            separation=3.0, distance=8.0,
        ).collect()
        assert len(rows) > 0
        # every level from the near arm (60/200 domain, never 5)
        for r in rows:
            assert r.height >= 60.0, rows
