"""Line drape sampling goldens on a tile with a known pixel pattern."""

import numpy as np
import pandas as pd
import pytest

from raster_tools_spark import codecs, wkb
from raster_tools_spark.grid import (
    CELL_SIZE,
    TILE_SIZE,
    WORLD_TOP,
    cell_of_xy,
)
from raster_tools_spark.operators import lines as op_lines


@pytest.fixture(scope="module")
def gradient_tile(spark):
    # tile at grid (4, 4): pixel value = column index % 256
    x0 = 4 * TILE_SIZE
    y_top = WORLD_TOP - 4 * TILE_SIZE
    px = np.tile(np.arange(256, dtype=np.uint8), (256, 1))
    pdf = pd.DataFrame(
        [
            (
                int(cell_of_xy(x0 + 1, y_top - 1, 10)),
                codecs.png_encode(px),
                "png",
                x0,
                y_top,
            )
        ],
        columns=["cell_id", "bytes", "fmt", "x0", "y_top"],
    )
    return spark.createDataFrame(pdf), x0, y_top


def _line(spark, coords):
    pdf = pd.DataFrame(
        [(0, wkb.linestring_wkb(coords))], columns=["line_id", "geom_wkb"]
    )
    return spark.createDataFrame(pdf, schema="line_id long, geom_wkb binary")


def test_horizontal_profile_reads_columns(spark, gradient_tile):
    tiles, x0, y_top = gradient_tile
    y = y_top - 10.25  # within pixel row 20
    line = _line(spark, [(x0 + 0.25, y), (x0 + 40.25, y)])
    prof = op_lines.line_profile(line, tiles, step=CELL_SIZE).orderBy("seq")
    rows = prof.collect()
    assert len(rows) == 81  # 40 m at 0.5 m steps + endpoint
    for r in rows:
        expect_col = int(np.floor((r.sx - x0) / CELL_SIZE))
        assert r.value == expect_col % 256


def test_extremum_is_line_end(spark, gradient_tile):
    tiles, x0, y_top = gradient_tile
    y = y_top - 30.25
    line = _line(spark, [(x0 + 0.25, y), (x0 + 100.25, y)])
    prof = op_lines.line_profile(line, tiles, step=CELL_SIZE)
    ext = op_lines.line_extremum(prof).collect()[0]
    # values increase along x -> max at the last sample
    assert ext.extremum_value == int(
        np.floor((x0 + 100.25 - x0) / CELL_SIZE)
    )


def test_samples_outside_coverage_dropped(spark, gradient_tile):
    tiles, x0, y_top = gradient_tile
    y = y_top - 5.25
    # line extends beyond the tile into uncovered cells
    line = _line(spark, [(x0 + 120.0, y), (x0 + 140.0, y)])
    prof = op_lines.line_profile(line, tiles, step=CELL_SIZE)
    xs = [r.sx for r in prof.collect()]
    assert all(x < x0 + TILE_SIZE for x in xs)
    assert len(xs) > 0


def test_multi_segment_spacing(spark):
    # pure sampling math: L-shaped line, uniform arc-length spacing
    coords = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0)]
    pdf = pd.DataFrame(
        [(1, wkb.linestring_wkb(coords))], columns=["line_id", "geom_wkb"]
    )
    df = spark.createDataFrame(pdf, schema="line_id long, geom_wkb binary")
    pts = (
        op_lines.sample_line_points(df, step=2.0)
        .orderBy("seq")
        .collect()
    )
    assert len(pts) == 11  # 20 m / 2 m + endpoint
    assert (pts[0].sx, pts[0].sy) == (0.0, 0.0)
    assert (pts[5].sx, pts[5].sy) == (10.0, 0.0)  # the corner
    assert (pts[10].sx, pts[10].sy) == (10.0, 10.0)
