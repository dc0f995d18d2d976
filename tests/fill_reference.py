"""Single-array reference for the staged complex depression fill that
operators/flow_op.fill_depressions_tiles runs over the tile table
(stage 1 of flow_fil.py:169-184)."""

from typing import Tuple

import numpy as np

from raster_tools_spark.fill import priority_flood_fill


def block_grid(extent_px: Tuple[int, int, int, int], step: int,
               offset: int):
    """Block windows of a staged pass: all (y, x, step, step) windows
    of the ``step`` grid anchored at ``offset`` that lie fully inside
    the pixel extent (y0, x0, y1, x1) -- the reference's
    range(offset, 1 + H - step, step) loop bounds."""
    y0, x0, y1, x1 = extent_px
    out = []
    for y in range(y0 + offset, 1 + y1 - step, step):
        for x in range(x0 + offset, 1 + x1 - step, step):
            out.append((y, x))
    return out


def fill_depressions_staged(
    values: np.ndarray,
    step: int = 100,
    offsets=(0, 25, 50),
) -> np.ndarray:
    """Stage-1 complex fill of flow_fil.py:169-184: per-block priority
    flood at staggered offsets, in-place.  Block borders are outlets of
    their own block, so a depression wider than a block is only raised
    to the block-local pour level -- matching the reference's
    deliberate stage-1 behavior (its whole-array stage 2 is disabled
    upstream as over-filling)."""
    h, w = values.shape
    for offset in offsets:
        for y, x in block_grid((0, 0, h, w), step, offset):
            win = np.s_[y:y + step, x:x + step]
            priority_flood_fill(values[win])
    return values
