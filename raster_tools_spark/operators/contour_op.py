"""Footprint contour over the tile table (reference contour.py): per
tile, the hole-filled data mask polygonized at the 0.5 level --
raster->vector 1->N rows, all work map-side (the reference's own unit
is one raster per invocation; cross-tile footprints merge downstream
with overlay.mask_union_area if needed)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .. import codecs, wkb as _wkb
from ..contour_vec import mask_contours
from ..grid import CELL_SIZE, cell_bounds

CONTOUR_SCHEMA = (
    "cell_id long, ring_id int, n_pts int, area double, geom_wkb binary"
)


def contour_tiles(tiles: DataFrame) -> DataFrame:
    """tiles(cell_id, bytes, fmt) -> one row per footprint ring (the
    non-255 pixels):
    (cell_id, ring_id, n_pts, area, geom_wkb) with world-coordinate
    polygon WKB."""

    def kernel(px, t):
        mask = px != 255
        if not mask.any():
            return []
        x1, _, _, y2 = cell_bounds(int(t.cell_id))
        rows = []
        for rid, ring in enumerate(mask_contours(mask)):
            xs = float(x1) + (ring[:, 1] + 0.5) * CELL_SIZE
            ys = float(y2) - (ring[:, 0] + 0.5) * CELL_SIZE
            coords = np.column_stack([xs, ys])
            area = 0.5 * abs(
                float(
                    np.sum(
                        coords[:-1, 0] * coords[1:, 1]
                        - coords[1:, 0] * coords[:-1, 1]
                    )
                )
            )
            rows.append((int(t.cell_id), rid, int(len(coords)), area,
                         _wkb.polygon_wkb(coords)))
        return rows

    return codecs.map_payloads(
        tiles.select("cell_id", "bytes", "fmt"), kernel, CONTOUR_SCHEMA
    )
