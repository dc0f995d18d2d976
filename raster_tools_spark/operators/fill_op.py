"""Void filling over the tile table (SURVEY.md G6 Spark face).

The reference's gmfillnodata driver (gmfillnodata.py:61-99) reads each
index feature's window and calls gdal.FillNodata repeatedly until no
voids remain; fill/fill.py replaces that with the multi-resolution
recursive fill this engine ported bit-exactly in fillnodata.py.  The
distribution unit is the reference's own: one tile per task, no
margin -- so the Spark face is a plain mapInPandas (decode -> fill all
voids -> re-encode), with all pixel work map-side and zero shuffle.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import codecs
from ..fillnodata import fill_voids

FILLED_SCHEMA = (
    "cell_id long, bytes binary, fmt string, filled_px long"
)


def fill_voids_tiles(tiles: DataFrame) -> DataFrame:
    """tiles(cell_id, bytes, fmt) -> same tiles with every nodata (255) void
    filled by the multi-resolution recursive kernel; ``filled_px``
    counts the pixels that were voids."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt)
                void = px == 255
                n_void = int(void.sum())
                if n_void and not void.all():
                    filled = fill_voids(
                        px.astype(np.float64), 255.0
                    )
                    out = px.copy()
                    out[void] = np.clip(
                        np.round(filled[void]), 0, 255
                    ).astype(np.uint8)
                else:
                    out = px
                rows.append(
                    (
                        int(t.cell_id),
                        codecs.png_encode(out),
                        "png",
                        n_void if not void.all() else 0,
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["cell_id", "bytes", "fmt", "filled_px"],
                )

    return tiles.select("cell_id", "bytes", "fmt").mapInPandas(
        run, schema=FILLED_SCHEMA
    )
