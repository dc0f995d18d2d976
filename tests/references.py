"""Single-array references that tests compare the engine against:
whole-raster flow accumulation (the tiled ``flow_op.accumulate_tiles``
must equal it) and the full-grid phash anchor (the JVM ``_anchor_cols``
must equal it at 4096 tiles per axis)."""

import numpy as np

from raster_tools_spark.flow import flow_targets
from raster_tools_spark.grid import (
    TILE_SIZE, WORLD_SIZE, WORLD_TOP, _ANCHOR_MULT,
)


def accumulate(direction: np.ndarray) -> np.ndarray:
    """Upstream-cell count per pixel (flow accumulation).

    Semantics of the reference's accumulator (flow_acc.py:45-89),
    re-derived as pointer-chase rounds: every pixel holds a pointer to
    its downstream neighbor (``flow_targets``); mutual 2-cycles (A->B
    and B->A, opposing directions) are broken by sinking BOTH ends;
    then each round advances every live walker one hop and adds one
    count to the cell it lands on -- after k rounds a cell has been hit
    once by every cell exactly k steps upstream, so the converged total
    is the full upstream count.  Walkers that reach a sink drop out via
    a boolean filter (the reference sorts + truncates; a filter selects
    the identical multiset, so the bincounts are equal).
    """
    h, w = direction.shape
    n = direction.size
    ptr = np.append(flow_targets(direction), n)  # ptr[n] = n: absorb
    walkers = np.arange(n)
    mutual = ptr[ptr[walkers]] == walkers
    ptr[:n][mutual] = n

    acc = np.zeros(n, "u8")
    while True:
        walkers = ptr[walkers]
        walkers = walkers[walkers < n]
        if not walkers.size:
            break
        acc += np.bincount(walkers, minlength=n).astype("u8")
    return acc.reshape(h, w)


def anchor_of_phash(phash):
    """Deterministic ``phash -> (x0, y_top)`` world anchor on the
    canonical tile grid.  Pure integer ops then exact dyadic float
    math, so the result is bit-identical everywhere.

    Mirrors the reference's re-anchoring role of
    ``geo_transform.shifted(geometry)`` (retile.py:47 -> utils.py:82-92):
    every image sits exactly on a canonical 128 m tile corner.
    """
    mask = np.int64(WORLD_SIZE // TILE_SIZE - 1)    # 4095
    p = np.asarray(phash, dtype=np.int64)
    mixed = (p * _ANCHOR_MULT) & np.int64((1 << 62) - 1)
    tx = (mixed >> np.int64(20)) & mask
    ty = (mixed >> np.int64(2)) & mask
    x0 = tx.astype(np.float64) * TILE_SIZE
    y_top = WORLD_TOP - ty.astype(np.float64) * TILE_SIZE
    return x0, y_top
