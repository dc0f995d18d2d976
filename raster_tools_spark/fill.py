"""Complex depression filling (SURVEY.md G4), pure numpy.

Reference semantics (flow/flow_fil.py:77-184): a bottom-up pour-point
raise -- depressions are lifted to the minimum height of their
surrounding contour, iteratively, with the array border acting as
the outlet (the reference's optional water-mask outlets,
flow_fil.py:96-104, are not ported: no operator has a water mask),
then the whole procedure runs over staged 100x100 blocks at offsets
0/25/50 so seams move between passes (stage 1 of
fill_complex_depressions, run over the tile table by
operators/flow_op.fill_depressions_tiles; the reference's stage 2
whole-array pass is disabled in the reference itself).

This implementation reaches the identical fixpoint by a different,
published algorithm: PRIORITY-FLOOD (Barnes, Lehman & Mulla 2014,
"Priority-flood: an optimal depression-filling and watershed-labeling
algorithm"): grow inward from the outlets in height order, raising
every newly reached cell to at least the level of the path it was
reached through.  Both procedures compute, for every cell c,

    fill(c) = max(dem(c), min over 8-connected paths from c to an
              outlet of the maximum dem along the path)

so the outputs agree cell-for-cell (property-tested against an
independent iterative-relaxation oracle in test_fill.py).
"""

from __future__ import annotations

import heapq

import numpy as np

_NEIGH = ((-1, -1), (-1, 0), (-1, 1), (0, -1),
          (0, 1), (1, -1), (1, 0), (1, 1))


def priority_flood_fill(values: np.ndarray) -> np.ndarray:
    """Fill all depressions of ``values`` IN-PLACE; returns values.

    The array border is the outlet.  8-connected.
    """
    h, w = values.shape
    if h == 0 or w == 0:
        return values
    closed = np.zeros((h, w), dtype=bool)
    heap: list = []

    def push(i, j, lvl):
        closed[i, j] = True
        heapq.heappush(heap, (lvl, i, j))

    for j in range(w):
        if not closed[0, j]:
            push(0, j, float(values[0, j]))
        if not closed[h - 1, j]:
            push(h - 1, j, float(values[h - 1, j]))
    for i in range(h):
        if not closed[i, 0]:
            push(i, 0, float(values[i, 0]))
        if not closed[i, w - 1]:
            push(i, w - 1, float(values[i, w - 1]))

    while heap:
        lvl, i, j = heapq.heappop(heap)
        for di, dj in _NEIGH:
            ni, nj = i + di, j + dj
            if ni < 0 or nj < 0 or ni >= h or nj >= w or closed[ni, nj]:
                continue
            nv = float(values[ni, nj])
            if nv < lvl:
                values[ni, nj] = lvl
                nv = lvl
            push(ni, nj, nv)
    return values
