"""D8 flow kernels (SURVEY.md G1-G3), pure numpy.

Semantics ported from the reference's flow pipeline:

- course encoding + LUT tie resolution  <- flow/flow_dir.py:21-57
- ``calculate_flow_direction``          <- flow/flow_dir.py:77-158
  (drop kernels, LUT for positive drops, outward edges, iterative
  flat-area resolution)
- ``fill_simple_depressions``           <- flow/flow_fil.py:34-41
- ``flow_targets``                      <- flow/flow_acc.py:29-43
  (the per-pixel downstream pointer the tiled accumulation chases)

scipy stand-ins: ``ndimage.correlate(values, kernel)`` with a
two-point kernel becomes an explicit shifted-difference on a
symmetric-padded array; 8-connected ``binary_erosion`` is a stacked
window AND.

The Spark face runs ``calculate_flow_direction`` per tile over the
focal halo exchange (operators/focal.py); flat areas wider than the
halo margin remain unresolved (0) exactly as the reference leaves
complex depressions at 0 (flow_dir.py:156-157) -- the staged-offset
multi-pass of flow_fil.py:169-184 is the cross-tile escalation path.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# D8 encoding.  One bit per neighbor of the 3x3 window, enumerated in
# row-major scan order of the window -- this enumeration order is also
# the deterministic tie-break order everywhere below (matching the
# reference's semantics; parity proven by the goldens in test_flow.py).
# ---------------------------------------------------------------------------

_D8 = (
    # (bit, di, dj)
    (64, -1, -1), (128, -1, 0), (1, -1, 1),
    (32, 0, -1), (2, 0, 1),
    (16, 1, -1), (8, 1, 0), (4, 1, 1),
)

# derived tables in the shapes calculate_flow_direction consumes
COURSES = np.zeros((3, 3), "u1")
for _bit, _di, _dj in _D8:
    COURSES[_di + 1, _dj + 1] = _bit
INDICES = COURSES.nonzero()
NUMBERS = np.array([b for b, _, _ in _D8], "u1")[np.newaxis, :]
OFFSETS = np.array([(di, dj) for _, di, dj in _D8])[np.newaxis]
WEIGHTS = 1 / np.sqrt(np.square(OFFSETS).sum(2))
# bit of the opposite direction, aligned with the _D8 enumeration
INVERSE = np.array(
    [COURSES[1 - di, 1 - dj] for _, di, dj in _D8], "u1"
)[np.newaxis]

# first-set-bit decode tables: direction byte -> neighbor offset of its
# first set bit in _D8 order (0 for byte 0); used by the accumulator
_FIRST_DI = np.zeros(256, np.int64)
_FIRST_DJ = np.zeros(256, np.int64)
for _byte in range(255, 0, -1):
    for _bit, _di, _dj in _D8:
        if _byte & _bit:
            _FIRST_DI[_byte] = _di
            _FIRST_DJ[_byte] = _dj
            break


def get_look_up_table() -> np.ndarray:
    """Tie-resolution table: byte of equally-steep direction bits ->
    the single direction most aligned with their resultant vector.

    Semantics of the reference's LUT (flow_dir.py:40-56), re-derived
    scalar-wise: for each of the 256 bit masks, sum the unit vectors of
    the set directions; score every direction by its dot product with
    that resultant (unset directions score 0); pick the first maximum
    in _D8 order.  A zero resultant falls back to the first set bit.
    Runs once at import -- 256 iterations of plain Python.
    """
    unit = [(di * w, dj * w) for (_, di, dj), w in zip(_D8, WEIGHTS[0])]
    lut = np.zeros(256, "u1")
    for mask in range(1, 256):
        ry = rx = 0.0
        for (bit, _, _), (uy, ux) in zip(_D8, unit):
            if mask & bit:
                ry += uy
                rx += ux
        dots = [uy * ry + ux * rx for uy, ux in unit]
        if any(d != 0.0 for d in dots):
            scores = [
                d if (mask & bit) else 0.0
                for d, (bit, _, _) in zip(dots, _D8)
            ]
            best = max(range(8), key=lambda k: (scores[k], -k))
        else:
            best = next(
                k for k, (bit, _, _) in enumerate(_D8) if mask & bit
            )
        lut[mask] = _D8[best][0]
    return lut


def _correlate_two_point(values: np.ndarray, i: int, j: int, f: float):
    """ndimage.correlate(values, k) for k[i,j] = -f, k[1,1] = +f,
    mode='reflect' (== np.pad symmetric)."""
    p = np.pad(values, 1, mode="symmetric")
    h, w = values.shape
    neigh = p[i : i + h, j : j + w]
    return f * values - f * neigh


def _binary_erosion8(mask: np.ndarray) -> np.ndarray:
    """8-connected erosion, border False (structure=ones((3,3)))."""
    p = np.pad(mask, 1, mode="constant", constant_values=False)
    out = np.ones_like(mask)
    h, w = mask.shape
    for di in range(3):
        for dj in range(3):
            out &= p[di : di + h, dj : dj + w]
    return out


def _get_neighbours(indices):
    """flow_dir.py:34-38."""
    array1 = np.array(indices).transpose().reshape(-1, 1, 2)
    array8 = array1 + OFFSETS
    return tuple(array8.reshape(-1, 2).transpose())


def calculate_flow_direction(values: np.ndarray) -> np.ndarray:
    """flow_dir.py:77-158 with shift-based correlate."""
    values = np.asarray(values, dtype=np.float64)
    direction = np.zeros_like(values, dtype="u1")

    factor = np.zeros((3, 3))
    factor[INDICES] = WEIGHTS[0]

    best_drop = np.zeros_like(values)

    for i, j in zip(*factor.nonzero()):
        this_drop = _correlate_two_point(values, i, j, factor[i, j])

        same_drop = this_drop == best_drop
        direction[same_drop] += COURSES[i, j]

        more_drop = this_drop > best_drop
        direction[more_drop] = COURSES[i, j]
        best_drop[more_drop] = this_drop[more_drop]

    lut = get_look_up_table()
    some_drop = best_drop > 0
    direction[some_drop] = lut[direction[some_drop]]

    # outward edges (flow_dir.py:116-124)
    direction[0, -1] = 1
    direction[1:-1, -1] = 2
    direction[-1, -1] = 4
    direction[-1, 1:-1] = 8
    direction[-1, 0] = 16
    direction[1:-1, 0] = 32
    direction[0, 0] = 64
    direction[0, 1:-1] = 128

    # iterative flat-area resolution (flow_dir.py:126-154)
    while True:
        undefined = ~np.in1d(direction, NUMBERS).reshape(direction.shape)
        edges = undefined ^ _binary_erosion8(undefined)

        t_index1 = edges.nonzero()
        if len(t_index1[0]) == 0:
            break
        direction1 = direction[t_index1][:, np.newaxis]

        t_index8 = _get_neighbours(t_index1)
        # clip neighbour indices into the array (reference relies on
        # wrap-around semantics being masked out by b_index8c; explicit
        # clipping keeps identical selections for interior pixels)
        r8 = np.clip(t_index8[0], 0, values.shape[0] - 1)
        c8 = np.clip(t_index8[1], 0, values.shape[1] - 1)
        direction8 = direction[(r8, c8)].reshape(-1, 8)

        b_index8a = (direction1 & NUMBERS).astype(bool)
        b_index8b = np.in1d(direction8, NUMBERS).reshape(b_index8a.shape)
        b_index8c = direction8 != INVERSE
        b_index8 = np.logical_and.reduce([b_index8a, b_index8b, b_index8c])

        if not b_index8.any():
            break

        argmax = np.argmax(b_index8, axis=1)
        nonzero = b_index8.any(axis=1)
        superindex = (t_index1[0][nonzero], t_index1[1][nonzero])
        direction[superindex] = NUMBERS[0, argmax[nonzero]]

    direction[~np.in1d(direction, NUMBERS).reshape(direction.shape)] = 0
    return direction


def fill_simple_depressions(values: np.ndarray) -> np.ndarray:
    """flow_fil.py:34-41 (in-place; returns values)."""
    h, w = values.shape
    p = np.pad(values, 1, mode="edge")
    edge = np.full_like(values, np.inf, dtype=np.float64)
    for di in range(3):
        for dj in range(3):
            if di == 1 and dj == 1:
                continue
            np.minimum(edge, p[di : di + h, dj : dj + w], out=edge)
    locs = edge > values
    values[locs] = edge[locs]
    return values


def flow_targets(direction: np.ndarray) -> np.ndarray:
    """Per-pixel downstream pointer as a flat index; ``n`` (== size)
    marks a sink.  Semantics of the reference's pointer construction
    (flow_acc.py:29-43): decode each direction byte to its FIRST set
    bit in _D8 order, step one neighbor; bytes of 0 and steps leaving
    the array are sinks."""
    h, w = direction.shape
    n = direction.size
    d = direction.ravel()
    ti = np.arange(n) // w + _FIRST_DI[d]
    tj = np.arange(n) % w + _FIRST_DJ[d]
    off_grid = (ti < 0) | (ti >= h) | (tj < 0) | (tj >= w)
    return np.where((d == 0) | off_grid, n, ti * w + tj)
