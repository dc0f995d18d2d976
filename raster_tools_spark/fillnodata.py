"""Recursive multi-resolution void filling (SURVEY.md G6).

Pure-numpy re-implementation of the reference's fill pipeline semantics
(raster_tools/fill/fill.py:49-56,163-195 and fill/edges.py:17-63) with
no scipy/GDAL: the golden oracles from the reference's own test suite
(fill/tests.py:67-79 -- triple-aggregated edge == 7.0, filled-void mean
~= 6.0) pass against this module bit-for-bit where the reference is
exact.

scipy replacements (identical semantics):
- ``ndimage.binary_dilation/erosion`` default structure = 3x3 cross ->
  shift-based numpy morphology;
- ``ndimage.correlate(..., mode='reflect')`` -> symmetric-pad + stacked
  window sum (scipy 'reflect' == np.pad 'symmetric');
- ``ndimage.label`` -> run-based union-find, 4- or 8-connectivity
  (same scan-order numbering).

The Spark face of this operator lives in operators/fill_op.py (per-tile
mapInPandas); this module is the deterministic per-void kernel.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from typing import Tuple

import numpy as np

DTYPE = "f4"
FILLVALUE = float(np.finfo(DTYPE).max)

# smoothing kernel of fill/fill.py:41-43
KERNEL = np.array(
    [
        [0.0625, 0.1250, 0.0625],
        [0.1250, 0.2500, 0.1250],
        [0.0625, 0.1250, 0.0625],
    ]
)


def binary_dilation(mask: np.ndarray) -> np.ndarray:
    """3x3 cross dilation (scipy default structure)."""
    out = mask.copy()
    out[1:, :] |= mask[:-1, :]
    out[:-1, :] |= mask[1:, :]
    out[:, 1:] |= mask[:, :-1]
    out[:, :-1] |= mask[:, 1:]
    return out


def union_min_roots(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Union-find over nodes ``0..n-1`` and edges ``(a[i], b[i])``:
    the root of every node, where each union keeps the smaller root,
    so a root is the minimum node of its component."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(np.asarray(a).tolist(), np.asarray(b).tolist()):
        rx, ry = find(x), find(y)
        if rx < ry:
            parent[ry] = rx
        elif ry < rx:
            parent[rx] = ry
    # path-compress every node to its final root, vectorized doubling
    roots = np.asarray(parent, dtype=np.int64)
    while True:
        rr = roots[roots]
        if np.array_equal(rr, roots):
            return roots
        roots = rr


def label(
    mask: np.ndarray, connectivity: int = 4
) -> Tuple[np.ndarray, int]:
    """Connected-component labeling (ndimage.label semantics, numbered
    in row-major first-appearance order).  ``connectivity=4`` is
    ndimage's default cross structure; ``8`` also joins diagonal
    neighbours (the full 3x3 structure).  Callers pass 4 or 8.

    Run-based two-pass union-find, fully vectorized: horizontal runs
    are found with one diff over the row-padded mask, adjacencies
    between runs of neighbouring rows come from the pixel-wise AND of
    the straight alignment (plus both diagonal alignments at 8), and
    the only Python loop is union-find over the UNIQUE run-adjacency
    pairs (O(runs), not O(pixels)).  A component's root run carries the
    minimum flat index, which is exactly its row-major first
    appearance, so sorting roots by that minimum reproduces ndimage's
    scan-order numbering.
    """
    h, w = mask.shape
    m = np.asarray(mask, dtype=bool)
    labels = np.zeros((h, w), dtype=np.int32)
    if not m.any():
        return labels, 0
    # row-padded flat view so runs never wrap across rows
    mp = np.zeros((h, w + 1), dtype=bool)
    mp[:, :w] = m
    flat = mp.ravel()
    prev = np.empty_like(flat)
    prev[0] = False
    prev[1:] = flat[:-1]
    is_start = flat & ~prev
    # run id per padded-flat pixel (valid where flat is True)
    rid = (np.cumsum(is_start) - 1).reshape(h, w + 1)
    n_runs = int(is_start.sum())

    # (row i columns, row i+1 columns) of each alignment whose pixels
    # unite their runs: straight down, then down-left and down-right
    aligns = [(slice(0, w), slice(0, w))]
    if connectivity == 8:
        aligns += [(slice(1, w), slice(0, w - 1)),
                   (slice(0, w - 1), slice(1, w))]
    keys = []
    for cu, cd in aligns:
        both = mp[:-1, cu] & mp[1:, cd]
        if both.any():
            keys.append(rid[:-1, cu][both] * np.int64(n_runs)
                        + rid[1:, cd][both])
    # dedup pairs first so the Python loop is O(runs); a root run is
    # its component's smallest run id (run ids ascend with flat pos)
    pairs = np.unique(np.concatenate(keys)) if keys else np.empty(0, np.int64)
    parent = union_min_roots(n_runs, pairs // n_runs, pairs % n_runs)
    roots = np.unique(parent)
    # scan-order numbering: roots ascend with their first run's start
    # (the root IS the component's smallest run id by the union rule)
    comp_of_run = np.searchsorted(roots, parent) + 1
    labels[m] = comp_of_run[rid[:, :w][m]].astype(np.int32)
    return labels, int(roots.size)


def fill_holes(mask: np.ndarray) -> np.ndarray:
    """Binary hole filling (scipy.ndimage.binary_fill_holes default
    structure semantics, contour.py:49): background components NOT
    connected to the array border are holes and become True."""
    inv = ~mask
    labs, n = label(inv)
    if n == 0:
        return mask.copy()
    border = np.concatenate(
        [labs[0, :], labs[-1, :], labs[:, 0], labs[:, -1]]
    )
    border_labels = np.unique(border[border > 0])
    is_outside = np.isin(labs, border_labels) & inv
    return mask | (inv & ~is_outside)


def find_objects(labels: np.ndarray, n: int):
    """Bounding-box slices per label (ndimage.find_objects).

    One pass over the nonzero pixels with per-label min/max scatters
    (np.minimum.at/np.maximum.at) instead of a full-array ``labels ==
    lab`` scan PER label -- the latter is O(n_labels * n_pixels) and
    dominated the fill kernel on many-void tiles (measured 0.51 s of a
    0.87 s fill at 3.6k voids on one 256 px tile)."""
    if n == 0:
        return []
    ii, jj = np.nonzero(labels)
    ll = labels[ii, jj].astype(np.int64) - 1
    h, w = labels.shape
    imin = np.full(n, h, dtype=np.int64)
    imax = np.full(n, -1, dtype=np.int64)
    jmin = np.full(n, w, dtype=np.int64)
    jmax = np.full(n, -1, dtype=np.int64)
    np.minimum.at(imin, ll, ii)
    np.maximum.at(imax, ll, ii)
    np.minimum.at(jmin, ll, jj)
    np.maximum.at(jmax, ll, jj)
    return [
        (
            slice(int(imin[k]), int(imax[k]) + 1),
            slice(int(jmin[k]), int(jmax[k]) + 1),
        )
        for k in range(n)
    ]


def smooth(array: np.ndarray) -> np.ndarray:
    """In-place 3x3 kernel correlate, scipy mode='reflect'
    (fill/fill.py:49-51)."""
    padded = np.pad(array, 1, mode="symmetric")
    acc = np.zeros_like(array, dtype=np.float64)
    for di in range(3):
        for dj in range(3):
            acc += KERNEL[di, dj] * padded[
                di : di + array.shape[0], dj : dj + array.shape[1]
            ]
    array[:] = acc.astype(array.dtype)
    return array


def zoom(array: np.ndarray) -> np.ndarray:
    """x2 nearest zoom (fill/fill.py:54-56)."""
    return array.repeat(2, axis=0).repeat(2, axis=1)


class Edge:
    """Contour of pixels around a void (fill/edges.py:17-63)."""

    def __init__(self, indices, values, shape):
        self.indices = indices
        self.values = values
        self.shape = shape

    @property
    def is_full(self) -> bool:
        return len(self.values) == self.shape[0] * self.shape[1]

    def aggregated(self) -> "Edge":
        """Median-of-quad aggregation (fill/edges.py:34-53)."""
        work = defaultdict(list)
        for k, i, j in zip(self.values, *self.indices):
            work[i // 2, j // 2].append(k)
        indices = tuple(np.array(ind) for ind in zip(*work))
        values = [statistics.median(work[k]) for k in zip(*indices)]
        return self.__class__(
            indices=indices,
            values=values,
            shape=(-(-self.shape[0] // 2), -(-self.shape[1] // 2)),
        )

    def pasteon(self, array: np.ndarray):
        array[self.indices] = self.values

    def toarray(self) -> np.ndarray:
        array = np.full(self.shape, FILLVALUE, dtype=DTYPE)
        self.pasteon(array)
        return array


def fill(edge: Edge, level: int = 0) -> np.ndarray:
    """Recursive aggregate -> fill -> zoom -> paste -> smooth
    (fill/fill.py:163-195)."""
    aggregated = edge.aggregated()
    if aggregated.is_full:
        agg_array = aggregated.toarray()
    else:
        agg_array = fill(aggregated, level + 1)
    array = zoom(agg_array)[: edge.shape[0], : edge.shape[1]]
    edge.pasteon(array)
    smooth(array)
    return array


def fill_voids(source: np.ndarray, no_data_value: float) -> np.ndarray:
    """Fill every nodata void in ``source``; returns a target array that
    is nodata outside the voids (fill/fill.py:198-243 Exchange loop)."""
    source = np.asarray(source, dtype=DTYPE)
    target = np.full_like(source, no_data_value)
    mask = source == no_data_value
    labels, total = label(mask)
    if not total:
        return target
    shape = source.shape
    # The per-void kernel is a pure function of (window pixels, void
    # mask); rasters with repetitive texture (constant regions,
    # periodic voids) produce many identical windows, so memoize the
    # filled window by content.  Exact by construction -- identical
    # inputs replay the identical deterministic recursion -- and
    # bounded: the cache is per call and capped, so adversarial
    # all-distinct inputs only pay the (cheap) key hashing.
    cache: dict = {}
    for lab, item in enumerate(find_objects(labels, total), 1):
        index = (
            slice(max(0, item[0].start - 1), min(shape[0], item[0].stop + 1)),
            slice(max(0, item[1].start - 1), min(shape[1], item[1].stop + 1)),
        )
        src = source[index]
        void = labels[index] == lab
        key = (src.tobytes(), void.tobytes())
        filled = cache.get(key)
        if filled is None:
            edge_mask = void ^ binary_dilation(void)
            indices = edge_mask.nonzero()
            edge = Edge(
                indices=indices, values=src[indices], shape=src.shape
            )
            filled = fill(edge)
            if len(cache) < 65536:
                cache[key] = filled
        tgt = target[index]
        tgt[void] = filled[void]
    return target
