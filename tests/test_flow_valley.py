"""Closed-form proof for the valley-DEM flow fixture.

The flow_direction / flow_accumulation registry queries are
oracle-hard only because the D8 field of the valley DEM

    dem(gi, gj) = 0.6*|gj - 96| + 0.4*(191 - gi)
                  + 0.0005*((gi*7919 + gj*104729) % 97)

has a PROVEN closed form.  These tests pin that proof on the exact
fixture: the trend margins beat the noise at every drop comparison
(no flats, no ties), depression fill is the identity, the kernel's
direction field equals the closed form, and the pointer-replay
accumulation equals the single-array reference -- so the DuckDB
recursive-CTE oracle replays the same pointers the engine follows.
"""
import numpy as np

from raster_tools_spark import flow
from references import accumulate

H = W = 192
JC = 96


def _valley_dem() -> np.ndarray:
    gi = np.arange(H)[:, None]
    gj = np.arange(W)[None, :]
    return (
        0.6 * np.abs(gj - JC)
        + 0.4 * (191 - gi)
        + 0.0005 * ((gi * 7919 + gj * 104729) % 97)
    ).astype(np.float32)


def _closed_form() -> np.ndarray:
    gi = np.arange(H)[:, None]
    gj = np.arange(W)[None, :]
    cf = np.zeros((H, W), np.uint8)
    east = np.broadcast_to(gj > JC, (H, W))
    west = np.broadcast_to(gj < JC, (H, W))
    chan = np.broadcast_to(gj == JC, (H, W))
    bot = np.broadcast_to(gi == H - 1, (H, W))
    cf[east & ~bot] = 16  # SW toward the channel
    cf[east & bot] = 32   # W along the bottom row
    cf[west & ~bot] = 4   # SE toward the channel
    cf[west & bot] = 2    # E along the bottom row
    cf[chan] = 8          # S down the channel (outlet exits south)
    return cf


def test_fill_is_identity_and_no_flats():
    dem = _valley_dem().astype(np.float64)
    padded = np.pad(dem, 4, mode="edge")
    filled = flow.fill_simple_depressions(padded.copy())
    assert np.array_equal(filled, padded)
    # no two 8-adjacent REAL cells share a value (no flats, and every
    # drop comparison is decided by >= 0.2 - 2*0.048 of trend margin)
    for di, dj in ((0, 1), (1, 0), (1, 1), (1, -1)):
        a = dem[max(0, -di):H - max(0, di), max(0, -dj):W - max(0, dj)]
        b = dem[max(0, di):H + min(0, di), max(0, dj):W + min(0, dj)]
        assert np.abs(a - b).min() > 0.1


def test_direction_matches_closed_form():
    # one giant tile with the halo_stencil world-border semantics
    # (margin-4 edge-replicated pad); the per-tile variant agrees by
    # the halo seam tests in test_focal.py
    dem = _valley_dem().astype(np.float64)
    padded = np.pad(dem, 4, mode="edge")
    flow.fill_simple_depressions(padded)
    d = flow.calculate_flow_direction(padded)[4:-4, 4:-4]
    assert np.array_equal(d, _closed_form())


def test_unique_strict_argmax_everywhere():
    """Every pixel's best drop is unique: the direction byte is a
    single _D8 bit everywhere except the outlet, whose only zero-drop
    neighbor is its south replica (byte 8, still a single bit)."""
    dem = _valley_dem().astype(np.float64)
    padded = np.pad(dem, 4, mode="edge")
    d = flow.calculate_flow_direction(padded)[4:-4, 4:-4]
    assert set(np.unique(d)) <= {2, 4, 8, 16, 32}


def test_pointer_replay_equals_accumulate():
    cf = _closed_form()
    acc = accumulate(cf)
    DI = {16: 1, 32: 0, 4: 1, 2: 0, 8: 1}
    DJ = {16: -1, 32: -1, 4: 1, 2: 1, 8: 0}
    acc2 = np.zeros((H, W), np.int64)
    for ii in range(H):
        for jj in range(W):
            ci, cj = ii, jj
            while True:
                dd = int(cf[ci, cj])
                ni, nj = ci + DI[dd], cj + DJ[dd]
                if not (0 <= ni < H and 0 <= nj < W):
                    break
                acc2[ni, nj] += 1
                ci, cj = ni, nj
    assert np.array_equal(acc.astype(np.int64), acc2)
    # the outlet collects the whole mosaic
    assert acc2[H - 1, JC] == H * W - 1
