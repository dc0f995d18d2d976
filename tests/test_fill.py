"""G4 complex depression fill: priority-flood vs an independent
iterative-relaxation oracle, plus staged-block pass structure."""

import numpy as np
import pytest

from raster_tools_spark import fill as fmod


def relax_fill(dem):
    """Independent oracle: fixpoint of
    fill(c) = max(dem(c), min over 8-neighbors n of fill(n)), border
    pinned to dem.  Classic O(n^2) relaxation."""
    f = np.full_like(dem, np.inf, dtype=np.float64)
    f[0, :] = dem[0, :]
    f[-1, :] = dem[-1, :]
    f[:, 0] = dem[:, 0]
    f[:, -1] = dem[:, -1]
    h, w = dem.shape
    changed = True
    while changed:
        changed = False
        for i in range(h):
            for j in range(w):
                best = f[i, j]
                for di in (-1, 0, 1):
                    for dj in (-1, 0, 1):
                        if di == 0 and dj == 0:
                            continue
                        ni, nj = i + di, j + dj
                        if 0 <= ni < h and 0 <= nj < w:
                            cand = max(dem[i, j], f[ni, nj])
                            if cand < best:
                                best = cand
                if best < f[i, j]:
                    f[i, j] = best
                    changed = True
    return f


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_priority_flood_matches_relaxation(seed):
    rng = np.random.default_rng(seed)
    dem = rng.integers(0, 50, size=(14, 17)).astype(np.float64)
    expected = relax_fill(dem)
    got = fmod.priority_flood_fill(dem.copy())
    assert np.array_equal(got, expected)


def test_fill_is_idempotent_and_monotone():
    rng = np.random.default_rng(42)
    dem = rng.integers(0, 200, size=(60, 60)).astype(np.float64)
    filled = fmod.priority_flood_fill(dem.copy())
    assert (filled >= dem).all()
    again = fmod.priority_flood_fill(filled.copy())
    assert np.array_equal(filled, again)


def test_block_grid_reference_bounds():
    # range(offset, 1 + H - step, step): only full blocks
    assert fmod.block_grid((0, 0, 250, 250), 100, 0) == [
        (0, 0), (0, 100), (100, 0), (100, 100)
    ]
    assert fmod.block_grid((0, 0, 250, 250), 100, 25) == [
        (25, 25), (25, 125), (125, 25), (125, 125)
    ]
    # exact fit keeps the last block
    assert (100, 100) in fmod.block_grid((0, 0, 200, 200), 100, 0)


def test_staged_fill_fills_small_pits_leaves_giant_ones_partial():
    rng = np.random.default_rng(7)
    dem = np.full((300, 300), 100.0)
    # small pit fully inside one block: must be raised to its rim
    dem[10:14, 10:14] = 5.0
    # wide shallow depression spanning many blocks
    dem[140:260, 40:260] -= 30.0
    out = fmod.fill_depressions_staged(dem.copy())
    assert (out[10:14, 10:14] == 100.0).all()
    # staged passes raise block-local pour points only; the giant
    # depression's interior cells far from any block border keep a
    # level below the true rim (stage-1 semantics)
    assert out[200, 150] <= 100.0
    assert (out >= dem).all()
