"""Round-6 optimization internals: exact-equivalence tests for the
kernels whose implementation changed (the round's rule: an
optimization that changes an operator's internals gets a focused
test proving the output did not)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from raster_tools_spark import codecs, wkb
from raster_tools_spark.operators.roof import _knn_edges
from raster_tools_spark.grid import CELL_SIZE, WORLD_TOP
from references import anchor_of_phash


def _knn_edges_reference(pts, links, limit, chunk=512):
    """The pre-round-6 implementation: full-row stable argsort."""
    n = len(pts)
    starts, stops = [], []
    lim2 = limit * limit
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        d2 = np.zeros((e - s, n))
        for d in range(pts.shape[1]):
            dd = pts[s:e, d:d + 1] - pts[None, :, d]
            d2 += dd * dd
        d2[np.arange(e - s), np.arange(s, e)] = np.inf
        order = np.argsort(d2, axis=1, kind="stable")[:, :links]
        dsel = np.take_along_axis(d2, order, axis=1)
        ok = dsel < lim2
        rows = np.repeat(np.arange(s, e), links).reshape(-1, links)
        starts.append(rows[ok])
        stops.append(order[ok])
    if not starts:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(starts), np.concatenate(stops)


@pytest.mark.parametrize("links,limit", [(1, 0.2), (4, 0.5), (7, 1.5)])
def test_knn_edges_matches_reference(links, limit):
    rng = np.random.default_rng(7)
    clouds = [
        rng.random((500, 3)) * 3,                       # random
        np.hstack(                                       # grid: exact ties
            [np.mgrid[0:20, 0:17].reshape(2, -1).T * 0.3,
             np.zeros((340, 1))]
        ),
        np.round(rng.random((400, 3)), 1),               # duplicate coords
    ]
    for pts in clouds:
        a = _knn_edges_reference(pts, links, limit)
        b = _knn_edges(pts, links, limit)
        assert np.array_equal(a[0], b[0])
        assert np.array_equal(a[1], b[1])


def _rect_wkb(x1, y1, x2, y2):
    return wkb.polygon_wkb(
        np.array([(x1, y1), (x2, y1), (x2, y2), (x1, y2), (x1, y1)])
    )


def _mk_candidates():
    """Two tiny images x three overlapping rect features, as the
    candidate-pair batches _partials_stream consumes."""
    rng = np.random.default_rng(3)
    rows = []
    for img_i in range(2):
        px = rng.integers(0, 256, (8, 8), dtype=np.uint8)
        px[0, 0] = 255  # nodata pixel
        b = codecs.png_encode(px)
        x0 = img_i * 8 * CELL_SIZE
        y_top = WORLD_TOP
        for fid in range(3):
            poly = _rect_wkb(
                x0 + fid * CELL_SIZE, y_top - 8 * CELL_SIZE,
                x0 + (fid + 4) * CELL_SIZE, y_top,
            )
            rows.append(
                (f"img{img_i}", b, "png", x0, y_top, fid, poly, 255)
            )
    return pd.DataFrame(
        rows,
        columns=["image_id", "bytes", "fmt", "x0", "y_top",
                 "feat_id", "geom_wkb", "nodata"],
    )


def _run_partials(batches, monkeypatch=None, max_feats=None):
    from raster_tools_spark.operators import zonal as Z

    if max_feats is not None:
        monkeypatch.setattr(Z, "_MAX_ACC_FEATS", max_feats)
    out = list(Z._partials_stream(iter(batches)))
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


def _finalized(spark, parts):
    from raster_tools_spark.operators.zonal import (
        _PARTIAL_SCHEMA, _finalize_stats,
    )

    return (
        _finalize_stats(spark.createDataFrame(parts, _PARTIAL_SCHEMA))
        .toPandas()
        .sort_values("feat_id")
        .reset_index(drop=True)
    )


def test_partials_preagg_flush_merge_identical(spark, monkeypatch):
    """Forcing the bounded-accumulator flush after every feature must
    finalize to exactly the same per-feature stats as the unflushed
    single-yield path (the commutative-merge property the
    pre-aggregation relies on)."""
    pdf = _mk_candidates()
    one = _finalized(spark, _run_partials([pdf]))
    flushed = _finalized(
        spark, _run_partials([pdf], monkeypatch, max_feats=1)
    )
    pd.testing.assert_frame_equal(one, flushed, check_exact=True)
    # split across batches (decode state carries over) is also identical
    split = _finalized(
        spark, _run_partials([pdf.iloc[:4], pdf.iloc[4:]])
    )
    pd.testing.assert_frame_equal(one, split, check_exact=True)
    assert set(one["feat_id"]) == {0, 1, 2}
    assert (one["cnt"] > 0).all()


def test_span_anchor_byte_mod_identity():
    """The one-byte anchor test used by anchored_span_pairs' hot loop
    equals the big-endian-mod predicate whenever p divides 256."""
    rng = np.random.default_rng(11)
    digs = [bytes(rng.integers(0, 256, 16, dtype=np.uint8).tolist())
            for _ in range(2000)]
    for p in (2, 4, 8, 16, 32, 64, 128, 256):
        assert 256 % p == 0
        for d in digs[:500]:
            assert (int.from_bytes(d[:4], "big") % p == 0) == (
                d[3] % p == 0
            )


def test_floor_bucket_negative_epochs(spark):
    """The pmod floor-division bucketing (gap_fill/cohort_retention)
    must agree with mathematical floor for negative (pre-1970) epoch
    micros, where plain `div` truncates toward zero (ADVICE r5)."""
    micros = [-7_200_000_001, -3_600_000_000, -1, 0, 1,
              3_599_999_999, 1_755_838_000_000_000]
    df = spark.createDataFrame([(m,) for m in micros], "us long")
    got = [
        r.b for r in df.selectExpr(
            "(us - pmod(us, 3600000000)) div 3600000000 AS b"
        ).collect()
    ]
    assert got == [m // 3_600_000_000 for m in micros]


def _label_jacobi_reference(mask):
    """The pre-round-6 label(): Jacobi min-propagation to fixpoint."""
    h, w = mask.shape
    big = np.int64(h * w)
    lab = np.where(
        mask, np.arange(h * w, dtype=np.int64).reshape(h, w), big
    )
    for _ in range(h * w + 2):  # true fixpoint, no round cap
        new = lab.copy()
        np.minimum(new[1:, :], lab[:-1, :], out=new[1:, :])
        np.minimum(new[:-1, :], lab[1:, :], out=new[:-1, :])
        np.minimum(new[:, 1:], lab[:, :-1], out=new[:, 1:])
        np.minimum(new[:, :-1], lab[:, 1:], out=new[:, :-1])
        new[~mask] = big
        if np.array_equal(new, lab):
            break
        lab = new
    roots = np.unique(lab[mask])
    labels = np.zeros((h, w), dtype=np.int32)
    if roots.size:
        labels[mask] = (
            np.searchsorted(roots, lab[mask]) + 1
        ).astype(np.int32)
    return labels, int(roots.size)


def _flood8_reference(mask, seed):
    """8-connected flood fill from ``seed``: dilate-and-mask until the
    frontier stops growing (the former upstream nearest-piece test)."""
    reach = np.zeros_like(mask)
    reach[seed] = True
    while True:
        grown = reach.copy()
        grown[1:, :] |= reach[:-1, :]
        grown[:-1, :] |= reach[1:, :]
        grown[:, 1:] |= reach[:, :-1]
        grown[:, :-1] |= reach[:, 1:]
        grown[1:, 1:] |= reach[:-1, :-1]
        grown[1:, :-1] |= reach[:-1, 1:]
        grown[:-1, 1:] |= reach[1:, :-1]
        grown[:-1, :-1] |= reach[1:, 1:]
        grown &= mask
        if (grown == reach).all():
            return reach
        reach = grown


def _label8_reference(mask):
    """8-connected labels by repeated floods from the first remaining
    pixel, so numbering is row-major first appearance."""
    labels = np.zeros(mask.shape, dtype=np.int32)
    rest = mask.copy()
    nxt = 0
    while rest.any():
        seed = np.unravel_index(int(np.argmax(rest)), rest.shape)
        comp = _flood8_reference(rest, seed)
        nxt += 1
        labels[comp] = nxt
        rest &= ~comp
    return labels, nxt


def _label_cases(seed):
    """Random densities and shapes plus the degenerate and adversarial
    masks: 1xN, Nx1, empty, all-True, diagonal staircase, checkerboard
    and serpentine."""
    rng = np.random.default_rng(seed)
    cases = [rng.random(shape) < p
             for p in (0.2, 0.5, 0.8)
             for shape in ((1, 1), (1, 17), (23, 1), (13, 17), (48, 48))
             for _ in range(4)]
    stair = np.zeros((12, 12), bool)
    for t in range(11):
        stair[t, t] = True
        stair[t, 11 - t] = True
    checker = (np.add.outer(np.arange(9), np.arange(11)) % 2) == 0
    serp = np.zeros((40, 40), bool)
    serp[::2, :] = True
    serp[1::4, -1] = True
    serp[3::4, 0] = True
    cases += [stair, checker, serp,
              np.zeros((8, 8), bool), np.ones((8, 8), bool),
              np.zeros((1, 9), bool), np.ones((1, 9), bool),
              np.ones((7, 1), bool), np.zeros((0, 5), bool)]
    return cases


def test_label_runbased_matches_jacobi_reference():
    """label(m, 4) equals the Jacobi min-propagation fixpoint (labels
    and count) over the whole mask domain."""
    from raster_tools_spark.fillnodata import label

    for m in _label_cases(13):
        a_lab, a_n = _label_jacobi_reference(m)
        b_lab, b_n = label(m, 4)
        assert a_n == b_n
        assert np.array_equal(a_lab, b_lab)
        assert b_lab.dtype == np.int32


def test_label8_matches_flood_reference():
    """label(m, 8) equals repeated 8-connected floods (labels and
    count, both row-major first-appearance numbered)."""
    from raster_tools_spark.fillnodata import label

    for m in _label_cases(17):
        a_lab, a_n = _label8_reference(m)
        b_lab, b_n = label(m, 8)
        assert a_n == b_n
        assert np.array_equal(a_lab, b_lab)


def test_label_checkerboard_connectivity():
    """A checkerboard is all singletons at 4 and one piece at 8."""
    from raster_tools_spark.fillnodata import label

    checker = (np.add.outer(np.arange(9), np.arange(11)) % 2) == 0
    assert label(checker, 4)[1] == int(checker.sum())
    assert label(checker, 8)[1] == 1


def _nearest_scan_reference(points, z, qx, qy, chunk=2048):
    """The pre-round-6 nearest_values: direct chunked full scan."""
    pts = np.asarray(points, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    qx = np.asarray(qx, dtype=np.float64).ravel()
    qy = np.asarray(qy, dtype=np.float64).ravel()
    out = np.empty(qx.size)
    for s in range(0, qx.size, chunk):
        e = min(s + chunk, qx.size)
        dx = qx[s:e, None] - pts[None, :, 0]
        dy = qy[s:e, None] - pts[None, :, 1]
        d2 = dx * dx + dy * dy
        out[s:e] = z[np.argmin(d2, axis=1)]
    return out


def test_nearest_pruned_matches_full_scan():
    """The tile-pruned nearest scan must be bit-identical to the full
    scan, including the lowest-index rule on EXACT distance ties
    (quantized coordinate clouds force many).  Sizes run from one tile
    to 16 x 16 tiles, on both sides of 4M point-query pairs."""
    from raster_tools_spark.functions.triangulate import nearest_values

    rng = np.random.RandomState(11)
    for trial in range(45):
        kind = trial % 3
        n = rng.randint(1, 400)
        if kind == 0:
            pts = rng.rand(n, 2) * 10
        elif kind == 1:
            g = rng.randint(6, 14)
            xs, ys = np.meshgrid(np.arange(g) * 0.5, np.arange(g) * 0.5)
            pts = np.c_[xs.ravel(), ys.ravel()][:n]
        else:
            pts = np.round(rng.rand(n, 2) * 8) * 0.25  # exact ties
        z = rng.rand(len(pts))
        nq = rng.randint(0, 3000)
        q = rng.rand(nq, 2) * 30 - 10
        ref = _nearest_scan_reference(pts, z, q[:, 0], q[:, 1])
        got = nearest_values(pts, z, q[:, 0], q[:, 1])
        assert np.array_equal(ref, got), f"trial {trial}"
    # above the old 4M-pair size gate: 8000 x 600 pairs, and a
    # 16 x 16-tile case whose quantized points force exact ties
    for pts, nq in ((rng.rand(600, 2) * 12, 8000),
                    (np.round(rng.rand(900, 2) * 40) * 0.25, 20000)):
        z = rng.rand(len(pts))
        q = rng.rand(nq, 2) * 40 - 14
        assert np.array_equal(
            nearest_values(pts, z, q[:, 0], q[:, 1]),
            _nearest_scan_reference(pts, z, q[:, 0], q[:, 1]))


def test_nearest_pruned_degenerate_geometry():
    """Zero queries, one point, zero-extent query sets (every query
    identical), far-away clusters and tiles holding more than one
    2048-row chunk of queries must all equal the full scan."""
    from raster_tools_spark.functions.triangulate import nearest_values

    rng = np.random.RandomState(3)
    pts = rng.rand(200, 2) * 4 + 1000.0  # cluster far from queries
    z = rng.rand(200)
    assert nearest_values(pts, z, np.empty(0), np.empty(0)).size == 0
    # one point: every query takes its value
    assert (nearest_values(pts[:1], z[:1], rng.rand(50), rng.rand(50))
            == z[0]).all()
    # all queries the SAME point -> qx/qy extent exactly 0, and 5000
    # queries in the one tile -> three chunks
    for nq in (500, 5000):
        qx = np.full(nq, -5.0)
        qy = np.full(nq, 7.5)
        assert np.array_equal(
            nearest_values(pts, z, qx, qy),
            _nearest_scan_reference(pts, z, qx, qy))
    # queries ON the cluster plus a distant tail in one call
    qx2 = np.concatenate([pts[:100, 0], np.linspace(-50, 2000, 400)])
    qy2 = np.concatenate([pts[:100, 1], np.full(400, 3.0)])
    assert np.array_equal(
        nearest_values(pts, z, qx2, qy2),
        _nearest_scan_reference(pts, z, qx2, qy2))
    # many tiles, one of them holding 6000 clustered queries
    pts3 = rng.rand(700, 2) * 10
    z3 = rng.rand(700)
    q3 = np.concatenate([rng.rand(24000, 2) * 10,
                         rng.rand(6000, 2) * 0.01 + 5.0])
    assert np.array_equal(
        nearest_values(pts3, z3, q3[:, 0], q3[:, 1]),
        _nearest_scan_reference(pts3, z3, q3[:, 0], q3[:, 1]))


def test_nearest_memory_bounded_by_chunk():
    """Weak pruning (every point survives) with nearly every query in
    one tile: the working set is one chunk x candidates, not the
    tile's queries x candidates (~64 MB per array here).  The rest of
    the bound is the O(queries) index arrays."""
    import tracemalloc

    from raster_tools_spark.functions.triangulate import nearest_values

    rng = np.random.RandomState(5)
    ang = rng.rand(80) * 2 * np.pi  # a ring around the query cluster:
    pts = np.c_[np.cos(ang), np.sin(ang)] * 100.0  # nothing is pruned
    z = rng.rand(80)
    q = np.concatenate([rng.rand(100_000, 2) * 0.01,
                        np.array([[-500.0, -500.0], [500.0, 500.0]])])
    tracemalloc.start()
    try:
        got = nearest_values(pts, z, q[:, 0], q[:, 1])
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 24 * 2**20, peak
    assert np.array_equal(
        got, _nearest_scan_reference(pts, z, q[:, 0], q[:, 1]))


def _scanline_fill_reference(mask, rings, p, a, q, d, i0, i1, j0, j1):
    """The pre-round-6 scalar fill: per-row Python loop over even-odd
    intersection pairs."""
    from raster_tools_spark.geom import _edges_of_rings

    x1e, y1e, x2e, y2e = _edges_of_rings(rings)
    ys = q + d * (np.arange(i0, i1, dtype=np.float64) + 0.5)
    with np.errstate(divide="ignore", invalid="ignore"):
        straddle = (y1e[None, :] > ys[:, None]) != (
            y2e[None, :] > ys[:, None]
        )
        xint = x1e + (ys[:, None] - y1e) * (x2e - x1e) / (y2e - y1e)
    M = np.where(straddle, xint, np.inf)
    M.sort(axis=1)
    counts = straddle.sum(axis=1)
    for r in range(i1 - i0):
        m = counts[r]
        if m == 0:
            continue
        row = M[r]
        for k in range(0, m - 1, 2):
            t_lo, t_hi = row[k], row[k + 1]
            js = max(int(np.ceil((t_lo - p) / a - 0.5)), j0)
            je = min(int(np.ceil((t_hi - p) / a - 0.5)), j1)
            if je > js:
                mask[i0 + r, js:je] = True


def test_scanline_fill_vectorized_matches_scalar():
    """The difference-array fill must reproduce the scalar loop bit-
    for-bit over random simple/star/multi-ring polygons, including
    rings landing exactly on pixel centers (forced dyadic vertices)."""
    from raster_tools_spark.geom import _scanline_fill

    rng = np.random.RandomState(5)
    for trial in range(60):
        h = int(rng.randint(4, 40))
        w = int(rng.randint(4, 40))
        p, a, q, d = 0.0, 1.0, float(h), -1.0
        nring = 1 + (trial % 3 == 2)
        rings = []
        for _ in range(nring):
            nv = int(rng.randint(3, 11))
            cx, cy = rng.rand(2) * [w, h]
            ang = np.sort(rng.rand(nv) * 2 * np.pi)
            rad = rng.rand(nv) * (min(h, w) / 2) + 0.5
            vx = cx + rad * np.cos(ang)
            vy = cy + rad * np.sin(ang)
            if trial % 4 == 0:  # dyadic: vertices on the center lattice
                vx = np.round(vx * 2) / 2
                vy = np.round(vy * 2) / 2
            ring = np.c_[vx, vy]
            rings.append(np.vstack([ring, ring[:1]]))
        i0, i1 = 0, h
        j0, j1 = 0, w
        ref = np.zeros((h, w), dtype=bool)
        got = np.zeros((h, w), dtype=bool)
        _scanline_fill_reference(ref, rings, p, a, q, d, i0, i1, j0, j1)
        _scanline_fill(got, rings, p, a, q, d, i0, i1, j0, j1)
        assert np.array_equal(ref, got), f"trial {trial}"
        # clipped sub-windows must agree too
        si0, si1 = 1, max(2, h - 2)
        sj0, sj1 = 1, max(2, w - 2)
        ref2 = np.zeros((h, w), dtype=bool)
        got2 = np.zeros((h, w), dtype=bool)
        _scanline_fill_reference(
            ref2, rings, p, a, q, d, si0, si1, sj0, sj1)
        _scanline_fill(got2, rings, p, a, q, d, si0, si1, sj0, sj1)
        assert np.array_equal(ref2, got2), f"trial {trial} clipped"


def _blob_sizes_reference(mask):
    """The pre-round-6 per-pixel dict union-find, 8-connectivity."""
    coords = np.argwhere(mask)
    idx = {(int(i), int(j)): k for k, (i, j) in enumerate(coords)}
    parent = list(range(len(coords)))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for (i, j), k in idx.items():
        for di, dj in ((-1, -1), (-1, 0), (-1, 1), (0, -1)):
            nb = idx.get((i + di, j + dj))
            if nb is not None:
                ra, rb = find(k), find(nb)
                if ra != rb:
                    parent[rb] = ra
    from collections import Counter

    return list(Counter(find(k) for k in range(len(coords))).values())


def test_blob_sizes_runbased_matches_dict_reference():
    """blob_stats' sizes -- bincount of label(m, 8) -- must match the
    per-pixel reference's size multiset exactly over random densities,
    serpentines, diagonal-only chains, checkerboards and degenerate
    shapes (8-connectivity)."""
    from raster_tools_spark.fillnodata import label

    cases = _label_cases(29)
    rng = np.random.default_rng(29)
    cases += [rng.random((40, 40)) < p for p in (0.15, 0.4, 0.6, 0.9)]
    for msk in cases:
        sizes = np.bincount(label(msk, 8)[0].ravel())[1:]
        assert sorted(sizes.tolist()) == sorted(_blob_sizes_reference(msk))


def test_anchor_cols_matches_numpy(spark):
    """The JVM anchor expression must reproduce the numpy wrapping
    Knuth multiply bit-for-bit for any int64 phash -- random bits,
    negatives, and the extremes -- at windowed and full tile axes."""
    import pyspark.sql.functions as F

    from raster_tools_spark.operators.tile import _anchor_cols
    from raster_tools_spark.synth import anchor_of_phash_windowed

    rng = np.random.RandomState(17)
    ph = np.concatenate([
        rng.randint(-(2 ** 63), 2 ** 63 - 1, size=4000, dtype=np.int64),
        np.array([0, 1, -1, 2 ** 62, 2 ** 63 - 1, -(2 ** 63),
                  (1 << 62) - 1, (1 << 31) - 1, -(1 << 31)],
                 dtype=np.int64),
    ])
    df = spark.createDataFrame(
        [(int(v),) for v in ph], schema="phash long")
    for axis in (16, 256, 1024, 4096, 8192):
        x0c, ytc = _anchor_cols(F.col("phash"), axis)
        got = (
            df.select("phash", x0c.alias("x0"), ytc.alias("y_top"))
            .toPandas().sort_values("phash").reset_index(drop=True)
        )
        if axis >= 4096:
            ex0, ey = anchor_of_phash(got["phash"].to_numpy())
        else:
            ex0, ey = anchor_of_phash_windowed(
                got["phash"].to_numpy(), axis)
        assert np.array_equal(got["x0"].to_numpy(), ex0), axis
        assert np.array_equal(got["y_top"].to_numpy(), ey), axis
