"""Delaunay triangulation + piecewise-linear ("griddata linear")
interpolation in pure numpy (SURVEY.md 2.7 interpolation family; the
reference interpolates per feature with scipy griddata at
roof.py:73-77, zvp2tif.py:66-77 -- scipy is not in this container).

Algorithm: Bowyer-Watson incremental insertion with a super-triangle,
deterministic insertion order (input order), and float64 in-circle
determinants.  The evaluation step assigns each query point to the
triangle with the largest minimum barycentric weight; queries whose
best weight is below -1e-9 are outside the convex hull and return
NaN (callers fall back to nearest, as griddata's nearest method does).

The planar-reproduction property -- ANY valid triangulation of points
sampled from z = a + b*x + c*y reproduces the plane everywhere inside
the hull -- makes the interpolator oracle-checkable without fixing the
triangulation itself (see queries.grid_linear).

Per-feature use (the reference's own shape: one griddata call per
building footprint) keeps each triangulation local to one Spark task;
the distributed axis is the feature set, not the point cloud.
"""

from __future__ import annotations

import numpy as np


def _circumcircle(pts, tri):
    """Centers (m,2) and squared radii (m,) of triangle circumcircles."""
    a = pts[tri[:, 0]]
    b = pts[tri[:, 1]]
    c = pts[tri[:, 2]]
    ab = b - a
    ac = c - a
    d = 2.0 * (ab[:, 0] * ac[:, 1] - ab[:, 1] * ac[:, 0])
    # degenerate triangles get an empty circle (never broken by inserts)
    safe = np.where(d == 0.0, 1.0, d)
    ab2 = ab[:, 0] ** 2 + ab[:, 1] ** 2
    ac2 = ac[:, 0] ** 2 + ac[:, 1] ** 2
    ux = (ac[:, 1] * ab2 - ab[:, 1] * ac2) / safe
    uy = (ab[:, 0] * ac2 - ac[:, 0] * ab2) / safe
    cx = a[:, 0] + ux
    cy = a[:, 1] + uy
    r2 = np.where(d == 0.0, -1.0, ux * ux + uy * uy)
    return cx, cy, r2


def delaunay(points: np.ndarray) -> np.ndarray:
    """(n, 2) float64 -> (m, 3) int32 triangle vertex indices.

    Bowyer-Watson with a super-triangle.  Circumcircles are computed
    ONCE per created triangle and cached in growable arrays (an
    ``alive`` mask retires cavity triangles; the arrays compact when
    mostly dead), so each insert costs one vectorized in-circle compare
    over live triangles plus circumcircles for the new fan only --
    O(n * live) compares total, with none of the per-insert array
    rebuilding a naive implementation pays.  Duplicate points must be
    removed by the caller.
    """
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    if n < 3:
        return np.empty((0, 3), np.int32)

    # super-triangle comfortably containing everything
    mn = pts.min(axis=0)
    mx = pts.max(axis=0)
    span = float(max(mx[0] - mn[0], mx[1] - mn[1], 1.0))
    midx, midy = float((mn[0] + mx[0]) / 2), float((mn[1] + mx[1]) / 2)
    sup = np.array(
        [
            [midx - 20.0 * span, midy - 10.0 * span],
            [midx + 20.0 * span, midy - 10.0 * span],
            [midx, midy + 20.0 * span],
        ]
    )
    allp = np.vstack([pts, sup])

    cap = max(4 * n, 64)
    tri = np.empty((cap, 3), np.int64)
    ccx = np.empty(cap)
    ccy = np.empty(cap)
    cr2 = np.empty(cap)
    alive = np.zeros(cap, bool)

    def grow(need):
        nonlocal cap, tri, ccx, ccy, cr2, alive
        cap = max(cap * 2, need)
        tri = np.resize(tri, (cap, 3))
        ccx = np.resize(ccx, cap)
        ccy = np.resize(ccy, cap)
        cr2 = np.resize(cr2, cap)
        a2 = np.zeros(cap, bool)
        a2[: alive.size] = alive
        alive = a2

    def put(rows, top):
        m = len(rows)
        if top + m > cap:
            grow(top + m)
        t_arr = np.asarray(rows, np.int64).reshape(-1, 3)
        tri[top: top + m] = t_arr
        cx, cy, r2 = _circumcircle(allp, t_arr)
        ccx[top: top + m] = cx
        ccy[top: top + m] = cy
        cr2[top: top + m] = r2
        alive[top: top + m] = True
        return top + m

    top = put([(n, n + 1, n + 2)], 0)
    n_live = 1  # tracked incrementally -- no O(top) recount per insert

    for i in range(n):
        px, py = allp[i]
        dx = px - ccx[:top]
        dy = py - ccy[:top]
        bad = (dx * dx + dy * dy <= cr2[:top]) & alive[:top]
        idx = np.nonzero(bad)[0]
        if idx.size == 0:
            continue
        # boundary of the star-shaped cavity: edges appearing once
        edges: dict = {}
        for ti in idx:
            a, b, c = tri[ti]
            for e in ((a, b), (b, c), (c, a)):
                key = (e[0], e[1]) if e[0] < e[1] else (e[1], e[0])
                if key in edges:
                    del edges[key]
                else:
                    edges[key] = e  # keep orientation of first sight
        alive[idx] = False
        prev_top = top
        top = put([(e[0], e[1], i) for e in edges.values()], top)
        n_live += (top - prev_top) - idx.size
        if top > 256 and n_live * 3 < top:
            # compact: copy live rows down
            live = np.nonzero(alive[:top])[0]
            m = live.size
            tri[:m] = tri[live]
            ccx[:m] = ccx[live]
            ccy[:m] = ccy[live]
            cr2[:m] = cr2[live]
            alive[:top] = False
            alive[:m] = True
            top = m

    live = np.nonzero(alive[:top])[0]
    out = tri[live]
    out = out[(out < n).all(axis=1)]
    return out.astype(np.int32).reshape(-1, 3)


def interp_linear(
    points: np.ndarray,
    z: np.ndarray,
    qx: np.ndarray,
    qy: np.ndarray,
) -> np.ndarray:
    """Piecewise-linear interpolation of z at (qx, qy); NaN outside the
    convex hull.  Each query uses the triangle with the largest minimum
    barycentric weight, so points on shared edges are well-defined (the
    linear value agrees from both sides)."""
    pts = np.asarray(points, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    qx = np.asarray(qx, dtype=np.float64).ravel()
    qy = np.asarray(qy, dtype=np.float64).ravel()
    out = np.full(qx.size, np.nan)
    tri = delaunay(pts)
    if len(tri) == 0:
        return out

    a_all = pts[tri[:, 0]]
    b_all = pts[tri[:, 1]]
    c_all = pts[tri[:, 2]]
    det_all = (b_all[:, 1] - c_all[:, 1]) * (a_all[:, 0] - c_all[:, 0]) + (
        c_all[:, 0] - b_all[:, 0]
    ) * (a_all[:, 1] - c_all[:, 1])
    # bucketed point-location: hash triangles into a coarse grid keyed
    # by their bboxes (bucket edge >= the largest triangle bbox, so a
    # query only ever needs its OWN bucket), group queries per bucket,
    # and compute barycentric weights bucket-locally.  Work becomes
    # O(queries x triangles-per-bucket) instead of O(queries x all).
    txs = np.stack([a_all[:, 0], b_all[:, 0], c_all[:, 0]])
    tys = np.stack([a_all[:, 1], b_all[:, 1], c_all[:, 1]])
    tx1, tx2 = txs.min(axis=0), txs.max(axis=0)
    ty1, ty2 = tys.min(axis=0), tys.max(axis=0)
    gx1 = float(min(tx1.min(), qx.min()))
    gy1 = float(min(ty1.min(), qy.min()))
    extent = max(
        float(max(tx2.max(), qx.max())) - gx1,
        float(max(ty2.max(), qy.max())) - gy1,
        1e-9,
    )
    slack = 2.0 * 1e-9 * extent
    # bucket edge: no triangle bbox (plus eps slack) spans more than
    # one bucket neighborhood; floor the count so tiny clouds stay in
    # one bucket and huge ones cap the hash table
    edge = max(
        float((tx2 - tx1).max()), float((ty2 - ty1).max()), extent / 256.0
    ) + 2.0 * slack
    nb = int(extent / edge) + 2

    def bx(v, lo):
        return np.clip(((v - lo) / edge).astype(np.int64), 0, nb - 1)

    # register each triangle in every bucket its bbox (plus slack) maps
    # to (bboxes span <= 2 buckets per axis by construction)
    ok = det_all != 0.0
    reg_t, reg_b = [], []
    for dxs in (tx1 - slack, tx2 + slack):
        for dys in (ty1 - slack, ty2 + slack):
            reg_t.append(np.arange(len(tri)))
            reg_b.append(bx(dxs, gx1) * nb + bx(dys, gy1))
    reg_t = np.concatenate(reg_t)
    reg_b = np.concatenate(reg_b)
    keep = ok[reg_t]
    reg_t, reg_b = reg_t[keep], reg_b[keep]
    # dedup (triangle, bucket) pairs from corner collisions
    pair = reg_b * (len(tri) + 1) + reg_t
    uniq = np.unique(pair)
    reg_b = uniq // (len(tri) + 1)
    reg_t = uniq % (len(tri) + 1)
    order = np.argsort(reg_b, kind="stable")
    reg_b, reg_t = reg_b[order], reg_t[order]
    bstart = np.searchsorted(reg_b, np.arange(nb * nb))
    bend = np.searchsorted(reg_b, np.arange(nb * nb), side="right")

    qb = bx(qx, gx1) * nb + bx(qy, gy1)
    qorder = np.argsort(qb, kind="stable")
    qb_sorted = qb[qorder]
    bounds = np.searchsorted(
        qb_sorted, np.unique(qb_sorted), side="left"
    ).tolist() + [qx.size]
    ubuckets = np.unique(qb_sorted)

    for ui, bket in enumerate(ubuckets):
        t0, t1 = int(bstart[bket]), int(bend[bket])
        if t0 == t1:
            continue
        qidx = qorder[bounds[ui]: bounds[ui + 1]]
        sel = reg_t[t0:t1]
        a, b, c = a_all[sel], b_all[sel], c_all[sel]
        det = det_all[sel]
        for s in range(0, qidx.size, 4096):
            qs = qidx[s: s + 4096]
            dqx = qx[qs, None] - c[None, :, 0]
            dqy = qy[qs, None] - c[None, :, 1]
            w1 = (
                (b[None, :, 1] - c[None, :, 1]) * dqx
                + (c[None, :, 0] - b[None, :, 0]) * dqy
            ) / det
            w2 = (
                (c[None, :, 1] - a[None, :, 1]) * dqx
                + (a[None, :, 0] - c[None, :, 0]) * dqy
            ) / det
            w3 = 1.0 - w1 - w2
            minw = np.minimum(np.minimum(w1, w2), w3)
            best = np.argmax(minw, axis=1)
            rows = np.arange(qs.size)
            good = minw[rows, best] >= -1e-9
            bt = tri[sel[best[good]]]
            out[qs[good]] = (
                w1[rows[good], best[good]] * z[bt[:, 0]]
                + w2[rows[good], best[good]] * z[bt[:, 1]]
                + w3[rows[good], best[good]] * z[bt[:, 2]]
            )
    return out


def nearest_values(
    points: np.ndarray,
    z: np.ndarray,
    qx: np.ndarray,
    qy: np.ndarray,
) -> np.ndarray:
    """Nearest-point value per query; distance ties break to the LOWEST
    point index (deterministic, mirrored by the SQL oracle).

    Tile-pruned exact scan.  Queries are bucketed into a square grid of
    spatial tiles whose side count grows with the point-query pair
    count (one tile for small inputs, at most 16 x 16); per tile, a point
    is dropped only when its distance to the tile's query bbox exceeds
    the tile's nearest-neighbor upper bound (min over points of the max
    distance to the bbox corners) by a relative slack, so float
    rounding can only ADD candidates.  The survivors stay in ascending
    point order and each tile's queries are scanned 2048 rows at a
    time (working set 2048 x candidates, however weak the
    pruning) with the same per-pair expression, so argmin's
    first-minimum rule picks the same lowest-index winner as a full
    scan.
    """
    pts = np.asarray(points, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    qx = np.asarray(qx, dtype=np.float64).ravel()
    qy = np.asarray(qy, dtype=np.float64).ravel()
    out = np.empty(qx.size)
    if not qx.size:
        return out
    # tiles per side grow with sqrt(pairs): one tile (a full scan after
    # an O(points) prune) below 250k pairs, 16 from 16M up.  The 1/250
    # slope balances the per-tile prune against the scan it saves: the
    # best of four slopes from 1/62 to 1/500 on 10k..60M pairs, 4 cores
    tiles = min(16, max(1, int((qx.size * len(pts)) ** 0.5 / 250)))
    x1, x2 = qx.min(), qx.max()
    y1, y2 = qy.min(), qy.max()
    ts = max(x2 - x1, y2 - y1, 1e-9) / tiles
    ti = np.minimum(((qx - x1) / ts).astype(np.int64), tiles - 1)
    tj = np.minimum(((qy - y1) / ts).astype(np.int64), tiles - 1)
    tid = ti * tiles + tj
    order = np.argsort(tid, kind="stable")
    tid_s = tid[order]
    starts = np.searchsorted(tid_s, np.unique(tid_s)).tolist() + [qx.size]
    px = pts[:, 0]
    py = pts[:, 1]
    for k in range(len(starts) - 1):
        qsel = order[starts[k]: starts[k + 1]]
        bx1, bx2 = qx[qsel].min(), qx[qsel].max()
        by1, by2 = qy[qsel].min(), qy[qsel].max()
        # point-to-bbox distance^2 and max distance^2 to bbox corners
        ddx = np.maximum(np.maximum(bx1 - px, px - bx2), 0.0)
        ddy = np.maximum(np.maximum(by1 - py, py - by2), 0.0)
        dmin2 = ddx * ddx + ddy * ddy
        mdx = np.maximum(np.abs(px - bx1), np.abs(px - bx2))
        mdy = np.maximum(np.abs(py - by1), np.abs(py - by2))
        dup2 = (mdx * mdx + mdy * mdy).min()
        cand = np.nonzero(dmin2 <= dup2 * (1.0 + 1e-9) + 1e-12)[0]
        cx = px[cand]
        cy = py[cand]
        for s in range(0, qsel.size, 2048):
            qc = qsel[s: s + 2048]
            dx = qx[qc, None] - cx[None, :]
            dy = qy[qc, None] - cy[None, :]
            d2 = dx * dx + dy * dy
            # argmin returns the FIRST minimum -> lowest index on ties
            out[qc] = z[cand[np.argmin(d2, axis=1)]]
    return out


def dedup_points(points: np.ndarray, z: np.ndarray):
    """Drop exact XY duplicates, keeping the FIRST occurrence (the
    same lowest-index rule the nearest tie-break uses).  Duplicate
    coordinates make Bowyer-Watson circumcircles degenerate, and real
    sensor clouds do contain them."""
    pts = np.asarray(points, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    _, first = np.unique(pts, axis=0, return_index=True)
    keep = np.sort(first)
    return pts[keep], z[keep]


def griddata_linear_nearest(
    points: np.ndarray,
    z: np.ndarray,
    qx: np.ndarray,
    qy: np.ndarray,
) -> np.ndarray:
    """The reference's rasterize combo (roof.py:73-77): linear where
    defined, nearest outside the hull.  XY duplicates are dropped
    keep-first before triangulation."""
    points, z = dedup_points(points, z)
    lin = interp_linear(points, z, qx, qy)
    nan = np.isnan(lin)
    if nan.any():
        lin[nan] = nearest_values(points, z, qx[nan], qy[nan])
    return lin
