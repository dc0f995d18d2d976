"""Raster-space polygon overlay: union + difference (SURVEY.md O5/J8).

The reference's difference tool (difference.py:41-57) subtracts the
UnionCascaded of layer 2 from every layer-1 feature with OGR/GEOS
boolean ops.  This engine has no GEOS; the Spark-first re-expression
rasterizes both layers onto a shared pixel grid and does the boolean
algebra on masks -- union is a logical OR (free under rasterization),
difference is mask AND NOT.  Outputs are pixel/area statistics
(mask_difference_area / mask_union_area, both oracle-checked) and
actual remainder POLYGONS (mask_difference_polygons: marching squares
over the per-feature window, the difference.py output shape).

Distribution: candidate (cell, feature) pairs come from the standard
covering-cells explode at ``JOIN_RES``; each grid cell's window is
rasterized independently (masks never leave the task -- the shuffle
carries per-feature pixel counts only), then counts aggregate by
feature.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import geom
from ..grid import GeoTransform, WORLD_TOP, cell_bounds, cell_edge
from .pip import _cover_udf

JOIN_RES = 9
# pixel edge (m) of the rasterized overlays
PIXEL = 4.0


def _cell_gt(cell_id: int, pixel: float):
    x1, _, _, y2 = cell_bounds(cell_id)
    return GeoTransform((float(x1), pixel, 0.0, float(y2), 0.0, -pixel))


def mask_difference_area(
    layer1: DataFrame,
    layer2: DataFrame,
    pixel: float = PIXEL,
) -> DataFrame:
    """Per layer-1 feature: pixels kept after subtracting the union of
    layer 2, on a ``pixel``-meter grid.  Returns (feat_id, total_px,
    kept_px, kept_area)."""
    npx = int(round(cell_edge(JOIN_RES) / pixel))

    c1 = layer1.withColumn(
        "cell", F.explode(_cover_udf(JOIN_RES, 0.0)("geom_wkb")["cells"])
    ).select(F.col("feat_id"), F.col("geom_wkb").alias("wkb1"), "cell")
    c2 = layer2.withColumn(
        "cell", F.explode(_cover_udf(JOIN_RES, 0.0)("geom_wkb")["cells"])
    ).select(F.col("geom_wkb").alias("wkb2"), "cell")

    # Pre-aggregate layer 2 to ONE list-row per cell before the join:
    # without this, c1.join(c2, "cell") replicates every layer-1 row
    # once per layer-2 candidate in the cell and carries both WKB
    # payloads through the exchange (|l1|x|l2| rows/cell).  With it,
    # each (feature, cell) row crosses the shuffle exactly once.
    c2agg = (
        c2.dropDuplicates(["cell", "wkb2"])
        .groupBy("cell")
        .agg(F.collect_list("wkb2").alias("wkbs2"))
    )

    # left join: layer-1 cells with no layer-2 candidate keep all px
    paired = c1.join(c2agg, "cell", "left")

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        cell_id = int(pdf["cell"].iloc[0])
        gt = _cell_gt(cell_id, pixel)
        # burn the layer-2 union ONCE per cell (rasterized union == OR)
        union2 = np.zeros((npx, npx), dtype=bool)
        lst = pdf["wkbs2"].iloc[0]
        if lst is not None:
            for b in lst:
                union2 |= geom.rasterize_mask(bytes(b), gt, npx, npx)
        rows = []
        for feat_id, sub in pdf.groupby("feat_id", sort=False):
            m1 = geom.rasterize_mask(
                bytes(sub["wkb1"].iloc[0]), gt, npx, npx
            )
            total = int(m1.sum())
            kept = int((m1 & ~union2).sum())
            rows.append((int(feat_id), total, kept))
        return pd.DataFrame(
            rows, columns=["feat_id", "total_px", "kept_px"]
        )

    # pin the partition count: the shuffle payload (per-cell WKB
    # lists) is tiny, so AQE would coalesce the exchange to 1-2
    # partitions and serialize the CPU-heavy rasterization; an
    # explicit numPartitions repartition is exempt from coalescing
    n_parts = layer1.sparkSession.sparkContext.defaultParallelism
    per = paired.repartition(n_parts, "cell").groupBy("cell").applyInPandas(
        per_cell, schema="feat_id long, total_px long, kept_px long"
    )
    return per.groupBy("feat_id").agg(
        F.sum("total_px").alias("total_px"),
        F.sum("kept_px").alias("kept_px"),
        (F.sum("kept_px") * float(pixel * pixel)).alias("kept_area"),
    )


def _rect_of(wkb_bytes: bytes):
    """(x1, x2, y1, y2) when the WKB is a single-ring axis-aligned
    rectangle, else None (the exact-difference fast-path gate)."""
    rings = geom._rings_of(wkb_bytes)
    if len(rings) != 1:
        return None
    ring = np.asarray(rings[0], dtype=np.float64)
    if len(ring) == 5 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    if len(ring) != 4:
        return None
    xs, ys = sorted(set(ring[:, 0])), sorted(set(ring[:, 1]))
    if len(xs) != 2 or len(ys) != 2:
        return None
    want = {(x, y) for x in xs for y in ys}
    if {(float(p[0]), float(p[1])) for p in ring} != want:
        return None
    for a, b in zip(ring, np.roll(ring, -1, axis=0)):
        if a[0] != b[0] and a[1] != b[1]:
            return None  # diagonal edge: 4 corner values but not a box
    return float(xs[0]), float(xs[1]), float(ys[0]), float(ys[1])


def _trace_rectilinear(occ: np.ndarray, xs, ys):
    """Boundary rings of a rectilinear occupancy grid (row i = y band
    [ys[i], ys[i+1]], ascending).  Region-on-left convention: outer
    rings CCW (signed area > 0), holes CW.  At saddle nodes the walk
    takes the left turn, keeping diagonally-touching cells in separate
    rings (even-odd semantics).  Returns [(closed coords, signed
    area)] with collinear vertices merged."""
    ny, nx = occ.shape
    pad = np.zeros((ny + 2, nx + 2), dtype=bool)
    pad[1:-1, 1:-1] = occ
    edges: dict = {}
    for i in range(ny):
        for j in range(nx):
            if not occ[i, j]:
                continue
            if not pad[i, j + 1]:        # south neighbor empty: +x
                edges.setdefault((j, i), []).append((j + 1, i))
            if not pad[i + 1, j + 2]:    # east: +y
                edges.setdefault((j + 1, i), []).append((j + 1, i + 1))
            if not pad[i + 2, j + 1]:    # north: -x
                edges.setdefault((j + 1, i + 1), []).append((j, i + 1))
            if not pad[i + 1, j]:        # west: -y
                edges.setdefault((j, i + 1), []).append((j, i))
    rings = []
    while edges:
        # never START at a saddle (2 outgoing edges): the first edge
        # is popped blind, and a blind pick can pair edges of two
        # different rings into one bowtie
        start = next(
            (n for n, o in edges.items() if len(o) == 1), None
        )
        if start is None:
            start = next(iter(edges))
        cur = start
        prev_dir = None
        path = [cur]
        while True:
            outs = edges[cur]
            if len(outs) == 1 or prev_dir is None:
                nxt = outs.pop()
            else:
                # saddle: prefer the LEFT turn wrt the incoming
                # direction (left of (dx, dy) is (-dy, dx))
                left = (cur[0] - prev_dir[1], cur[1] + prev_dir[0])
                nxt = left if left in outs else outs[0]
                outs.remove(nxt)
            if not edges[cur]:
                del edges[cur]
            prev_dir = (nxt[0] - cur[0], nxt[1] - cur[1])
            cur = nxt
            path.append(cur)
            if cur == start:
                break
        pts = [(xs[j], ys[i]) for j, i in path[:-1]]  # open ring
        # rotate so the ring STARTS at a true corner: a walk may begin
        # mid-edge (hole rings seeded at a slab-split node), and the
        # collinear merge below never re-examines its own start vertex
        m = len(pts)
        for s in range(m):
            a = pts[(s - 1) % m]
            b = pts[s]
            c = pts[(s + 1) % m]
            if not ((a[0] == b[0] == c[0]) or (a[1] == b[1] == c[1])):
                pts = pts[s:] + pts[:s]
                break
        coords = np.array(pts + [pts[0]], dtype=np.float64)
        # merge collinear runs (path vertices land on every grid line)
        keep = [0]
        for k in range(1, len(coords) - 1):
            a, b, c = coords[keep[-1]], coords[k], coords[k + 1]
            if (a[0] == b[0] == c[0]) or (a[1] == b[1] == c[1]):
                continue
            keep.append(k)
        coords = np.vstack([coords[keep], coords[-1:]])
        sarea = 0.5 * float(
            np.sum(
                coords[:-1, 0] * coords[1:, 1]
                - coords[1:, 0] * coords[:-1, 1]
            )
        )
        rings.append((coords, sarea))
    return rings


def _exact_rect_difference(rect, cutters):
    """Exact remainder rings of an axis-aligned rectangle minus a
    union of axis-aligned rectangles, by slab decomposition over the
    coordinate-induced irregular grid (no rasterization, no chamfer:
    the reference's GEOS-exact difference semantics,
    difference.py:41-57, on the aligned subset)."""
    x1, x2, y1, y2 = rect
    xs = {x1, x2}
    ys = {y1, y2}
    clipped = []
    for cx1, cx2, cy1, cy2 in cutters:
        cx1, cx2 = max(cx1, x1), min(cx2, x2)
        cy1, cy2 = max(cy1, y1), min(cy2, y2)
        if cx1 >= cx2 or cy1 >= cy2:
            continue
        clipped.append((cx1, cx2, cy1, cy2))
        xs.update((cx1, cx2))
        ys.update((cy1, cy2))
    xs, ys = sorted(xs), sorted(ys)
    occ = np.ones((len(ys) - 1, len(xs) - 1), dtype=bool)
    for cx1, cx2, cy1, cy2 in clipped:
        j1, j2 = xs.index(cx1), xs.index(cx2)
        i1, i2 = ys.index(cy1), ys.index(cy2)
        occ[i1:i2, j1:j2] = False
    return _trace_rectilinear(occ, xs, ys)


def _single_ring_of(wkb_bytes: bytes):
    """CCW open ring when the WKB is a single-ring polygon with
    nonzero area (no holes), else None.  Simplicity is not verified
    here -- the exact path's area-identity guard catches
    self-intersecting input by construction."""
    rings = geom._rings_of(wkb_bytes)
    if len(rings) != 1:
        return None
    ring = np.asarray(rings[0], dtype=np.float64)
    if len(ring) >= 2 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    if len(ring) < 3:
        return None
    area2 = float(
        np.sum(
            ring[:, 0] * np.roll(ring[:, 1], -1)
            - np.roll(ring[:, 0], -1) * ring[:, 1]
        )
    )
    if area2 == 0.0:
        return None
    if area2 < 0.0:
        ring = ring[::-1]
    return ring


def _convex_ring_of(wkb_bytes: bytes):
    """CCW open ring when the WKB is a single-ring STRICTLY convex
    polygon (no holes, no collinear vertices), else None -- the gate
    for exact-path CUTTERS (they serve as Sutherland-Hodgman clip
    regions, which must be convex)."""
    ring = _single_ring_of(wkb_bytes)
    if ring is None:
        return None
    v1 = np.roll(ring, -1, axis=0) - ring
    v2 = np.roll(v1, -1, axis=0)
    cross = v1[:, 0] * v2[:, 1] - v1[:, 1] * v2[:, 0]
    if np.any(cross <= 0.0):
        return None
    return ring


def _signed_area(ring) -> float:
    """Shoelace signed area of an OPEN ring."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(
        np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)
    )


def _pt_in_ring(pt, ring) -> bool:
    """Even-odd ray cast of one point against an open ring."""
    x, y = float(pt[0]), float(pt[1])
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > y) != (y2 > y):
            xc = x1 + (y - y1) / (y2 - y1) * (x2 - x1)
            if x < xc:
                inside = not inside
    return inside


def _sh_clip(subject, clip_convex):
    """Sutherland-Hodgman: subject ring (any simple) clipped to a
    CONVEX CCW ring.  Returns the (possibly empty) open result ring."""
    out = [tuple(p) for p in subject]
    m = len(clip_convex)
    for k in range(m):
        if not out:
            return []
        cx1, cy1 = clip_convex[k]
        cx2, cy2 = clip_convex[(k + 1) % m]
        ex, ey = cx2 - cx1, cy2 - cy1
        inp = out
        out = []
        prev = inp[-1]
        prev_in = (
            ex * (prev[1] - cy1) - ey * (prev[0] - cx1)
        ) >= 0.0
        for cur in inp:
            cur_in = (
                ex * (cur[1] - cy1) - ey * (cur[0] - cx1)
            ) >= 0.0
            if cur_in != prev_in:
                # edge crosses the clip line: interpolate
                d1 = ex * (prev[1] - cy1) - ey * (prev[0] - cx1)
                d2 = ex * (cur[1] - cy1) - ey * (cur[0] - cx1)
                t = d1 / (d1 - d2)
                out.append(
                    (
                        prev[0] + t * (cur[0] - prev[0]),
                        prev[1] + t * (cur[1] - prev[1]),
                    )
                )
            if cur_in:
                out.append(cur)
            prev, prev_in = cur, cur_in
    return out


def _proper_crossings(A, B):
    """All strictly-interior edge crossings between open rings A and B:
    [(ia, ta, ib, tb, (x, y))].  eps-interior so shared vertices /
    tangencies read as 'not general position' (caller falls back)."""
    eps = 1e-9
    hits = []
    na, nb = len(A), len(B)
    for ia in range(na):
        p1, p2 = A[ia], A[(ia + 1) % na]
        rx, ry = p2[0] - p1[0], p2[1] - p1[1]
        for ib in range(nb):
            q1, q2 = B[ib], B[(ib + 1) % nb]
            sx, sy = q2[0] - q1[0], q2[1] - q1[1]
            den = rx * sy - ry * sx
            if den == 0.0:
                continue
            qpx, qpy = q1[0] - p1[0], q1[1] - p1[1]
            t = (qpx * sy - qpy * sx) / den
            u = (qpx * ry - qpy * rx) / den
            if eps < t < 1 - eps and eps < u < 1 - eps:
                hits.append(
                    (ia, t, ib, u,
                     (p1[0] + t * rx, p1[1] + t * ry))
                )
    return hits


def _touches_boundary(pts, ring) -> bool:
    """True when any vertex of ``pts`` lies within 1e-9 of an edge
    of ``ring`` -- the shared-vertex / vertex-on-edge degeneracies the
    difference walk must not attempt."""
    n = len(ring)
    for p in pts:
        px, py = float(p[0]), float(p[1])
        for i in range(n):
            ax, ay = ring[i]
            bx, by = ring[(i + 1) % n]
            dx, dy = bx - ax, by - ay
            L2 = dx * dx + dy * dy
            if L2 == 0.0:
                continue
            t = ((px - ax) * dx + (py - ay) * dy) / L2
            t = min(1.0, max(0.0, t))
            qx, qy = ax + t * dx, ay + t * dy
            if (px - qx) ** 2 + (py - qy) ** 2 < 1e-9 * 1e-9:
                return True
    return False


def _gh_difference(A, B):
    """Exact boundary rings of simple CCW polygon A minus simple CCW
    polygon B (Greiner-Hormann-style walk: A forward outside B, B
    backward inside A), GENERAL POSITION ONLY -- every crossing
    strictly interior to both edges, no shared vertices.  Returns
    [(closed coords, signed area)] with outers CCW (>0), holes CW
    (<0); returns None when the walk cannot complete (caller must
    fall back to the raster path)."""
    if _touches_boundary(B, A) or _touches_boundary(A, B):
        return None                        # tangency: not general pos.
    hits = _proper_crossings(A, B)
    if not hits:
        if _pt_in_ring(A[0], B):
            return []                      # A swallowed by B
        if _pt_in_ring(B[0], A):
            rev = np.asarray(B[::-1], dtype=np.float64)
            return [
                (np.vstack([A, A[:1]]).astype(np.float64),
                 _signed_area(np.asarray(A))),
                (np.vstack([rev, rev[:1]]), -_signed_area(
                    np.asarray(B))),
            ]                              # B is an interior hole
        return [
            (np.vstack([A, A[:1]]).astype(np.float64),
             _signed_area(np.asarray(A)))
        ]                                  # disjoint
    if len(hits) % 2 != 0:
        return None
    # cyclic node lists: polygon vertices with crossings spliced in
    na, nb = len(A), len(B)
    nodesA: list = []
    nodesB: list = []
    for ia in range(na):
        nodesA.append(("v", tuple(A[ia])))
        for h in sorted(
            (h for h in range(len(hits)) if hits[h][0] == ia),
            key=lambda h: hits[h][1],
        ):
            nodesA.append(("x", h))
    for ib in range(nb):
        nodesB.append(("v", tuple(B[ib])))
        for h in sorted(
            (h for h in range(len(hits)) if hits[h][2] == ib),
            key=lambda h: hits[h][3],
        ):
            nodesB.append(("x", h))
    idxA = {v: i for i, (k, v) in enumerate(nodesA) if k == "x"}
    idxB = {v: i for i, (k, v) in enumerate(nodesB) if k == "x"}
    # exit nodes: the A-walk leaves B here (the point immediately
    # after the crossing along A is outside B)
    exits = []
    for h in range(len(hits)):
        i = (idxA[h] + 1) % len(nodesA)
        kind, val = nodesA[i]
        probe = val if kind == "v" else hits[val][4]
        mid = (
            0.5 * (hits[h][4][0] + probe[0]),
            0.5 * (hits[h][4][1] + probe[1]),
        )
        if not _pt_in_ring(mid, B):
            exits.append(h)
    if not exits or len(exits) * 2 != len(hits):
        return None
    used: set = set()
    rings = []
    for start in exits:
        if start in used:
            continue
        pts: list = []
        cur = start
        guard = 0
        while True:
            guard += 1
            if guard > len(hits) + 2:
                return None
            # A-forward leg: from exit `cur` to the next crossing
            used.add(cur)
            pts.append(hits[cur][4])
            i = idxA[cur]
            while True:
                i = (i + 1) % len(nodesA)
                kind, val = nodesA[i]
                if kind == "v":
                    pts.append(val)
                else:
                    entry = val
                    break
            if entry == start:
                break
            if entry in used:
                return None
            # B-backward leg: from `entry` to the next crossing
            used.add(entry)
            pts.append(hits[entry][4])
            j = idxB[entry]
            while True:
                j = (j - 1) % len(nodesB)
                kind, val = nodesB[j]
                if kind == "v":
                    pts.append(val)
                else:
                    cur = val
                    break
            if cur == start:
                break
            if cur in used:
                return None
        ring = np.asarray(pts, dtype=np.float64)
        rings.append(
            (np.vstack([ring, ring[:1]]), _signed_area(ring))
        )
    return rings


def _gh_union(A, B):
    """Exact boundary rings of simple CCW polygon A union simple CCW
    polygon B (forward-forward walk: A forward outside B, B forward
    outside A -- at every crossing the outside continuation switches
    polygons), GENERAL POSITION ONLY.  Returns [(closed coords,
    signed area)] with the outer CCW (>0) and any enclosed gaps CW
    (<0); None when the walk cannot complete.  This is the engine's
    UnionCascaded move (reference difference.py:46-51): merging
    crossing cutters FIRST makes the multi-cutter difference exact
    for overlapping non-convex cutters."""
    if _touches_boundary(B, A) or _touches_boundary(A, B):
        return None
    hits = _proper_crossings(A, B)
    if not hits:
        if _pt_in_ring(A[0], B):
            rb = np.asarray(B, dtype=np.float64)
            return [(np.vstack([rb, rb[:1]]), _signed_area(rb))]
        if _pt_in_ring(B[0], A):
            ra = np.asarray(A, dtype=np.float64)
            return [(np.vstack([ra, ra[:1]]), _signed_area(ra))]
        ra = np.asarray(A, dtype=np.float64)
        rb = np.asarray(B, dtype=np.float64)
        return [
            (np.vstack([ra, ra[:1]]), _signed_area(ra)),
            (np.vstack([rb, rb[:1]]), _signed_area(rb)),
        ]                                  # disjoint: two components
    if len(hits) % 2 != 0:
        return None
    na, nb = len(A), len(B)
    nodesA: list = []
    nodesB: list = []
    for ia in range(na):
        nodesA.append(("v", tuple(A[ia])))
        for h in sorted(
            (h for h in range(len(hits)) if hits[h][0] == ia),
            key=lambda h: hits[h][1],
        ):
            nodesA.append(("x", h))
    for ib in range(nb):
        nodesB.append(("v", tuple(B[ib])))
        for h in sorted(
            (h for h in range(len(hits)) if hits[h][2] == ib),
            key=lambda h: hits[h][3],
        ):
            nodesB.append(("x", h))
    idxA = {v: i for i, (k, v) in enumerate(nodesA) if k == "x"}
    idxB = {v: i for i, (k, v) in enumerate(nodesB) if k == "x"}
    # exit nodes: the A-walk leaves B here (same start set as the
    # difference walk -- the union boundary's A-arcs are outside B)
    exits = []
    for h in range(len(hits)):
        i = (idxA[h] + 1) % len(nodesA)
        kind, val = nodesA[i]
        probe = val if kind == "v" else hits[val][4]
        mid = (
            0.5 * (hits[h][4][0] + probe[0]),
            0.5 * (hits[h][4][1] + probe[1]),
        )
        if not _pt_in_ring(mid, B):
            exits.append(h)
    if not exits or len(exits) * 2 != len(hits):
        return None
    used: set = set()
    rings = []
    for start in exits:
        if start in used:
            continue
        pts: list = []
        cur = start
        guard = 0
        while True:
            guard += 1
            if guard > len(hits) + 2:
                return None
            # A-forward leg: from exit `cur` to the next crossing
            used.add(cur)
            pts.append(hits[cur][4])
            i = idxA[cur]
            while True:
                i = (i + 1) % len(nodesA)
                kind, val = nodesA[i]
                if kind == "v":
                    pts.append(val)
                else:
                    entry = val
                    break
            if entry == start:
                break
            if entry in used:
                return None
            # B-FORWARD leg (the one move that differs from the
            # difference walk): from `entry` to the next crossing
            used.add(entry)
            pts.append(hits[entry][4])
            j = idxB[entry]
            while True:
                j = (j + 1) % len(nodesB)
                kind, val = nodesB[j]
                if kind == "v":
                    pts.append(val)
                else:
                    cur = val
                    break
            if cur == start:
                break
            if cur in used:
                return None
        ring = np.asarray(pts, dtype=np.float64)
        rings.append(
            (np.vstack([ring, ring[:1]]), _signed_area(ring))
        )
    return rings


def _union_lattice_ok(A, B, rings) -> bool:
    """Membership audit of a pairwise union: on an offset lattice over
    the joint envelope, a point is inside the output rings (even-odd)
    iff it is inside A or inside B."""
    pts = np.vstack([np.asarray(A, dtype=np.float64),
                     np.asarray(B, dtype=np.float64)])
    x1, y1 = pts.min(axis=0)
    x2, y2 = pts.max(axis=0)
    for i in range(24):
        for j in range(24):
            p = (
                x1 + (x2 - x1) * (i + 0.382) / 24,
                y1 + (y2 - y1) * (j + 0.618) / 24,
            )
            want = _pt_in_ring(p, A) or _pt_in_ring(p, B)
            got = False
            for coords, _a in rings:
                if _pt_in_ring(p, coords[:-1]):
                    got = not got
            if got != want:
                return False
    return True


def _union_cutters(cuts):
    """Cascade-union a cutter list into PAIRWISE FULLY DISJOINT simple
    rings (the reference's UnionCascaded-before-difference move,
    difference.py:46-51): crossing pairs merge via the forward-forward
    walk, nested cutters are absorbed, disjoint ones pass through.
    Returns the merged ring list, or None on any degeneracy (touching
    boundaries, walk failure, a union whose outer encloses a gap --
    the caller falls back to the raster path)."""
    merged = [[tuple(p) for p in c] for c in cuts]
    changed = True
    rounds = 0
    while changed:
        rounds += 1
        if rounds > 4 * max(1, len(cuts)):
            return None
        changed = False
        for i in range(len(merged)):
            for j in range(i + 1, len(merged)):
                a, b = merged[i], merged[j]
                if _touches_boundary(a, b) or _touches_boundary(b, a):
                    return None
                hits = _proper_crossings(a, b)
                if hits:
                    res = _gh_union(a, b)
                    if res is None:
                        return None
                    pos = [r for r in res if r[1] > 1e-12]
                    neg = [r for r in res if r[1] < -1e-12]
                    # a gap enclosed by the two cutters would survive
                    # the subtraction as an island the disjoint walk
                    # cannot express -- gate it to the raster path
                    if len(pos) != 1 or neg:
                        return None
                    if not _union_lattice_ok(a, b, pos):
                        return None
                    u = [tuple(p) for p in pos[0][0][:-1]]
                    merged = [
                        m for k, m in enumerate(merged)
                        if k not in (i, j)
                    ]
                    merged.append(u)
                    changed = True
                    break
                if _pt_in_ring(a[0], b):
                    merged.pop(i)          # a nested inside b: absorb
                    changed = True
                    break
                if _pt_in_ring(b[0], a):
                    merged.pop(j)
                    changed = True
                    break
            if changed:
                break
    return merged


def _lattice_consistent(subject, cutters, rings, n=24) -> bool:
    """Deterministic membership audit of a difference result: on an
    n x n offset lattice over the subject envelope, a point is inside
    the output rings (even-odd) iff it is inside S and outside every
    cutter.  Point-exact, no rasterization; lattice offsets are
    irrational-ish fractions so dyadic fixture edges are never
    sampled exactly."""
    sx = np.asarray(subject, dtype=np.float64)
    x1, y1 = sx.min(axis=0)
    x2, y2 = sx.max(axis=0)
    for i in range(n):
        for j in range(n):
            p = (
                x1 + (x2 - x1) * (i + 0.382) / n,
                y1 + (y2 - y1) * (j + 0.618) / n,
            )
            want = _pt_in_ring(p, subject) and not any(
                _pt_in_ring(p, c) for c in cutters
            )
            got = False
            for coords, _a in rings:
                if _pt_in_ring(p, coords[:-1]):
                    got = not got
            if got != want:
                return False
    return True


def _general_difference_rings(subject_ring, cutter_rings):
    """Exact remainder of ANY simple subject minus arbitrary simple
    cutters -- OVERLAPPING / crossing / nested non-convex cutters
    included: the cutter set is first cascade-unioned into pairwise
    fully disjoint rings (the reference's own UnionCascaded-then-
    difference move, difference.py:41-57), then the difference walk
    (which needs no convexity) subtracts each.  Convexity was only
    ever required by the Sutherland-Hodgman area guard, replaced here
    by a deterministic lattice membership audit over the final result
    whose density scales to the smallest cutter extent.  None on
    degeneracy (touching boundaries, walk failure, union-with-gap) or
    audit failure (caller falls back to the raster path)."""
    cuts = _union_cutters(cutter_rings)
    if cuts is None:
        return None
    outers = [np.asarray(subject_ring, dtype=np.float64)]
    holes = []
    for c in cuts:
        affected, rest = [], []
        for o in outers:
            op = [tuple(x) for x in o]
            touches = (
                _proper_crossings(op, c)
                or _pt_in_ring(c[0], o)
                or _pt_in_ring(op[0], c)
            )
            (affected if touches else rest).append(o)
        new_outers = list(rest)
        for o in affected:
            res = _gh_difference([tuple(x) for x in o], c)
            if res is None:
                return None
            for coords, sarea in res:
                if sarea > 0:
                    new_outers.append(coords[:-1])
                else:
                    holes.append((coords, sarea))
        outers = new_outers
    rings = [
        (np.vstack([o, o[:1]]), _signed_area(o)) for o in outers
    ] + holes
    # audit density scaled so lattice spacing <= half the smallest
    # cutter extent: a cutter smaller than the lattice can no longer
    # slip through the membership audit (a 2 m cutter in a 100 m
    # subject forces n ~ 100); if certification would need n > 96
    # the result is UNCERTIFIABLE here and falls back to raster
    sx = np.asarray(subject_ring, dtype=np.float64)
    ext_s = float(max(sx.max(axis=0) - sx.min(axis=0)))
    ext_c = min(
        float(max(np.asarray(c, dtype=np.float64).max(axis=0)
                  - np.asarray(c, dtype=np.float64).min(axis=0)))
        for c in cutter_rings
    )
    n_aud = 24 if ext_c <= 0 else max(
        24, int(np.ceil(2.0 * ext_s / max(ext_c, 1e-12)))
    )
    if n_aud > 96:
        return None
    if not _lattice_consistent(
        subject_ring, cutter_rings, rings, n=n_aud
    ):
        return None
    return rings


def _convex_difference_rings(subject_ring, cutter_rings):
    """Exact remainder rings of ANY simple single-ring subject minus
    STRICTLY CONVEX cutters whose in-subject parts are PAIRWISE
    DISJOINT; None when the gate or an internal consistency check
    fails (caller falls back to the raster path).  The cutters are
    the Sutherland-Hodgman clip regions (hence must be convex); the
    subject may be arbitrary -- the difference walk handles nonconvex
    outers, and SH output area is exact for any simple subject even
    when the clipped region is degenerate.  The area identity
    sum(outer) - sum(holes) == area(S) - sum(area(S n Ci)) is
    verified, so a walk gone wrong can never ship a wrong answer."""
    s_area = _signed_area(subject_ring)
    clipped = []
    for c in cutter_rings:
        # S n C with the CONVEX cutter as the clip region, so the
        # subject is unrestricted
        p = _sh_clip(subject_ring, c)
        if len(p) >= 3:
            a = _signed_area(np.asarray(p))
            if a > 1e-9:
                clipped.append((c, p, a))
    # pairwise disjoint in-subject parts (convex n convex via SH)
    for i in range(len(clipped)):
        for j in range(i + 1, len(clipped)):
            inter = _sh_clip(clipped[i][1],
                             np.asarray(clipped[j][0]))
            if len(inter) >= 3 and abs(
                _signed_area(np.asarray(inter))
            ) > 1e-9:
                return None
    outers = [np.asarray(subject_ring, dtype=np.float64)]
    holes = []
    for c, _p, _a in clipped:
        affected = []
        rest = []
        for o in outers:
            touches = (
                _proper_crossings(o, c)
                or _pt_in_ring(c[0], o)
                or _pt_in_ring(o[0], c)
            )
            (affected if touches else rest).append(o)
        new_outers = list(rest)
        for o in affected:
            res = _gh_difference([tuple(x) for x in o],
                                 [tuple(x) for x in c])
            if res is None:
                return None
            for coords, sarea in res:
                if sarea > 0:
                    new_outers.append(coords[:-1])
                else:
                    holes.append((coords, sarea))
        outers = new_outers
    rings = [
        (np.vstack([o, o[:1]]), _signed_area(o)) for o in outers
    ] + holes
    got = sum(a for _, a in rings)
    want = s_area - sum(a for _, _, a in clipped)
    if abs(got - want) > 1e-6 * max(1.0, abs(s_area)):
        return None
    return rings


def _ring_is_hole(ring, mask) -> bool:
    """A ring is a HOLE iff the pixel center it encloses next to its
    first vertex is False.  The first vertex sits on the edge between
    two pixel centers whose mask values differ; exactly one of the two
    centers lies inside the ring (ray cast)."""
    r0, c0 = ring[0]
    if r0 == int(r0):  # horizontal edge midpoint: centers left/right
        cands = [(int(r0), int(c0 - 0.5)), (int(r0), int(c0 + 0.5))]
    else:              # vertical edge midpoint: centers above/below
        cands = [(int(r0 - 0.5), int(c0)), (int(r0 + 0.5), int(c0))]
    xy_ring = np.column_stack([ring[:, 1], ring[:, 0]])
    h, w = mask.shape
    for ci, cj in cands:
        inside = bool(
            geom.points_in_rings([cj], [ci], [xy_ring])[0]
        )
        if inside:
            if 0 <= ci < h and 0 <= cj < w:
                return not bool(mask[ci, cj])
            return True  # encloses out-of-window space: treat as hole
    return False


def mask_difference_polygons(
    layer1: DataFrame,
    layer2: DataFrame,
) -> DataFrame:
    """Geometry-out difference (difference.py:41-57 output shape): per
    layer-1 feature, the REMAINDER polygons after subtracting the
    layer-2 union, vectorized by marching squares on the feature's own
    pixel window.  Returns (feat_id, ring_id, n_pts, area, is_hole,
    geom_wkb): interior holes (layer-2 regions strictly inside the
    feature) come out as their own rings flagged is_hole, so the net
    remainder area is sum(outer) - sum(holes).

    Each feature is processed in one task over its envelope window
    (features are polygon-sized; the pair discovery is the standard
    covering-cell equi-join), so no mask ever crosses the shuffle --
    only (feat_id, wkb) pairs move."""
    import math as _math

    from ..contour_vec import mask_contours
    from ..grid import GeoTransform
    from .. import wkb as _wkb

    c1 = layer1.withColumn(
        "cell", F.explode(_cover_udf(JOIN_RES, 0.0)("geom_wkb")["cells"])
    ).select(F.col("feat_id"), F.col("geom_wkb").alias("wkb1"), "cell")
    c2 = layer2.withColumn(
        "cell", F.explode(_cover_udf(JOIN_RES, 0.0)("geom_wkb")["cells"])
    ).select(F.col("geom_wkb").alias("wkb2"), "cell")
    # same per-cell pre-aggregation as mask_difference_area: one
    # list-row per cell, so the join emits |l1_cells| rows, not
    # |l1_cells| x |l2_cells|
    c2agg = (
        c2.dropDuplicates(["cell", "wkb2"])
        .groupBy("cell")
        .agg(F.collect_list("wkb2").alias("wkbs2"))
    )
    paired = c1.join(c2agg, "cell", "left").select(
        "feat_id", "wkb1", "wkbs2"
    )

    def per_feat(pdf: pd.DataFrame) -> pd.DataFrame:
        wkb1 = bytes(pdf["wkb1"].iloc[0])
        cols = ["feat_id", "ring_id", "n_pts", "area", "is_hole",
                "geom_wkb"]
        cutter_bytes: list = []
        seen_c: set = set()
        for lst in pdf["wkbs2"]:
            if lst is None:
                continue
            for b in lst:
                key = bytes(b)
                if key in seen_c:
                    continue
                seen_c.add(key)
                cutter_bytes.append(key)

        def _emit(rings):
            # outer rings first, then holes, largest first
            rings.sort(key=lambda t: (t[1] < 0, -abs(t[1])))
            rows = [
                (
                    int(pdf["feat_id"].iloc[0]),
                    rid,
                    int(len(coords)),
                    abs(sarea),
                    bool(sarea < 0),
                    _wkb.polygon_wkb(coords),
                )
                for rid, (coords, sarea) in enumerate(rings)
            ]
            return pd.DataFrame(rows, columns=cols)

        # EXACT fast path 1: feature and every candidate cutter are
        # axis-aligned rectangles (the reference oracle corpus) --
        # slab decomposition gives the GEOS-exact remainder, no
        # rasterization, no half-pixel chamfer, overlapping cutters
        # welcome.
        rect1 = _rect_of(wkb1)
        if rect1 is not None:
            cutters = [_rect_of(k) for k in cutter_bytes]
            if all(r is not None for r in cutters):
                return _emit(_exact_rect_difference(rect1, cutters))
        # EXACT fast path 2: ANY simple single-ring feature vs
        # strictly convex cutters in general position with
        # pairwise-disjoint in-feature parts -- Sutherland-Hodgman +
        # a difference walk give the GEOS-exact remainder
        # (difference.py:41-57 semantics); an internal area identity
        # guards the walk, and any gate failure falls through to
        # marching squares.
        ring1 = _single_ring_of(wkb1)
        if ring1 is not None:
            rings = None
            convs = [_convex_ring_of(k) for k in cutter_bytes]
            if all(c is not None for c in convs):
                rings = _convex_difference_rings(ring1, convs)
            if rings is None:
                # EXACT fast path 3: arbitrary simple cutters --
                # overlapping/nested ones are cascade-unioned first
                # (reference difference.py:41-57), then the walk
                # needs no convexity; a lattice membership audit
                # scaled to the smallest cutter replaces the SH
                # area guard.  Also the rescue path when convex
                # cutters overlap in-subject (the convex gate
                # rejects those; the union path handles them).
                simples = [_single_ring_of(k) for k in cutter_bytes]
                if all(c is not None for c in simples):
                    rings = _general_difference_rings(ring1, simples)
            if rings is not None:
                return _emit(rings)
        env = geom.envelope(wkb1)
        j0 = _math.floor(env[0] / PIXEL)
        j1 = _math.ceil(env[1] / PIXEL)
        i0 = _math.floor((WORLD_TOP - env[3]) / PIXEL)
        i1 = _math.ceil((WORLD_TOP - env[2]) / PIXEL)
        h, w = i1 - i0, j1 - j0
        if h <= 0 or w <= 0:
            return pd.DataFrame(
                columns=["feat_id", "ring_id", "n_pts", "area",
                         "is_hole", "geom_wkb"]
            )
        x0 = j0 * PIXEL
        y_top = WORLD_TOP - i0 * PIXEL
        gt = GeoTransform((x0, PIXEL, 0.0, y_top, 0.0, -PIXEL))
        m1 = geom.rasterize_mask(wkb1, gt, h, w)
        for key in cutter_bytes:
            m1 &= ~geom.rasterize_mask(key, gt, h, w)
        rows = []
        if m1.any():
            # fill=False: a layer-2 polygon strictly inside the feature
            # must survive as an interior HOLE ring, not be filled back
            for rid, ring in enumerate(mask_contours(m1, fill=False)):
                is_hole = _ring_is_hole(ring, m1)
                xs = x0 + (ring[:, 1] + 0.5) * PIXEL
                ys = y_top - (ring[:, 0] + 0.5) * PIXEL
                coords = np.column_stack([xs, ys])
                area = 0.5 * abs(
                    float(
                        np.sum(
                            coords[:-1, 0] * coords[1:, 1]
                            - coords[1:, 0] * coords[:-1, 1]
                        )
                    )
                )
                rows.append(
                    (
                        int(pdf["feat_id"].iloc[0]),
                        rid,
                        int(len(coords)),
                        area,
                        bool(is_hole),
                        _wkb.polygon_wkb(coords),
                    )
                )
        return pd.DataFrame(
            rows,
            columns=["feat_id", "ring_id", "n_pts", "area", "is_hole",
                     "geom_wkb"],
        )

    # explicit numPartitions: AQE must not coalesce the tiny shuffle
    # under the CPU-heavy per-feature tracing (see mask_difference_area)
    n_parts = layer1.sparkSession.sparkContext.defaultParallelism
    return paired.repartition(n_parts, "feat_id").groupBy(
        "feat_id"
    ).applyInPandas(
        per_feat,
        schema=(
            "feat_id long, ring_id int, n_pts int, area double, "
            "is_hole boolean, geom_wkb binary"
        ),
    )


def union_area_exact(
    layer: DataFrame,
) -> DataFrame:
    """EXACT UnionCascaded area for axis-aligned-rectangle layers
    (overlaps counted once): every rectangle is clipped to its
    covering cells, and each cell computes its union area by slab
    decomposition over the coordinate-induced irregular grid -- no
    rasterization, no pixel term, and cell-straddling rectangles are
    exact because clipping partitions them without loss.  A cell
    containing any NON-rectangle falls back to pixel counting for
    that cell and is reported in ``inexact_cells`` (0 = the result is
    the true vector union area).  Scale shape matches
    mask_union_area: shuffle carries (cell, wkb) pairs only, the
    per-cell work is independent."""
    cells = layer.withColumn(
        "cell", F.explode(_cover_udf(JOIN_RES, 0.0)("geom_wkb")["cells"])
    ).select("geom_wkb", "cell")
    npx = int(round(cell_edge(JOIN_RES) / PIXEL))

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        cell_id = int(pdf["cell"].iloc[0])
        cx1, cx2, cy1, cy2 = cell_bounds(cell_id)
        rects = []
        exact = True
        for b in pdf["geom_wkb"]:
            r = _rect_of(bytes(b))
            if r is None:
                exact = False
                break
            x1, x2, y1, y2 = r
            x1, x2 = max(x1, cx1), min(x2, cx2)
            y1, y2 = max(y1, cy1), min(y2, cy2)
            if x1 < x2 and y1 < y2:
                rects.append((x1, x2, y1, y2))
        if not exact:
            gt = _cell_gt(cell_id, PIXEL)
            union = np.zeros((npx, npx), dtype=bool)
            for b in pdf["geom_wkb"]:
                union |= geom.rasterize_mask(bytes(b), gt, npx, npx)
            return pd.DataFrame(
                {"area": [float(union.sum()) * PIXEL * PIXEL],
                 "inexact": [1]}
            )
        if not rects:
            return pd.DataFrame({"area": [0.0], "inexact": [0]})
        xs = sorted({v for r in rects for v in (r[0], r[1])})
        ys = sorted({v for r in rects for v in (r[2], r[3])})
        occ = np.zeros((len(ys) - 1, len(xs) - 1), dtype=bool)
        for x1, x2, y1, y2 in rects:
            j1, j2 = xs.index(x1), xs.index(x2)
            i1, i2 = ys.index(y1), ys.index(y2)
            occ[i1:i2, j1:j2] = True
        dx = np.diff(np.asarray(xs))
        dy = np.diff(np.asarray(ys))
        area = float((occ * np.outer(dy, dx)).sum())
        return pd.DataFrame({"area": [area], "inexact": [0]})

    n_parts = layer.sparkSession.sparkContext.defaultParallelism
    per = cells.repartition(n_parts, "cell").groupBy("cell").applyInPandas(
        per_cell, schema="area double, inexact int"
    )
    # coalesce: sum() over an empty layer is NULL, but an empty union
    # is area 0 with an intact exactness certificate
    return per.agg(
        F.coalesce(F.sum("area"), F.lit(0.0)).alias("union_area"),
        F.coalesce(F.sum("inexact"), F.lit(0).cast("long"))
        .alias("inexact_cells"),
    )


def mask_union_area(
    layer: DataFrame,
) -> DataFrame:
    """Total area covered by the layer (UnionCascaded semantics:
    overlaps counted once), on a ``PIXEL``-meter grid.  Returns one row
    (union_px, union_area)."""
    npx = int(round(cell_edge(JOIN_RES) / PIXEL))
    cells = layer.withColumn(
        "cell", F.explode(_cover_udf(JOIN_RES, 0.0)("geom_wkb")["cells"])
    ).select("geom_wkb", "cell")

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        cell_id = int(pdf["cell"].iloc[0])
        gt = _cell_gt(cell_id, PIXEL)
        union = np.zeros((npx, npx), dtype=bool)
        for b in pdf["geom_wkb"]:
            union |= geom.rasterize_mask(bytes(b), gt, npx, npx)
        return pd.DataFrame({"px": [int(union.sum())]})

    n_parts = layer.sparkSession.sparkContext.defaultParallelism
    per = cells.repartition(n_parts, "cell").groupBy("cell").applyInPandas(
        per_cell, schema="px long"
    )
    return per.agg(
        F.sum("px").alias("union_px"),
        (F.sum("px") * float(PIXEL * PIXEL)).alias("union_area"),
    )
