"""Roof point-cloud pipeline (reference roof.py:59-205): per building
footprint, denoise the point cloud (drop foliage), interpolate to a
grid, and clip to the footprint.

Re-expression notes (semantics from the reference, shape Spark-first):

- **classify** (roof.py:127-158): build a k-NN graph (``links`` nearest
  neighbors per point, self excluded, edges kept under ``limit``
  meters), take connected components, keep the LARGEST component;
  clouds smaller than ``min_points`` are kept whole.  The reference
  uses cKDTree + scipy.sparse csgraph; here it is chunked numpy
  distances (ties broken by lowest point index -- cKDTree leaves tie
  order unspecified) + union-find.  Per-feature clouds are a few
  thousand points, so the O(n^2 / chunk) distances stay tiny.
- **rasterize** (roof.py:59-87): grid anchored on 4 m-aligned floor /
  ceil of the footprint envelope at ``edge`` m pixels; griddata linear
  with nearest fallback (functions/triangulate.py); pixels whose
  centers fall outside the footprint become nodata (the reference
  burns the clip mask with gdal.RasterizeLayer; here geom
  rasterize_mask, same pixel-center rule).
- The fetch step (roof.py:90-124, las2las subprocess) is replaced by a
  (feat_id, x, y, z) DataFrame: pairing points to footprints composes
  upstream via the PIP join.

Distributed shape: ONE applyInPandas over feat_id -- the reference's
own parallel axis (one griddata call per footprint); no raster bytes
ever shuffle, and each task's work is bounded by one footprint's cloud.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import codecs, geom
from ..functions.triangulate import griddata_linear_nearest

NODATA_F4 = float(np.finfo("f4").min)  # reference roof.py:28


def _knn_edges(pts: np.ndarray, links: int, limit: float):
    """Edges (start, stop) to each point's ``links`` nearest others
    within ``limit``, over ALL coordinate dims (the reference's kd-tree
    is 3-D, roof.py:139); ties by lowest index (stable argsort)."""
    n = len(pts)
    starts, stops = [], []
    lim2 = limit * limit
    for s in range(0, n, 512):
        e = min(s + 512, n)
        d2 = np.zeros((e - s, n))
        for d in range(pts.shape[1]):
            dd = pts[s:e, d:d + 1] - pts[None, :, d]
            d2 += dd * dd
        d2[np.arange(e - s), np.arange(s, e)] = np.inf  # exclude self
        # the k nearest WITHIN limit == (all within-limit candidates,
        # stable-sorted by (d2, index), first k): any beyond-limit
        # distance ranks after every within-limit one, so restricting
        # the sort to the candidate set is exact.  argpartition over
        # kth = max candidates per row replaces the full-row stable
        # argsort (the former hot spot: O(n^2 log n) for a k of 4).
        within = d2 < lim2
        kmax = int(within.sum(axis=1).max(initial=0))
        if kmax == 0:
            continue
        kth = min(max(kmax, links), n - 1)
        d2m = np.where(within, d2, np.inf)
        cand = np.argpartition(d2m, kth - 1, axis=1)[:, :kth]
        dcand = np.take_along_axis(d2m, cand, axis=1)
        # stable order by (distance, original index): lexsort keys are
        # last-key-primary, so (cand, dcand) sorts by d2 then index
        sub = np.lexsort((cand, dcand), axis=1)[:, :links]
        order = np.take_along_axis(cand, sub, axis=1)
        dsel = np.take_along_axis(dcand, sub, axis=1)
        ok = dsel < lim2
        rows = np.repeat(np.arange(s, e), order.shape[1]).reshape(
            -1, order.shape[1]
        )
        starts.append(rows[ok])
        stops.append(order[ok])
    if not starts:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(starts), np.concatenate(stops)


def classify_points(pts: np.ndarray) -> np.ndarray:
    """u1 keep-mask: 1 for the largest 4-NN-graph component with links
    up to 0.5 m (roof.py:127-158), everything for clouds of fewer than
    900 points."""
    n = len(pts)
    if n < 900:
        return np.ones(n, np.uint8)
    start, stop = _knn_edges(pts, 4, 0.5)
    parent = np.arange(n)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in zip(start.tolist(), stop.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = np.fromiter((find(i) for i in range(n)), np.int64, n)
    counts = np.bincount(labels, minlength=n)
    keep_root = int(np.argmax(counts))  # ties -> lowest root
    return (labels == keep_root).astype(np.uint8)


_ROOF_SCHEMA = (
    "feat_id long, x0 double, y_top double, w int, h int, fmt string, "
    "bytes binary, total long, kept long"
)


def roof_rasterize(
    points: DataFrame,
    polygons: DataFrame,
    edge: float = 0.25,
) -> DataFrame:
    """points(feat_id, x, y, z) x polygons(feat_id, geom_wkb) -> one f4
    raster row per footprint (rawz payload, nodata = f4 min)."""
    paired = points.join(polygons.select("feat_id", "geom_wkb"), "feat_id")
    # CPU-heavy, data-tiny groups: pin the group partitioning so AQE's
    # size-based coalescing can't serialize 25 triangulations onto one
    # task; the explicit hash partitioning satisfies the groupBy's
    # clustering requirement, so no extra exchange is added
    n_parts = points.sparkSession.sparkContext.defaultParallelism
    paired = paired.repartition(n_parts, "feat_id")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        feat_id = int(pdf["feat_id"].iloc[0])
        wkb_b = bytes(pdf["geom_wkb"].iloc[0])
        # deterministic row order regardless of shuffle arrival: the
        # Bowyer-Watson insertion order (co-circular diagonal picks)
        # and the keep-first/lowest-index tie-breaks all depend on it
        # (north rule: bit-identical output at any partitioning)
        pdf = pdf.sort_values(["x", "y", "z"], kind="mergesort")
        pts3 = pdf[["x", "y", "z"]].to_numpy(dtype=np.float64)
        keep = classify_points(pts3)
        kept = pts3[keep.astype(bool)]
        if len(kept) < 3:
            return pd.DataFrame(columns=[
                "feat_id", "x0", "y_top", "w", "h", "fmt", "bytes",
                "total", "kept",
            ])
        env = geom.envelope(wkb_b)
        # 4 m-aligned envelope snap (roof.py:63-66)
        x1 = 4.0 * math.floor(env[0] / 4.0)
        y1 = 4.0 * math.floor(env[2] / 4.0)
        x2 = 4.0 * math.ceil(env[1] / 4.0)
        y2 = 4.0 * math.ceil(env[3] / 4.0)
        w = int(round((x2 - x1) / edge))
        h = int(round((y2 - y1) / edge))
        gj, gi = np.meshgrid(np.arange(w), np.arange(h))
        cx = x1 + (gj.ravel() + 0.5) * edge
        cy = y2 - (gi.ravel() + 0.5) * edge
        vals = griddata_linear_nearest(
            kept[:, :2], kept[:, 2], cx, cy
        ).reshape(h, w)
        gt = (x1, edge, 0.0, y2, 0.0, -edge)
        inside = geom.rasterize_mask(wkb_b, gt, h, w)
        out = np.where(inside, vals, NODATA_F4).astype(np.float32)
        return pd.DataFrame(
            {
                "feat_id": [feat_id],
                "x0": [x1],
                "y_top": [y2],
                "w": [w],
                "h": [h],
                "fmt": ["rawz"],
                "bytes": [codecs.rawz_encode(out)],
                "total": [len(pts3)],
                "kept": [int(keep.sum())],
            }
        )

    return paired.groupBy("feat_id").applyInPandas(run, schema=_ROOF_SCHEMA)
