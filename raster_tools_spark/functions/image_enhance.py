"""Image enhancement / compression-analysis operators over opaque
binary image columns (axis B of this graft): integral-image box
filter, histogram equalization, Otsu thresholding, and run-length
statistics.

These extend the reference's focal family (raster-tools
``raster_tools/srs.py`` has no image plane; the focal smooth at
``fill.py``-adjacent windows is the closest analog, W1 in SURVEY §2)
to the per-payload image domain a multimodal training-data pipeline
needs: blur for down-weighting high-frequency noise, equalization and
Otsu for contrast/foreground heuristics, RLE for compressibility
scoring (a cheap proxy for "is this image synthetic/flat?").

Scale shape: every operator is a one-decode-per-row Arrow-batched
``mapInPandas`` -- no shuffle at all; the per-image outputs are tiny
fixed-width rows.  The box filter uses an integral image so cost is
O(pixels), independent of the window radius (a naive window sum is
O(pixels * (2r+1)^2) and would dominate at radius 5+).  All
arithmetic on the u8 plane is integer-exact (floor divisions, exact
prefix sums), so every operator has a bit-exact DuckDB mirror.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import codecs
from ..fillnodata import label

BOX_BLUR_SCHEMA = (
    "image_id string, n_px long, blur_sum long, blur_min int, "
    "blur_max int"
)


def box_blur_stats(images: DataFrame) -> DataFrame:
    """Clamped-window box mean via integral image.

    Output pixel (i, j) is ``floor(sum(W) / |W|)`` where W is the
    5x5 (r = 2) window intersected with the image bounds (edge pixels
    average over their real, smaller window -- no padding bias).
    Integer floor keeps the result bit-exact against a SQL
    neighborhood self-join.  Per-image aggregates (sum/min/max of the
    blurred plane) are returned; the blurred payload itself is the
    same array re-encoded by :func:`box_blur_images`.
    """

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt)
                blur = _box_blur_plane(px, 2)
                rows.append(
                    (
                        t.image_id,
                        int(blur.size),
                        int(blur.sum(dtype=np.int64)),
                        int(blur.min()),
                        int(blur.max()),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "image_id", "n_px", "blur_sum", "blur_min",
                        "blur_max",
                    ],
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema=BOX_BLUR_SCHEMA
    )


def _box_blur_plane(px: np.ndarray, radius: int) -> np.ndarray:
    h, w = px.shape
    # int32 integral whenever the grand total cannot overflow it (a u8
    # image under ~8.4M px): every cumsum, band difference, and
    # floor-divide then holds the identical integers 2x cheaper.  Wider
    # rawz dtypes (u2..f4) always take int64.
    fits = px.dtype == np.uint8 and px.size * 255 < 2 ** 31
    dt = np.int32 if fits else np.int64
    ii = np.zeros((h + 1, w + 1), dtype=dt)
    np.cumsum(np.cumsum(px, axis=0, dtype=dt), axis=1, out=ii[1:, 1:])
    i = np.arange(h)
    j = np.arange(w)
    i0 = np.maximum(i - radius, 0)
    i1 = np.minimum(i + radius + 1, h)
    j0 = np.maximum(j - radius, 0)
    j1 = np.minimum(j + radius + 1, w)
    # window sums: row-band differences first (plain row takes), then
    # column differences -- the same four-corner integers reassociated
    # exactly, without the four full 2-D fancy gathers of np.ix_
    band = ii[i1] - ii[i0]
    s = band[:, j1] - band[:, j0]
    cnt = (i1 - i0)[:, None] * (j1 - j0)[None, :]
    return (s // cnt).astype(np.int64)


def box_blur_images(images: DataFrame) -> DataFrame:
    """Same filter, emitting the blurred PNG payload (production
    shape: decode -> integral -> floor-mean -> re-encode)."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt)
                blur = _box_blur_plane(px, 2).astype(np.uint8)
                rows.append(
                    (t.image_id, codecs.png_encode(blur),
                     blur.shape[1], blur.shape[0], "png")
                )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["image_id", "bytes", "w", "h", "fmt"]
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema="image_id string, bytes binary, w int, h int, fmt string"
    )


EQUALIZE_SCHEMA = (
    "image_id string, eq_sum long, eq_min int, eq_max int, "
    "n_levels int"
)


def equalize_stats(images: DataFrame) -> DataFrame:
    """Histogram equalization, integer-exact.

    ``eq(v) = floor((cdf(v) - cdf_min) * 255 / (n - cdf_min))`` with
    ``cdf(v)`` the count of pixels <= v and ``cdf_min = cdf(min(v))``
    (the standard OpenCV/scikit-image formulation with floor instead
    of round, so the SQL mirror is exact).  Constant images (n ==
    cdf_min) map to 0.  Returns per-image aggregates of the equalized
    plane plus the distinct output level count (a contrast-stretch
    quality signal).
    """

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt)
                eq = _equalize_plane(px)
                rows.append(
                    (
                        t.image_id,
                        int(eq.sum(dtype=np.int64)),
                        int(eq.min()),
                        int(eq.max()),
                        int(np.unique(eq).size),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "image_id", "eq_sum", "eq_min", "eq_max",
                        "n_levels",
                    ],
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema=EQUALIZE_SCHEMA
    )


def _equalize_plane(px: np.ndarray) -> np.ndarray:
    flat = px.ravel()
    hist = np.bincount(flat, minlength=256).astype(np.int64)
    cdf = np.cumsum(hist)
    n = flat.size
    cdf_min = int(cdf[int(flat.min())])
    if n == cdf_min:
        return np.zeros_like(px, dtype=np.int64)
    lut = (cdf - cdf_min) * 255 // (n - cdf_min)
    lut = np.clip(lut, 0, 255)
    return lut[px.astype(np.int64)]


OTSU_SCHEMA = (
    "image_id string, otsu_t int, n_fg long, fg_sum long"
)


def otsu_stats(images: DataFrame) -> DataFrame:
    """Otsu threshold per image, deterministic across engines.

    The between-class variance at threshold t is proportional to
    ``(s0*c1 - s1*c0)^2 / (c0*c1)`` with c/s the count/value-sum of
    the <=t and >t classes.  The numerator can exceed int64 (n=4096,
    sum~1e6 -> ~1.8e19), so it is computed in Python arbitrary-
    precision integers and converted once to an IEEE double for the
    argmax; the DuckDB mirror computes the identical HUGEINT and
    casts once -- both conversions are round-to-nearest on the same
    exact integer, so the scores (and the argmax, tie-broken by
    smallest t) agree bit-for-bit.  Foreground = pixels strictly
    above the threshold.
    """

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt)
                thr = _otsu_threshold(px)
                fg = px.astype(np.int64)[px > thr]
                rows.append(
                    (t.image_id, int(thr), int(fg.size),
                     int(fg.sum(dtype=np.int64)))
                )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["image_id", "otsu_t", "n_fg", "fg_sum"]
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema=OTSU_SCHEMA
    )


def _otsu_threshold(px: np.ndarray) -> int:
    hist = np.bincount(px.ravel(), minlength=256).astype(np.int64)
    n = int(hist.sum())
    total_s = int((hist * np.arange(256, dtype=np.int64)).sum())
    best_t, best_score = 0, -1.0
    c0 = 0
    s0 = 0
    for t in range(255):
        c0 += int(hist[t])
        s0 += int(hist[t]) * t
        c1 = n - c0
        if c0 == 0 or c1 == 0:
            continue
        s1 = total_s - s0
        num = s0 * c1 - s1 * c0          # Python int: never overflows
        score = float(num * num) / float(c0 * c1)
        if score > best_score:
            best_score, best_t = score, t
    return best_t


RLE_SCHEMA = (
    "image_id string, n_runs long, max_run int, rle_bytes long"
)


def rle_stats(images: DataFrame) -> DataFrame:
    """Per-scanline run-length statistics (compressibility score).

    A run is a maximal span of equal values along a row.  Returns the
    run count, the longest run, and the encoded size under a
    (value u8, length u16) scheme -- 3 bytes per run.  Mirrors a SQL
    gaps-and-islands formulation exactly (pure integers).
    """

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt)
                breaks = np.ones(px.shape, dtype=bool)
                breaks[:, 1:] = px[:, 1:] != px[:, :-1]
                n_runs = int(breaks.sum())
                # run lengths: distance between consecutive break
                # positions in the row-major flattened break index
                # stream (rows always start a run, so runs never span
                # scanlines)
                pos = np.flatnonzero(breaks.ravel())
                ends = np.append(pos[1:], px.size)
                max_run = int((ends - pos).max()) if n_runs else 0
                rows.append(
                    (t.image_id, n_runs, max_run, 3 * n_runs)
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["image_id", "n_runs", "max_run", "rle_bytes"],
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema=RLE_SCHEMA
    )


SOBEL_SCHEMA = (
    "image_id string, edge_sum long, edge_max int, n_edge_px long"
)


def sobel_stats(images: DataFrame) -> DataFrame:
    """Integer Sobel gradient magnitude (|gx| + |gy|, the L1 variant)
    over interior pixels; per-image edge energy, peak gradient, and
    the count of pixels above 200 (an edge-density
    quality signal for image curation).  Exact int64 arithmetic --
    the SQL mirror recomputes both kernels with a bounded 3x3
    neighborhood self-join."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt)
                p = px.astype(np.int64)
                gx = (
                    p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:]
                    - p[:-2, :-2] - 2 * p[1:-1, :-2] - p[2:, :-2]
                )
                gy = (
                    p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:]
                    - p[:-2, :-2] - 2 * p[:-2, 1:-1] - p[:-2, 2:]
                )
                mag = np.abs(gx) + np.abs(gy)
                rows.append(
                    (t.image_id, int(mag.sum()), int(mag.max()),
                     int((mag > 200).sum()))
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["image_id", "edge_sum", "edge_max",
                             "n_edge_px"],
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema=SOBEL_SCHEMA
    )


QUADTREE_SCHEMA = (
    "image_id string, n_leaves long, n_singles long, comp_x1000 long"
)


def quadtree_stats(images: DataFrame) -> DataFrame:
    """Quadtree compression estimate of the thresholded bitmap
    (reference analog: the quad-tree downsample at utils.py:38-51,
    A2 in SURVEY §2, inverted into an adaptive-subdivision encoder).

    The u8 plane is binarized at 128 and subdivided on a
    virtual 64x64 grid (block sizes 64 down to 1, clamped to the
    actual extent): a block is a LEAF when all covered pixels agree
    and no ancestor was already uniform.  Returns the leaf count, the
    single-pixel leaf count, and ``1000 * n_px // n_leaves`` (the
    compression ratio, exact).  Deterministic integers throughout;
    the DuckDB mirror rebuilds all seven block levels with grouped
    min/max aggregations."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt)
                b = (px >= 128).astype(np.int64)
                per = _quadtree_leaf_counts(b)
                n_leaves = sum(per)
                rows.append(
                    (t.image_id, n_leaves, per[-1],
                     1000 * px.size // n_leaves)
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["image_id", "n_leaves", "n_singles",
                             "comp_x1000"],
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema=QUADTREE_SCHEMA
    )


def _quadtree_leaf_counts(plane: np.ndarray) -> list:
    """Leaves per level 0..log2(64) of the clamped 64x64 quadtree."""
    h, w = plane.shape
    pad_min = np.full((64, 64), 1 << 20, np.int64)
    pad_max = np.full((64, 64), -1, np.int64)
    pad_min[:h, :w] = plane
    pad_max[:h, :w] = plane
    parent_uniform = None
    per = []
    for lvl in range(7):
        bs = 64 >> lvl
        nb = 64 // bs
        mn = pad_min.reshape(nb, bs, nb, bs).min(axis=(1, 3))
        mx = pad_max.reshape(nb, bs, nb, bs).max(axis=(1, 3))
        present = mx >= 0
        uniform = present & (mn == mx)
        if lvl == 0:
            leaf = uniform
            parent_uniform = uniform
        else:
            pu = np.repeat(np.repeat(parent_uniform, 2, 0), 2, 1)
            leaf = uniform & ~pu & present
            parent_uniform = uniform | pu
        per.append(int(leaf.sum()))
    return per


MORPH_SCHEMA = (
    "image_id string, grad_sum long, grad_max int, n_flat long"
)


def morph_gradient_stats(images: DataFrame) -> DataFrame:
    """Morphological gradient (clamped-window dilation minus erosion,
    the reference's W5 binary-morphology family lifted to grayscale
    payloads, 3x3 window): per-image gradient energy, peak, and
    flat-pixel count.
    Windows clamp at borders (min/max over present pixels only), so a
    bounded neighborhood self-join reproduces it exactly."""
    from numpy.lib.stride_tricks import sliding_window_view

    win = 3

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt).astype(np.int64)
                pmax = np.pad(px, 1, constant_values=-1)
                pmin = np.pad(px, 1, constant_values=1 << 20)
                dil = sliding_window_view(pmax, (win, win)).max((2, 3))
                ero = sliding_window_view(pmin, (win, win)).min((2, 3))
                grad = dil - ero
                rows.append(
                    (t.image_id, int(grad.sum()), int(grad.max()),
                     int((grad == 0).sum()))
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["image_id", "grad_sum", "grad_max",
                             "n_flat"],
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema=MORPH_SCHEMA
    )


MATCH_SCHEMA = (
    "image_id string, m_sum long, m_min int, m_max int"
)


def match_histograms(paired: DataFrame) -> DataFrame:
    """Histogram matching (contrast transfer): remap each source
    image so its value distribution follows its paired reference.

    Input needs columns (image_id, bytes, fmt, ref_bytes, ref_fmt) --
    build pairs with any join upstream.  The matched value of v is
    the SMALLEST u with ``cdf_ref(u) * n_src >= cdf_src(v) * n_ref``
    (cross-multiplied integers, no float quantiles), so the mapping
    is exact and monotone; per-image aggregates of the matched plane
    are returned."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                src = codecs.decode(bytes(t.bytes), t.fmt)
                ref = codecs.decode(bytes(t.ref_bytes), t.ref_fmt)
                cdf_s = np.cumsum(
                    np.bincount(src.ravel(), minlength=256)
                ).astype(np.int64)
                cdf_r = np.cumsum(
                    np.bincount(ref.ravel(), minlength=256)
                ).astype(np.int64)
                n_s, n_r = int(src.size), int(ref.size)
                lut = np.searchsorted(
                    cdf_r * n_s, cdf_s * n_r, side="left"
                )
                matched = lut[src.astype(np.int64)]
                rows.append(
                    (t.image_id, int(matched.sum()),
                     int(matched.min()), int(matched.max()))
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["image_id", "m_sum", "m_min", "m_max"],
                )

    return paired.select(
        "image_id", "bytes", "fmt", "ref_bytes", "ref_fmt"
    ).mapInPandas(do, schema=MATCH_SCHEMA)


STRETCH_SCHEMA = (
    "image_id string, st_sum long, st_min int, st_max int, n_sat long"
)


def contrast_stretch_stats(images: DataFrame) -> DataFrame:
    """Percentile contrast stretch (the 2-98% linear stretch of
    remote-sensing viewers), integer-exact: the cut points are the
    smallest values whose CDF crosses ceil(pct*n/100) (integer
    cross-multiplication, no float quantiles), and the remap clamps
    BEFORE scaling so no negative division is involved (DuckDB //
    truncates toward zero while numpy floors -- avoided entirely).
    Returns per-image aggregates plus the saturated-pixel count."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt).astype(np.int64)
                cdf = np.cumsum(np.bincount(px.ravel(), minlength=256))
                n = px.size
                p_lo = int(np.argmax(cdf * 100 >= 2 * n))
                p_hi = int(np.argmax(cdf * 100 >= 98 * n))
                den = max(p_hi - p_lo, 1)
                st = (np.clip(px, p_lo, p_hi) - p_lo) * 255 // den
                rows.append(
                    (t.image_id, int(st.sum()), int(st.min()),
                     int(st.max()),
                     int(((st == 0) | (st == 255)).sum()))
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["image_id", "st_sum", "st_min", "st_max",
                             "n_sat"],
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema=STRETCH_SCHEMA
    )


MOMENTS_SCHEMA = (
    "image_id string, m00 long, m10 long, m01 long, m20 long, "
    "m02 long, m11 long, mu20n long, mu02n long, mu11n long"
)


def image_moments(images: DataFrame) -> DataFrame:
    """Raw image moments m_pq = sum v * i^p * j^q (p+q <= 2) plus the
    INTEGER NUMERATORS of the central moments: mu20n = m00*m20 -
    m10^2, mu02n = m00*m02 - m01^2, mu11n = m00*m11 - m10*m01 (each
    equals m00^2 * mu_pq, clearing the rational centroid) -- the
    shape/orientation primitives of classical blob analysis, kept in
    exact int64 so every engine agrees bit-for-bit.

    Scale shape: one decode per row, zero shuffles; per image the
    moments are six integer dot products against coordinate ramps
    (O(pixels), numpy-vectorized).  int64 bound: the central
    numerators reach ~255^2 * h^4 * w^2 / 3 (m00 * m20), which
    overflows int64 around ~300 px square at full-white -- payloads
    beyond the checked bound raise a clear error (downscale first,
    or compute float central moments mu_pq = m_pq-style directly).
    """

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt).astype(np.int64)
                h, w = px.shape
                # worst-case |mu20n| <= (255 h w)(255 h^3 w / 3) and
                # |mu02n| <= (255 h w)(255 w^3 h / 3): check BOTH axes
                # (a 2 x 10000 payload passes the row-axis bound while
                # the column-axis numerator overflows) and refuse
                # payloads whose exact result cannot fit the declared
                # int64 column instead of overflowing at the Arrow
                # boundary
                s = max(h, w)
                if 255 * h * w * 255 * s * s * s * min(h, w) // 3 > 2**62:
                    raise ValueError(
                        f"image_moments: {h}x{w} payload can overflow "
                        "the int64 central-moment numerators; "
                        "downscale below ~300px or use float moments"
                    )
                ii = np.arange(h, dtype=np.int64)[:, None]
                jj = np.arange(w, dtype=np.int64)[None, :]
                m00 = int(px.sum())
                m10 = int((px * ii).sum())
                m01 = int((px * jj).sum())
                m20 = int((px * ii * ii).sum())
                m02 = int((px * jj * jj).sum())
                m11 = int((px * ii * jj).sum())
                rows.append(
                    (
                        t.image_id, m00, m10, m01, m20, m02, m11,
                        m00 * m20 - m10 * m10,
                        m00 * m02 - m01 * m01,
                        m00 * m11 - m10 * m01,
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "image_id", "m00", "m10", "m01", "m20", "m02",
                        "m11", "mu20n", "mu02n", "mu11n",
                    ],
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema=MOMENTS_SCHEMA
    )


SSD_SCHEMA = (
    "image_id string, best_i int, best_j int, best_ssd long, "
    "n_offsets long"
)


def ssd_template_match(
    images: DataFrame, template: np.ndarray
) -> DataFrame:
    """Exact template matching by sum-of-squared-differences: slide
    ``template`` (small, e.g. 4x4) over every valid offset of each
    payload, return the argmin offset (ties -> smallest (i, j)) and
    its SSD.  SSD instead of normalized cross-correlation keeps the
    whole operator in integer arithmetic, hence bit-checkable.

    Scale shape: embarrassingly parallel mapInPandas, zero shuffles;
    per image the cost is O(pixels * |template|) as |template| 
    vectorized shifts of the full plane (NOT a Python loop over
    offsets), so a 4x4 template costs 16 plane passes.  Large
    templates should switch to FFT correlation (the multimodal
    module's DCT machinery); small trackers/logos fit this path.
    """
    th, tw = template.shape
    tmpl = template.astype(np.int64)

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt).astype(np.int64)
                h, w = px.shape
                oh, ow = h - th + 1, w - tw + 1
                if oh <= 0 or ow <= 0:
                    # image smaller than the template: no valid offset.
                    # NOTE for SQL mirrors: a full-window HAVING
                    # (count == |template|) drops such images entirely
                    # -- UNION the null rows back when small payloads
                    # can occur (the registry fixture images are all
                    # >= 56 px, so its oracle omits that arm).
                    rows.append((t.image_id, None, None, None, 0))
                    continue
                ssd = np.zeros((oh, ow), dtype=np.int64)
                for a in range(th):
                    for b in range(tw):
                        d = px[a:a + oh, b:b + ow] - tmpl[a, b]
                        ssd += d * d
                flat = int(np.argmin(ssd))  # row-major: first minimum
                bi, bj = divmod(flat, ow)
                rows.append(
                    (
                        t.image_id, int(bi), int(bj),
                        int(ssd[bi, bj]), int(oh) * int(ow),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "image_id", "best_i", "best_j", "best_ssd",
                        "n_offsets",
                    ],
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema=SSD_SCHEMA
    )


BLOB_SCHEMA = (
    "image_id string, n_mask long, n_blobs long, max_blob long, "
    "sum_blob_sq long"
)


def blob_stats(images: DataFrame) -> DataFrame:
    """8-connected component labeling of the per-image mask
    ``v >= 255`` (fillnodata.label, run-based union-find -- no
    assumption about mask shape), emitting per-image blob statistics:
    mask size, blob count, largest blob, and sum of squared blob sizes
    (the 'fragmentation' score used to rank images by speckle).

    Scale shape: labeling is per-payload (images are independent),
    so the operator is a zero-shuffle mapInPandas; cost per image is
    O(mask px * alpha) union-find.  Components SPANNING payloads
    (tiled rasters) are the separate distributed machinery of
    functions/graph.connected_components -- this operator is the
    within-payload fast path a curation pipeline wants for billions
    of small images.

    Images with an EMPTY mask emit (id, 0, 0, 0, 0).  SQL mirrors
    built from the mask-cell table alone drop those images -- LEFT
    JOIN the image list when empty masks can occur (the registry
    fixture's stripe mask is never empty, so its oracle omits that
    arm).
    """

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt)
                mask = px >= 255
                labels, _ = label(mask, 8)
                sizes = np.bincount(labels.ravel())[1:]
                rows.append(
                    (
                        t.image_id,
                        int(mask.sum()),
                        len(sizes),
                        int(sizes.max()) if len(sizes) else 0,
                        int((sizes * sizes).sum()),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "image_id", "n_mask", "n_blobs", "max_blob",
                        "sum_blob_sq",
                    ],
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema=BLOB_SCHEMA
    )
