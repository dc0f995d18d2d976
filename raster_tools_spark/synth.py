"""Deterministic synthetic data: the ``images`` table + vector layers.

FIXTURES.md sections 1-3: an Iceberg-style table of image+caption pairs
(image_id, bytes, w, h, fmt, caption, phash) plus polygon and line
layers.  Generation is pure -- every row is a function of its index and
a seed only (counter-based Philox RNG keyed per row), so the same rows
come out byte-identical regardless of partitioning or parallelism
(north rule) and the table can be regenerated on any executor instead of
being shipped.

``tiles_axis`` confines anchors to the top-left ``tiles_axis x
tiles_axis`` window of the canonical 4096x4096 tile grid so small-scale
tests get realistic join densities; at 10^12-row scale use the full
grid (tiles_axis=4096).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from . import codecs, wkb
from .grid import CELL_SIZE, TILE_SIZE, WORLD_TOP, _ANCHOR_MULT

DEFAULT_SEED = 42
DEFAULT_TILES_AXIS = 64  # 64 x 64 canonical tiles = 8.192 km square window

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)
POLYGONS_SCHEMA = (
    "feat_id long, name string, geom_wkb binary, category string, value int"
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 -- deterministic int64 mixer (public algorithm)."""
    z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def phash_of_index(idx: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Row index -> phash (int64, non-negative)."""
    seed_mix = (
        np.asarray([seed], dtype=np.uint64) * np.uint64(0x5851F42D4C957F2D)
    )[0]
    mixed = _splitmix64(
        np.asarray(idx, dtype=np.int64).astype(np.uint64) + seed_mix
    )
    return (mixed >> np.uint64(1)).astype(np.int64)


def anchor_of_phash_windowed(phash: np.ndarray, tiles_axis: int):
    """phash -> (x0, y_top) anchor confined to a tiles_axis window.

    Knuth multiplicative mixing of phash into a canonical tile corner
    (retile re-anchoring analog, raster_tools/retile.py:47 ->
    utils.py:82-92) with the tile index masked into the window.
    tiles_axis must be a power of two.
    """
    p = np.asarray(phash, dtype=np.int64)
    mask = np.int64(tiles_axis - 1)
    mixed = (p * _ANCHOR_MULT) & np.int64((1 << 62) - 1)
    tx = (mixed >> np.int64(20)) & mask
    ty = (mixed >> np.int64(2)) & mask
    x0 = tx.astype(np.float64) * TILE_SIZE
    y_top = WORLD_TOP - ty.astype(np.float64) * TILE_SIZE
    return x0, y_top


def _image_pixels(phash: int, h: int, w: int) -> np.ndarray:
    """Deterministic tile content: seeded gradient + sinusoid + noise
    (FIXTURES.md section 1: 'deterministic function of phash')."""
    rng = np.random.Generator(np.random.Philox(key=np.uint64(phash)))
    ii, jj = np.meshgrid(
        np.arange(h, dtype=np.float64),
        np.arange(w, dtype=np.float64),
        indexing="ij",
    )
    a, b = rng.uniform(0.2, 1.0, size=2)
    phase = rng.uniform(0, 2 * np.pi)
    base = (
        96.0
        + 48.0 * np.sin(2 * np.pi * (a * ii + b * jj) / 96.0 + phase)
        + 0.15 * (ii + jj)
    )
    noise = rng.normal(0.0, 3.0, size=(h, w))
    return np.clip(np.round(base + noise), 0, 255).astype(np.uint8)


def images_pdf(
    start: int,
    stop: int,
    seed: int = DEFAULT_SEED,
    tiles_axis: int = DEFAULT_TILES_AXIS,
    with_pixels: bool = True,
) -> pd.DataFrame:
    """Generate rows [start, stop) of the images table as pandas."""
    idx = np.arange(start, stop, dtype=np.int64)
    ph = phash_of_index(idx, seed)
    sel = _splitmix64(ph.astype(np.uint64))
    # mostly 256 px; some 250/100 edge tiles (rextract.py:143-152 clipped
    # blocks analog)
    size_pick = (sel % np.uint64(16)).astype(np.int64)
    w = np.where(size_pick == 0, 250, np.where(size_pick == 1, 100, 256))
    h = np.where(size_pick == 2, 250, np.where(size_pick == 3, 100, 256))
    fmt = np.where((sel >> np.uint64(8)) % np.uint64(4) == 0, "jpeg", "png")

    image_id = np.array([f"img_{i:012d}" for i in idx])
    caption = np.array(
        [
            f"synthetic caption for {img} phash {p} fmt {f}"
            for img, p, f in zip(image_id, ph, fmt)
        ]
    )
    if with_pixels:
        data = [
            codecs.encode(_image_pixels(int(p), int(hh), int(ww)), str(f))
            for p, hh, ww, f in zip(ph, h, w, fmt)
        ]
    else:
        data = [b""] * len(idx)
    return pd.DataFrame(
        {
            "image_id": image_id,
            "bytes": data,
            "w": w.astype(np.int32),
            "h": h.astype(np.int32),
            "fmt": fmt,
            "caption": caption,
            "phash": ph,
        }
    )


def images_df(
    spark,
    n: int,
    tiles_axis: int = DEFAULT_TILES_AXIS,
):
    """Distributed images table: spark.range -> mapInPandas generator.

    The generator runs on executors; each output row depends only on its
    ``id``, so the table is identical at any parallelism (north rule).
    """
    parts = spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            # ids from spark.range are contiguous per batch slice
            yield images_pdf(
                int(ids.min()),
                int(ids.max()) + 1,
                tiles_axis=tiles_axis,
            )

    return (
        spark.range(0, n, 1, parts)
        .mapInPandas(gen, schema=IMAGES_SCHEMA)
    )


# ---------------------------------------------------------------------------
# SQL-expressible image variant (oracle-checkable pixel tables).
#
# The Philox-pixel images above are the realistic fixture but cannot be
# re-derived by a SQL engine.  ``linear_images_df`` generates images
# whose every pixel is a closed-form integer function of (row index,
# i, j), so a DuckDB oracle can reconstruct the exact pixel table with
# generate_series and check retile/zonal/feature operators value-for-
# value.  Same schema + codec path as the real table -- the engine
# cannot tell them apart.
#
#   seed(idx) = (idx * 37) % 199
#   v(idx,i,j) = 255                       if (i + j) % 17 == 0 (nodata)
#                (seed + 7*i + 13*j) % 251 otherwise
#   anchor tile tx = (idx*7) % tiles_axis, ty = (idx*13) % tiles_axis
#   w = 64 - 2*(idx % 3), h = 64 - 2*(idx % 5)
# ---------------------------------------------------------------------------

LINEAR_SIZE = 64
# anchor window (tiles per axis) of the linear tables and their SQL
LINEAR_TILES_AXIS = 16


def linear_pixels(idx: int, h: int, w: int) -> np.ndarray:
    seed = (idx * 37) % 199
    ii, jj = np.meshgrid(
        np.arange(h, dtype=np.int64),
        np.arange(w, dtype=np.int64),
        indexing="ij",
    )
    v = (seed + 7 * ii + 13 * jj) % 251
    v[(ii + jj) % 17 == 0] = 255
    return v.astype(np.uint8)


def linear_anchor(idx: int, tiles_axis: int):
    tx = (idx * 7) % tiles_axis
    ty = (idx * 13) % tiles_axis
    return tx * TILE_SIZE, WORLD_TOP - ty * TILE_SIZE


def linear_size(idx: int):
    return LINEAR_SIZE - 2 * (idx % 3), LINEAR_SIZE - 2 * (idx % 5)


def linear_images_df(spark, n: int):
    """Distributed SQL-expressible images table with x0/y_top attached
    (ready for zonal/retile without assign_cells)."""
    parts = spark.sparkContext.defaultParallelism
    tiles_axis = LINEAR_TILES_AXIS

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for idx in pdf["id"].to_numpy():
                idx = int(idx)
                w, h = linear_size(idx)
                px = linear_pixels(idx, h, w)
                x0, y_top = linear_anchor(idx, tiles_axis)
                rows.append(
                    (
                        f"img_{idx:012d}",
                        codecs.png_encode(px),
                        w,
                        h,
                        "png",
                        f"linear caption {idx}",
                        int(idx),
                        float(x0),
                        float(y_top),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "image_id", "bytes", "w", "h", "fmt", "caption",
                        "phash", "x0", "y_top",
                    ],
                )

    return spark.range(0, n, 1, parts).mapInPandas(
        gen,
        schema=IMAGES_SCHEMA + ", x0 double, y_top double",
    )


def linear_pixels_sql(n: int) -> str:
    """DuckDB CTE ``lpix`` reconstructing the exact pixel table of
    linear_images_df(n): (idx, image_id, i, j, v, px, py) with pixel
    CENTER world coordinates."""
    return f"""
    limg AS (
      SELECT g.idx,
             printf('img_%012d', g.idx) AS image_id,
             ({LINEAR_SIZE} - 2*(g.idx % 3)) AS w,
             ({LINEAR_SIZE} - 2*(g.idx % 5)) AS h,
             ((g.idx*7) % {LINEAR_TILES_AXIS}) * {TILE_SIZE!r} AS x0,
             {WORLD_TOP!r} - ((g.idx*13) % {LINEAR_TILES_AXIS}) * {TILE_SIZE!r}
               AS y_top,
             (g.idx*37) % 199 AS seed
      FROM (SELECT unnest(generate_series(0, {n - 1})) AS idx) g
    ),
    lpix AS (
      SELECT idx, image_id,
             gi.i, gj.j,
             CASE WHEN (gi.i + gj.j) % 17 = 0 THEN 255
                  ELSE (seed + 7*gi.i + 13*gj.j) % 251 END AS v,
             x0 + (gj.j + 0.5) * {CELL_SIZE!r} AS px,
             y_top - (gi.i + 0.5) * {CELL_SIZE!r} AS py
      FROM limg,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS i) gi,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS j) gj
    )
    """


def linear_rgb_pixels(idx: int, h: int, w: int) -> np.ndarray:
    """(h, w, 3) uint8: band b value = (seed + 7i + 13j + 31b) % 251."""
    seed = (idx * 37) % 199
    ii, jj, bb = np.meshgrid(
        np.arange(h, dtype=np.int64),
        np.arange(w, dtype=np.int64),
        np.arange(3, dtype=np.int64),
        indexing="ij",
    )
    return ((seed + 7 * ii + 13 * jj + 31 * bb) % 251).astype(np.uint8)


def linear_rgb_images_df(spark, n: int):
    """3-band (RGB PNG) variant of linear_images_df (S2 multi-band)."""
    parts = spark.sparkContext.defaultParallelism
    tiles_axis = LINEAR_TILES_AXIS

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for idx in pdf["id"].to_numpy():
                idx = int(idx)
                w, h = linear_size(idx)
                px = linear_rgb_pixels(idx, h, w)
                x0, y_top = linear_anchor(idx, tiles_axis)
                rows.append(
                    (
                        f"img_{idx:012d}",
                        codecs.png_encode(px),
                        w, h, "png",
                        f"rgb caption {idx}", int(idx),
                        float(x0), float(y_top),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "image_id", "bytes", "w", "h", "fmt", "caption",
                        "phash", "x0", "y_top",
                    ],
                )

    return spark.range(0, n, 1, parts).mapInPandas(
        gen, schema=IMAGES_SCHEMA + ", x0 double, y_top double"
    )


def linear_f4_pixels(idx: int, h: int, w: int) -> np.ndarray:
    """float32 DEM with relief beyond the u8 range: v = 3*seed +
    0.5*i + 0.25*j (every value an exact dyadic rational)."""
    seed = (idx * 37) % 199
    ii, jj = np.meshgrid(
        np.arange(h, dtype=np.float64),
        np.arange(w, dtype=np.float64),
        indexing="ij",
    )
    return (3.0 * seed + 0.5 * ii + 0.25 * jj).astype(np.float32)


def linear_f4_images_df(spark, n: int):
    """f4 (rawz) variant of linear_images_df (S2 non-u8 dtypes)."""
    parts = spark.sparkContext.defaultParallelism
    tiles_axis = LINEAR_TILES_AXIS

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for idx in pdf["id"].to_numpy():
                idx = int(idx)
                w, h = linear_size(idx)
                px = linear_f4_pixels(idx, h, w)
                x0, y_top = linear_anchor(idx, tiles_axis)
                rows.append(
                    (
                        f"img_{idx:012d}",
                        codecs.rawz_encode(px),
                        w, h, "rawz",
                        f"f4 caption {idx}", int(idx),
                        float(x0), float(y_top),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "image_id", "bytes", "w", "h", "fmt", "caption",
                        "phash", "x0", "y_top",
                    ],
                )

    return spark.range(0, n, 1, parts).mapInPandas(
        gen, schema=IMAGES_SCHEMA + ", x0 double, y_top double"
    )


def linear_rgb_pixels_sql(n: int) -> str:
    """DuckDB CTE ``lrgb``: (idx, image_id, i, j, r, g, b, px, py)."""
    return f"""
    limg AS (
      SELECT g.idx,
             printf('img_%012d', g.idx) AS image_id,
             ({LINEAR_SIZE} - 2*(g.idx % 3)) AS w,
             ({LINEAR_SIZE} - 2*(g.idx % 5)) AS h,
             ((g.idx*7) % {LINEAR_TILES_AXIS}) * {TILE_SIZE!r} AS x0,
             {WORLD_TOP!r} - ((g.idx*13) % {LINEAR_TILES_AXIS}) * {TILE_SIZE!r}
               AS y_top,
             (g.idx*37) % 199 AS seed
      FROM (SELECT unnest(generate_series(0, {n - 1})) AS idx) g
    ),
    lrgb AS (
      SELECT idx, image_id, gi.i, gj.j,
             (seed + 7*gi.i + 13*gj.j) % 251 AS r,
             (seed + 7*gi.i + 13*gj.j + 31) % 251 AS g,
             (seed + 7*gi.i + 13*gj.j + 62) % 251 AS b,
             x0 + (gj.j + 0.5) * {CELL_SIZE!r} AS px,
             y_top - (gi.i + 0.5) * {CELL_SIZE!r} AS py
      FROM limg,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS i) gi,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS j) gj
    )
    """


def linear_f4_pixels_sql(n: int) -> str:
    """DuckDB CTE ``lf4``: (idx, image_id, i, j, v, px, py) with v cast
    through REAL to match the engine's float32 payload exactly."""
    return f"""
    limg AS (
      SELECT g.idx,
             printf('img_%012d', g.idx) AS image_id,
             ({LINEAR_SIZE} - 2*(g.idx % 3)) AS w,
             ({LINEAR_SIZE} - 2*(g.idx % 5)) AS h,
             ((g.idx*7) % {LINEAR_TILES_AXIS}) * {TILE_SIZE!r} AS x0,
             {WORLD_TOP!r} - ((g.idx*13) % {LINEAR_TILES_AXIS}) * {TILE_SIZE!r}
               AS y_top,
             (g.idx*37) % 199 AS seed
      FROM (SELECT unnest(generate_series(0, {n - 1})) AS idx) g
    ),
    lf4 AS (
      SELECT idx, image_id, gi.i, gj.j,
             CAST(CAST(3.0*seed + 0.5*gi.i + 0.25*gj.j AS REAL)
                  AS DOUBLE) AS v,
             x0 + (gj.j + 0.5) * {CELL_SIZE!r} AS px,
             y_top - (gi.i + 0.5) * {CELL_SIZE!r} AS py
      FROM limg,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS i) gi,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS j) gj
    )
    """


# ---------------------------------------------------------------------------
# Vector layers (FIXTURES.md section 2/3).
# ---------------------------------------------------------------------------

_CATEGORIES = np.array(["water", "crop", "urban", "forest", "road"])


def _poly_name(i: int) -> str:
    """base-26 + digits tile names (reindex.py:52-55 style)."""
    letters = ""
    v = i
    for _ in range(2):
        letters = chr(ord("a") + v % 26) + letters
        v //= 26
    return f"{letters}{i % 10}"


def polygons_pdf(
    m: int,
    seed: int = DEFAULT_SEED,
    tiles_axis: int = DEFAULT_TILES_AXIS,
    hot_every: int = 50,
) -> pd.DataFrame:
    """Polygon layer: rects + star polygons + a few huge hot polygons
    (skew drivers), confined to the same window as the images."""
    window = tiles_axis * TILE_SIZE
    rows = []
    for i in range(m):
        rng = np.random.Generator(
            np.random.Philox(key=np.uint64(seed * 1_000_003 + i))
        )
        cx = rng.uniform(0.02, 0.98) * window
        cy = WORLD_TOP - rng.uniform(0.02, 0.98) * window
        kind = i % 3
        if hot_every and i % hot_every == hot_every - 1:
            # hot polygon: covers a large fraction of the window
            half = rng.uniform(0.25, 0.45) * window
            geom = wkb.box_wkb(
                max(cx - half, 0.0),
                max(cy - half, WORLD_TOP - window),
                min(cx + half, window),
                min(cy + half, WORLD_TOP),
            )
        elif kind == 0:
            # axis-aligned rectangle, tile-index style (reindex.py:30-69)
            hw = rng.uniform(0.5, 4.0) * TILE_SIZE
            hh = rng.uniform(0.5, 4.0) * TILE_SIZE
            geom = wkb.box_wkb(cx - hw, cy - hh, cx + hw, cy + hh)
        else:
            # jittered star polygon (simple, non-self-intersecting)
            n_v = int(rng.integers(5, 12))
            angles = np.sort(rng.uniform(0, 2 * np.pi, n_v))
            radii = rng.uniform(0.4, 3.0, n_v) * TILE_SIZE
            xs = cx + radii * np.cos(angles)
            ys = cy + radii * np.sin(angles)
            geom = wkb.polygon_wkb(np.column_stack([xs, ys]))
        rows.append(
            (
                i,
                _poly_name(i),
                geom,
                str(_CATEGORIES[i % len(_CATEGORIES)]),
                int(rng.integers(1, 250)),
            )
        )
    return pd.DataFrame(
        rows, columns=["feat_id", "name", "geom_wkb", "category", "value"]
    )


def polygons_df(spark, m: int, tiles_axis: int = DEFAULT_TILES_AXIS):
    pdf = polygons_pdf(m, tiles_axis=tiles_axis)
    return spark.createDataFrame(pdf, schema=POLYGONS_SCHEMA)
