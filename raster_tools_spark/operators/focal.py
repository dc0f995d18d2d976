"""Focal (neighborhood) operators with distributed halo exchange
(SURVEY.md W1-W3/W5 + section 4 "halo/margin reads").

A stencil needs pixels beyond the tile edge; the reference buffers its
read geometry (flow_fil.py:223-228, shadow.py:63-66).  Distributed
re-expression -- the reusable ``with_halo`` pattern:

1. every tile emits itself (as its ORIGINAL ENCODED bytes -- never a
   raw re-serialization) plus thin raw EDGE STRIPS addressed to its 8
   grid neighbors (``grid.ring_cells``) -- the shuffle moves the
   encoded tile once plus ``margin``-wide strips (at margin=8 on a
   256 px tile the strips are ~6% extra raw bytes, vs 800% for
   whole-tile duplication, and the center transits compressed);
2. groupBy(cell) assembles the padded array, edge-replicating wherever
   a neighbor is absent (the reference pads with nodata,
   groups.py:77-94; edge replication here matches the gradient
   doubled-edge convention of hillshade.py:30-38);
3. the stencil kernel runs on the padded array and crops the margin.

Kernels ported bit-exactly:
- ``zevenbergen_thorne`` hillshade (hillshade.py:23-48)
- ``aspect_octant_kernel`` 8-way aspect from the same gradients
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import codecs
from ..grid import pack_cell, unpack_cell

HALO_PART_SCHEMA = (
    "target long, src_dy int, src_dx int, payload binary, "
    "ph int, pw int, fmt string"
)


def _strip(px: np.ndarray, dy: int, dx: int, m: int) -> np.ndarray:
    """The strip of ``px`` the neighbor at offset (dy, dx) needs: the
    sender's side FACING that neighbor (receiver below -> sender's
    bottom rows, receiver right -> sender's right columns)."""
    h, w = px.shape
    ys = slice(h - m, h) if dy == 1 else slice(0, m) if dy == -1 else slice(0, h)
    xs = slice(w - m, w) if dx == 1 else slice(0, m) if dx == -1 else slice(0, w)
    return px[ys, xs]


def _halo_parts(tiles: DataFrame, margin: int) -> DataFrame:
    """Per tile: the ORIGINAL ENCODED bytes addressed to itself plus
    raw margin-wide strips addressed to the 8 neighbors.  The center
    must not be re-serialized raw (a 256px tile is 65,536 B raw vs
    ~30-50 KiB encoded; at 100x scale a raw center is a full-dataset
    uncompressed shuffle per stencil) -- it is decoded once here to cut
    the strips and decoded again by the receiving reducer."""

    def kernel(px, t):
        res, ix, iy = (int(v) for v in unpack_cell(int(t.cell_id)))
        rows = []
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                jx, jy = ix + dx, iy + dy
                if jx < 0 or jy < 0:
                    continue
                if dy == 0 and dx == 0:
                    rows.append((int(pack_cell(res, jx, jy)), 0, 0,
                                 bytes(t.bytes), px.shape[0],
                                 px.shape[1], t.fmt))
                    continue
                part = _strip(px, dy, dx, margin)
                rows.append(
                    (
                        int(pack_cell(res, jx, jy)),
                        dy,
                        dx,
                        np.ascontiguousarray(part).tobytes(),
                        part.shape[0],
                        part.shape[1],
                        # strips are raw; tag the dtype so the reducer
                        # can reassemble non-u8 tiles (f4 DEMs etc.)
                        "raw:" + px.dtype.str.lstrip("<>|="),
                    )
                )
        return rows

    return codecs.map_payloads(
        tiles.select("cell_id", "bytes", "fmt"), kernel, HALO_PART_SCHEMA
    )


def _assemble_padded(pdf: pd.DataFrame, tile_px: int, margin: int):
    """Padded array from a tile + its neighbor strips; edge-replicate
    missing sides.  Returns None when the center tile is absent (a
    ring cell with no data of its own produces no output)."""
    m = margin
    size = tile_px + 2 * m
    center = pdf[(pdf["src_dy"] == 0) & (pdf["src_dx"] == 0)]
    if len(center) == 0:
        return None
    c = center.iloc[0]
    core = codecs.decode(bytes(c["payload"]), str(c["fmt"]))
    canvas = np.empty((size, size), dtype=core.dtype)
    canvas[m : m + tile_px, m : m + tile_px] = core
    have = set()
    for t in pdf.itertuples():
        dy, dx = t.src_dy, t.src_dx
        if dy == 0 and dx == 0:
            continue
        fmt = str(t.fmt)
        dt = fmt.split(":", 1)[1] if fmt.startswith("raw:") else "u1"
        part = np.frombuffer(bytes(t.payload), dtype=dt).reshape(
            t.ph, t.pw
        )
        # a strip emitted by the neighbor at (-dy, -dx) relative to us
        ys = (
            slice(0, m) if dy == 1
            else slice(size - m, size) if dy == -1
            else slice(m, m + tile_px)
        )
        xs = (
            slice(0, m) if dx == 1
            else slice(size - m, size) if dx == -1
            else slice(m, m + tile_px)
        )
        canvas[ys, xs] = part
        have.add((dy, dx))
    # edge-replicate absent sides over the core width, then absent
    # corners by replicating the (now filled) adjacent column/row --
    # identical to np.pad(global, mode='edge') at world borders
    # (keys in ``have`` are SENDER-relative offsets: a part tagged
    # (dy=1, dx=0) came from the sender above us and fills our top)
    if (1, 0) not in have:   # top halo missing
        canvas[:m, m:m + tile_px] = canvas[m:m + 1, m:m + tile_px]
    if (-1, 0) not in have:  # bottom halo missing
        canvas[size - m:, m:m + tile_px] = canvas[
            size - m - 1 : size - m, m:m + tile_px
        ]
    if (0, 1) not in have:   # left halo missing
        canvas[m:m + tile_px, :m] = canvas[m:m + tile_px, m:m + 1]
    if (0, -1) not in have:  # right halo missing
        canvas[m:m + tile_px, size - m:] = canvas[
            m:m + tile_px, size - m - 1 : size - m
        ]
    for dy, dx in ((1, 1), (1, -1), (-1, 1), (-1, -1)):
        if (dy, dx) not in have:
            ys = slice(0, m) if dy == 1 else slice(size - m, size)
            xs = slice(0, m) if dx == 1 else slice(size - m, size)
            if (0, dx) in have:
                # the side halo is real: replicate it vertically into
                # the corner (matches global edge-pad at world borders)
                src_row = (
                    slice(m, m + 1) if dy == 1
                    else slice(size - m - 1, size - m)
                )
                canvas[ys, xs] = canvas[src_row, xs]
            else:
                src_col = (
                    slice(m, m + 1) if dx == 1
                    else slice(size - m - 1, size - m)
                )
                canvas[ys, xs] = canvas[ys, src_col]
    return canvas


def halo_stencil(
    tiles: DataFrame,
    kernel: Callable[[np.ndarray], np.ndarray],
    margin: int = 1,
    tile_px: int = 256,
) -> DataFrame:
    """tiles(cell_id, bytes, fmt) -> stenciled tiles (same schema).

    ``kernel`` maps the padded uint8 array -> same-shape array; the
    margin is cropped after.  One shuffle (strips), all pixel work
    map-side.
    """
    parts = _halo_parts(tiles, margin)

    out_schema = "cell_id long, bytes binary, fmt string"

    def finish(pdf: pd.DataFrame) -> pd.DataFrame:
        canvas = _assemble_padded(pdf, tile_px, margin)
        if canvas is None:
            return pd.DataFrame(columns=["cell_id", "bytes", "fmt"])
        result = kernel(canvas)[margin:-margin, margin:-margin]
        if result.dtype == np.uint8:
            payload, fmt = codecs.png_encode(result), "png"
        else:
            payload, fmt = codecs.rawz_encode(result), "rawz"
        return pd.DataFrame(
            {
                "cell_id": [int(pdf["target"].iloc[0])],
                "bytes": [payload],
                "fmt": [fmt],
            }
        )

    return parts.groupBy("target").applyInPandas(finish, schema=out_schema)


# ---------------------------------------------------------------------------
# stencil kernels (bit-exact ports)
# ---------------------------------------------------------------------------

def _zt_gradients(dem: np.ndarray, xres: float, yres: float):
    """Zevenbergen-Thorne style gradient pair.

    ``np.gradient`` already computes the central difference
    (a[k+1]-a[k-1])/2 in the interior and the one-sided difference at
    the borders; the convention this engine matches (reference
    hillshade.py:23-48 -- central difference over the full 2-cell span,
    border differences DOUBLED) is exactly 2x np.gradient in both
    cases, so one dyadic-exact scaling reproduces it bit-for-bit
    (xres/yres are powers of two; parity proven by the hillshade
    goldens in test_focal.py)."""
    gy, gx = np.gradient(dem)
    return gx * (-2.0 / xres), gy * (2.0 / yres)


def zevenbergen_thorne(array: np.ndarray) -> np.ndarray:
    """Hillshade a la gdaldem's Zevenbergen-Thorne mode: shaded value
    from the angle between the light vector (altitude 45, azimuth 315)
    and the slope/aspect normal of a 0.5 m DEM (z scale 0.5), scaled
    into 1..255 (0 reserved; published gdaldem formulation)."""
    dem = array.astype(np.float64)
    z_scale = 0.5
    alt = math.radians(45.0)
    az = math.radians(315.0)

    x, y = _zt_gradients(dem, 0.5, 0.5)
    slope_sq = x * x + y * y
    aspect = np.arctan2(y, x)

    cang = (
        math.sin(alt)
        - math.cos(alt) * z_scale * np.sqrt(slope_sq)
        * np.sin(aspect - az)
    ) / np.sqrt(1 + z_scale * z_scale * slope_sq)

    return np.where(cang <= 0, 1, 1 + 254 * cang).astype("u1")


def aspect_octant_kernel(padded: np.ndarray) -> np.ndarray:
    """8-way aspect (slope-direction) classification from the same
    ZT gradient pair the hillshade uses (reference hillshade.py:23-48
    conventions): octant code = 4*[gx>0] + 2*[gy>0] + [|gx|>|gy|],
    class 8 for flat cells.  Pure sign/magnitude comparisons on the
    dyadic-exact gradients, so a SQL twin classifying the closed-form
    gradient values agrees bit-for-bit."""
    gx, gy = _zt_gradients(padded.astype(np.float64), 0.5, 0.5)
    code = (
        (gx > 0).astype(np.uint8) * 4
        + (gy > 0).astype(np.uint8) * 2
        + (np.abs(gx) > np.abs(gy)).astype(np.uint8)
    )
    flat = (gx == 0) & (gy == 0)
    code[flat] = 8
    return code
