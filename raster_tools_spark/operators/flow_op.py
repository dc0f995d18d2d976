"""Distributed flow pipeline faces (SURVEY.md G2/G4/G7): staged
depression fill, CROSS-TILE flow accumulation, and streamline
vectorization over the tile table.

The reference runs fil -> dir -> acc -> vec as whole-raster /
per-index-feature passes (flow/flow_fil.py, flow_acc.py, flow_vec.py);
these operators re-express each stage over (cell_id, bytes, fmt)
tiles:

- ``fill_depressions_tiles``: the staged 100x100 @ 0/25/50 block
  passes of flow_fil.py:169-184.  Each pass is one
  fragments->blocks->fill->fragments->tiles round trip (two shuffles,
  fragment payloads compressed in their dtype: PNG for u8, rawz for
  f4 DEMs); blocks straddling tile
  boundaries are assembled from the fragments of every contributing
  tile, so the pass is bit-identical to running the reference kernel
  on the stitched global array (test_flow_op.py proves equality).
- ``accumulate_tiles``: global flow accumulation as a boundary-flow
  FIXPOINT.  Round 0 computes per-tile local accumulation and initial
  boundary outflows; each later round routes only the (tiny) boundary
  inflow records through static per-tile pointer state; the final pass
  replays every inflow along its in-tile path.  Equal to running the
  single-array accumulation (tests/references.py) on the stitched
  array (catchments crossing k tiles converge in k rounds); the
  shuffle after round 0 carries only boundary records, never pixels.
- ``vectorize_streams_tiles``: the reference's own distribution unit
  (flow_vec.py reads each index feature with a ONE-PIXEL margin), as a
  halo exchange of (direction, accumulation) strips + mapInPandas
  running flow_vec.vectorize_streams -- the engine's raster->vector
  1->N UDTF.
"""

from __future__ import annotations

import logging
import zlib
from typing import List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs, wkb as _wkb
from ..fill import priority_flood_fill
from ..flow import flow_targets
from ..flow_vec import CLASSES, vectorize_streams
from ..grid import (CELL_SIZE, cell_bounds, cell_edge, pack_cell,
                    unpack_cell)
from ..materialize import reuse
from .focal import _halo_parts

TILE_PX = 256
NODATA = 255

log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# staged depression fill
# ---------------------------------------------------------------------------

_FRAG_SCHEMA = (
    "bkey long, fy int, fx int, payload binary"
)
_TFRAG_SCHEMA = "cell_id long, ty int, tx int, payload binary"


def _tile_extent_at(tiles: DataFrame, tile_px: int
                    ) -> Tuple[int, int, int, int]:
    """Global pixel extent (y0, x0, y1, x1) of the tile set (one tiny
    agg; 4 longs to the driver)."""
    row = tiles.select(
        F.min(F.shiftright("cell_id", 28).bitwiseAND(F.lit((1 << 28) - 1)))
        .alias("ix0"),
        F.max(F.shiftright("cell_id", 28).bitwiseAND(F.lit((1 << 28) - 1)))
        .alias("ix1"),
        F.min(F.col("cell_id").bitwiseAND(F.lit((1 << 28) - 1)))
        .alias("iy0"),
        F.max(F.col("cell_id").bitwiseAND(F.lit((1 << 28) - 1)))
        .alias("iy1"),
    ).collect()[0]
    return (
        int(row.iy0) * tile_px,
        int(row.ix0) * tile_px,
        (int(row.iy1) + 1) * tile_px,
        (int(row.ix1) + 1) * tile_px,
    )


def _frag_encode(a: np.ndarray) -> bytes:
    """Self-describing fragment payload: PNG for u8, rawz otherwise."""
    if a.dtype == np.uint8:
        return codecs.png_encode(a)
    return codecs.rawz_encode(a)


def _frag_decode(b: bytes) -> np.ndarray:
    if b[:4] == b"RWZ1":
        return codecs.rawz_decode(b)
    return codecs.png_decode(b)


def _fill_pass(tiles: DataFrame, extent, step: int, offset: int,
               res: int, tile_px: int) -> DataFrame:
    """One staged pass: route pixels into their (full-size) blocks,
    priority-flood each block, route filled pixels back into tiles.
    Pixels outside any full block pass through unchanged.  Fragments
    are dtype-generic (u8 tiles stay PNG, f4 DEMs travel rawz)."""
    y0, x0, y1, x1 = extent
    TILE_PX_ = tile_px

    def to_frags(px, t):
        res, ix, iy = (int(v) for v in unpack_cell(int(t.cell_id)))
        gy, gx = iy * TILE_PX_, ix * TILE_PX_
        covered = np.zeros(px.shape, dtype=bool)
        rows: List[tuple] = []
        # blocks overlapping this tile
        by_first = (gy - y0 - offset) // step
        bx_first = (gx - x0 - offset) // step
        for by in range(by_first, by_first + TILE_PX_ // step + 2):
            wy = y0 + offset + by * step
            if wy + step > y1 or wy < y0:
                continue
            for bx in range(bx_first, bx_first + TILE_PX_ // step + 2):
                wx = x0 + offset + bx * step
                if wx + step > x1 or wx < x0:
                    continue
                # intersect block window with this tile
                iy1_ = max(wy, gy)
                iy2_ = min(wy + step, gy + TILE_PX_)
                ix1_ = max(wx, gx)
                ix2_ = min(wx + step, gx + TILE_PX_)
                if iy1_ >= iy2_ or ix1_ >= ix2_:
                    continue
                sub = px[iy1_ - gy:iy2_ - gy, ix1_ - gx:ix2_ - gx]
                covered[iy1_ - gy:iy2_ - gy, ix1_ - gx:ix2_ - gx] = True
                rows.append(
                    ((by << 28) | bx, iy1_ - wy, ix1_ - wx,
                     _frag_encode(sub))
                )
        # pass-through pixels (domain margins of this offset): emit one
        # fragment per CONTIGUOUS uncovered run (a tile can have both a
        # left and a right uncovered run), stashed under the sentinel
        # bkey = -1 - cell_id (mark: direct tile key)
        if not covered.all():
            miss_rows = np.nonzero(~covered.all(axis=1))[0]
            for i in miss_rows:
                cols = np.nonzero(~covered[i])[0]
                breaks = np.nonzero(np.diff(cols) > 1)[0]
                starts = np.concatenate([[0], breaks + 1])
                stops = np.concatenate([breaks, [len(cols) - 1]])
                for s, e in zip(starts, stops):
                    c0, c1 = int(cols[s]), int(cols[e])
                    rows.append(
                        (-int(t.cell_id) - 1, int(i), c0,
                         _frag_encode(px[i:i + 1, c0:c1 + 1]))
                    )
        return rows

    frags = codecs.map_payloads(
        tiles.select("cell_id", "bytes", "fmt"), to_frags, _FRAG_SCHEMA
    )
    # both downstream branches (blocks + pass-through) consume frags:
    # materialize once instead of re-decoding every tile twice
    frags = reuse(frags)
    block_frags = frags.filter(F.col("bkey") >= 0)
    pass_frags = frags.filter(F.col("bkey") < 0).select(
        (-F.col("bkey") - 1).alias("cell_id"),
        F.col("fy").alias("ty"),
        F.col("fx").alias("tx"),
        "payload",
    )

    def fill_block(pdf: pd.DataFrame) -> pd.DataFrame:
        bkey = int(pdf["bkey"].iloc[0])
        by, bx = bkey >> 28, bkey & ((1 << 28) - 1)
        wy = y0 + offset + by * step
        wx = x0 + offset + bx * step
        first = _frag_decode(bytes(pdf["payload"].iloc[0]))
        if first.dtype == np.uint8:
            block = np.full((step, step), NODATA, dtype=np.uint8)
        else:
            block = np.full((step, step), np.finfo(first.dtype).max,
                            dtype=first.dtype)
        for t in pdf.itertuples():
            sub = _frag_decode(bytes(t.payload))
            block[t.fy:t.fy + sub.shape[0],
                  t.fx:t.fx + sub.shape[1]] = sub
        filled = priority_flood_fill(block.astype(np.float64))
        if block.dtype == np.uint8:
            filled = np.clip(filled, 0, 255).astype(np.uint8)
        else:
            filled = filled.astype(block.dtype)
        # slice back into tile fragments (tile ids at the INPUT res)
        rows = []
        ty_first, tx_first = wy // TILE_PX_, wx // TILE_PX_
        for tyi in range(ty_first, (wy + step - 1) // TILE_PX_ + 1):
            for txi in range(tx_first, (wx + step - 1) // TILE_PX_ + 1):
                gy, gx = tyi * TILE_PX_, txi * TILE_PX_
                iy1_ = max(wy, gy)
                iy2_ = min(wy + step, gy + TILE_PX_)
                ix1_ = max(wx, gx)
                ix2_ = min(wx + step, gx + TILE_PX_)
                if iy1_ >= iy2_ or ix1_ >= ix2_:
                    continue
                sub = filled[iy1_ - wy:iy2_ - wy, ix1_ - wx:ix2_ - wx]
                rows.append(
                    (
                        int(pack_cell(res, txi, tyi)),
                        iy1_ - gy,
                        ix1_ - gx,
                        _frag_encode(sub),
                    )
                )
        return pd.DataFrame(
            rows, columns=["cell_id", "ty", "tx", "payload"]
        )

    filled_frags = block_frags.groupBy("bkey").applyInPandas(
        fill_block, schema=_TFRAG_SCHEMA
    )

    def rebuild(pdf: pd.DataFrame) -> pd.DataFrame:
        cell_id = int(pdf["cell_id"].iloc[0])
        first = _frag_decode(bytes(pdf["payload"].iloc[0]))
        if first.dtype == np.uint8:
            canvas = np.full((TILE_PX_, TILE_PX_), NODATA,
                             dtype=np.uint8)
            out_fmt = "png"
        else:
            canvas = np.full((TILE_PX_, TILE_PX_),
                             np.finfo(first.dtype).max,
                             dtype=first.dtype)
            out_fmt = "rawz"
        for t in pdf.itertuples():
            sub = _frag_decode(bytes(t.payload))
            canvas[t.ty:t.ty + sub.shape[0],
                   t.tx:t.tx + sub.shape[1]] = sub
        return pd.DataFrame(
            {
                "cell_id": [cell_id],
                "bytes": [codecs.encode(canvas, out_fmt)],
                "fmt": [out_fmt],
            }
        )

    return (
        filled_frags.unionByName(pass_frags)
        .groupBy("cell_id")
        .applyInPandas(rebuild, schema="cell_id long, bytes binary, fmt string")
    )


# staged fill: FILL_STEP-px blocks, one pass per offset
FILL_STEP = 100
FILL_OFFSETS = (0, 25, 50)


def fill_depressions_tiles(tiles: DataFrame) -> DataFrame:
    """Staged complex depression fill over the tile table; requires a
    gap-free rectangular mosaic of SAME-RESOLUTION tiles (fragments of
    absent tiles would fill as nodata).  u8 and f4 tiles both work
    (fragments stay in their dtype).  Returns (cell_id, bytes, fmt)."""
    res = int(
        tiles.select(
            F.shiftright("cell_id", 56).alias("r")
        ).first().r
    )
    from ..grid import CELL_SIZE as _CS, cell_edge as _ce

    tile_px = int(round(_ce(res) / _CS))
    extent = _tile_extent_at(tiles, tile_px)
    out = tiles
    for offset in FILL_OFFSETS:
        out = _fill_pass(out, extent, FILL_STEP, offset, res, tile_px)
        out = reuse(out)
    return out


# ---------------------------------------------------------------------------
# cross-tile flow accumulation (global fixpoint)
# ---------------------------------------------------------------------------

_STATE_SCHEMA = (
    "cell_id long, ptr binary, acc binary, "
    "exit_cell array<long>, exit_px array<int>"
)
_FLOW_SCHEMA = "cell_id long, px int, qty long"

_SINK = -1


def _build_state(pdf: pd.DataFrame, tile_px: int) -> pd.DataFrame:
    """Assemble the padded direction for one tile, derive the local
    pointer array (in-tile flat target, _SINK, or exit id >= size),
    run the local accumulation, record initial boundary outflows."""
    from .focal import _assemble_padded

    target_cell = int(pdf["target"].iloc[0])
    center = pdf[(pdf["src_dy"] == 0) & (pdf["src_dx"] == 0)]
    if len(center) == 0:
        return pd.DataFrame(
            columns=["cell_id", "ptr", "acc", "exit_cell", "exit_px"]
        )
    have = {
        (int(t.src_dy), int(t.src_dx))
        for t in pdf.itertuples()
        if not (t.src_dy == 0 and t.src_dx == 0)
    }
    padded = _assemble_padded(pdf, tile_px, 1)
    # edge replication is WRONG for absent neighbors here (phantom
    # directions); mark absent sides as direction 0 so targets there
    # become global sinks
    if (1, 0) not in have:
        padded[0, :] = 0
    if (-1, 0) not in have:
        padded[-1, :] = 0
    if (0, 1) not in have:
        padded[:, 0] = 0
    if (0, -1) not in have:
        padded[:, -1] = 0

    res, ix, iy = (int(v) for v in unpack_cell(target_cell))
    n = tile_px * tile_px
    core = padded[1:-1, 1:-1]
    tgt = flow_targets(core)  # in-core flat target or n
    ptr = np.where(tgt == n, np.int64(_SINK), tgt).astype(np.int64)

    # boundary pixels whose true target leaves the core: re-derive via
    # padded coordinates
    from ..flow import _FIRST_DI, _FIRST_DJ

    d = core.ravel()
    pi = np.arange(n) // tile_px + 1 + _FIRST_DI[d]
    pj = np.arange(n) % tile_px + 1 + _FIRST_DJ[d]
    crosses = (
        (d != 0)
        & ((pi < 1) | (pi > tile_px) | (pj < 1) | (pj > tile_px))
    )
    exit_cell: List[int] = []
    exit_px: List[int] = []
    for flat in np.nonzero(crosses)[0]:
        ti, tj = int(pi[flat]), int(pj[flat])
        tdir = int(padded[ti, tj])
        # mutual cross-edge pair (A->B and B->A): both are sinks,
        # mirroring the reference's global flow[flow[state]] == state
        my_i = flat // tile_px + 1
        my_j = flat % tile_px + 1
        back_i = ti + _FIRST_DI[tdir]
        back_j = tj + _FIRST_DJ[tdir]
        if tdir != 0 and back_i == my_i and back_j == my_j:
            ptr[flat] = _SINK
            continue
        # which neighbor tile and pixel; NOTE ``have`` holds
        # SENDER-relative tags (the neighbor at our (dy, dx) tags its
        # strips (-dy, -dx)), so presence is checked on the negation
        dy = -1 if ti < 1 else (1 if ti > tile_px else 0)
        dx = -1 if tj < 1 else (1 if tj > tile_px else 0)
        jx, jy = ix + dx, iy + dy
        if jx < 0 or jy < 0 or (-dy, -dx) not in have:
            ptr[flat] = _SINK  # off the world / absent neighbor
            continue
        ni = (ti - 1) - dy * tile_px
        nj = (tj - 1) - dx * tile_px
        ptr[flat] = n + len(exit_cell)
        exit_cell.append(int(pack_cell(res, jx, jy)))
        exit_px.append(int(ni * tile_px + nj))

    # local accumulation: pointer-chase rounds, exits behave as sinks
    local = np.where(ptr >= n, np.int64(_SINK), ptr)
    acc = np.zeros(n, np.int64)
    walkers = np.arange(n)
    # break in-tile mutual pairs exactly like the single-array
    # accumulation
    lp = np.where(local == _SINK, n, local)
    lp_ext = np.append(lp, n)
    mutual = lp_ext[lp_ext[walkers]] == walkers
    local[mutual] = _SINK
    ptr[mutual & (ptr < n)] = _SINK
    w = walkers
    while True:
        w = np.where(local[w] == _SINK, -1, local[w]) if w.size else w
        w = w[w >= 0]
        if not w.size:
            break
        acc += np.bincount(w, minlength=n)

    return pd.DataFrame(
        {
            "cell_id": [target_cell],
            "ptr": [zlib.compress(ptr.astype(np.int64).tobytes(), 1)],
            "acc": [zlib.compress(acc.tobytes(), 1)],
            "exit_cell": [exit_cell],
            "exit_px": [exit_px],
        }
    )


def _route(pdf: pd.DataFrame, tile_px: int = TILE_PX) -> pd.DataFrame:
    """Walk each inflow (px, qty) through one tile's static pointers;
    return next-hop outflows (cell_id, px, qty)."""
    n = tile_px * tile_px
    ptr = np.frombuffer(
        zlib.decompress(bytes(pdf["ptr"].iloc[0])), dtype=np.int64
    )
    exit_cell = list(pdf["exit_cell"].iloc[0])
    exit_px = list(pdf["exit_px"].iloc[0])
    rows = []
    for t in pdf.itertuples():
        cur = int(t.px)
        qty = int(t.qty)
        for _ in range(n + 1):
            nxt = int(ptr[cur])
            if nxt == _SINK:
                break
            if nxt >= n:
                e = nxt - n
                rows.append((exit_cell[e], exit_px[e], qty))
                break
            cur = nxt
    return pd.DataFrame(rows, columns=["cell_id", "px", "qty"])


def _driver_tail(spark, state: DataFrame, records,
                 tile_px: int = TILE_PX,
                 max_tiles: int | None = None) -> list:
    """Finish the boundary fixpoint on the driver: route the remaining
    (cell, px, qty) records hop by hop, fetching each newly touched
    tile's pointer state once.  Returns every routed inflow event
    (the final replay applies them all).

    Cycle guard: each while-iteration advances EVERY in-flight record
    one tile hop, and an acyclic D8 path never revisits a pixel, so a
    sound field drains within (touched tiles) * (pixels per tile)
    iterations -- a per-record progress bound, not a volume cap (a
    volume cap would spuriously flag large-but-sound DEMs as cyclic).
    Driver memory holds the in-flight records plus one decoded pointer
    array per touched tile; the caller's tail_threshold keeps the
    normal path small, and the round-exhaustion path accepts the cost
    in exchange for never truncating.  ``max_tiles`` bounds the
    pointer-array cache (~tile_px^2 * 8 bytes per tile) -- above it
    the tail raises a clear driver-memory error instead of OOMing."""
    n = tile_px * tile_px
    cache: dict = {}
    events: list = []
    hops = 0
    while records:
        hops += 1
        needed = sorted(
            {c for c, _, _ in records} - set(cache.keys())
        )
        if (
            max_tiles is not None
            and len(cache) + len(needed) > max_tiles
        ):
            raise RuntimeError(
                "flow-accumulation driver tail would cache "
                f"{len(cache) + len(needed)} tile pointer arrays "
                f"(~{(len(cache) + len(needed)) * tile_px * tile_px * 8 // 2**20} MiB) "
                f"with {len(records)} records in flight, above the "
                f"max_tiles={max_tiles} driver-memory bound; raise "
                "driver_tail_max_tiles or max_rounds so more routing "
                "happens distributed"
            )
        if needed:
            got = state.filter(
                F.col("cell_id").isin([int(x) for x in needed])
            ).collect()
            for r in got:
                cache[int(r.cell_id)] = (
                    np.frombuffer(
                        zlib.decompress(bytes(r.ptr)), dtype=np.int64
                    ),
                    list(r.exit_cell),
                    list(r.exit_px),
                )
            for c in needed:
                cache.setdefault(c, None)  # absent tile: drop flow
        if hops > (len(cache) + 1) * n:
            raise RuntimeError(
                f"flow-accumulation driver tail made {hops} tile hops "
                f"over {len(cache)} tiles with {len(records)} records "
                "still in flight -- an acyclic D8 field drains within "
                "tiles*pixels hops; refusing to drop in-flight flow "
                "(cyclic direction field?)"
            )
        nxt = []
        for cell, px, qty in records:
            st = cache.get(cell)
            if st is None:
                continue
            ptr, exit_cell, exit_px = st
            cur = px
            for _ in range(n + 1):
                p = int(ptr[cur])
                if p == _SINK:
                    break
                if p >= n:
                    e = p - n
                    nxt.append((exit_cell[e], exit_px[e], qty))
                    break
                cur = p
        if nxt:
            events.extend(nxt)
        records = nxt
    return events


# accumulate_tiles: distributed routing rounds, the in-flight record
# count below which the driver finishes the fixpoint, and the records
# the driver tail may collect
MAX_ROUNDS = 64
TAIL_THRESHOLD = 1024
DRIVER_TAIL_MAX_RECORDS = 1_000_000


def accumulate_tiles(
    dir_tiles: DataFrame, tile_px: int | None = None,
) -> DataFrame:
    """Global flow accumulation over direction tiles (cell_id, bytes,
    fmt).  Returns (cell_id, acc binary: zlib int64[65536]) -- equal to
    the single-array accumulation on the stitched array.

    The driver-tail finish (small remainders and round exhaustion) is
    bounded: it raises a clear error instead of OOMing the driver when
    the remainder exceeds ``DRIVER_TAIL_MAX_RECORDS`` in-flight records
    or touches more than 1024 tile pointer arrays (~tile_px^2 * 8 bytes
    each); raise ``MAX_ROUNDS`` (more distributed routing) or the
    bounds to proceed.

    ``tile_px=None`` (the default) derives the tile edge from the
    tiles' own cell resolution, same as fill_depressions_tiles and
    vectorize_streams_tiles -- no module-constant tile size in the
    operator path."""
    spark = dir_tiles.sparkSession
    if tile_px is None:
        head = dir_tiles.select(
            F.shiftright("cell_id", 56).alias("r")
        ).first()
        if head is None:
            # empty tile table: nothing to accumulate
            return spark.createDataFrame(
                [], schema="cell_id long, acc binary"
            )
        tile_px = int(round(cell_edge(int(head.r)) / CELL_SIZE))
    # 1-px direction strips to the 8 neighbors + encoded center
    parts = _halo_parts(dir_tiles, 1)
    state = parts.groupBy("target").applyInPandas(
        lambda pdf: _build_state(pdf, tile_px), schema=_STATE_SCHEMA
    )
    state = reuse(state)

    # round 0 outflows: one record per exit pixel, qty = 1 + local acc
    def initial_outflows(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for t in pdf.itertuples():
            if not len(t.exit_cell):
                continue
            acc = np.frombuffer(
                zlib.decompress(bytes(t.acc)), dtype=np.int64
            )
            ptr = np.frombuffer(
                zlib.decompress(bytes(t.ptr)), dtype=np.int64
            )
            n = tile_px * tile_px
            exits = np.nonzero(ptr >= n)[0]
            for flat in exits:
                e = int(ptr[flat]) - n
                rows.append(
                    (
                        int(t.exit_cell[e]),
                        int(t.exit_px[e]),
                        int(1 + acc[flat]),
                    )
                )
        return pd.DataFrame(rows, columns=["cell_id", "px", "qty"])

    outflows = state.groupBy("cell_id").applyInPandas(
        initial_outflows, schema=_FLOW_SCHEMA
    )
    outflows = reuse(outflows)

    all_inflows = None

    def _finish_on_driver(inflows, n_records):
        """Route the remaining records to completion on the driver and
        append the generated inflow events (raises rather than drop;
        bounded by DRIVER_TAIL_MAX_RECORDS and 1024 tiles rather than
        OOM)."""
        nonlocal all_inflows
        if n_records > DRIVER_TAIL_MAX_RECORDS:
            raise RuntimeError(
                f"flow-accumulation driver tail asked to collect "
                f"{n_records} in-flight records, above the "
                f"DRIVER_TAIL_MAX_RECORDS={DRIVER_TAIL_MAX_RECORDS} "
                "driver-memory bound; raise MAX_ROUNDS (more "
                "distributed routing) or the bound to proceed"
            )
        log.info(
            "flow-accumulation driver tail: collecting %d in-flight "
            "records (tile cache bound %d tiles)",
            n_records, 1024,
        )
        events = _driver_tail(
            spark, state,
            [(int(r.cell_id), int(r.px), int(r.qty))
             for r in inflows.collect()],
            tile_px=tile_px,
            max_tiles=1024,
        )
        if events:
            tail_df = spark.createDataFrame(
                pd.DataFrame(
                    events, columns=["cell_id", "px", "qty"]
                ),
                schema=_FLOW_SCHEMA,
            )
            all_inflows = all_inflows.unionByName(tail_df)

    for _ in range(MAX_ROUNDS):
        inflows = outflows.groupBy("cell_id", "px").agg(
            F.sum("qty").alias("qty")
        )
        inflows = reuse(inflows)
        n_in = inflows.count()
        if n_in == 0:
            break
        all_inflows = (
            inflows if all_inflows is None
            else all_inflows.unionByName(inflows)
        )
        if n_in <= TAIL_THRESHOLD:
            # LONG-TAIL FINISH: the remaining flow is a handful of
            # boundary records ping-ponging between a few tiles (a
            # stream zigzagging along a seam).  Distributed rounds
            # would pay one full Spark job per hop for tiny data --
            # instead pull the few involved tile states to the driver
            # (lazily, as the flow reaches new tiles) and finish the
            # fixpoint in numpy, then append the generated inflow
            # events in one createDataFrame.
            _finish_on_driver(inflows, n_in)
            break
        routed = inflows.join(state, "cell_id").groupBy("cell_id").applyInPandas(
            lambda pdf: _route(pdf, tile_px=tile_px), schema=_FLOW_SCHEMA
        )
        outflows = reuse(routed)
    else:
        # MAX_ROUNDS exhausted with flow still moving: the last routed
        # outflows were never folded into all_inflows -- truncating
        # here would silently under-count every catchment whose flow
        # crosses more than MAX_ROUNDS tile hops.  Force the driver
        # tail on the remainder regardless of TAIL_THRESHOLD.
        inflows = outflows.groupBy("cell_id", "px").agg(
            F.sum("qty").alias("qty")
        )
        inflows = reuse(inflows)
        n_left = inflows.count()
        if n_left > 0:
            all_inflows = (
                inflows if all_inflows is None
                else all_inflows.unionByName(inflows)
            )
            _finish_on_driver(inflows, n_left)

    # final: replay every inflow along its path, adding to local acc
    def finalize(pdf: pd.DataFrame) -> pd.DataFrame:
        n = tile_px * tile_px
        acc = np.frombuffer(
            zlib.decompress(bytes(pdf["acc"].iloc[0])), dtype=np.int64
        ).copy()
        ptr = np.frombuffer(
            zlib.decompress(bytes(pdf["ptr"].iloc[0])), dtype=np.int64
        )
        for t in pdf.itertuples():
            if t.px is None or (isinstance(t.px, float) and t.px != t.px):
                continue
            cur = int(t.px)
            qty = int(t.qty)
            for _ in range(n + 1):
                acc[cur] += qty
                nxt = int(ptr[cur])
                if nxt == _SINK or nxt >= n:
                    break
                cur = nxt
        return pd.DataFrame(
            {
                "cell_id": [int(pdf["cell_id"].iloc[0])],
                "acc": [zlib.compress(acc.tobytes(), 1)],
            }
        )

    if all_inflows is None:
        return state.select(
            "cell_id", "acc"
        )
    merged = state.join(all_inflows, "cell_id", "left")
    return merged.groupBy("cell_id").applyInPandas(
        finalize, schema="cell_id long, acc binary"
    )


# ---------------------------------------------------------------------------
# streamline vectorization over tiles (1-px halo, as in the reference)
# ---------------------------------------------------------------------------

_VEC_SCHEMA = "cell_id long, cls double, seq int, geom_wkb binary"


def vectorize_streams_tiles(
    dir_tiles: DataFrame, acc_tiles: DataFrame, classes=CLASSES
) -> DataFrame:
    """dir tiles (cell_id, bytes, fmt) x acc tiles (cell_id, acc) ->
    stream polylines (cell_id, cls, seq, geom_wkb).

    Mirrors the reference's distribution: each tile is vectorized over
    a 1-pixel-margined window (flow_vec.py Vectorizer.vectorize);
    margins come from the neighbor strips of one halo exchange.

    OUTPUT CONTRACT (the reference's own per-tile unit, flow_vec.py
    145-149): a stream crossing k tiles emits k SEGMENTS, one per
    tile, each extending one pixel into its neighbors' cores via the
    margin; consecutive segments therefore overlap by exactly two
    pixel centers at every seam, so downstream consumers can stitch
    whole polylines with a (cls, endpoint-coordinate) merge without
    any gap/tolerance handling (endpoints are exact dyadic world
    coordinates).  tests/test_flow_op.py TestSeamContract asserts
    this overlap structure on a 3-tile stream.
    """
    joined = dir_tiles.select("cell_id", "bytes", "fmt").join(
        acc_tiles, "cell_id"
    )

    def emit(d, t):
        res, ix, iy = (int(v) for v in unpack_cell(int(t.cell_id)))
        # tile edge follows the cell resolution (res-12 cells are
        # 64 px), like fill_depressions_tiles
        tpx = int(round(cell_edge(res) / CELL_SIZE))
        a = np.frombuffer(
            zlib.decompress(bytes(t.acc)), dtype=np.int64
        ).reshape(tpx, tpx)
        rows = []
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                jx, jy = ix + dx, iy + dy
                if jx < 0 or jy < 0:
                    continue
                if dy == 0 and dx == 0:
                    dpay = bytes(t.bytes)
                    apay = zlib.compress(a.tobytes(), 1)
                    fmt = t.fmt
                else:
                    h, w = d.shape
                    ys = (
                        slice(h - 1, h) if dy == 1
                        else slice(0, 1) if dy == -1
                        else slice(0, h)
                    )
                    xs = (
                        slice(w - 1, w) if dx == 1
                        else slice(0, 1) if dx == -1
                        else slice(0, w)
                    )
                    dpay = np.ascontiguousarray(d[ys, xs]).tobytes()
                    apay = zlib.compress(
                        np.ascontiguousarray(a[ys, xs]).tobytes(), 1
                    )
                    fmt = "raw"
                rows.append(
                    (int(pack_cell(res, jx, jy)), dy, dx, dpay, apay, fmt)
                )
        return rows

    parts = codecs.map_payloads(
        joined, emit,
        "target long, src_dy int, src_dx int, dpay binary, "
        "apay binary, fmt string",
    )

    def vectorize(pdf: pd.DataFrame) -> pd.DataFrame:
        center = pdf[(pdf["src_dy"] == 0) & (pdf["src_dx"] == 0)]
        if len(center) == 0:
            return pd.DataFrame(
                columns=["cell_id", "cls", "seq", "geom_wkb"]
            )
        c = center.iloc[0]
        cell_id = int(pdf["target"].iloc[0])
        res = int(unpack_cell(cell_id)[0])
        tpx = int(round(cell_edge(res) / CELL_SIZE))
        size = tpx + 2
        dpad = np.zeros((size, size), dtype=np.uint8)
        apad = np.zeros((size, size), dtype=np.int64)
        dpad[1:-1, 1:-1] = codecs.decode(bytes(c["dpay"]), str(c["fmt"]))
        apad[1:-1, 1:-1] = np.frombuffer(
            zlib.decompress(bytes(c["apay"])), dtype=np.int64
        ).reshape(tpx, tpx)
        for t in pdf.itertuples():
            dy, dx = t.src_dy, t.src_dx
            if dy == 0 and dx == 0:
                continue
            ys = (
                slice(0, 1) if dy == 1
                else slice(size - 1, size) if dy == -1
                else slice(1, 1 + tpx)
            )
            xs = (
                slice(0, 1) if dx == 1
                else slice(size - 1, size) if dx == -1
                else slice(1, 1 + tpx)
            )
            nrow = (ys.stop - ys.start)
            ncol = (xs.stop - xs.start)
            dpad[ys, xs] = np.frombuffer(
                bytes(t.dpay), dtype=np.uint8
            ).reshape(nrow, ncol)
            apad[ys, xs] = np.frombuffer(
                zlib.decompress(bytes(t.apay)), dtype=np.int64
            ).reshape(nrow, ncol)

        x1, _, _, y2 = cell_bounds(cell_id)
        rows = []
        for seq, (lo, line) in enumerate(
            vectorize_streams(dpad, apad.astype(np.float64),
                              classes=classes)
        ):
            # padded (i, j) -> world pixel-center coordinates
            xs_w = float(x1) + (line[:, 1] - 1 + 0.5) * CELL_SIZE
            ys_w = float(y2) - (line[:, 0] - 1 + 0.5) * CELL_SIZE
            rows.append(
                (
                    cell_id,
                    float(lo),
                    seq,
                    _wkb.linestring_wkb(np.column_stack([xs_w, ys_w])),
                )
            )
        return pd.DataFrame(
            rows, columns=["cell_id", "cls", "seq", "geom_wkb"]
        )

    return parts.groupBy("target").applyInPandas(
        vectorize, schema=_VEC_SCHEMA
    )
