"""Distributed flow pipeline == single-array reference kernels on the
stitched mosaic: staged fill, global accumulation, vectorization."""

import zlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fill_reference import fill_depressions_staged

from raster_tools_spark import codecs, flow, flow_vec
from raster_tools_spark.grid import pack_cell, unpack_cell
from raster_tools_spark.operators import flow_op

TILE = 256


def _dem_global(nt=2, seed=3):
    rng = np.random.default_rng(seed)
    size = nt * TILE
    ii, jj = np.meshgrid(np.arange(size), np.arange(size), indexing="ij")
    base = (
        120.0
        + 40.0 * np.sin(ii / 37.0)
        + 30.0 * np.cos(jj / 53.0)
        + rng.normal(0, 4, (size, size))
    )
    # carve some depressions, one spanning a tile seam
    base[40:60, 40:60] -= 60
    base[250:270, 250:270] -= 80  # straddles the 256 seam
    base[300:420, 60:200] -= 35   # wide (multi-block)
    return np.clip(np.round(base), 0, 254).astype(np.uint8)


def _tiles_df(spark, arr, ix0=4, iy0=7):
    nt = arr.shape[0] // TILE
    rows = []
    for ty in range(nt):
        for tx in range(nt):
            sub = arr[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE]
            rows.append(
                (
                    int(pack_cell(10, ix0 + tx, iy0 + ty)),
                    codecs.png_encode(sub),
                    "png",
                )
            )
    pdf = pd.DataFrame(rows, columns=["cell_id", "bytes", "fmt"])
    return spark.createDataFrame(
        pdf, schema="cell_id long, bytes binary, fmt string"
    ), nt


def _stitch(rows, nt, ix0=4, iy0=7, decode=True):
    out = {}
    for r in rows:
        res, ix, iy = (int(v) for v in unpack_cell(int(r.cell_id)))
        out[(iy - iy0, ix - ix0)] = r
    canvas = np.zeros((nt * TILE, nt * TILE), dtype=np.float64)
    for (ty, tx), r in out.items():
        if decode:
            px = codecs.decode(bytes(r.bytes), r.fmt)
        else:
            px = np.frombuffer(
                zlib.decompress(bytes(r.acc)), dtype=np.int64
            ).reshape(TILE, TILE)
        canvas[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE] = px
    return canvas


class TestStagedFill:
    def test_equals_global_staged_kernel(self, spark):
        arr = _dem_global(nt=2)
        tiles, nt = _tiles_df(spark, arr)
        out = flow_op.fill_depressions_tiles(tiles).collect()
        got = _stitch(out, nt)
        expected = fill_depressions_staged(
            arr.astype(np.float64).copy()
        )
        assert np.array_equal(got, expected)


class TestGlobalAccumulation:
    def _dir_tiles(self, spark, arr):
        # global direction field, split into tiles
        dem = arr.astype(np.float64).copy()
        flow.fill_simple_depressions(dem)
        d = flow.calculate_flow_direction(dem)
        rows = []
        nt = arr.shape[0] // TILE
        for ty in range(nt):
            for tx in range(nt):
                sub = d[ty * TILE:(ty + 1) * TILE,
                        tx * TILE:(tx + 1) * TILE]
                rows.append(
                    (
                        int(pack_cell(10, 4 + tx, 7 + ty)),
                        codecs.png_encode(sub),
                        "png",
                    )
                )
        pdf = pd.DataFrame(rows, columns=["cell_id", "bytes", "fmt"])
        return spark.createDataFrame(
            pdf, schema="cell_id long, bytes binary, fmt string"
        ), d, nt

    def test_equals_global_accumulate(self, spark):
        # v-shaped valley tilted east: long streams crossing both the
        # vertical and horizontal tile seams
        size = 2 * TILE
        ii, jj = np.meshgrid(
            np.arange(size), np.arange(size), indexing="ij"
        )
        arr = np.clip(
            np.round(np.abs(ii - 281) * 0.5 + (size - jj) * 0.05),
            0, 254,
        ).astype(np.uint8)
        dir_tiles, d_global, nt = self._dir_tiles(spark, arr)
        out = flow_op.accumulate_tiles(dir_tiles).collect()
        got = _stitch(out, nt, decode=False).astype(np.int64)
        expected = flow.accumulate(d_global).astype(np.int64)
        # catchments MUST cross tile seams for this to mean anything
        assert expected.max() > TILE
        assert np.array_equal(got, expected)

    def test_single_tile_matches_local(self, spark):
        arr = _dem_global(nt=1, seed=5)
        dir_tiles, d_global, nt = self._dir_tiles(spark, arr)
        out = flow_op.accumulate_tiles(dir_tiles).collect()
        got = _stitch(out, nt, decode=False).astype(np.int64)
        expected = flow.accumulate(d_global).astype(np.int64)
        assert np.array_equal(got, expected)


class TestVectorizeTiles:
    def test_chains_cross_reference_kernel(self, spark):
        arr = _dem_global(nt=2, seed=23)
        dem = arr.astype(np.float64).copy()
        flow.fill_simple_depressions(dem)
        d_global = flow.calculate_flow_direction(dem)
        acc_global = flow.accumulate(d_global).astype(np.float64)
        # log-like classing so several classes are populated
        a_cls = np.log10(1 + acc_global) * 3
        d_rows = []
        a_rows = []
        nt = 2
        for ty in range(nt):
            for tx in range(nt):
                win = np.s_[ty * TILE:(ty + 1) * TILE,
                            tx * TILE:(tx + 1) * TILE]
                cid = int(pack_cell(10, 4 + tx, 7 + ty))
                d_rows.append(
                    (cid, codecs.png_encode(d_global[win]), "png")
                )
                a_rows.append(
                    (
                        cid,
                        zlib.compress(
                            a_cls[win].astype(np.int64).tobytes(), 1
                        ),
                    )
                )
        dir_tiles = spark.createDataFrame(
            pd.DataFrame(d_rows, columns=["cell_id", "bytes", "fmt"]),
            schema="cell_id long, bytes binary, fmt string",
        )
        acc_tiles = spark.createDataFrame(
            pd.DataFrame(a_rows, columns=["cell_id", "acc"]),
            schema="cell_id long, acc binary",
        )
        out = flow_op.vectorize_streams_tiles(dir_tiles, acc_tiles)
        rows = out.collect()
        assert len(rows) > 0
        # per-tile output equals the kernel run on the same 1-px
        # margined window (reference Vectorizer semantics)
        by_cell = {}
        for r in rows:
            by_cell.setdefault(int(r.cell_id), []).append(r)
        acc_int = a_cls.astype(np.int64)
        size = nt * TILE
        for cid, tile_rows in by_cell.items():
            res, ix, iy = (int(v) for v in unpack_cell(cid))
            ty, tx = iy - 7, ix - 4
            dpad = np.zeros((TILE + 2, TILE + 2), dtype=np.uint8)
            apad = np.zeros((TILE + 2, TILE + 2), dtype=np.int64)
            gy, gx = ty * TILE, tx * TILE
            sy0, sy1 = max(gy - 1, 0), min(gy + TILE + 1, size)
            sx0, sx1 = max(gx - 1, 0), min(gx + TILE + 1, size)
            dpad[sy0 - gy + 1:sy1 - gy + 1, sx0 - gx + 1:sx1 - gx + 1] = (
                d_global[sy0:sy1, sx0:sx1]
            )
            apad[sy0 - gy + 1:sy1 - gy + 1, sx0 - gx + 1:sx1 - gx + 1] = (
                acc_int[sy0:sy1, sx0:sx1]
            )
            expected = list(
                flow_vec.vectorize_streams(dpad, apad.astype(np.float64))
            )
            assert len(expected) == len(tile_rows)
            got_sorted = sorted(tile_rows, key=lambda r: r.seq)
            for (lo, line), r in zip(expected, got_sorted):
                assert float(lo) == r.cls
                import raster_tools_spark.wkb as wkbm

                gtype, coords = wkbm.parse(bytes(r.geom_wkb))
                assert gtype == wkbm.LINESTRING
                assert len(coords) == len(line)


class TestSeamContract:
    def test_three_tile_stream_segments_overlap(self, spark):
        """The documented per-tile output contract: one stream
        crossing 3 tiles emits exactly 3 segments whose consecutive
        pairs overlap by two pixel centers at each seam, composing the
        full global polyline with no gaps."""
        from raster_tools_spark.grid import CELL_SIZE, cell_bounds

        t = 64
        E = 2
        d_rows, a_rows = [], []
        for k in range(3):
            d = np.zeros((t, t), dtype=np.uint8)
            d[10, :] = E  # one eastbound stream on row 10
            a = np.zeros((t, t), dtype=np.int64)
            a[10, :] = 3  # inside the (3.0, 4.0) class band
            cid = int(pack_cell(12, 40 + k, 70))
            d_rows.append((cid, codecs.png_encode(d), "png"))
            a_rows.append((cid, zlib.compress(a.tobytes(), 1)))
        dir_tiles = spark.createDataFrame(
            pd.DataFrame(d_rows, columns=["cell_id", "bytes", "fmt"]),
            schema="cell_id long, bytes binary, fmt string",
        )
        acc_tiles = spark.createDataFrame(
            pd.DataFrame(a_rows, columns=["cell_id", "acc"]),
            schema="cell_id long, acc binary",
        )
        rows = flow_op.vectorize_streams_tiles(
            dir_tiles, acc_tiles
        ).collect()
        assert len(rows) == 3
        import raster_tools_spark.wkb as wkbm

        base_x1 = cell_bounds(int(pack_cell(12, 40, 70)))[0]
        frags = []
        for r in rows:
            _, coords = wkbm.parse(bytes(r.geom_wkb))
            gcols = [
                int(round((x - base_x1) / CELL_SIZE - 0.5))
                for x, _ in coords
            ]
            frags.append(sorted(gcols))
        frags.sort(key=lambda g: g[0])
        # tile 0 has no west margin data: cols 0..64 (65 pts); middle
        # tile reaches one px into both neighbors: 63..128 (66 pts);
        # tile 2 adds the off-class terminator px: 127..192
        assert frags[0] == list(range(0, 65))
        assert frags[1] == list(range(63, 129))
        assert frags[2] == list(range(127, 193))
        # two-pixel-center overlap at every seam, zero gaps
        for a_, b_ in zip(frags, frags[1:]):
            assert len(set(a_) & set(b_)) == 2


class TestVectorizeNon256Tiles:
    def test_res12_64px_tiles(self, spark):
        """Tile edge must follow the cell resolution (regression: the
        reshape hardcoded 256 px and failed on res-12 / 64-px tiles)."""
        t = 64
        d = np.zeros((t, t), dtype=np.uint8)
        S = 8
        d[: t - 1, t // 2] = S  # one straight southbound stream
        a = np.zeros((t, t), dtype=np.int64)
        a[:, t // 2] = 3  # inside the (3.0, 4.0) class band
        cid = int(pack_cell(12, 40, 70))
        dir_tiles = spark.createDataFrame(
            pd.DataFrame(
                [(cid, codecs.png_encode(d), "png")],
                columns=["cell_id", "bytes", "fmt"],
            ),
            schema="cell_id long, bytes binary, fmt string",
        )
        acc_tiles = spark.createDataFrame(
            pd.DataFrame(
                [(cid, zlib.compress(a.tobytes(), 1))],
                columns=["cell_id", "acc"],
            ),
            schema="cell_id long, acc binary",
        )
        rows = flow_op.vectorize_streams_tiles(
            dir_tiles, acc_tiles
        ).collect()
        assert len(rows) > 0
        for r in rows:
            assert int(r.cell_id) == cid


class TestSeamZigzag:
    def test_stream_hugging_the_seam(self, spark, monkeypatch):
        """Adversarial: a stream alternating between two tiles at every
        step (E at col 255, SW at col 256) -- one boundary crossing per
        row.  Exercises mutual-pair detection and the driver tail."""
        size = 2 * TILE
        d = np.zeros((size, size), dtype=np.uint8)
        E, SW = 2, 16
        for i in range(0, size - 1):
            if i % 2 == 0:
                d[i, TILE - 1] = E    # cross into the right tile
                d[i, TILE] = SW       # and bounce back one row down
            else:
                d[i, TILE - 1] = E
                d[i, TILE] = SW
        # feeders: every row's westward neighbor drains into the seam
        for i in range(size):
            d[i, TILE - 2] = E
        rows = []
        for ty in range(2):
            for tx in range(2):
                sub = d[ty * TILE:(ty + 1) * TILE,
                        tx * TILE:(tx + 1) * TILE]
                rows.append(
                    (
                        int(pack_cell(10, 4 + tx, 7 + ty)),
                        codecs.png_encode(sub),
                        "png",
                    )
                )
        tiles = spark.createDataFrame(
            pd.DataFrame(rows, columns=["cell_id", "bytes", "fmt"]),
            schema="cell_id long, bytes binary, fmt string",
        )
        monkeypatch.setattr(flow_op, "MAX_ROUNDS", 8)
        out = flow_op.accumulate_tiles(tiles).collect()
        got = _stitch(out, 2, decode=False).astype(np.int64)
        expected = flow.accumulate(d).astype(np.int64)
        assert expected.max() > 300  # the zigzag accumulates deep
        assert np.array_equal(got, expected)

    def test_res12_64px_accumulate_derives_tile_px(self, spark):
        """tile_px=None derives the tile edge from the cell res (64 px
        at res 12) -- no module-constant tile size in the accumulate
        path; result equals the global kernel on the stitched array."""
        t = 64
        size = 2 * t
        ii, jj = np.meshgrid(
            np.arange(size), np.arange(size), indexing="ij"
        )
        arr = np.clip(
            np.round(np.abs(ii - 70) * 0.5 + (size - jj) * 0.05),
            0, 254,
        ).astype(np.uint8)
        dem = arr.astype(np.float64).copy()
        flow.fill_simple_depressions(dem)
        d = flow.calculate_flow_direction(dem)
        rows = []
        for ty in range(2):
            for tx in range(2):
                sub = d[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t]
                rows.append(
                    (
                        int(pack_cell(12, 40 + tx, 70 + ty)),
                        codecs.png_encode(sub),
                        "png",
                    )
                )
        tiles = spark.createDataFrame(
            pd.DataFrame(rows, columns=["cell_id", "bytes", "fmt"]),
            schema="cell_id long, bytes binary, fmt string",
        )
        out = flow_op.accumulate_tiles(tiles).collect()
        canvas = np.zeros((size, size), dtype=np.int64)
        for r in out:
            res, ix, iy = (int(v) for v in unpack_cell(int(r.cell_id)))
            ty, tx = iy - 70, ix - 40
            px = np.frombuffer(
                zlib.decompress(bytes(r.acc)), dtype=np.int64
            ).reshape(t, t)
            canvas[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t] = px
        expected = flow.accumulate(d).astype(np.int64)
        assert expected.max() > t  # streams cross the seams
        assert np.array_equal(canvas, expected)

    def test_driver_tail_record_bound_raises(self, spark, monkeypatch):
        """The driver tail refuses to collect more in-flight records
        than DRIVER_TAIL_MAX_RECORDS (clear error, not an OOM)."""
        import pytest

        size = 2 * TILE
        d = np.zeros((size, size), dtype=np.uint8)
        E = 2
        d[:, :-1] = E  # everything flows east across the seam
        rows = []
        for ty in range(2):
            for tx in range(2):
                sub = d[ty * TILE:(ty + 1) * TILE,
                        tx * TILE:(tx + 1) * TILE]
                rows.append(
                    (
                        int(pack_cell(10, 4 + tx, 7 + ty)),
                        codecs.png_encode(sub),
                        "png",
                    )
                )
        tiles = spark.createDataFrame(
            pd.DataFrame(rows, columns=["cell_id", "bytes", "fmt"]),
            schema="cell_id long, bytes binary, fmt string",
        )
        monkeypatch.setattr(flow_op, "TAIL_THRESHOLD", 10**9)
        monkeypatch.setattr(flow_op, "DRIVER_TAIL_MAX_RECORDS", 3)
        with pytest.raises(RuntimeError, match="DRIVER_TAIL_MAX_RECORDS"):
            flow_op.accumulate_tiles(tiles).collect()

    def test_round_cap_exhaustion_is_exact(self, spark, monkeypatch):
        """A stream whose boundary flow needs more rounds than
        MAX_ROUNDS, with TAIL_THRESHOLD=0 so the in-loop driver tail
        never triggers: the exhaustion path must force the tail and
        return EXACT accumulation, never a silent truncation."""
        size = 2 * TILE
        d = np.zeros((size, size), dtype=np.uint8)
        E, SW = 2, 16
        for i in range(0, size - 1):
            d[i, TILE - 1] = E
            d[i, TILE] = SW
        for i in range(size):
            d[i, TILE - 2] = E
        rows = []
        for ty in range(2):
            for tx in range(2):
                sub = d[ty * TILE:(ty + 1) * TILE,
                        tx * TILE:(tx + 1) * TILE]
                rows.append(
                    (
                        int(pack_cell(10, 4 + tx, 7 + ty)),
                        codecs.png_encode(sub),
                        "png",
                    )
                )
        tiles = spark.createDataFrame(
            pd.DataFrame(rows, columns=["cell_id", "bytes", "fmt"]),
            schema="cell_id long, bytes binary, fmt string",
        )
        monkeypatch.setattr(flow_op, "MAX_ROUNDS", 2)
        monkeypatch.setattr(flow_op, "TAIL_THRESHOLD", 0)
        out = flow_op.accumulate_tiles(tiles).collect()
        got = _stitch(out, 2, decode=False).astype(np.int64)
        expected = flow.accumulate(d).astype(np.int64)
        assert np.array_equal(got, expected)


class TestStagedFillGenericity:
    def test_res12_f4_tiles(self, spark, monkeypatch):
        """Review regressions: tile ids at res != 10 and non-u8 dtypes
        must survive the staged fill (ids keep their resolution, f4
        values keep their precision)."""
        t = 64  # res-12 tile edge in px
        rng = np.random.default_rng(5)
        rows = []
        arrs = {}
        for ty in range(2):
            for tx in range(2):
                a = (
                    300.0 + rng.random((t, t)).astype(np.float32) * 50.0
                ).astype(np.float32)
                a[10:20, 10:20] -= 40.0  # a pit
                cid = int(pack_cell(12, 3 + tx, 9 + ty))
                arrs[cid] = a
                rows.append((cid, codecs.rawz_encode(a), "rawz"))
        tiles = spark.createDataFrame(
            pd.DataFrame(rows, columns=["cell_id", "bytes", "fmt"]),
            schema="cell_id long, bytes binary, fmt string",
        )
        monkeypatch.setattr(flow_op, "FILL_STEP", 40)
        monkeypatch.setattr(flow_op, "FILL_OFFSETS", (0, 13))
        out = flow_op.fill_depressions_tiles(tiles).collect()
        assert len(out) == 4
        got_ids = {int(r.cell_id) for r in out}
        assert got_ids == set(arrs)  # ids preserved at res 12
        # equality vs the staged kernel on the stitched global array
        size = 2 * t
        glob = np.zeros((size, size), dtype=np.float64)
        for cid, a in arrs.items():
            res, ix, iy = (int(v) for v in unpack_cell(cid))
            ty, tx = iy - 9, ix - 3
            glob[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t] = a
        expected = fill_depressions_staged(
            glob.copy(), step=40, offsets=(0, 13)
        )
        for r in out:
            res, ix, iy = (int(v) for v in unpack_cell(int(r.cell_id)))
            ty, tx = iy - 9, ix - 3
            got = codecs.decode(bytes(r.bytes), r.fmt)
            assert r.fmt == "rawz" and got.dtype == np.float32
            exp = expected[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t]
            assert np.array_equal(
                got.astype(np.float64),
                exp.astype(np.float32).astype(np.float64),
            )
