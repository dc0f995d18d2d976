"""S2 multi-band / non-u8 data plane: RGB PNG, rawz f4, dtype-generic
halo exchange."""

import numpy as np
import pandas as pd
import pytest

from raster_tools_spark import codecs
from raster_tools_spark.grid import pack_cell, unpack_cell
from raster_tools_spark.operators import focal


class TestCodecs:
    def test_png_rgb_roundtrip(self):
        rng = np.random.default_rng(1)
        a = rng.integers(0, 256, (40, 30, 3), dtype=np.uint8)
        assert np.array_equal(codecs.png_decode(codecs.png_encode(a)), a)

    def test_rawz_roundtrip_all_dtypes(self):
        rng = np.random.default_rng(2)
        for dt in ("u1", "u2", "u4", "i2", "i4", "f4"):
            a = (rng.random((17, 23)) * 1000 - 300).astype(dt)
            got = codecs.rawz_decode(codecs.rawz_encode(a))
            assert got.dtype == np.dtype(dt)
            assert np.array_equal(got, a)

    def test_rawz_via_dispatch(self):
        a = np.linspace(0, 900, 64 * 64, dtype=np.float32).reshape(64, 64)
        assert np.array_equal(
            codecs.decode(codecs.encode(a, "rawz"), "rawz"), a
        )


class TestF4Halo:
    def test_hillshade_f4_matches_global(self, spark):
        """2x2 mosaic of f4 tiles (values beyond u8 range): the halo
        stencil must equal the kernel on the stitched global array."""
        size, t = 128, 64
        ii, jj = np.meshgrid(
            np.arange(size, dtype=np.float64),
            np.arange(size, dtype=np.float64),
            indexing="ij",
        )
        dem = (
            300.0 + 40.0 * np.sin(ii / 9.0) + 25.0 * np.cos(jj / 7.0)
        ).astype(np.float32)
        rows = []
        for ty in range(2):
            for tx in range(2):
                sub = dem[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t]
                rows.append(
                    (
                        int(pack_cell(12, 5 + tx, 9 + ty)),
                        codecs.rawz_encode(sub),
                        "rawz",
                    )
                )
        tiles = spark.createDataFrame(
            pd.DataFrame(rows, columns=["cell_id", "bytes", "fmt"]),
            schema="cell_id long, bytes binary, fmt string",
        )
        out = focal.halo_stencil(
            tiles, focal.zevenbergen_thorne, margin=1, tile_px=t
        ).collect()
        expected = focal.zevenbergen_thorne(
            np.pad(dem, 1, mode="edge").astype(np.float64)
        )[1:-1, 1:-1]
        for r in out:
            res, ix, iy = (int(v) for v in unpack_cell(int(r.cell_id)))
            ty, tx = iy - 9, ix - 5
            got = codecs.decode(bytes(r.bytes), r.fmt)
            assert np.array_equal(
                got, expected[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t]
            )
