"""Geometry predicate + codec unit tests with brute-force oracles."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from raster_tools_spark import codecs, geom, synth, wkb
from raster_tools_spark.grid import GeoTransform


class TestPIP:
    def test_rect_half_open(self):
        b = wkb.box_wkb(0, 0, 10, 10)
        px = np.array([5.0, 0.0, 10.0, -1.0, 0.0, 5.0])
        py = np.array([5.0, 0.0, 10.0, 5.0, 9.999, 10.0])
        got = geom.points_in_wkb(px, py, b)
        # convention: xmin <= x < xmax, ymin <= y < ymax
        assert got.tolist() == [True, True, False, False, True, False]

    def test_polygon_with_hole(self):
        outer = [(0, 0), (10, 0), (10, 10), (0, 10)]
        hole = [(4, 4), (6, 4), (6, 6), (4, 6)]
        b = wkb.polygon_wkb(outer, [hole])
        got = geom.points_in_wkb([5.0, 2.0], [5.0, 2.0], b)
        assert got.tolist() == [False, True]

    def test_multipolygon(self):
        b = wkb.multipolygon_wkb(
            [wkb.box_wkb(0, 0, 2, 2), wkb.box_wkb(10, 10, 12, 12)]
        )
        got = geom.points_in_wkb([1.0, 11.0, 5.0], [1.0, 11.0, 5.0], b)
        assert got.tolist() == [True, True, False]

    @given(st.integers(0, 10_000))
    @settings(max_examples=50, deadline=None)
    def test_star_polygon_matches_matplotlib_free_oracle(self, seed):
        # oracle: winding via angle sum for a star polygon (no
        # self-intersection, so even-odd == winding)
        rng = np.random.default_rng(seed)
        n = int(rng.integers(5, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = rng.uniform(1.0, 4.0, n)
        cx, cy = 10.0, 10.0
        ring = np.column_stack(
            [cx + rad * np.cos(ang), cy + rad * np.sin(ang)]
        )
        gaps = np.diff(np.concatenate([ang, [ang[0] + 2 * np.pi]]))
        if gaps.max() >= np.pi:
            return  # not star-shaped w.r.t. center: oracle invalid
        b = wkb.polygon_wkb(ring)
        pt = rng.uniform(4, 16, 2)
        got = bool(geom.points_in_wkb([pt[0]], [pt[1]], b)[0])
        # oracle: distance from centroid along the point's angle vs the
        # star's radius at that angle (linear interp between vertices)
        theta = np.arctan2(pt[1] - cy, pt[0] - cx) % (2 * np.pi)
        r_pt = np.hypot(pt[0] - cx, pt[1] - cy)
        idx = np.searchsorted(ang, theta)
        a0, a1 = ang[idx - 1], ang[idx % n] + (2 * np.pi if idx == n else 0)
        if idx == 0:
            a0, a1 = ang[-1] - 2 * np.pi, ang[0]
        if a1 - a0 >= np.pi:
            return  # wedge > pi: chord-radius oracle not valid there
        r0, r1 = rad[idx - 1], rad[idx % n]
        t = (theta - a0) / (a1 - a0) if a1 != a0 else 0.0
        # the polygon edge is a chord, not an arc: compute the chord
        # intersection radius exactly
        p0 = np.array([cx + r0 * np.cos(a0), cy + r0 * np.sin(a0)])
        p1 = np.array([cx + r1 * np.cos(a1), cy + r1 * np.sin(a1)])
        d = p1 - p0
        u = np.array([np.cos(theta), np.sin(theta)])
        denom = d[0] * u[1] - d[1] * u[0]
        if abs(denom) < 1e-12 or r_pt < 1e-9:
            return  # degenerate; skip
        # solve p0 + t*d = c + r*u for r
        tt = ((cx - p0[0]) * u[1] - (cy - p0[1]) * u[0]) / denom
        edge_pt = p0 + tt * d
        r_edge = np.hypot(edge_pt[0] - cx, edge_pt[1] - cy)
        if abs(r_pt - r_edge) < 1e-6:
            return  # too close to the boundary to call
        assert got == (r_pt < r_edge)

    def test_rasterize_mask_matches_reference_convention(self):
        # 10x10 unit grid, centered 4x4 box: exactly the 16 pixels whose
        # centers are inside burn (RasterizeLayer center rule)
        gt = GeoTransform((0.0, 1.0, 0.0, 10.0, 0.0, -1.0))
        b = wkb.box_wkb(3, 3, 7, 7)
        m = geom.rasterize_mask(b, gt, 10, 10)
        assert m.sum() == 16
        assert m[3:7, 3:7].all()

    def test_area(self):
        assert geom.area(wkb.box_wkb(0, 0, 10, 5)) == 50.0
        outer = [(0, 0), (10, 0), (10, 10), (0, 10)]
        hole = [(4, 4), (6, 4), (6, 6), (4, 6)]
        assert geom.area(wkb.polygon_wkb(outer, [hole])) == 96.0


# dB floor of the lossy DCTQ codec (BASELINE.json input_hint)
PSNR_LOSSY_MIN = 40.0


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 arrays."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


class TestCodecs:
    def test_png_roundtrip_exact(self):
        rng = np.random.default_rng(7)
        a = rng.integers(0, 256, size=(250, 100), dtype=np.uint8)
        assert np.array_equal(codecs.png_decode(codecs.png_encode(a)), a)

    def test_dctq_psnr_invariant(self):
        for ph in (1, 999, 424242):
            img = synth._image_pixels(ph, 256, 256)
            dec = codecs.dctq_decode(codecs.dctq_encode(img))
            assert _psnr(img, dec) >= PSNR_LOSSY_MIN

    def test_dctq_uneven_sizes(self):
        img = synth._image_pixels(5, 250, 100)
        dec = codecs.dctq_decode(codecs.dctq_encode(img))
        assert dec.shape == (250, 100)
        assert _psnr(img, dec) >= PSNR_LOSSY_MIN

    def test_dispatch(self):
        img = synth._image_pixels(9, 100, 100)
        for fmt in ("png", "jpeg"):
            dec = codecs.decode(codecs.encode(img, fmt), fmt)
            assert dec.shape == img.shape


class TestSynth:
    def test_images_deterministic_across_slicing(self):
        a = synth.images_pdf(0, 10)
        b = synth.images_pdf(5, 10)
        assert a.iloc[7]["bytes"] == b.iloc[2]["bytes"]
        assert a.iloc[7]["caption"] == b.iloc[2]["caption"]

    def test_caption_keyed_by_image_id(self):
        a = synth.images_pdf(3, 4)
        assert "img_000000000003" in a.iloc[0]["caption"]

    def test_polygons_deterministic(self):
        a = synth.polygons_pdf(10)
        b = synth.polygons_pdf(10)
        assert (a["geom_wkb"] == b["geom_wkb"]).all()


def test_png_foreign_sub_filter_vectorized():
    """Foreign PNGs may use filter 1 (Sub): the defilter is a
    per-channel prefix sum mod 256, not a per-pixel loop."""
    import struct as _struct
    import zlib as _zlib

    from raster_tools_spark import codecs

    rng = np.random.default_rng(7)
    for nch, ctype in ((1, 0), (3, 2)):
        img = rng.integers(0, 256, size=(5, 17, nch), dtype=np.uint8)
        # hand-encode with Sub on every scanline
        rows = []
        for i in range(img.shape[0]):
            line = img[i].reshape(-1).astype(np.int16)
            prev = np.concatenate(
                [np.zeros(nch, np.int16), line[:-nch]]
            )
            rows.append(b"\x01" + ((line - prev) % 256)
                        .astype(np.uint8).tobytes())
        ihdr = _struct.pack(">IIBBBBB", 17, 5, 8, ctype, 0, 0, 0)
        def _chunk(tag, payload):
            c = _struct.pack(">I", len(payload)) + tag + payload
            return c + _struct.pack(
                ">I", _zlib.crc32(tag + payload) & 0xFFFFFFFF)
        data = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", _zlib.compress(b"".join(rows)))
                + _chunk(b"IEND", b""))
        got = codecs.png_decode(data)
        want = img.reshape(5, 17) if nch == 1 else img
        assert np.array_equal(got, want)


def test_png_many_idat_chunks_decode_identically():
    """Foreign encoders may split the zlib stream over many IDAT chunks
    (one per few KiB, or smaller); the decoder joins them in order, so
    every split decodes to the same pixels as the one-chunk file."""
    import struct as _struct
    import zlib as _zlib

    rng = np.random.default_rng(11)
    for shape in ((64, 48), (33, 20, 3)):
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        one = codecs.png_encode(img)
        (ihdr_len,) = _struct.unpack_from(">I", one, 8)
        ihdr = one[16:16 + ihdr_len]
        (idat_len,) = _struct.unpack_from(">I", one, 20 + ihdr_len)
        idat = one[28 + ihdr_len:28 + ihdr_len + idat_len]
        assert _zlib.decompress(idat)  # the slicing found the stream
        for size in (1, 7, 1000):
            parts = [idat[i:i + size] for i in range(0, len(idat), size)]
            data = (b"\x89PNG\r\n\x1a\n" + codecs._chunk(b"IHDR", ihdr)
                    + b"".join(codecs._chunk(b"IDAT", p) for p in parts)
                    + codecs._chunk(b"IEND", b""))
            assert np.array_equal(codecs.png_decode(data), img)
