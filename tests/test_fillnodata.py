"""Golden-value port of the reference's ONLY test module
(raster_tools/fill/tests.py): same 7x7 fixture, same oracles."""

import numpy as np

from raster_tools_spark import fillnodata as fn


def binary_erosion(mask: np.ndarray) -> np.ndarray:
    """3x3 cross erosion with border treated as False (scipy default
    border_value=0)."""
    out = mask.copy()
    out[0, :] = False
    out[-1, :] = False
    out[:, 0] = False
    out[:, -1] = False
    inner = (
        mask[1:-1, 1:-1]
        & mask[:-2, 1:-1]
        & mask[2:, 1:-1]
        & mask[1:-1, :-2]
        & mask[1:-1, 2:]
    )
    out[1:-1, 1:-1] = inner
    return out


def _fixture():
    shape = (7, 7)
    sample = sum(np.indices(shape)).astype("f4")
    void = binary_erosion(np.ones(shape, dtype=bool))
    source = np.where(void, np.float32(fn.FILLVALUE), sample)
    return source, void, sample


class TestGoldenFixture:
    def test_edge_aggregated_to_seven(self):
        # fill/tests.py:67-71: triple aggregation collapses to exactly 7.0
        source, void, _ = _fixture()
        edge_mask = void ^ fn.binary_dilation(void)
        indices = edge_mask.nonzero()
        edge = fn.Edge(indices=indices, values=source[indices],
                       shape=source.shape)
        assert (
            edge.aggregated().aggregated().aggregated().toarray().item()
            == 7.0
        )

    def test_fill_mean_six(self):
        # fill/tests.py:73-79: filled void mean ~= 6.0 at 0 decimals
        source, void, _ = _fixture()
        edge_mask = void ^ fn.binary_dilation(void)
        indices = edge_mask.nonzero()
        edge = fn.Edge(indices=indices, values=source[indices],
                       shape=source.shape)
        filled = fn.fill(edge)
        assert round(float(filled[void].mean()), 0) == 6.0

    def test_fill_voids_end_to_end(self):
        source, void, _ = _fixture()
        target = fn.fill_voids(source, fn.FILLVALUE)
        assert round(float(target[void].mean()), 0) == 6.0
        # outside voids stays nodata (fill only writes the void)
        assert (target[~void] == np.float32(fn.FILLVALUE)).all()


class TestMorphology:
    def test_erosion_matches_cross(self):
        m = np.ones((5, 5), dtype=bool)
        e = binary_erosion(m)
        assert e.sum() == 9 and e[1:4, 1:4].all()

    def test_dilation_cross(self):
        m = np.zeros((5, 5), dtype=bool)
        m[2, 2] = True
        d = fn.binary_dilation(m)
        assert d.sum() == 5
        assert d[2, 2] and d[1, 2] and d[3, 2] and d[2, 1] and d[2, 3]

    def test_label_two_components(self):
        m = np.zeros((5, 5), dtype=bool)
        m[0:2, 0:2] = True
        m[3:5, 3:5] = True
        labels, n = fn.label(m)
        assert n == 2
        assert labels[0, 0] != labels[4, 4]

    def test_label_u_shape_merges(self):
        # union-find must merge the two arms of a U
        m = np.array(
            [
                [1, 0, 1],
                [1, 0, 1],
                [1, 1, 1],
            ],
            dtype=bool,
        )
        labels, n = fn.label(m)
        assert n == 1

    def test_smooth_preserves_constant(self):
        a = np.full((6, 6), 3.0, dtype="f4")
        fn.smooth(a)
        np.testing.assert_allclose(a, 3.0, rtol=1e-6)

    def test_zoom(self):
        a = np.array([[1, 2], [3, 4]], dtype="f4")
        z = fn.zoom(a)
        assert z.shape == (4, 4)
        assert z[0, 0] == 1 and z[3, 3] == 4 and z[0, 2] == 2


def test_label_serpentine_falls_back_to_unionfind():
    """A boustrophedon 1-px corridor has diameter O(n); the run-based
    union-find must still produce correct scan-order labels quickly at
    both connectivities."""
    import time

    import numpy as np

    from raster_tools_spark.fillnodata import label

    h, w = 80, 80
    m = np.zeros((h, w), dtype=bool)
    for r in range(0, h, 2):
        m[r, :] = True
        if r + 1 < h:
            if (r // 2) % 2 == 0:
                m[r + 1, w - 1] = True
            else:
                m[r + 1, 0] = True
    for connectivity in (4, 8):
        t0 = time.time()
        labs, n = label(m, connectivity)
        assert time.time() - t0 < 5.0
        assert n == 1  # one connected serpentine
        assert (labs[m] == 1).all() and (labs[~m] == 0).all()
