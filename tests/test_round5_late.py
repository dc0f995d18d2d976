"""Round-5 late batch: ROLLUP grouping sets, pivot, time-series gap
fill, degree-ordered triangle counting, blocked Levenshtein near-dup,
and the three per-payload image operators (moments, SSD template
match, blob labeling)."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from raster_tools_spark import codecs, synth
from raster_tools_spark.functions import dedup, graph, image_enhance, temporal


# ---------------------------------------------------------------------------
# gap_fill
# ---------------------------------------------------------------------------

def test_gap_fill_linear_interpolation(spark):
    df = spark.createDataFrame(
        [("a", 0, 10.0), ("a", 4, 18.0), ("a", 6, 6.0)],
        "k string, b long, v double",
    )
    out = {
        r["b"]: r
        for r in temporal.gap_fill(df, "k", "b", "v").collect()
    }
    assert sorted(out) == [0, 1, 2, 3, 4, 5, 6]
    # observed buckets pass through unchanged, flagged filled=False
    assert out[0]["v"] == 10.0 and not out[0]["filled"]
    assert out[4]["v"] == 18.0 and not out[4]["filled"]
    # linear ramp 10 -> 18 over 4 steps
    assert [out[b]["v"] for b in (1, 2, 3)] == [12.0, 14.0, 16.0]
    assert all(out[b]["filled"] for b in (1, 2, 3))
    # downhill segment 18 -> 6 over 2 steps
    assert out[5]["v"] == 12.0 and out[5]["filled"]


def test_gap_fill_single_observation_and_dense_series(spark):
    df = spark.createDataFrame(
        [("solo", 7, 3.5), ("dense", 1, 1.0), ("dense", 2, 2.0)],
        "k string, b long, v double",
    )
    rows = temporal.gap_fill(df, "k", "b", "v").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    assert len(by_key["solo"]) == 1 and by_key["solo"][0]["v"] == 3.5
    assert len(by_key["dense"]) == 2
    assert not any(r["filled"] for r in rows)


# ---------------------------------------------------------------------------
# triangle_count
# ---------------------------------------------------------------------------

def _tri(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return graph.triangle_count(df).collect()[0]


def test_triangle_count_k4(spark):
    # K4 has C(4,3) = 4 triangles and 6 edges
    edges = [
        (a, b) for a in range(4) for b in range(4) if a != b
    ]  # both directions + dedup exercised
    r = _tri(spark, edges)
    assert r["n_triangles"] == 4
    assert r["n_edges"] == 6


def test_triangle_count_path_and_self_loops(spark):
    # a path has no triangles; self loops are dropped
    r = _tri(spark, [(0, 1), (1, 2), (2, 3), (2, 2)])
    assert r["n_triangles"] == 0
    assert r["n_edges"] == 3


def test_triangle_count_hub_wedge_bound(spark):
    # star + one rim edge: hub degree 5, but orientation charges
    # wedges to the rim (degree <= 2), so wedge count stays tiny
    edges = [(100, i) for i in range(5)] + [(0, 1)]
    r = _tri(spark, edges)
    assert r["n_triangles"] == 1
    # naive wedge count at the hub would be C(5,2) = 10; oriented
    # enumeration must stay below that
    assert r["n_wedges"] < 10


# ---------------------------------------------------------------------------
# levenshtein_near_dup
# ---------------------------------------------------------------------------

def test_levenshtein_near_dup_pairs_and_blocking(spark):
    base = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("lazy", "hazy")),     # dist 1, same block
            (3, "a completely different document about sparks"),
            (4, "THE QUICK BROWN fox jumps over the lazy dog"),  # case
            (5, "zzz " + base),                    # same text, new block
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in dedup.levenshtein_near_dup(docs, max_dist=6).collect()
    }
    assert out[(1, 2)] == 1
    assert out[(1, 4)] == 0  # lowercase normalization
    assert out[(2, 4)] == 1
    # doc 5 is a near-dup semantically but lands in a different
    # prefix block: blocked candidate generation must NOT emit it
    assert not any(5 in p for p in out)
    assert not any(3 in p for p in out)


def test_levenshtein_length_band_prunes(spark):
    # same 16-char prefix, length difference > band: pruned before
    # the distance kernel
    a = "common prefix 16" + "x" * 10
    b = "common prefix 16" + "y" * 40
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    assert (
        dedup.levenshtein_near_dup(docs, max_dist=100, len_band=8)
        .count() == 0
    )


# ---------------------------------------------------------------------------
# image operators
# ---------------------------------------------------------------------------

def _one_image_df(spark, px):
    return spark.createDataFrame(
        [("img", codecs.png_encode(px.astype(np.uint8)), "png")],
        "image_id string, bytes binary, fmt string",
    )


def test_image_moments_match_numpy(spark):
    px = synth.linear_pixels(3, 20, 17).astype(np.int64)
    r = image_enhance.image_moments(_one_image_df(spark, px)).collect()[0]
    ii, jj = np.mgrid[0:20, 0:17]
    m00 = int(px.sum())
    m10 = int((px * ii).sum())
    m01 = int((px * jj).sum())
    assert r["m00"] == m00 and r["m10"] == m10 and r["m01"] == m01
    assert r["m20"] == int((px * ii * ii).sum())
    assert r["mu20n"] == m00 * int((px * ii * ii).sum()) - m10 * m10
    assert r["mu11n"] == m00 * int((px * ii * jj).sum()) - m10 * m01


def test_image_moments_guard_covers_both_axes(spark):
    """ADVICE r5: the int64 overflow guard bounded only the row-axis
    central numerator (mu20n ~ 255^2 h^4 w^2 / 3); a wide 2 x N image
    passed it while mu02n (~255^2 w^4 h^2 / 3) silently overflowed.
    The guard now bounds max(h, w) on the cubed axis, so the wide
    orientation must refuse exactly like the tall one."""
    import pyspark.errors

    wide = np.full((2, 10000), 255, dtype=np.uint8)
    with pytest.raises(pyspark.errors.PythonException,
                       match="image_moments"):
        image_enhance.image_moments(
            _one_image_df(spark, wide)
        ).collect()
    # square payloads inside the bound keep working
    ok = np.full((64, 64), 255, dtype=np.uint8)
    assert image_enhance.image_moments(
        _one_image_df(spark, ok)
    ).count() == 1


def test_ssd_template_match_finds_planted_template(spark):
    rng = np.random.default_rng(7)
    px = rng.integers(0, 200, size=(30, 25))
    tmpl = np.full((4, 4), 255)
    px[11:15, 8:12] = tmpl  # unique: nothing else reaches 255
    r = image_enhance.ssd_template_match(
        _one_image_df(spark, px), tmpl
    ).collect()[0]
    assert (r["best_i"], r["best_j"], r["best_ssd"]) == (11, 8, 0)
    assert r["n_offsets"] == 27 * 22


def test_ssd_template_match_tie_breaks_row_major(spark):
    px = np.zeros((10, 10))
    tmpl = np.zeros((4, 4))  # SSD 0 everywhere: first offset wins
    r = image_enhance.ssd_template_match(
        _one_image_df(spark, px), tmpl
    ).collect()[0]
    assert (r["best_i"], r["best_j"], r["best_ssd"]) == (0, 0, 0)


def test_blob_stats_8_connectivity(spark):
    px = np.zeros((12, 12))
    px[1, 1] = 255                    # singleton
    px[3, 3] = px[4, 4] = px[5, 5] = 255   # diagonal chain: ONE blob
    px[9, 0:4] = 255                  # horizontal run of 4
    r = image_enhance.blob_stats(
        _one_image_df(spark, px), threshold=255
    ).collect()[0]
    assert r["n_mask"] == 8
    assert r["n_blobs"] == 3
    assert r["max_blob"] == 4
    assert r["sum_blob_sq"] == 1 + 9 + 16


def test_blob_sizes_empty_mask():
    from raster_tools_spark.fillnodata import label

    labels, n = label(np.zeros((5, 5), bool), 8)
    assert n == 0
    assert np.bincount(labels.ravel())[1:].size == 0


# ---------------------------------------------------------------------------
# skyline window formulation == brute-force dominance
# ---------------------------------------------------------------------------

def test_skyline_window_equals_bruteforce(spark):
    rng = np.random.default_rng(11)
    pts = [
        (float(p), float(q))
        for p, q in zip(
            rng.integers(0, 50, 200), rng.integers(0, 50, 200)
        )
    ]
    df = spark.createDataFrame(pts, "l_extendedprice double, l_quantity double")
    from raster_tools_spark.queries import _skyline_front

    per_p = df.groupBy(F.col("l_extendedprice").alias("price")).agg(
        F.max("l_quantity").alias("qty")
    )
    got = sorted(
        (r["price"], r["qty"]) for r in _skyline_front(per_p).collect()
    )
    uniq = set(pts)
    brute = sorted(
        (p, q)
        for p, q in uniq
        if not any(
            bp >= p and bq >= q and (bp > p or bq > q) for bp, bq in uniq
        )
    )
    assert got == brute
