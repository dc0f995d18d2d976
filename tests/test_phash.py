"""DCT perceptual hash: invariance and discrimination properties, and
the banded Hamming pairing's recall (image-dedup pipeline)."""

import numpy as np
import pandas as pd
import pytest

from raster_tools_spark import codecs
from raster_tools_spark.functions import multimodal


def _img_df(spark, arrays):
    rows = [
        (f"img_{i:04d}", codecs.png_encode(a.astype(np.uint8)), "png")
        for i, a in enumerate(arrays)
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes", "fmt"]),
        schema="image_id string, bytes binary, fmt string",
    )


def _base(seed, size=64):
    rng = np.random.default_rng(seed)
    # smooth structured image: random low-freq field upsampled
    small = rng.integers(0, 255, (8, 8)).astype(np.float64)
    img = np.kron(small, np.ones((size // 8, size // 8)))
    return np.clip(img, 0, 255)


def test_identical_images_hash_equal(spark):
    a = _base(1)
    hashes = multimodal.perceptual_hash(
        _img_df(spark, [a, a.copy()])
    ).collect()
    assert hashes[0].phash64 == hashes[1].phash64


def test_small_noise_keeps_hash_close_distinct_far(spark):
    a = _base(2)
    rng = np.random.default_rng(3)
    noisy = np.clip(a + rng.normal(0, 2.0, a.shape), 0, 255)
    other = _base(9)
    rows = {r.image_id: r.phash64 for r in multimodal.perceptual_hash(
        _img_df(spark, [a, noisy, other])
    ).collect()}
    d_noise = bin(rows["img_0000"] ^ rows["img_0001"]).count("1")
    d_other = bin(rows["img_0000"] ^ rows["img_0002"]).count("1")
    assert d_noise <= 6
    assert d_other > 10


def test_banded_pairing_full_recall(spark):
    """Every pair within max_hamming must be found (pigeonhole), and
    nothing above it."""
    from itertools import combinations

    arrays = []
    for s in range(6):
        base = _base(20 + s)
        arrays.append(base)
        rng = np.random.default_rng(100 + s)
        arrays.append(
            np.clip(base + rng.normal(0, 1.5, base.shape), 0, 255)
        )
    df = _img_df(spark, arrays)
    sigs = {
        r.image_id: r.phash64
        for r in multimodal.perceptual_hash(df).collect()
    }
    want = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 6
    }
    got = {
        (r.id_a, r.id_b)
        for r in multimodal.image_near_dup(df).collect()
    }
    assert got == want
    assert len(want) >= 6  # each noisy twin pairs with its base


class TestAudioSpectral:
    def _clips(self, spark, signals, sr=16000):
        rows = [
            (f"clip_{i}", (np.clip(s, -1, 1) * 32000).astype("<i2")
             .tobytes())
            for i, s in enumerate(signals)
        ]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["clip_id", "bytes"]),
            schema="clip_id string, bytes binary",
        )

    def test_pure_tones_localize(self, spark):
        """A pure tone's spectral centroid must sit at its frequency
        (within one FFT bin) and a higher tone must rank higher."""
        sr = 16000
        t = np.arange(sr) / sr  # 1 s
        clips = self._clips(
            spark,
            [np.sin(2 * np.pi * 440 * t),
             np.sin(2 * np.pi * 3000 * t)],
            sr,
        )
        rows = {r.clip_id: r for r in
                multimodal.audio_spectral_features(clips).collect()}
        assert abs(rows["clip_0"].centroid_hz - 440) < 32
        assert abs(rows["clip_1"].centroid_hz - 3000) < 32
        # a pure tone is spectrally peaked: near-zero flatness
        assert rows["clip_0"].flatness < 0.1
        # fingerprints differ (different dominant bands)
        assert rows["clip_0"].fp64 != rows["clip_1"].fp64

    def test_noise_is_flat_and_wide(self, spark):
        rng = np.random.default_rng(7)
        clips = self._clips(spark, [rng.normal(0, 0.2, 16000)])
        r = multimodal.audio_spectral_features(clips).collect()[0]
        assert r.flatness > 0.3        # white noise ~ flat spectrum
        assert r.bandwidth_hz > 1500   # energy spread wide

    def test_identical_clips_fingerprint_equal(self, spark):
        t = np.arange(16000) / 16000.0
        s = np.sin(2 * np.pi * 440 * t) + 0.5 * np.sin(
            2 * np.pi * 1200 * t
        )
        rows = multimodal.audio_spectral_features(
            self._clips(spark, [s, s.copy()])
        ).collect()
        assert rows[0].fp64 == rows[1].fp64

    def test_odd_length_clip_truncates_not_fails(self, spark):
        """Malformed odd-length payload: the trailing byte is dropped
        (single-clip robustness), not an Arrow-batch failure."""
        t = np.arange(16000) / 16000.0
        s = np.sin(2 * np.pi * 440 * t)
        even = (np.clip(s, -1, 1) * 32000).astype("<i2").tobytes()
        rows = spark.createDataFrame(
            pd.DataFrame(
                [("even", even), ("odd", even + b"\x00")],
                columns=["clip_id", "bytes"],
            ),
            schema="clip_id string, bytes binary",
        )
        got = {r.clip_id: r for r in
               multimodal.audio_spectral_features(rows).collect()}
        assert got["even"].fp64 == got["odd"].fp64
        assert got["even"].centroid_hz == got["odd"].centroid_hz

    def test_audio_banded_pairing_recall(self, spark):
        """Planted same-tone twins marry through the banded fp64
        join (pigeonhole recall); distinct tones (2 bits apart) do
        not pair at max_hamming=1."""
        sr = 16000
        t = np.arange(sr) / sr
        rng = np.random.default_rng(11)
        signals = []
        for k in range(6):
            # tone centered in fingerprint band 2k + 5
            f = (2 * k + 5 + 0.5) * (sr / 2.0) / 64.0
            base = np.sin(2 * np.pi * f * t)
            signals.append(base)
            signals.append(base + rng.normal(0, 0.004, sr))
        clips = self._clips(spark, signals, sr)
        got = {
            (r.id_a, r.id_b)
            for r in multimodal.audio_near_dup(
                clips, max_hamming=1
            ).collect()
        }
        want = {(f"clip_{2 * k}", f"clip_{2 * k + 1}")
                for k in range(6)}
        assert got == want
