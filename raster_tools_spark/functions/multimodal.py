"""Multimodal column handling: image/audio/video as opaque binary
columns with typed metadata, processed in Arrow-batched mapInPandas.

The image path is REAL end-to-end in this repo (codecs.py decodes
png/dctq), including the DCT perceptual hash + banded image near-dup.
The audio path is REAL for raw PCM (numpy FFT spectral features +
dominant-band fingerprint; no codec needed).  COMPRESSED audio and
video are not decoded: the codec libraries are not in this
container.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import codecs

IMAGE_FEATURES_SCHEMA = (
    "image_id string, mean double, std double, p10 double, p90 double, "
    "edge_energy double, entropy double"
)


def image_features(images: DataFrame) -> DataFrame:
    """Decode + per-image feature extraction (mean/std/percentiles,
    gradient energy, histogram entropy).  One decode per row, Arrow
    batches, all numpy."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt).astype(np.float64)
                gx = np.abs(np.diff(px, axis=1)).mean()
                gy = np.abs(np.diff(px, axis=0)).mean()
                hist = np.bincount(
                    px.astype(np.uint8).ravel(), minlength=256
                ).astype(np.float64)
                p = hist / hist.sum()
                nz = p[p > 0]
                rows.append(
                    (
                        t.image_id,
                        float(px.mean()),
                        float(px.std()),
                        float(np.percentile(px, 10)),
                        float(np.percentile(px, 90)),
                        float(gx + gy),
                        float(-(nz * np.log2(nz)).sum()),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "image_id", "mean", "std", "p10", "p90",
                        "edge_energy", "entropy",
                    ],
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        extract, schema=IMAGE_FEATURES_SCHEMA
    )


RESIZE_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"


def resize(images: DataFrame, factor: int = 2) -> DataFrame:
    """Integer-factor box downsample (the reference's quad aggregation,
    utils.py:38-51, applied to image payloads); re-encodes PNG."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt)
                h, w = px.shape
                hh, ww = h - h % factor, w - w % factor
                small = (
                    px[:hh, :ww]
                    .reshape(hh // factor, factor, ww // factor, factor)
                    .mean(axis=(1, 3))
                    .round()
                    .astype(np.uint8)
                )
                rows.append(
                    (
                        t.image_id,
                        codecs.png_encode(small),
                        small.shape[1],
                        small.shape[0],
                        "png",
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["image_id", "bytes", "w", "h", "fmt"]
                )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        do, schema=RESIZE_SCHEMA
    )


def _dct2_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (the JPEG/pHash transform), built from
    the textbook definition -- no scipy in this container."""
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * x + 1) * k / (2.0 * n))
    m[0] *= np.sqrt(1.0 / n)
    m[1:] *= np.sqrt(2.0 / n)
    return m


def perceptual_hash(images: DataFrame) -> DataFrame:
    """64-bit DCT perceptual hash per image (classic pHash): decode,
    box-downsample to 32 x 32, 2-D DCT, keep the 8 x 8 low-frequency
    block, threshold against its
    median (DC excluded).  Visually-similar images differ in few bits;
    pairing is a banded Hamming join downstream.  Returns (image_id,
    phash64).  Pure numpy per Arrow batch -- one decode per image."""
    dct = _dct2_matrix(32)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                px = codecs.decode(bytes(t.bytes), t.fmt)
                if px.ndim == 3:  # RGB -> luma (ITU-R 601)
                    px = (0.299 * px[..., 0] + 0.587 * px[..., 1]
                          + 0.114 * px[..., 2])
                px = px.astype(np.float64)
                h, w = px.shape
                # box-downsample via block means (pad to a multiple)
                bh = max(h // 32, 1)
                bw = max(w // 32, 1)
                px = px[: bh * 32, : bw * 32]
                if px.shape[0] < 32 or px.shape[1] < 32:
                    # tiny image: nearest-neighbor upsample first
                    yi = (np.arange(32) * px.shape[0]) // 32
                    xi = (np.arange(32) * px.shape[1]) // 32
                    small = px[np.ix_(yi, xi)]
                else:
                    small = px.reshape(
                        32, bh, 32, bw
                    ).mean(axis=(1, 3))
                freq = dct @ small @ dct.T
                low = freq[:8, :8].ravel()
                med = np.median(low[1:])  # DC excluded
                # 1e-9 tie guard: with an odd coefficient count the
                # median IS one of the coefficients, and "that value
                # > itself" sits on a float knife edge -- any engine
                # recomputing the same coefficient with a different
                # summation order lands an ulp away and flips the
                # bit.  Real inter-coefficient margins are >= 1e-3;
                # the guard only pins the self-tie deterministically.
                bits = (low > med + 1e-9).astype(np.uint64)
                val = np.uint64(0)
                for i, b in enumerate(bits):
                    val |= np.uint64(b) << np.uint64(i)
                # full 64 bits as a signed long (bit 63 = sign); the
                # arithmetic shiftright + band mask downstream handles
                # negative longs exactly
                rows.append((t.image_id, int(val.astype(np.int64))))
            if rows:
                yield pd.DataFrame(rows, columns=["image_id", "phash64"])

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        extract, schema="image_id string, phash64 long"
    )


def image_near_dup(images: DataFrame) -> DataFrame:
    """Perceptual-hash image near-duplicates: banded Hamming pairing
    over the 64-bit pHash in 8 bands (pigeonhole: any pair within
    6 flips shares a band), exact
    popcount filter JVM-side.  The image-dedup pass of a multimodal
    training pipeline -- candidates from an equi-join, never
    all-pairs.  Returns (id_a, id_b, hamming)."""
    from .dedup import banded_hamming_pairs

    return banded_hamming_pairs(
        perceptual_hash(images), "image_id", "phash64",
        max_hamming=6, bits=64, n_bands=8,
        out_a="id_a", out_b="id_b",
    )


def audio_near_dup(clips: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Audio near-duplicates over the 64-bit dominant-frequency-band
    fingerprint of audio_spectral_features: the same banded-Hamming
    equi-join shape as the image pHash pairing (pigeonhole recall,
    popcount-before-dedup), over raw-PCM clips.  Returns
    (id_a, id_b, hamming)."""
    from .dedup import banded_hamming_pairs

    sig = audio_spectral_features(clips).select("clip_id", "fp64")
    return banded_hamming_pairs(
        sig, "clip_id", "fp64",
        max_hamming=max_hamming, bits=64, n_bands=8,
        out_a="id_a", out_b="id_b",
    )


def audio_spectral_features(clips: DataFrame) -> DataFrame:
    """REAL spectral analysis over raw-PCM audio columns (int16 LE,
    16 kHz): 1024-sample framewise FFT magnitude -> spectral centroid,
    85% rolloff,
    bandwidth, flatness, dominant-bin histogram fingerprint.  No codec
    needed for raw PCM (COMPRESSED audio is not decoded in this
    container).  Returns (clip_id, centroid_hz, rolloff_hz,
    bandwidth_hz, flatness, fp64): ``fp64`` is a 64-bit
    dominant-frequency-band fingerprint (one bit per coarse band,
    set when the band dominates any frame) for banded near-dup
    joins, same shape as the image pHash pairing."""
    nyq = 16000 / 2.0

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                buf = bytes(t.bytes)
                # malformed odd-length clip: drop the trailing byte
                # instead of failing the whole Arrow batch
                pcm = np.frombuffer(
                    buf[: len(buf) & ~1], dtype="<i2"
                ).astype(np.float64)
                n_fr = pcm.size // 1024
                if n_fr == 0:
                    rows.append((t.clip_id, 0.0, 0.0, 0.0, 0.0, 0))
                    continue
                x = pcm[: n_fr * 1024].reshape(n_fr, 1024)
                win = np.hanning(1024)
                mag = np.abs(np.fft.rfft(x * win, axis=1))[:, 1:]
                freqs = np.fft.rfftfreq(1024, 1.0 / 16000)[1:]
                power = mag.sum(axis=1)
                ok = power > 0
                if not ok.any():
                    rows.append((t.clip_id, 0.0, 0.0, 0.0, 0.0, 0))
                    continue
                m = mag[ok]
                p = power[ok]
                cent = (m * freqs).sum(axis=1) / p
                cum = np.cumsum(m, axis=1)
                ridx = (cum >= 0.85 * p[:, None]).argmax(axis=1)
                roll = freqs[ridx]
                bw = np.sqrt(
                    (m * (freqs - cent[:, None]) ** 2).sum(axis=1) / p
                )
                gm = np.exp(np.log(m + 1e-12).mean(axis=1))
                am = m.mean(axis=1)
                flat = gm / am
                # fingerprint: 64 log-ish bands over [0, nyquist); set
                # a band's bit when it holds any frame's peak bin
                peak = freqs[m.argmax(axis=1)]
                bands = np.minimum(
                    (peak / nyq * 64).astype(np.int64), 63
                )
                fp = 0
                for b in set(bands.tolist()):
                    fp |= 1 << int(b)
                rows.append(
                    (
                        t.clip_id,
                        float(cent.mean()),
                        float(roll.mean()),
                        float(bw.mean()),
                        float(flat.mean()),
                        # full 64 bits as a signed long (band 63 is
                        # the sign bit; banded joins mask it back out)
                        int(np.uint64(fp).astype(np.int64)),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["clip_id", "centroid_hz", "rolloff_hz",
                             "bandwidth_hz", "flatness", "fp64"],
                )

    return clips.select("clip_id", "bytes").mapInPandas(
        extract,
        schema=(
            "clip_id string, centroid_hz double, rolloff_hz double, "
            "bandwidth_hz double, flatness double, fp64 long"
        ),
    )
