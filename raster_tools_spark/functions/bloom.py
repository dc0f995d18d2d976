"""Bloom-filter prefiltered semi-join.

The standard big-data move when the probe side is 100 TB and the
build side is too large to broadcast EXACTLY but its key-identity
fits in a few megabytes of bits: hash the build keys into an m-bit
Bloom filter (k independent positions each), broadcast the bit
array, and drop probe rows map-side BEFORE the shuffle semi-join.
False positives (rate ~ 0.5^k at m = 16n bits, k = 7: < 1%) survive
the prefilter and are eliminated by the exact semi-join that
follows, so the operator's RESULT is exactly ``big SEMI JOIN small``
-- the Bloom stage only changes how many rows reach the exchange.

Hashing is splitmix64 (Steele et al. 2014, public-domain constants)
evaluated in vectorized numpy on BOTH the build and probe sides, so
build/probe agree bit-for-bit by construction (no dependence on a
JVM hash reachable only from one side).

Scale shape: the filter is built DISTRIBUTED -- every build
partition folds its keys into a local bitmap and emits only its
nonzero 64-bit words; a partial-aggregated ``bit_or`` groupBy merges
them (shuffle <= m/64 rows per partition, combiner-reduced), and the
driver materializes exactly m/8 bytes, never the key set.  The probe
side filters in place with zero shuffle -- whole Arrow batches
against one shared buffer -- and only survivors (true matches plus
<1% false positives) enter the exchange.  At a 1% match rate this
cuts the shuffle 100x; that is the entire point at 10^12 rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray, seed: int) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64; ``seed`` selects
    one of the k independent hash functions."""
    # seed offset computed in python int space (explicit mod-2^64) so
    # numpy's scalar-overflow warning stays quiet on intended wrap
    off = np.uint64(((seed + 1) * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    z = x + off
    z = (z ^ (z >> np.uint64(30))) * _SM_M1
    z = (z ^ (z >> np.uint64(27))) * _SM_M2
    return z ^ (z >> np.uint64(31))


def _positions(keys: np.ndarray, n_hashes: int, m_bits: int) -> np.ndarray:
    """(n_hashes, len(keys)) bit positions; m_bits is a power of two
    so the modulo is an exact mask."""
    x = keys.astype(np.int64).view(np.uint64)
    mask = np.uint64(m_bits - 1)
    return np.stack(
        [_splitmix64(x, s) & mask for s in range(n_hashes)]
    )


def build_bloom(
    keys_df: DataFrame,
    key_col: str,
    bits_per_key: int = 16,
    n_hashes: int = 7,
):
    """Distributed Bloom-filter build over ``keys_df[key_col]``
    (integer keys).  Returns ``(bits_bytes, m_bits)`` where
    bits_bytes is the packed little-endian uint64 word array.

    Each input partition reduces to its nonzero filter words, a
    single ``bit_or`` aggregation merges word-wise, and only m/64
    (idx, word) rows reach the driver -- the key set itself never
    does."""
    n = max(1, keys_df.count())
    m_bits = 1 << max(6, int(np.ceil(np.log2(bits_per_key * n))))
    n_words = m_bits // 64

    def to_words(batches):
        local = np.zeros(n_words, dtype=np.uint64)
        for pdf in batches:
            p = _positions(
                pdf[key_col].to_numpy(dtype=np.int64), n_hashes, m_bits
            ).ravel()
            np.bitwise_or.at(
                local, p >> np.uint64(6),
                np.uint64(1) << (p & np.uint64(63)),
            )
        (nz,) = np.nonzero(local)
        if len(nz):
            yield pd.DataFrame(
                {"idx": nz.astype(np.int64),
                 "w": local[nz].view(np.int64)}
            )

    words = (
        keys_df.select(F.col(key_col))
        .mapInPandas(to_words, schema="idx long, w long")
        .groupBy("idx")
        .agg(F.bit_or("w").alias("w"))
        .collect()
    )
    bits = np.zeros(n_words, dtype=np.int64)
    for r in words:
        bits[r["idx"]] = r["w"]
    return bits.view(np.uint64).tobytes(), m_bits


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    key_col: str,
    small_key_col: str | None = None,
    bits_per_key: int = 16,
    n_hashes: int = 7,
) -> DataFrame:
    """``big`` rows whose ``key_col`` appears in ``small``'s
    ``small_key_col`` (default: same name) -- exactly a LEFT SEMI
    join, executed as Bloom-prefilter -> exact semi-join.  Integer
    key columns only (the 64-bit hash path).

    The filter size derives from the build side's distinct-key count
    (next power of two >= bits_per_key * n_keys), so callers never
    tune ``m`` by hand; at the default 16 bits/key + 7 hashes the
    false-positive rate is under 1%."""
    skc = small_key_col or key_col
    keys_df = small.select(F.col(skc).alias(key_col)).distinct()
    bits_bytes, m_bits = build_bloom(
        keys_df, key_col,
        bits_per_key=bits_per_key, n_hashes=n_hashes,
    )
    bc = big.sparkSession.sparkContext.broadcast(bits_bytes)

    @F.pandas_udf(BooleanType())
    def might_contain(s: pd.Series) -> pd.Series:
        arr = np.frombuffer(bc.value, dtype=np.uint64)
        p = _positions(s.to_numpy(dtype=np.int64), n_hashes, m_bits)
        hit = (arr[p >> np.uint64(6)] >> (p & np.uint64(63))) & np.uint64(1)
        return pd.Series(hit.all(axis=0).astype(bool))

    survivors = big.filter(might_contain(F.col(key_col).cast("long")))
    return survivors.join(keys_df, key_col, "left_semi")
