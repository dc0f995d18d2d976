"""Distinct-count sketching: the KMV (K Minimum Values) estimator.

The classic mergeable cardinality sketch (Bar-Yossef et al. 2002;
the bottom-k form of theta sketches): hash every value to a uniform
fraction, keep only the k smallest hashes per group, and estimate
|distinct| = (k-1) / kth_smallest_fraction.  Unlike HLL
implementations the estimate is a pure deterministic function of the
md5 hashes, so a SQL engine reproduces it BIT-EXACTLY -- which makes
the sketch itself oracle-checkable, not just its error bound.

Scale shape: per-partition bottom-k first, then one shuffle of
<= k survivors per (key, partition) -- the sketch's mergeability IS
the distribution strategy; no per-key global sort, no full distinct
set ever materializes.  Groups with fewer than k distinct values
return the EXACT count (the estimator's standard small-set
exactness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import fan_out

# k of the bottom-k (KMV) sketches
KMV_K = 64
# count-min sketch shape: hash rows x cells per row
CM_DEPTH = 4
CM_WIDTH = 512


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    val_col: str,
) -> DataFrame:
    """Per-``key_col`` distinct-count estimate of ``val_col`` via a
    k-minimum-values sketch (k = ``KMV_K``).  Returns (key, n_kept,
    estimate) where estimate is floor-scaled to 6 dp; n_kept < k
    certifies the exact branch.  The hash fraction is the first 15 hex chars of
    md5(value) over 16^15 -- exactly reproducible in any engine with
    md5."""
    k = KMV_K
    h = F.conv(
        F.substring(F.md5(F.col(val_col).cast("string")), 1, 15),
        16, 10,
    ).cast("double") / float(16 ** 15)
    # NULL values carry no identity: drop them explicitly so both
    # engines agree by construction (Spark's collect_list silently
    # drops NULL hashes; a DISTINCT-based oracle would keep a NULL
    # row that shifts n_kept) -- a key with only NULLs vanishes
    hashed = fan_out(
        df.filter(F.col(val_col).isNotNull()), val_col
    ).select(F.col(key_col).alias("key"), h.alias("h"))
    # two-stage bottom-k merge (the sketch's own merge property):
    # each input partition reduces to <= k distinct hashes per key,
    # then the <= k * n_partitions survivors merge per key -- no
    # per-key global sort, no full distinct set ever materializes
    # (a window row_number over the key would sort EVERY distinct
    # hash of the key; this shape is what scales to 10^12 rows)
    part = hashed.groupBy(
        "key", F.spark_partition_id().alias("_p")
    ).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.collect_list("h"))),
            1, k,
        ).alias("hs")
    )
    merged = (
        part.select("key", F.explode("hs").alias("h"))
        .groupBy("key")
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.collect_list("h"))),
                1, k,
            ).alias("hs")
        )
    )
    n_kept = F.size("hs")
    kth = F.element_at("hs", n_kept)
    return merged.select(
        "key",
        n_kept.alias("n_kept"),
        (
            F.floor(
                F.when(n_kept < k, n_kept.cast("double"))
                .otherwise((k - 1) / kth)
                * 1000000.0
            ) / 1000000.0
        ).alias("estimate"),
    )


# ---------------------------------------------------------------------------
# count-min sketch (heavy-hitter frequency estimation)
# ---------------------------------------------------------------------------

def cm_sketch(df: DataFrame, col: str) -> DataFrame:
    """Count-min sketch table of ``col`` frequencies (Cormode &
    Muthukrishnan 2005): every value increments one cell per hash row,
    estimate(x) = min over rows of cell(x).  Returns
    (d, cell, cnt) with at most CM_DEPTH x CM_WIDTH rows.

    Scale shape: one explode to ``CM_DEPTH`` narrow rows per input,
    then a single groupBy over <= depth*width groups -- the partial
    aggregation collapses each map task to the sketch size, so the
    shuffle moves O(depth*width) rows per task NO MATTER how large or
    skewed the corpus (the whole point vs an exact count at 100 TB).
    Cells are pure sums of md5-derived placements, so merge order is
    irrelevant and any engine reproduces the table BIT-EXACTLY (the
    same property kmv_distinct exploits: the sketch itself is
    oracle-checkable, not just its error bound)."""
    rows = df.select(F.col(col).cast("string").alias("_v")).where(
        F.col("_v").isNotNull()
    )
    cells = rows.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(
                                            F.lit(f"{d}:"), F.col("_v")
                                        )
                                    ),
                                    1, 15,
                                ),
                                16, 10,
                            ).cast("long") % CM_WIDTH
                        ).alias("cell"),
                    )
                    for d in range(CM_DEPTH)
                ]
            )
        ).alias("s")
    )
    return cells.groupBy(
        F.col("s.d").alias("d"), F.col("s.cell").alias("cell")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cm_estimate(sketch: DataFrame, items: DataFrame, col: str) -> DataFrame:
    """Frequency estimates for ``items[col]`` against a cm_sketch
    table: (item, estimate) with estimate = min over hash rows of the
    item's cell count (0 for a cell the corpus never touched).  The
    candidate side is expected to be small (broadcast); the sketch is
    itself tiny, so this never reshuffles corpus-scale data."""
    cand = items.select(F.col(col).cast("string").alias("item")).where(
        F.col("item").isNotNull()
    ).distinct()
    probes = cand.select(
        "item",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(
                                            F.lit(f"{d}:"),
                                            F.col("item"),
                                        )
                                    ),
                                    1, 15,
                                ),
                                16, 10,
                            ).cast("long") % CM_WIDTH
                        ).alias("cell"),
                    )
                    for d in range(CM_DEPTH)
                ]
            )
        ).alias("s"),
    ).select("item", F.col("s.d").alias("d"), F.col("s.cell").alias("cell"))
    return (
        probes.join(F.broadcast(sketch), ["d", "cell"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("estimate"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (Flajolet et al. 2007)
# ---------------------------------------------------------------------------

HLL_B = 6            # 2^6 = 64 registers
HLL_M = 1 << HLL_B
HLL_ALPHA_64 = 0.709  # alpha_m for m = 64 (Flajolet et al., table 1)
# rho is clamped so every 2^-rho addend and every partial sum of the
# 64-register harmonic series is an EXACTLY representable dyadic
# (exponent span <= 40 < 52 mantissa bits) -- the register sum is then
# order-independent and bit-identical across engines.  rho > 40 needs
# 40 leading zero bits in a uniform 54-bit hash (p ~ 2^-40): clamping
# biases nothing at any realistic cardinality.
HLL_RHO_CAP = 40


def hll_distinct(
    df: DataFrame, key_col: str, val_col: str
) -> DataFrame:
    """Per-``key_col`` HyperLogLog distinct-count estimate of
    ``val_col``: 64 registers, md5-derived 60-bit hash (low 6 bits
    pick the register, the remaining 54 bits supply the
    leading-zero-run rank rho).  Returns
    ``(key, n_regs, estimate)`` -- n_regs = touched registers (V =
    64 - n_regs empty), estimate floor-rounded to 4 dp with the
    standard small-range linear-counting correction
    (E <= 2.5 m and V > 0  ->  m * ln(m / V)).

    Like kmv_distinct above, every step is a deterministic function
    of md5, so an external SQL engine reproduces the ESTIMATE itself
    (rho via integer bit-length -- length(bin(x)) -- never floating
    log2), not just its error bound.

    Scale shape: groupBy(key, register) max-aggregates partial-ly
    map-side, so the shuffle carries <= 64 rows per (key, input
    partition) regardless of corpus size or skew -- the classic
    reason HLL is THE distinct-count at 10^12 rows.  The final
    per-key reduce folds 64 registers; no distinct set, no sort, no
    window ever materializes.
    """
    h = F.conv(
        F.substring(F.md5(F.col(val_col).cast("string")), 1, 15),
        16, 10,
    ).cast("long")
    # integer shift, NOT h / m: a 60-bit value exceeds double's 53-bit
    # mantissa, so float division would corrupt low bits
    rest = F.shiftright(h, HLL_B)
    rho = F.when(rest == 0, F.lit(60 - HLL_B + 1)).otherwise(
        F.lit(60 - HLL_B) - F.length(F.bin(rest)) + 1
    )
    regs = (
        df.filter(F.col(val_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            (h % HLL_M).alias("reg"),
            F.least(rho, F.lit(HLL_RHO_CAP)).alias("rho"),
        )
        .groupBy("key", "reg")
        .agg(F.max("rho").alias("mj"))
    )
    per_key = regs.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum(
            F.lit(1.0)
            / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), mj) AS DOUBLE)")
        ).alias("_s_hit"),
    )
    m = float(HLL_M)
    s = F.col("_s_hit") + (F.lit(m) - F.col("n_regs").cast("double"))
    e_raw = F.lit(HLL_ALPHA_64 * m * m) / s
    v = F.lit(m) - F.col("n_regs").cast("double")
    est = F.when(
        (e_raw <= 2.5 * m) & (v > 0.0), F.lit(m) * F.log(F.lit(m) / v)
    ).otherwise(e_raw)
    return per_key.select(
        "key",
        "n_regs",
        (F.floor(est * 10000.0) / 10000.0).alias("estimate"),
    )


# ---------------------------------------------------------------------------
# KMV set operations (theta-sketch style union / intersection)
# ---------------------------------------------------------------------------

def _bottom_k_hashes(df: DataFrame, val_col: str, k: int) -> DataFrame:
    """One-row DataFrame with the sorted bottom-k distinct md5 hash
    fractions of ``val_col`` (column ``hs``), built with the same
    two-stage mergeable reduction as kmv_distinct."""
    h = F.conv(
        F.substring(F.md5(F.col(val_col).cast("string")), 1, 15),
        16, 10,
    ).cast("double") / float(16 ** 15)
    hashed = df.filter(F.col(val_col).isNotNull()).select(h.alias("h"))
    part = hashed.groupBy(F.spark_partition_id().alias("_p")).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.collect_list("h"))), 1, k
        ).alias("hs")
    )
    return part.select(F.explode("hs").alias("h")).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.collect_list("h"))), 1, k
        ).alias("hs")
    )


def kmv_set_ops(df_a: DataFrame, df_b: DataFrame, val_col: str) -> DataFrame:
    """Set-operation cardinality estimates between two corpora from
    their bottom-k sketches ALONE (the theta-sketch move, Dasgupta et
    al. 2016): union via the merged bottom-k, intersection by
    counting shared hashes below theta (the merged kth smallest),
    Jaccard as their ratio.  Returns one row:
    ``(n_a_kept, n_b_kept, n_union_kept, union_est, inter_est,
    jaccard_est)``, estimates floor-rounded to 4 dp.  When the merged
    sketch holds fewer than k hashes both sides are complete and the
    exact counts are returned (small-set exactness, as kmv_distinct).

    This is why sketches matter at 100 TB: each corpus reduces ONCE
    to k doubles (mergeable, partial-aggregated, skew-immune), and
    every subsequent set question -- |A u B|, |A n B|, J(A, B),
    against ANY other sketched corpus -- is answered from the k-value
    summaries without rescanning data.  Deterministic md5 hashing
    keeps the estimates themselves bit-reproducible in any engine.
    k = ``KMV_K``.
    """
    k = KMV_K
    a = _bottom_k_hashes(df_a, val_col, k).select(F.col("hs").alias("ha"))
    b = _bottom_k_hashes(df_b, val_col, k).select(F.col("hs").alias("hb"))
    j = a.crossJoin(b)  # 1 x 1 rows
    un = F.slice(F.array_sort(F.array_union("ha", "hb")), 1, k)
    n_un = F.size(un)
    theta = F.element_at(un, n_un)
    inter = F.array_intersect("ha", "hb")
    alive = F.size(F.filter(inter, lambda h: h < theta))
    exact = n_un < k
    union_est = F.when(exact, n_un.cast("double")).otherwise(
        (k - 1) / theta
    )
    inter_est = F.when(exact, F.size(inter).cast("double")).otherwise(
        alive / theta
    )
    jac = F.when(
        union_est > 0.0, inter_est / union_est
    ).otherwise(F.lit(0.0))
    r4 = lambda c: F.floor(c * 10000.0) / 10000.0  # noqa: E731
    return j.select(
        F.size("ha").alias("n_a_kept"),
        F.size("hb").alias("n_b_kept"),
        n_un.alias("n_union_kept"),
        r4(union_est).alias("union_est"),
        r4(inter_est).alias("inter_est"),
        r4(jac).alias("jaccard_est"),
    )
