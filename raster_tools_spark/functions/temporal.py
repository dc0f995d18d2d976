"""Temporal joins Spark lacks natively: the AS-OF join (each left row
matched to the most recent right row at or before its timestamp, per
key) -- the slowly-changing-dimension / market-data primitive.

Spark-first shape: a naive formulation is a range join (explodes to
|L| x |R| per key before filtering); the scalable re-expression is
UNION both sides tagged, ONE shuffle by key, and a running
``last(value, ignoreNulls=True)`` window over (ts, tag) so every left
row reads the latest right value in a single ordered pass.  Cost is
one sort-shuffle of |L| + |R| -- no join blowup, AQE-skew-safe, and
exactly what a 100-TB event stream against a dimension table needs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _assert_asof_columns(left, right, value_cols):
    """Reserved / colliding names would silently produce an ambiguous
    schema -- fail loudly instead (internal names: _tag, _v, _bkt)."""
    reserved = {"_tag", "_v", "_bkt"}
    clash = reserved.intersection(left.columns).union(
        reserved.intersection(right.columns)
    )
    if clash:
        raise ValueError(
            f"asof_join reserves column names {sorted(reserved)}; "
            f"rename {sorted(clash)} first"
        )
    dup = set(value_cols).intersection(left.columns)
    if dup:
        raise ValueError(
            f"left already has value column(s) {sorted(dup)}; the "
            "as-of result would be ambiguous -- rename or drop them"
        )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """AS-OF join: every ``left`` row gains the ``value_cols`` of the
    latest ``right`` row with the same ``key_col`` and
    ``right.ts <= left.ts``; NULL when no right row precedes it.
    ``right`` must be unique per (key, ts) -- pre-aggregate otherwise.

    Single shuffle by key; at equal timestamps the right row sorts
    first via the tag column, so the window needs no range frame.

    Skew note: each key's rows sort within one task (Spark windows
    spill to disk, so a hot key is slow, not fatal).  At 100-TB scale
    prefer high-cardinality keys; for a genuinely low-cardinality key
    set use :func:`asof_join_bucketed` (carried-state variant) --
    same semantics, more parallelism within a key.

    All value columns are carried in ONE struct per right row, so a
    matched row's legitimately-NULL value stays NULL and every value
    comes from the same (latest preceding) right row -- standard
    as-of semantics even with NULLs in ``value_cols``."""
    _assert_asof_columns(left, right, value_cols)
    # one struct holds ALL value cols: last(ignorenulls) then picks
    # the single latest preceding right ROW, not the latest non-null
    # value per column (which could mix rows / skip legit NULLs)
    right_struct = F.struct(*[F.col(c) for c in value_cols])
    struct_type = right.select(right_struct.alias("_v")).schema["_v"].dataType
    l = left.withColumn("_tag", F.lit(1)).withColumn(
        "_v", F.lit(None).cast(struct_type)
    )
    r = right.select(
        F.col(key_col),
        F.col(ts_col),
        F.lit(0).alias("_tag"),
        right_struct.alias("_v"),
    )
    for c in left.columns:
        if c not in (key_col, ts_col):
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    u = l.unionByName(r)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("_tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("_v", F.last("_v", ignorenulls=True).over(w))
    return (
        u.filter(F.col("_tag") == 1)
        .drop("_tag")
        .select(
            "*", *[F.col(f"_v.{c}").alias(c) for c in value_cols]
        )
        .drop("_v")
    )

def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    value_cols: Sequence[str],
    n_buckets: int = 32,
) -> DataFrame:
    """Carried-state AS-OF join for LOW-CARDINALITY key sets: same
    semantics as :func:`asof_join`, but each key's timeline is split
    into ``n_buckets`` time-range buckets so a hot key sorts in
    ``n_buckets`` parallel tasks instead of one.

    Three stages, all cheap except the one real shuffle:
    (1) per-(key, bucket) LAST right-row struct (hash agg, tiny);
    (2) running carry-in per key over bucket summaries (window over
    <= keys x buckets rows -- driver-scale); (3) the in-bucket
    running-last window over (key, bucket) -- the only shuffle of
    |L| + |R|, now with n_buckets x the parallelism per key -- and
    COALESCE(in-bucket last, carried-in state).  Equal timestamps
    always share a bucket (bucketing is by value), so the inclusive
    tag trick is unchanged."""
    _assert_asof_columns(left, right, value_cols)
    right_struct = F.struct(*[F.col(c) for c in value_cols])
    struct_type = right.select(
        right_struct.alias("_v")
    ).schema["_v"].dataType

    # bucket assignment only needs a MONOTONIC numeric image of the
    # timestamp (equal values must share a bucket; boundaries affect
    # parallelism, never semantics), so timestamp columns go through
    # unix_micros instead of the disallowed direct numeric cast
    ts_dtype = dict(left.dtypes)[ts_col]
    if "timestamp" in ts_dtype or "date" in ts_dtype:
        ts_d = F.unix_micros(
            F.col(ts_col).cast("timestamp")
        ).cast("double")
    else:
        ts_d = F.col(ts_col).cast("double")
    bounds = (
        left.select(ts_d.alias("t"))
        .unionByName(right.select(ts_d.alias("t")))
        .agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
        .collect()[0]
    )
    lo, hi = float(bounds.lo), float(bounds.hi)
    width = max((hi - lo) / n_buckets, 1e-12)
    bkt = F.least(
        F.lit(n_buckets - 1),
        F.greatest(F.lit(0), F.floor((ts_d - lo) / width)),
    ).cast("int")

    l = (
        left.withColumn("_tag", F.lit(1))
        .withColumn("_v", F.lit(None).cast(struct_type))
        .withColumn("_bkt", bkt)
    )
    r = right.select(
        F.col(key_col),
        F.col(ts_col),
        F.lit(0).alias("_tag"),
        right_struct.alias("_v"),
    ).withColumn("_bkt", bkt)
    for c in left.columns:
        if c not in (key_col, ts_col):
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    u = l.unionByName(r)

    # stage 1+2: per-bucket last right struct, then the carry-in for
    # EVERY (key, bucket) present on either side (absent-summary
    # buckets still need the latest earlier bucket's state)
    summ = r.groupBy(key_col, "_bkt").agg(
        F.max_by("_v", F.col(ts_col)).alias("_vlast")
    )
    slots = u.select(key_col, "_bkt").distinct()
    wc = (
        Window.partitionBy(key_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        slots.join(summ, [key_col, "_bkt"], "left")
        .withColumn("_vin", F.last("_vlast", ignorenulls=True).over(wc))
        .select(key_col, "_bkt", "_vin")
    )

    # stage 3: in-bucket running last + carried-in fallback; the
    # carry table is keys x buckets rows -- always broadcastable
    w = (
        Window.partitionBy(key_col, "_bkt")
        .orderBy(F.col(ts_col).asc(), F.col("_tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = (
        u.withColumn("_v", F.last("_v", ignorenulls=True).over(w))
        .join(F.broadcast(carry), [key_col, "_bkt"])
        .withColumn("_v", F.coalesce(F.col("_v"), F.col("_vin")))
    )
    return (
        u.filter(F.col("_tag") == 1)
        .drop("_tag", "_bkt", "_vin")
        .select(
            "*", *[F.col(f"_v.{c}").alias(c) for c in value_cols]
        )
        .drop("_v")
    )


def funnel_counts(
    events: DataFrame,
    stages: tuple = ("view", "click", "purchase"),
    budget_minutes: int = 1440,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel conversion: how many users perform each stage
    STRICTLY AFTER their previous stage's first qualifying event and
    within ``budget_minutes`` of it (the product-analytics funnel,
    built from first-occurrence semantics so it is deterministic and
    SQL-mirrorable -- no per-row path state).

    Scale shape: stage k is one filtered aggregation producing at
    most one row per user; each subsequent stage joins that (tiny,
    auto-broadcast) frontier against the filtered event stream --
    the 100-TB event side is never shuffled, only scanned with a
    pushed-down type filter per stage.

    Returns ONE row: (n_<stage1>, n_<stage2>, ...).
    """
    u, ts = F.col(user_col), F.col(ts_col)
    frontier = (
        events.filter(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
    )
    counts = [frontier.count()]
    for stage in stages[1:]:
        nxt = (
            events.filter(F.col(type_col) == stage)
            .join(F.broadcast(frontier), user_col)
            .filter(
                (ts > F.col("_t"))
                & (ts <= F.col("_t")
                   + F.expr(f"INTERVAL {budget_minutes} MINUTES"))
            )
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("_t"))
        )
        frontier = nxt
        counts.append(frontier.count())
    spark = events.sparkSession
    return spark.createDataFrame(
        [tuple(counts)], schema=", ".join(f"n_{s} long" for s in stages)
    )


def gap_fill(
    series: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
) -> DataFrame:
    """Time-series gap fill with linear interpolation: given sparse
    per-key (integer bucket, value) observations, emit the DENSE
    per-key bucket grid from each key's first to last observation,
    filling missing buckets by linear interpolation between the
    nearest preceding and following observations (the hypertable
    ``time_bucket_gapfill`` + ``interpolate`` primitive; the
    reference has no temporal axis -- this serves its event-table
    users, SURVEY §2.7 scalar/temporal family).

    Scale shape: the dense grid is GENERATED, not joined from a
    calendar table -- per-key (min, max) bounds are one hash agg,
    ``sequence() + explode`` expands them executor-side, and one
    left join + one per-key ordered window produce the carried
    prev/next anchors.  Two shuffles total (bounds agg reuses the
    grid join's hash partitioning); nothing is ever collected.  A
    key's grid length is bounded by its observed time span, so a
    100-TB corpus with bounded span per key cannot blow up the
    explode; span-unbounded keys should be range-chunked first.

    All interpolation arithmetic is plain IEEE double with a fixed
    expression shape, so an engine mirroring the same expressions
    reproduces the bits; callers wanting hash-stable output should
    floor-scale (``floor(x * 10000) / 10000``).

    Returns (key, bucket, v double interpolated, filled boolean).
    """
    reserved = {"v", "filled"}
    clash = sorted(reserved.intersection({key_col, bucket_col}))
    if clash:
        raise ValueError(
            f"gap_fill reserves output column names {sorted(reserved)};"
            f" rename {clash} first"
        )
    k, b = F.col(key_col), F.col(bucket_col)
    obs = series.select(
        k.alias("_k"), b.cast("long").alias("_b"),
        F.col(value_col).cast("double").alias("_v"),
    )
    grid = (
        obs.groupBy("_k")
        .agg(F.min("_b").alias("_b0"), F.max("_b").alias("_b1"))
        .select("_k", F.explode(F.sequence("_b0", "_b1")).alias("_b"))
    )
    g = grid.join(obs, ["_k", "_b"], "left")
    wp = (
        Window.partitionBy("_k").orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("_k").orderBy("_b")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    anchor_b = F.when(F.col("_v").isNotNull(), F.col("_b"))
    g = g.select(
        "_k", "_b", "_v",
        F.last("_v", ignorenulls=True).over(wp).alias("_pv"),
        F.last(anchor_b, ignorenulls=True).over(wp).alias("_pb"),
        F.first("_v", ignorenulls=True).over(wn).alias("_nv"),
        F.first(anchor_b, ignorenulls=True).over(wn).alias("_nb"),
    )
    interp = F.col("_pv") + (F.col("_nv") - F.col("_pv")) * (
        (F.col("_b") - F.col("_pb")).cast("double")
        / (F.col("_nb") - F.col("_pb")).cast("double")
    )
    return g.select(
        F.col("_k").alias(key_col),
        F.col("_b").alias(bucket_col),
        F.when(F.col("_v").isNotNull(), F.col("_v"))
        .otherwise(interp).alias("v"),
        F.col("_v").isNull().alias("filled"),
    )
