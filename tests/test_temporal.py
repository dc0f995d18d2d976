"""AS-OF join: inclusive semantics (an equal timestamp matches), NULL
before the first right row, and the single-shuffle plan shape."""

import datetime as dt

import pandas as pd

from raster_tools_spark.functions import temporal


def _ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


def _frames(spark):
    left = spark.createDataFrame(
        pd.DataFrame(
            [(1, "a", _ts(5)), (2, "a", _ts(10)), (3, "a", _ts(15)),
             (4, "b", _ts(10)), (5, "b", _ts(2))],
            columns=["id", "k", "ts"],
        ),
        schema="id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            [("a", _ts(10), 100.0), ("a", _ts(12), 120.0),
             ("b", _ts(3), 30.0)],
            columns=["k", "ts", "rate"],
        ),
        schema="k string, ts timestamp, rate double",
    )
    return left, right


def test_asof_inclusive_and_nulls(spark):
    left, right = _frames(spark)
    out = {r.id: r.rate for r in temporal.asof_join(
        left, right, "k", "ts", ["rate"]
    ).collect()}
    assert out[1] is None          # before any 'a' rate
    assert out[2] == 100.0         # equal ts matches (inclusive)
    assert out[3] == 120.0         # latest preceding
    assert out[4] == 30.0
    assert out[5] is None          # before the 'b' rate


def test_asof_is_single_shuffle(spark):
    left, right = _frames(spark)
    plan = temporal.asof_join(left, right, "k", "ts", ["rate"])\
        ._jdf.queryExecution().executedPlan().toString()
    # one hash-partitioning exchange on the key, no join operator
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_kmv_sketch_accuracy_and_exact_branch(spark):
    """KMV: exact below k, ~1/sqrt(k) relative error above it, and
    duplicates never inflate the estimate."""
    import pandas as pd

    from raster_tools_spark.functions.sketch import kmv_distinct

    rows = (
        [("small", f"u{i}") for i in range(20)]
        + [("small", "u3")] * 5                      # dups
        + [("big", f"v{i}") for i in range(5000)]
    )
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "v"]),
        schema="k string, v string",
    )
    out = {r.key: r for r in kmv_distinct(df, "k", "v", k=64).collect()}
    assert out["small"].n_kept == 20
    assert out["small"].estimate == 20.0             # exact branch
    assert out["big"].n_kept == 64
    # (k-1)/kth-min: ~12.5% rel error at k=64; allow 3 sigma
    assert abs(out["big"].estimate - 5000) / 5000 < 0.4


def test_asof_null_value_preserved_same_row(spark):
    """A right row whose value is legitimately NULL must win (latest
    preceding ROW semantics) -- not be skipped for an older non-null;
    with multiple value_cols, all values come from the SAME row."""
    left = spark.createDataFrame(
        pd.DataFrame([(1, "a", _ts(20))], columns=["id", "k", "ts"]),
        schema="id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            [("a", _ts(5), 50.0, 1.0), ("a", _ts(10), None, 2.0)],
            columns=["k", "ts", "rate", "qty"],
        ),
        schema="k string, ts timestamp, rate double, qty double",
    )
    row = temporal.asof_join(
        left, right, "k", "ts", ["rate", "qty"]
    ).collect()[0]
    assert row.rate is None          # NULL of the LATEST row, kept
    assert row.qty == 2.0            # same row as the NULL rate


def test_asof_name_collision_raises(spark):
    left, right = _frames(spark)
    import pytest

    with pytest.raises(ValueError, match="ambiguous"):
        temporal.asof_join(
            left.withColumn("rate", left.id * 1.0),
            right, "k", "ts", ["rate"],
        )
    with pytest.raises(ValueError, match="reserve"):
        temporal.asof_join(
            left.withColumnRenamed("id", "_tag"),
            right, "k", "ts", ["rate"],
        )


def test_kmv_null_values_dropped_both_engines(spark):
    """NULL values carry no identity: a key with only NULLs vanishes;
    NULLs on a mixed key do not shift n_kept."""
    from raster_tools_spark.functions.sketch import kmv_distinct

    df = spark.createDataFrame(
        pd.DataFrame(
            [("only_null", None), ("mix", None)]
            + [("mix", f"u{i}") for i in range(5)],
            columns=["k", "v"],
        ),
        schema="k string, v string",
    )
    out = {r.key: r for r in kmv_distinct(df, "k", "v", k=8).collect()}
    assert "only_null" not in out
    assert out["mix"].n_kept == 5


def test_asof_bucketed_matches_single_window(spark):
    """Carried-state variant: identical results to asof_join on a
    low-cardinality hot-key fixture, with the one real shuffle
    partitioned by (key, bucket) -- >1 task per key."""
    import numpy as np

    from raster_tools_spark.functions.temporal import asof_join_bucketed

    rng = np.random.default_rng(5)
    n_l, n_r = 20_000, 400
    left = spark.createDataFrame(
        pd.DataFrame({
            "id": range(n_l),
            "k": [("a", "b")[i % 2] for i in range(n_l)],
            "ts": rng.integers(0, 10**6, n_l).astype("float64"),
        }),
        schema="id long, k string, ts double",
    )
    rts = rng.choice(10**6, size=n_r, replace=False).astype("float64")
    right = spark.createDataFrame(
        pd.DataFrame({
            "k": [("a", "b")[i % 2] for i in range(n_r)],
            "ts": rts,
            "rate": np.where(
                np.arange(n_r) % 7 == 0, np.nan,
                rng.random(n_r)
            ),
        }),
        schema="k string, ts double, rate double",
    )
    base = temporal.asof_join(left, right, "k", "ts", ["rate"])
    bkt = asof_join_bucketed(
        left, right, "k", "ts", ["rate"], n_buckets=16
    )
    a = sorted(
        (r.id, None if r.rate is None else round(r.rate, 9))
        for r in base.collect()
    )
    b = sorted(
        (r.id, None if r.rate is None else round(r.rate, 9))
        for r in bkt.collect()
    )
    assert a == b
    plan = bkt._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" in plan and "hashpartitioning(k" in plan


def test_asof_bucketed_inclusive_and_exclusive_edges(spark):
    """Both edges of the as-of window on the bucketed path: a right row
    at the left row's timestamp matches (inclusive), a right row after
    it never does (exclusive)."""
    from raster_tools_spark.functions.temporal import asof_join_bucketed

    left, right = _frames(spark)
    out = {r.id: r.rate for r in asof_join_bucketed(
        left, right, "k", "ts", ["rate"], n_buckets=4
    ).collect()}
    assert out[2] == 100.0         # a@10 matches, the later a@12 not
    assert out[1] is None          # every 'a' rate is later
    assert out[3] == 120.0
    assert out[4] == 30.0 and out[5] is None
