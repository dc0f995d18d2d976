"""interval_union: hand-checked island merges and invariants."""
import pandas as pd

from raster_tools_spark.functions.intervals import interval_union


def _iv_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "s", "e"])
    )


def test_hand_checked_islands(spark):
    rows = [
        # key a: [0,10) [5,12) [12,20) merge (touching joins);
        #        [25,30) separate
        ("a", 0, 10), ("a", 5, 12), ("a", 12, 20), ("a", 25, 30),
        # key b: nested interval swallowed
        ("b", 0, 100), ("b", 10, 20),
    ]
    got = {r["key"]: r for r in interval_union(
        _iv_df(spark, rows), "key").collect()}
    assert got["a"]["n_islands"] == 2
    assert got["a"]["covered"] == 20 + 5
    assert got["a"]["longest"] == 20
    assert got["a"]["max_merged"] == 3
    assert got["b"]["n_islands"] == 1
    assert got["b"]["covered"] == 100
    assert got["b"]["max_merged"] == 2


def test_disjoint_intervals_identity(spark):
    rows = [("k", i * 10, i * 10 + 3) for i in range(5)]
    got = interval_union(_iv_df(spark, rows), "key").collect()[0]
    assert got["n_islands"] == 5
    assert got["covered"] == 15
    assert got["max_merged"] == 1


def test_covered_bounded_by_span_and_sum(spark):
    rows = [("k", (i * 37) % 100, (i * 37) % 100 + 1 + (i % 9))
            for i in range(40)]
    got = interval_union(_iv_df(spark, rows), "key").collect()[0]
    raw_sum = sum(e - s for _, s, e in rows)
    span = max(e for *_, e in rows) - min(s for _, s, _e in rows)
    assert got["covered"] <= min(raw_sum, span)
    assert got["longest"] <= got["covered"]


def test_plan_is_pure_jvm(spark):
    df = interval_union(_iv_df(spark, [("k", 0, 1)]), "key")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan
