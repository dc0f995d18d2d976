"""S6 JDBC source: write/read round-trip and predicate pushdown into
the remote query (the reference's PostGIS attribute-filter semantics,
postgis.py:59-66, demonstrated on embedded Derby)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_tools_spark.sources import jdbc as jdbc_src


def pushed_filters(df) -> str:
    """The PushedFilters/ReadSchema clause of the JDBC scan node --
    empty string when nothing was pushed."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "PushedFilters" in line:
            return line.strip()
    return ""


@pytest.fixture()
def lut_url(spark, tmp_path):
    url = jdbc_src.derby_url(str(tmp_path / "derbydb"))
    df = spark.createDataFrame(
        pd.DataFrame(
            [(0, 10, "small"), (10, 30, "medium"),
             (30, 60, "large"), (60, 1000, "huge")],
            columns=["lo", "hi", "cls"],
        ),
        schema="lo int, hi int, cls string",
    )
    jdbc_src.write_table(df, url, "size_lut")
    return url


def test_round_trip(spark, lut_url):
    back = jdbc_src.read_table(spark, lut_url, "size_lut")
    rows = sorted((r.lo, r.hi, r.cls) for r in back.collect())
    assert rows == [(0, 10, "small"), (10, 30, "medium"),
                    (30, 60, "large"), (60, 1000, "huge")]


def test_filter_is_pushed_to_source(spark, lut_url):
    dim = jdbc_src.read_table(spark, lut_url, "size_lut").filter(
        F.col("hi") <= 60
    ).select("cls", "hi")
    pushed = pushed_filters(dim)
    # '*' prefix = handled entirely at the source, not re-evaluated
    assert "*LessThanOrEqual(hi,60)" in pushed
    # column pruning reaches the remote query too
    assert "ReadSchema" in pushed and "lo" not in pushed.split(
        "ReadSchema"
    )[1]
    assert dim.count() == 3


def test_overwrite_replaces(spark, lut_url):
    df2 = spark.createDataFrame(
        pd.DataFrame([(0, 5, "tiny")], columns=["lo", "hi", "cls"]),
        schema="lo int, hi int, cls string",
    )
    jdbc_src.write_table(df2, lut_url, "size_lut")
    assert jdbc_src.read_table(spark, lut_url, "size_lut").count() == 1
