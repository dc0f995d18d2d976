"""JDBC dimension source with predicate pushdown (SURVEY.md S6).

The reference reads vector/dimension data out of PostGIS with the
attribute filter evaluated inside the database (postgis.py:59-66: the
WHERE clause is composed into the remote query, not applied client
side).  The Spark-first equivalent is the built-in JDBC relation:
filters and column pruning are pushed into the remote SQL by Catalyst
(``PushedFilters`` / ``ReadSchema`` on the scan node), so the database
ships only matching rows of requested columns.

The demonstration backend is Apache Derby (embedded, ships inside
Spark's own jars) -- the PLUMBING (url/driver/dbtable options,
pushdown verification) is identical for PostgreSQL/PostGIS: swap the
url and driver class.

At scale: a JDBC dim table is the SMALL side; read it through one
partition (numPartitions=1) and let Spark broadcast the result into
the big-side join.  Partitioned reads (partitionColumn/lowerBound/
upperBound) only pay off when the remote table itself is large.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(path: str) -> str:
    """Embedded Derby url that creates the database if missing."""
    return f"jdbc:derby:{path};create=true"


def write_table(df: DataFrame, url: str, table: str,
                driver: str = DERBY_DRIVER) -> None:
    """Publish a dimension table to the database (overwrite)."""
    (
        df.write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .save()
    )


def read_table(spark: SparkSession, url: str, table: str,
               driver: str = DERBY_DRIVER) -> DataFrame:
    """JDBC scan; apply .filter/.select on the result and Catalyst
    pushes them into the remote query (verify with pushed_filters)."""
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .load()
    )


def read_table_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower: int,
    upper: int,
    num_partitions: int,
    driver: str = DERBY_DRIVER,
) -> DataFrame:
    """Partitioned JDBC scan for LARGE remote tables: Spark issues
    ``num_partitions`` range-predicated queries in parallel, one per
    stride of [lower, upper] on ``partition_column`` (the standard
    production shape when the remote table exceeds one task).  Filters
    and pruning still push per-partition."""
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower))
        .option("upperBound", str(upper))
        .option("numPartitions", str(num_partitions))
        .load()
    )


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters/ReadSchema clause of the JDBC scan node --
    empty string when nothing was pushed (the plan-audit hook)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "PushedFilters" in line:
            return line.strip()
    return ""
