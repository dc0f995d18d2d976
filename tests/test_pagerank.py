"""pagerank_fixed: exact-integer recurrence properties."""
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_tools_spark.functions.graph import pagerank_fixed


def test_ring_graph_stays_uniform(spark):
    # out-degree-1 ring: uniform distribution is the fixed point
    n = 12
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = nodes.select(
        F.col("node").alias("src"), ((F.col("node") + 1) % n).alias("dst")
    )
    out = pagerank_fixed(nodes, edges).collect()
    prs = {r["node"]: r["pr"] for r in out}
    assert all(v == pytest.approx(1.0 / n) for v in prs.values())


def test_ranks_sum_to_one_and_sink_heavy_node_wins(spark):
    n = 40
    nodes = spark.range(n).select(F.col("id").alias("node"))
    # every node points at node 0 and at its successor (out-degree 2)
    edges = nodes.select(
        F.col("node").alias("src"), F.lit(0).alias("dst")
    ).unionByName(
        nodes.select(
            F.col("node").alias("src"),
            ((F.col("node") + 1) % n).alias("dst"),
        )
    )
    out = pagerank_fixed(nodes, edges).collect()
    prs = {r["node"]: r["pr"] for r in out}
    assert sum(prs.values()) == pytest.approx(1.0, abs=1e-9)
    assert prs[0] == max(prs.values())
    assert prs[0] > 5 * min(prs.values())


def test_constant_outdegree_assertion(spark):
    nodes = spark.range(3).select(F.col("id").alias("node"))
    edges = spark.createDataFrame(
        pd.DataFrame([(0, 1), (0, 2), (1, 2)], columns=["src", "dst"])
    )
    with pytest.raises(AssertionError):
        pagerank_fixed(nodes, edges)
