"""Distributed connected components vs a union-find oracle."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from raster_tools_spark.functions import graph


def _oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def _run(spark, edges):
    pdf = pd.DataFrame(edges, columns=["src", "dst"])
    df = spark.createDataFrame(pdf, schema="src long, dst long")
    return {
        r.node: r.comp
        for r in graph.connected_components(df).collect()
    }


def test_two_components(spark):
    edges = [(1, 2), (2, 3), (10, 11), (12, 11)]
    got = _run(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_chain_converges(spark):
    # a long path stresses the pointer-jumping rounds
    edges = [(i, i + 1) for i in range(40)]
    got = _run(spark, edges)
    assert set(got.values()) == {0}


def test_random_graph_matches_union_find(spark):
    rng = np.random.default_rng(7)
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, 60, size=(80, 2))
        if a != b
    ]
    got = _run(spark, edges)
    exp = _oracle(edges)
    assert got == exp


def test_dedup_clusters(spark):
    pairs = spark.createDataFrame(
        pd.DataFrame(
            [(5, 9), (9, 12), (30, 31)], columns=["doc_a", "doc_b"]
        ),
        schema="doc_a long, doc_b long",
    )
    out = {r.doc_id: (r.cluster, r.is_representative)
           for r in graph.dedup_clusters(pairs).collect()}
    assert out[5] == (5, True)
    assert out[9] == (5, False)
    assert out[12] == (5, False)
    assert out[30] == (30, True)
    assert out[31] == (30, False)


def test_distributed_path_equals_driver_path(spark, monkeypatch):
    """Both executions of the hybrid must label identically."""
    import numpy as np
    import pandas as pd

    from raster_tools_spark.functions import graph

    rng = np.random.default_rng(9)
    edges_pdf = pd.DataFrame(
        {
            "src": rng.integers(0, 120, 200),
            "dst": rng.integers(0, 120, 200),
        }
    )
    edges = spark.createDataFrame(edges_pdf, schema="src long, dst long")
    drv = {
        (r.node, r.comp)
        for r in graph.connected_components(edges).collect()
    }
    monkeypatch.setattr(graph, "DRIVER_THRESHOLD", 0)
    dist = {
        (r.node, r.comp)
        for r in graph.connected_components(edges).collect()
    }
    assert drv == dist and len(drv) > 0
