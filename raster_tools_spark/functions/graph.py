"""Distributed connected components (SURVEY.md G5).

The reference labels components with ``ndimage.label`` /
``csgraph.connected_components`` (fill/fill.py:109-112,
maskerkaart.py:144-158, roof.py:149-153) -- single-process.  The
distributed re-expression here is MIN-LABEL PROPAGATION fused with
POINTER JUMPING (each round takes the min over one neighbor hop AND one
parent-pointer jump; the jump halves chain depth like the star
operations of Kiveris et al., SoCC 2014, but the update rule is label
propagation, not star contraction).  Every round is a pair of
equi-joins + hash aggs, converging in O(log n) rounds on typical
near-dup graphs; each round shrinks labels toward the component
minimum, so AQE's coalescing keeps late rounds cheap.

The training-data use: duplicate CLUSTERS from near-dup candidate
pairs (minhash/LSH or Jaccard) -- ``dedup_clusters`` picks one
representative per component.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fillnodata import union_min_roots
from ..materialize import reuse

# edge sets up to this size are labeled by one driver-side union-find
DRIVER_THRESHOLD = 200_000


def _driver_components(pairs) -> list:
    """Union-find on the driver for small edge sets: (node, component
    minimum) per node.  ``np.unique`` numbers the ids in ascending
    order, so the minimum index of a component is its minimum id."""
    ids, idx = np.unique(np.asarray(pairs, np.int64), return_inverse=True)
    idx = idx.reshape(-1, 2)
    roots = union_min_roots(len(ids), idx[:, 0], idx[:, 1])
    return list(zip(ids.tolist(), ids[roots].tolist()))


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node
    id reachable.  Nodes appear iff they occur in an edge.

    HYBRID execution: near-dup candidate edge sets are usually a tiny
    fraction of the corpus (LSH pairs ~0.1%), so when at most
    ``DRIVER_THRESHOLD`` edges exist (a few tens of MB of Row objects
    at 200k) the components are solved in one driver-side
    union-find pass instead of paying one full Spark job per
    propagation round.  Larger edge sets take the distributed
    min-label-propagation loop below, at most 20 rounds (equivalence
    is pytest-checked on both paths)."""
    spark = edges.sparkSession
    probe = edges.select(src, dst).limit(DRIVER_THRESHOLD + 1).collect()
    if len(probe) <= DRIVER_THRESHOLD:
        # ONE job: the limit+collect above doubles as the size probe,
        # so the (often expensive) edge pipeline never runs twice
        pairs = [(int(r[0]), int(r[1])) for r in probe]
        import pandas as pd

        out = _driver_components(pairs)
        if not out:
            return spark.createDataFrame(
                [], schema="node long, comp long"
            )
        return spark.createDataFrame(
            pd.DataFrame(out, columns=["node", "comp"]),
            schema="node long, comp long",
        )
    # undirected: symmetrize + self-loops so isolated endpoints keep
    # their own id
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # parent pointer: node -> min(neighbor, self)
    labels = (
        e.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("mv")).alias("comp"),
        )
    )
    for _ in range(20):
        # propagate: comp(node) -> min(comp(comp(node)), min over
        # neighbors' comps)  == one pointer-jump + one hop.
        # (renamed projections avoid Spark's fragile self-join
        # attribute resolution)
        ln = labels.select(
            F.col("node").alias("nbr_node"), F.col("comp").alias("nbr_c")
        )
        nbr = (
            e.join(ln, F.col("v") == F.col("nbr_node"))
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("nbr_c").alias("nbr_comp"))
        )
        lj = labels.select(
            F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
        )
        jump = (
            labels.join(lj, F.col("comp") == F.col("p_node"), "left")
            .select(
                "node",
                F.least(
                    F.col("comp"),
                    F.coalesce(F.col("p_comp"), F.col("comp")),
                ).alias("jump_comp"),
            )
        )
        new_labels = (
            jump.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("jump_comp"),
                    F.coalesce(F.col("nbr_comp"), F.col("jump_comp")),
                ).alias("comp"),
            )
        )
        new_labels = reuse(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup candidate pairs -> (doc_id, cluster, is_representative).
    Representative = min doc id of the component (deterministic)."""
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster"),
        (F.col("node") == F.col("comp")).alias("is_representative"),
    )


def pagerank_fixed(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic.

    Iterative algorithms are normally impossible to oracle-check
    bit-for-bit because float summation order varies per engine; this
    implementation keeps every rank as an integer NUMERATOR over the
    common denominator ``N * (40 * outdeg)^k`` (damping 17/20, so one
    step multiplies the denominator by 40*outdeg), making the result
    a pure integer recurrence: any engine that sums the same int64
    values gets the same bits.  Requires a CONSTANT out-degree graph
    (asserted); general graphs fall back to per-node degree scaling,
    which reintroduces rationals -- out of scope here.

    Returns (node, pr_num long, pr double) after k = 3
    damped steps from the uniform start; ``pr = pr_num /
    (N * (40*outdeg)^k)``, a single exact-int-to-IEEE conversion.

    Scale shape: each step is one shuffle (join on src + aggregate on
    dst); the node side stays partitioned by node id across steps.
    int64 bound: numerators stay <= denominator = N*(40*outdeg)^k,
    so k=3, outdeg<=3 is safe for N up to ~5e12 nodes.
    """
    n = nodes.count()
    outdeg_rows = (
        edges.groupBy("src").count().select("count").distinct().collect()
    )
    assert len(outdeg_rows) == 1, "pagerank_fixed needs constant out-degree"
    outdeg = outdeg_rows[0]["count"]
    step = 40 * outdeg

    ranks = nodes.select(
        "node", F.lit(1).cast("long").alias("num")
    )
    e = edges.select("src", "dst")
    base = 1  # (40*outdeg)^k
    for _ in range(3):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum("num").alias("in_num"))
        )
        # teleport term (1-d)/N = 3/(20N) over the new denominator
        # N*(40*outdeg)^(k+1) is 6*outdeg*base; link term is
        # d * sum(pr_j)/outdeg = 17 * 2 * sum(num_j) over the same
        teleport = 6 * outdeg * base
        ranks = (
            nodes.select("node")
            .join(contrib, F.col("node") == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(34) * F.coalesce(F.col("in_num"), F.lit(0))
                ).cast("long").alias("num"),
            )
        )
        base *= step
    denom = float(n) * float(base)
    return ranks.select(
        "node",
        F.col("num").alias("pr_num"),
        (F.col("num").cast("double") / F.lit(denom)).alias("pr"),
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle counting by DEGREE-ORDERED orientation (the
    compact-forward / MapReduce NodeIterator++ scheme of Suri &
    Vassilvitskii, WWW 2011): orient every undirected edge from the
    lower-(degree, id) endpoint to the higher, enumerate length-2
    paths u->v->w along the orientation, and close each path against
    the oriented edge set.

    Why this shape at 100 TB: naive path enumeration explodes on hub
    nodes (a degree-d vertex yields d^2 wedges).  Orientation bounds
    every out-degree by O(sqrt(m)) regardless of skew -- the hub's
    wedges are charged to its (few) higher-degree neighbors -- so
    the wedge relation is at most m^{3/2} rows in adversarial
    graphs and near-linear on power-law ones.  The plan is three
    hash joins + one agg, all on edge keys; no windows, no driver
    state, AQE-skew-splittable.

    Input edges are deduplicated and self-loops dropped; each
    undirected edge may appear in either or both directions.
    Returns ONE row: (n_triangles long, n_edges long, n_wedges long).

    The deduped edge set and its orientation each feed three or more
    consumers (both wedge sides, the closure probe, the degree and
    edge counts) inside this one plan, where Spark reuses their
    identical shuffle exchanges, so neither is materialized: a lazy
    checkpoint would run those shuffles while the frame is built.
    Triangles and wedges come from ONE aggregation over the closure
    left-join, not separate passes.
    """
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orient by (degree, id): lower endpoint keeps the out-edge
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    oriented = (
        e.join(du, "u").join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(
                F.struct(F.col("v").alias("s"), F.col("u").alias("t"))
            )
            .alias("o")
        )
        .select("o.s", "o.t")
    )
    wedges = (
        oriented.alias("x")
        .join(
            oriented.alias("y"), F.col("x.t") == F.col("y.s")
        )
        .select(
            F.col("x.s").alias("a"),
            F.col("x.t").alias("b"),
            F.col("y.t").alias("c"),
        )
    )
    closed = wedges.join(
        oriented.select(
            F.col("s").alias("a"), F.col("t").alias("c")
        ).withColumn("_hit", F.lit(1)),
        ["a", "c"],
        "left",
    )
    stats = closed.agg(
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long")
        .alias("n_triangles"),
        F.count(F.lit(1)).alias("n_wedges"),
    )
    return stats.crossJoin(
        e.agg(F.count("*").alias("n_edges"))
    ).select("n_triangles", "n_edges", "n_wedges")
