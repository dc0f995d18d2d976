"""The one materialization and fan-out policy (``materialize.py``).

An AST scan over raster_tools_spark/, with no allowlist, fails on any
``.localCheckpoint``, ``.checkpoint``, ``.persist`` or ``.cache`` call
and on any ``.repartition`` given both a partition count and a key
outside ``materialize.py``: route a reused frame through
``materialize.reuse`` and a parallelism-only repartition through
``materialize.fan_out``."""

from __future__ import annotations

import ast
import os

from test_dead_code import ROOT, _parse_all

MATERIALIZE = ("localCheckpoint", "checkpoint", "persist", "cache")


def ad_hoc_sites(root=ROOT):
    """(path, line, method) of every materialization call and every
    count-plus-key repartition in the package outside materialize.py."""
    pkg = os.path.join(root, "raster_tools_spark") + os.sep
    home = os.path.join(pkg, "materialize.py")
    out = []
    for path, tree in _parse_all(root).items():
        if not path.startswith(pkg) or path == home:
            continue
        for n in ast.walk(tree):
            if not (isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)):
                continue
            name = n.func.attr
            sized = name == "repartition" and (
                len(n.args) >= 2
                or (n.args and any(k.arg == "numPartitions"
                                   for k in n.keywords))
            )
            if name in MATERIALIZE or sized:
                out.append((os.path.relpath(path, root), n.lineno, name))
    return sorted(out)


def test_no_ad_hoc_materialization_or_fan_out():
    assert ad_hoc_sites() == []


def test_scan_flags_planted_sites(tmp_path):
    pkg = tmp_path / "raster_tools_spark"
    pkg.mkdir()
    (pkg / "materialize.py").write_text(
        "def reuse(df):\n    return df.localCheckpoint(eager=False)\n"
        "def fan_out(df, key):\n    return df.repartition(8, key)\n")
    (pkg / "mod.py").write_text(
        "def f(df, n):\n"
        "    a = df.localCheckpoint(eager=False)\n"
        "    b = df.persist()\n"
        "    c = df.cache()\n"
        "    d = df.rdd.checkpoint()\n"
        "    e = df.repartition(n, 'k')\n"
        "    g = df.repartition('k', numPartitions=n)\n"
        "    # one file per key, and a plain count: not fan-outs\n"
        "    h = df.repartition('k').repartition(6)\n"
        "    return a, b, c, d, e, g, h\n")
    mod = os.path.join("raster_tools_spark", "mod.py")
    assert ad_hoc_sites(str(tmp_path)) == [
        (mod, 2, "localCheckpoint"), (mod, 3, "persist"),
        (mod, 4, "cache"), (mod, 5, "checkpoint"),
        (mod, 6, "repartition"), (mod, 7, "repartition"),
    ]


def test_triangle_count_leaves_no_cached_frame(spark):
    """``persist`` registers a frame in the session's CacheManager until
    an ``unpersist``; ``triangle_count`` shares its deduped edges
    through reused exchanges, and a lazy local checkpoint registers
    nothing there either."""
    from raster_tools_spark.functions import graph

    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], schema="src long, dst long"
    )
    row = graph.triangle_count(edges).collect()[0]
    assert row["n_triangles"] == 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
