"""Building a query on the driver (calling its builder, no action) must
stay cheap in py4j round trips.  Every Column or DataFrame call is at
least one round trip, so a fixed-shape expression assembled node by
node, or PySpark's per-call call-site capture, multiplies the build
cost of every query.  The bounds are half the warm-build counts of the
code before the fixed-shape expressions became single SQL-text
expressions and call-site capture was turned off; they are a gate, so
never raise them to get a pass."""

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from build_probe import SF, build_cost  # noqa: E402


@pytest.mark.parametrize("name, bound", [
    ("floor_level", 1520), ("zonal_rect", 904), ("pip_rect", 749),
])
def test_registry_build_round_trips(spark, name, bound):
    if not os.path.isdir(SF):
        pytest.skip(f"no scale-factor data at {SF}")
    from raster_tools_spark.queries import queries

    build = queries()[name]
    _, calls, _ = build_cost(spark, lambda: build(spark, SF), 1)
    assert calls <= bound, (name, calls)


@pytest.fixture(scope="module")
def layers(spark):
    from raster_tools_spark import synth

    return synth.images_df(spark, 64, tiles_axis=16), synth.polygons_df(
        spark, 12, tiles_axis=16
    )


def test_zonal_stats_build_round_trips(spark, layers):
    from raster_tools_spark.operators import tile, zonal

    images, polys = layers
    _, calls, _ = build_cost(spark, lambda: zonal.zonal_stats(
        tile.assign_cells(images, tiles_axis=16), polys), 1)
    assert calls <= 2634, calls


def test_pip_join_build_round_trips(spark, layers):
    from raster_tools_spark.operators import pip, tile

    images, polys = layers
    _, calls, _ = build_cost(spark, lambda: pip.pip_join(
        tile.assign_cells(images, tiles_axis=16), polys
    ).groupBy("feat_id").count(), 1)
    assert calls <= 1003, calls
