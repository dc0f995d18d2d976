"""Resume convergence: a pending unit that produces ZERO output rows
still gets a manifest row (rows=0), so replays skip it instead of
re-processing it forever (ADVICE round-1, manifest.py)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_tools_spark import manifest


def test_empty_unit_gets_manifest_row(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "man")
    work = spark.createDataFrame(
        pd.DataFrame({"unit": [1, 2, 3], "v": [10, 20, 30]}),
        schema="unit long, v long",
    )

    calls = []

    def process(pending):
        calls.append(pending.count())
        # unit 2 yields no output at all (e.g. all tiles skip-empty)
        return pending.filter(F.col("unit") != 2)

    inc1 = manifest.run_with_manifest(
        spark, work, "unit", process, out_dir, man_dir, "job"
    ).toPandas().set_index("unit")
    assert sorted(inc1.index) == [1, 2, 3]
    assert inc1.loc[2, "rows"] == 0
    assert inc1.loc[1, "rows"] == 1

    # replay: nothing pending -> process not called again
    manifest.run_with_manifest(
        spark, work, "unit", process, out_dir, man_dir, "job"
    )
    assert calls == [3]

    # a first commit whose units all yield nothing writes no data file
    inc = manifest.run_with_manifest(
        spark, work, "unit", lambda p: p.filter(F.lit(False)),
        str(tmp_path / "out_empty"), str(tmp_path / "man_empty"), "job",
    )
    assert sorted((r.unit, r.rows) for r in inc.collect()) == [
        (1, 0), (2, 0), (3, 0)
    ]


def test_read_manifest_empty_only_without_committed_data(spark, tmp_path):
    """Only a manifest directory with no committed data file -- here
    just the ``_temporary/`` a crashed first commit leaves -- reads as
    empty.  A corrupt manifest raises instead of silently re-running
    and overwriting every unit."""
    crashed = tmp_path / "crashed"
    (crashed / "_temporary" / "0").mkdir(parents=True)
    (crashed / "_temporary" / "0" / "part-00000.parquet").write_bytes(b"x")
    assert manifest.read_manifest(spark, str(crashed)).count() == 0

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        manifest.read_manifest(spark, str(corrupt)).count()

    calls = []
    work = spark.createDataFrame([(1, 10)], schema="unit long, v long")
    with pytest.raises(Exception):
        manifest.run_with_manifest(
            spark, work, "unit", lambda p: calls.append(1) or p,
            str(tmp_path / "out"), str(corrupt), "job",
        )
    assert calls == []


def _nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def test_pending_units_broadcasts_the_manifest(spark, tmp_path):
    """The resume filter must not shuffle the work rows.  A fresh
    manifest is an empty relation that the optimizer folds, so the plan
    has no join and no exchange at all; a committed one is broadcast
    into the anti-join."""
    man_dir = str(tmp_path / "man")
    work = spark.createDataFrame(
        pd.DataFrame({"unit": [1, 2, 3], "bytes": [b"a", b"bb", b"ccc"]}),
        schema="unit long, bytes binary",
    )
    for committed in (False, True):
        if committed:
            spark.createDataFrame(
                [("job", 2, 1, 1, 0.0, 0.0)], manifest.MANIFEST_SCHEMA
            ).write.parquet(man_dir)
        pending = manifest.pending_units(work, spark, man_dir, "job")
        plan = pending._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # the prepared, unexecuted plan
        if committed:
            joins = [n for n in _nodes(plan)
                     if n.nodeName() == "BroadcastHashJoin"
                     and n.joinType().toString() == "LeftAnti"]
            assert len(joins) == 1, plan.toString()
            payload_side = [n.nodeName() for n in _nodes(joins[0].left())]
        else:
            payload_side = [n.nodeName() for n in _nodes(plan)]
            assert not [n for n in payload_side if "Join" in n], \
                plan.toString()
        assert not [n for n in payload_side if "Exchange" in n], payload_side
        assert sorted(r.unit for r in pending.collect()) == (
            [1, 3] if committed else [1, 2, 3]
        )
