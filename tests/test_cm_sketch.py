"""Count-min sketch: structural bounds and the exactness cases the
cm_heavy oracle leans on (both engines rebuild the same md5-placed
table, so these tests pin the Spark side's semantics)."""
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_tools_spark.functions import sketch


@pytest.fixture(scope="module")
def corpus(spark):
    rows = (
        [("alpha",)] * 50 + [("beta",)] * 20 + [("gamma",)] * 5
        + [(f"rare{i}",) for i in range(200)]
    )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["tok"]), schema="tok string"
    )


def test_sketch_shape_and_mass(corpus, monkeypatch):
    monkeypatch.setattr(sketch, "CM_WIDTH", 64)
    sk = sketch.cm_sketch(corpus, "tok").toPandas()
    # at most depth x width cells, every count positive
    assert len(sk) <= 4 * 64
    assert (sk["cnt"] > 0).all()
    # every hash row carries the full corpus mass
    mass = sk.groupby("d")["cnt"].sum()
    assert set(mass.index) == {0, 1, 2, 3}
    assert (mass == 275).all()


def test_estimate_overcounts_never_under(spark, corpus, monkeypatch):
    items = spark.createDataFrame(
        pd.DataFrame(
            [("alpha", 50), ("beta", 20), ("gamma", 5),
             ("rare7", 1), ("absent", 0)],
            columns=["tok", "truth"],
        ),
        schema="tok string, truth long",
    )
    monkeypatch.setattr(sketch, "CM_WIDTH", 64)
    sk = sketch.cm_sketch(corpus, "tok")
    est = sketch.cm_estimate(sk, items, "tok")
    got = {
        r["item"]: r["estimate"]
        for r in est.collect()
    }
    truth = {"alpha": 50, "beta": 20, "gamma": 5, "rare7": 1,
             "absent": 0}
    for k, t in truth.items():
        assert got[k] >= t, (k, got[k], t)
    # a wide sketch is collision-free for the heavy item
    monkeypatch.setattr(sketch, "CM_WIDTH", 4096)
    wide = sketch.cm_sketch(corpus, "tok")
    est_w = sketch.cm_estimate(wide, items, "tok")
    got_w = {r["item"]: r["estimate"] for r in est_w.collect()}
    assert got_w["alpha"] == 50
    assert got_w["absent"] == 0


def test_null_and_merge_invariance(spark, monkeypatch):
    rows = pd.DataFrame(
        {"tok": ["x", None, "x", "y"]}
    )
    df = spark.createDataFrame(rows, schema="tok string")
    monkeypatch.setattr(sketch, "CM_DEPTH", 2)
    monkeypatch.setattr(sketch, "CM_WIDTH", 32)
    sk = sketch.cm_sketch(df, "tok").toPandas()
    assert sk.groupby("d")["cnt"].sum().eq(3).all()  # NULL dropped
    # repartitioning must not change a single cell (pure sums)
    sk2 = sketch.cm_sketch(df.repartition(7), "tok").toPandas()
    a = sk.sort_values(["d", "cell"]).reset_index(drop=True)
    b = sk2.sort_values(["d", "cell"]).reset_index(drop=True)
    assert a.equals(b)
