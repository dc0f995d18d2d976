"""Round-5 additions: HLL sketch, BM25 scoring, line-level dedup,
Bloom-prefiltered semi-join, and the grouped-quantile parity
assumptions the grouped_quantile oracle leans on."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_tools_spark.functions import bloom, dedup, sketch, text


# ---------------------------------------------------------------------------
# HLL
# ---------------------------------------------------------------------------

def test_hll_accuracy_and_determinism(spark):
    # 2000 distinct values, one key: estimate within the ~13% (1.04/8)
    # standard error band for m = 64
    df = spark.createDataFrame(
        [(1, f"u{i}") for i in range(2000)], "key int, v string"
    )
    out = sketch.hll_distinct(df, "key", "v").collect()[0]
    assert abs(out["estimate"] - 2000) / 2000 < 0.40
    # estimate is a pure function of the value SET: duplicating every
    # row and reversing order changes nothing
    df2 = spark.createDataFrame(
        [(1, f"u{i}") for i in reversed(range(2000))] * 2,
        "key int, v string",
    )
    out2 = sketch.hll_distinct(df2, "key", "v").collect()[0]
    assert out2["estimate"] == out["estimate"]
    assert out2["n_regs"] == out["n_regs"]


def test_hll_small_range_correction(spark):
    # 3 distinct values: linear-counting branch, still deterministic
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (1, "a")], "key int, v string"
    )
    out = sketch.hll_distinct(df, "key", "v").collect()[0]
    assert out["n_regs"] <= 3
    assert 1.0 <= out["estimate"] < 10.0


def test_hll_null_values_dropped(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, None), (2, None)], "key int, v string"
    )
    rows = sketch.hll_distinct(df, "key", "v").collect()
    # key 2 had only NULLs -> vanishes (same contract as kmv_distinct)
    assert {r["key"] for r in rows} == {1}


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (0, "spark query engine"),
            (1, "spark spark spark fast"),
            (2, "unrelated words only here"),
            (3, "query planner"),
        ],
        "doc_id long, text string",
    )


def test_bm25_matches_reference_formula(docs):
    out = {
        r["doc_id"]: r
        for r in text.bm25_scores(docs, ["spark", "query"]).collect()
    }
    # doc 2 has no query terms -> filtered out
    assert 2 not in out
    # reference implementation in plain python
    import math

    corpus = {
        0: "spark query engine",
        1: "spark spark spark fast",
        2: "unrelated words only here",
        3: "query planner",
    }
    n = len(corpus)
    words = {d: t.split(" ") for d, t in corpus.items()}
    avgdl = sum(len(w) for w in words.values()) / n
    for doc_id, r in out.items():
        score = 0.0
        dl = len(words[doc_id])
        for term in ("spark", "query"):
            tf = words[doc_id].count(term)
            df = sum(1 for w in words.values() if term in w)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            score += idf * (
                tf * (1.2 + 1.0)
                / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl / avgdl)))
            )
        assert r["score"] == pytest.approx(
            np.floor(score * 10000.0) / 10000.0, abs=1e-4
        )
    # higher raw tf with same dl-ish -> higher score for the hot doc
    assert out[1]["score"] > out[3]["score"]


# ---------------------------------------------------------------------------
# line-level dedup
# ---------------------------------------------------------------------------

def test_line_dedup_drops_hot_keeps_order(spark):
    boiler = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (0, f"alpha\n{boiler}\nbravo"),
            (1, f"{boiler}\ncharlie"),
            (2, f"delta\n{boiler}"),
            (3, "echo\nfoxtrot"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(docs, min_df=3).collect()
    }
    assert out[0]["text_out"] == "alpha\nbravo"
    assert out[0]["n_total"] == 3 and out[0]["n_kept"] == 2
    assert out[1]["text_out"] == "charlie"
    assert out[2]["text_out"] == "delta"
    assert out[3]["text_out"] == "echo\nfoxtrot"


def test_line_dedup_doc_fully_dropped(spark):
    docs = spark.createDataFrame(
        [(0, "same"), (1, "same"), (2, "same\nunique")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(docs, min_df=2).collect()
    }
    # docs 0 and 1 lose their only line and disappear
    assert set(out) == {2}
    assert out[2]["text_out"] == "unique"


def test_line_dedup_within_doc_repeat_counts_once(spark):
    # a line repeated WITHIN one doc is 1 distinct doc -> survives
    docs = spark.createDataFrame(
        [(0, "x\nx\nx"), (1, "y")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(docs, min_df=2).collect()
    }
    assert out[0]["text_out"] == "x\nx\nx"


# ---------------------------------------------------------------------------
# bloom semi-join
# ---------------------------------------------------------------------------

def test_bloom_semi_join_exact_vs_plain_semi(spark):
    big = spark.range(0, 5000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("payload")
    )
    small = spark.createDataFrame(
        [(i * 7,) for i in range(40)], "k long"
    )
    got = (
        bloom.bloom_semi_join(big, small, "k")
        .orderBy("payload")
        .collect()
    )
    want = (
        big.join(small.distinct(), "k", "left_semi")
        .orderBy("payload")
        .collect()
    )
    assert [r["payload"] for r in got] == [r["payload"] for r in want]


def test_bloom_filter_rate(spark):
    # the prefilter alone (before the exact join) should pass all true
    # members and reject the vast majority of non-members
    keys = spark.createDataFrame([(i,) for i in range(1000)], "k long")
    bits, m_bits = bloom.build_bloom(keys, "k")
    arr = np.frombuffer(bits, dtype=np.uint64)
    member = bloom._positions(
        np.arange(1000, dtype=np.int64), 7, m_bits
    )
    hit = ((arr[member >> np.uint64(6)]
            >> (member & np.uint64(63))) & np.uint64(1)).all(axis=0)
    assert hit.all()
    probe = bloom._positions(
        np.arange(10_000, 60_000, dtype=np.int64), 7, m_bits
    )
    fp = ((arr[probe >> np.uint64(6)]
           >> (probe & np.uint64(63))) & np.uint64(1)).all(axis=0)
    assert fp.mean() < 0.02  # ~0.8% expected at 16 bits/key, k=7


# ---------------------------------------------------------------------------
# grouped quantile parity assumption
# ---------------------------------------------------------------------------

def test_percentile_interpolation_is_dyadic_exact(spark):
    # integer-valued input + quarter quantiles -> interpolation lands
    # on exact dyadics, which is what makes the DuckDB oracle
    # hash-exact; pin Spark's value against the closed form
    df = spark.createDataFrame(
        [(float(v),) for v in [1, 2, 4, 8]], "x double"
    )
    qs = df.agg(
        F.expr("percentile(x, array(0.25D, 0.5D, 0.75D))").alias("q")
    ).collect()[0]["q"]
    assert qs == [1.75, 3.0, 5.0]


# ---------------------------------------------------------------------------
# KMV set operations
# ---------------------------------------------------------------------------

def test_kmv_set_ops_small_sets_exact(spark):
    a = spark.createDataFrame([(v,) for v in range(10)], "v long")
    b = spark.createDataFrame([(v,) for v in range(5, 20)], "v long")
    r = sketch.kmv_set_ops(a, b, "v").collect()[0]
    # union 20 < k -> both sketches complete -> exact everywhere
    assert r["union_est"] == 20.0
    assert r["inter_est"] == 5.0
    assert r["jaccard_est"] == 0.25


def test_kmv_set_ops_estimates_track_truth(spark, monkeypatch):
    a = spark.createDataFrame([(v,) for v in range(1000)], "v long")
    b = spark.createDataFrame(
        [(v,) for v in range(500, 1500)], "v long"
    )
    monkeypatch.setattr(sketch, "KMV_K", 256)
    r = sketch.kmv_set_ops(a, b, "v").collect()[0]
    # truth: union 1500, inter 500, J = 1/3; k=256 -> ~6% rel error
    assert abs(r["union_est"] - 1500) / 1500 < 0.25
    assert abs(r["inter_est"] - 500) / 500 < 0.40
    assert abs(r["jaccard_est"] - 1 / 3) < 0.15
