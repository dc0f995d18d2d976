"""anchored_span_pairs: planted shared spans are found, disjoint
texts aren't, and the hot-gram guard suppresses boilerplate."""
import hashlib

import pandas as pd

from raster_tools_spark.functions import dedup
from raster_tools_spark.functions.dedup import anchored_span_pairs


def _docs_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


def _has_anchor(span, k=32, p=4):
    """True iff the span contains at least one anchored k-gram."""
    for pos in range(len(span) - k + 1):
        h = hashlib.md5(span[pos: pos + k].encode()).hexdigest()
        if int(h[:8], 16) % p == 0:
            return True
    return False


def test_planted_span_pair_found(spark):
    # build a shared span long enough to certainly contain an anchor
    base = "the quick brown fox jumps over the lazy dog while "
    span = (base * 4)[:180]
    assert _has_anchor(span)
    rows = [
        (1, "prefix one " + span + " suffix alpha"),
        (2, "totally different lead-in " + span + " trailing text"),
        (3, "no overlap here at all just unrelated words repeated " * 3),
    ]
    out = anchored_span_pairs(_docs_df(spark, rows)).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_disjoint_docs_produce_no_pairs(spark):
    rows = [(i, f"document number {i} " + " ".join(
        f"w{i}_{j}" for j in range(40))) for i in range(6)]
    assert anchored_span_pairs(_docs_df(spark, rows)).count() == 0


def test_hot_gram_guard_suppresses_boilerplate(spark, monkeypatch):
    boiler = "standard license header text common to every file " * 3
    assert _has_anchor(boiler)
    rows = [(i, boiler + f" unique tail {i}") for i in range(8)]
    df = _docs_df(spark, rows)
    # guard at 50 docs: all 28 pairs appear; guard at 4 docs: none do
    assert anchored_span_pairs(df).count() == 28
    monkeypatch.setattr(dedup, "SPAN_MAX_DF", 4)
    assert anchored_span_pairs(df).count() == 0


def test_short_docs_are_skipped(spark):
    rows = [(1, "tiny"), (2, "also tiny"), (3, "x" * 31)]
    assert anchored_span_pairs(_docs_df(spark, rows)).count() == 0


def test_normalize_text_golden(spark):
    from raster_tools_spark.functions.text import normalize_text

    rows = [
        (1, "  HeLLo\tWoRld  "),
        (2, "tab\tand\nnewline"),
        (3, "a  b   c"),
        (4, "ümläut mix ok"),
    ]
    out = {r["doc_id"]: r for r in normalize_text(
        _docs_df(spark, rows)).collect()}
    assert out[1]["clean_text"] == "hello world"
    assert out[2]["clean_text"] == "tab and newline"
    assert out[3]["clean_text"] == "a b c"
    # non-ASCII chars drop, leaving the printable skeleton
    assert out[4]["clean_text"] == "mlut mix ok"
    assert out[4]["n_chars_clean"] == len("mlut mix ok")
