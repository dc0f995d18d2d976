"""The document-frequency guard must keep a stopword-shingle corpus
subquadratic (functions/dedup.py default-ON max_df)."""

import pandas as pd
import pytest


def _stopword_corpus(spark, n=40):
    # every doc shares the same 5-word prefix (a corpus-wide stopword
    # run -> 3 shared shingles), then diverges into a unique tail
    rows = [
        (i, "the quick brown fox jumps " + " ".join(
            f"w{i}x{j}" for j in range(8)
        ))
        for i in range(n)
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        schema="doc_id long, text string",
    )


def test_stopword_shingles_pruned(spark):
    from raster_tools_spark.functions import dedup

    docs = _stopword_corpus(spark)
    sh = dedup._doc_shingles(docs).toPandas()
    # the shared prefix shingles appear in all 40 docs > max_df(40)=20
    assert "the quick brown" not in set(sh["shingle"])
    # unique-tail shingles survive
    assert (sh["shingle"].str.startswith("w0x")).any()


def test_stopword_corpus_subquadratic(spark, monkeypatch):
    from raster_tools_spark.functions import dedup

    docs = _stopword_corpus(spark)
    # with the guard, no pair shares a shingle -> zero candidates
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.01).count()
    assert pairs == 0
    # without the guard (a floor above the corpus size) the stopword
    # run pairs every doc with every doc
    monkeypatch.setattr(dedup, "MAX_DF_MIN", 40)
    pairs_raw = dedup.ngram_jaccard_pairs(docs, threshold=0.01).count()
    assert pairs_raw == 40 * 39 // 2


def test_default_max_df_heuristic():
    from raster_tools_spark.functions.dedup import default_max_df

    assert default_max_df(10) == 16   # floor for tiny corpora
    assert default_max_df(1000) == 500


def test_simhash_banding_has_full_recall(spark):
    """Pigeonhole property: banded candidates must find EVERY pair
    within max_hamming -- compare against a brute-force popcount over
    all pairs of signatures."""
    from itertools import combinations

    from raster_tools_spark.functions import dedup

    rows = [
        (i, " ".join(
            f"tok{(i * 13 + j * 7) % 23}" for j in range(30)
        ))
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        schema="doc_id long, text string",
    )
    sigs = {
        r.doc_id: r.simhash for r in dedup.simhash(docs).collect()
    }
    want = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_near_dup(docs).collect()
    }
    assert got == want
    assert len(want) > 0  # the fixture must actually contain pairs
