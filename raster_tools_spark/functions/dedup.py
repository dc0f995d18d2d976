"""Deduplication operators for training-data pipelines.

- exact dedup: hash-groupBy on md5(text) (O7 checksum-dedup analog,
  srtm/organize.py:17-43 in the reference uses an md5 set);
- n-gram Jaccard near-dup: word-shingle explode -> self-equi-join on
  shingle -> per-pair intersection counts -> Jaccard threshold;
- MinHash + LSH: k md5-minhashes over shingles, banded; candidate
  pairs share >= 1 band.  md5-based so the DuckDB oracle computes the
  identical signature;
- SimHash: 60-bit token-majority fingerprint via md5 bit votes
  (JVM-side md5+conv+bit arithmetic; oracle-checked -- DuckDB rebuilds
  the identical hash).

Scale notes: every join here is an equi-join on a hash/shingle key
(shuffle-friendly, AQE-skew-safe); nothing is quadratic except within a
shared shingle bucket, which is the standard LSH cost model.  The
Jaccard path prunes shingles occurring in > ``max_df`` docs (stopword
shingles otherwise create O(n^2) candidate blowup at corpus scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import fan_out, reuse

N_SHINGLE = 3
MINHASH_K = 8
LSH_BAND_ROWS = 2

# Document-frequency guard (default ON): shingles occurring in more
# than max(MAX_DF_MIN, MAX_DF_FRACTION * n_docs) documents are pruned
# before any self-join.  A corpus-wide stopword shingle ("of the and")
# otherwise pairs every doc with every doc -- O(n^2) candidates at
# 100 TB.  Fraction 0.5 only ever prunes shingles that appear in the
# majority of the corpus, which carry no near-dup signal anyway.
MAX_DF_FRACTION = 0.5
MAX_DF_MIN = 16
# the hot-gram guard of anchored_span_pairs: an anchor gram in more
# than this many documents is boilerplate and is not joined
SPAN_MAX_DF = 50
# levenshtein_near_dup keeps pairs within this edit distance
LEV_MAX_DIST = 6


def default_max_df(n_docs: int) -> int:
    return max(MAX_DF_MIN, int(n_docs * MAX_DF_FRACTION))


def shingles_of_words(words: Column) -> Column:
    """Distinct word N_SHINGLE-gram shingles from a words-array COLUMN.

    Important: take a materialized array column, not an inline
    ``split`` -- Catalyst does not common-subexpression-eliminate
    through higher-order-function lambdas, so an inline split would be
    re-evaluated for every element_at (measured ~25x slowdown)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - N_SHINGLE),
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, i + j + 1)
                   for j in range(N_SHINGLE)]
        ),
    )
    return F.array_distinct(grams)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash; representative = min
    doc_id (deterministic)."""
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def _doc_shingles(docs: DataFrame) -> DataFrame:
    sh = fan_out(docs, "doc_id").select(
        "doc_id", F.split(F.col("text"), " ").alias("_w")
    ).select(
        # explode_OUTER + null filter rather than explode: the inferred
        # generate filter would re-evaluate shingles_of_words at the
        # scan (see line_dedup); shingle elements are never null
        # (concat_ws), so this drops exactly the empty-array docs that
        # plain explode drops
        "doc_id",
        F.explode_outer(shingles_of_words(F.col("_w"))).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    # one count() job; on a parquet-backed docs table this is a
    # footer-metadata read, not a scan
    max_df = default_max_df(docs.count())
    # the document-frequency guard and the anti-join left side are
    # two consumers of the shingle pipeline; reuse the exploded
    # (doc_id, shingle) rows so the split/transform/explode runs once
    # (the hot-set job materializes them, the anti-join reads them)
    sh = reuse(sh)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.2) -> DataFrame:
    """Near-duplicate pairs by word-3-gram Jaccard similarity.

    jaccard = |S1 n S2| / (|S1| + |S2| - |S1 n S2|) over DISTINCT
    shingles.  Returns (doc_a, doc_b, inter, jaccard) for doc_a < doc_b
    and jaccard >= threshold.
    """
    sh = _doc_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
    )
    # filter on the UNROUNDED ratio (matching the oracle's filter) and
    # round only the reported column -- round-then-filter would pass a
    # pair at e.g. 0.0999996 that the oracle rejects
    raw = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(raw >= threshold)
        .select(
            "doc_a", "doc_b", "inter", F.round(raw, 6).alias("jaccard")
        )
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """MINHASH_K md5-minhash values per doc: for seed s,
    min(md5(s || shingle)).

    String-min over hex md5 == numeric min over the hash value; using
    md5 keeps the oracle (DuckDB) bit-identical.
    """
    sh = _doc_shingles(docs)
    # one-pass: k min-aggregates in a single hash agg (partial combine
    # map-side), then unpivot -- an 8x cheaper plan than exploding a
    # seed column into k times the rows
    aggs = [
        F.min(
            F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))
        ).alias(f"m{i}")
        for i in range(MINHASH_K)
    ]
    wide = sh.groupBy("doc_id").agg(*aggs)
    stack_expr = "stack({}, {}) as (seed, minhash)".format(
        MINHASH_K, ", ".join(f"{i}, m{i}" for i in range(MINHASH_K))
    )
    return wide.selectExpr("doc_id", stack_expr)


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """LSH banding: concat minhashes within a band; docs sharing any
    band key become candidate pairs (doc_a < doc_b, n_bands shared)."""
    sig = minhash_signatures(docs)
    bands = (
        sig.withColumn("band",
                       F.floor(F.col("seed") / LSH_BAND_ROWS).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col("minhash")))
            ).alias("band_key")
        )
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band", "band_key"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), "band", "band_key"
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash over whitespace tokens: per bit, the majority vote of
    token-hash bits.  Token hash = the first 15 hex chars of md5 as a
    60-bit integer -- pure JVM expressions (md5 + conv + bit
    arithmetic), and md5 gives the DuckDB oracle an identical hash, so
    the fingerprint is a HARD cross-engine check (xxhash64 previously
    forced a rows-only check)."""
    toks = fan_out(docs, "doc_id").select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10)
        .cast("long"),
    )
    agg_exprs = []
    for i in range(60):
        bit = F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))
        agg_exprs.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{i}")
        )
    per_doc = toks.groupBy("doc_id").agg(*agg_exprs)
    sim = F.lit(0).cast("long")
    for i in range(60):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            * F.lit(1 << i).cast("long")
        )
    return per_doc.select("doc_id", sim.alias("simhash"))


def contamination(train: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Benchmark-contamination screen: per training document, the
    fraction of its DISTINCT word N_SHINGLE-grams that occur anywhere
    in the evaluation corpus (the decontamination pass every training
    pipeline runs before SFT/eval; production uses longer n-grams,
    e.g. 13-grams).

    Scale shape: the eval corpus is benchmark-sized (small), so its
    distinct-shingle set is BROADCAST and the screen is a map-side
    hash join over the training shingles -- the 100 TB side is never
    shuffled.  Returns (doc_id, n_grams, n_hits, frac) with frac
    floor-scaled to 6 dp (cross-engine safe).
    """
    def sh_of(docs):
        return (
            fan_out(docs, "doc_id")
            .select(
                "doc_id", F.split(F.col("text"), " ").alias("_w")
            )
            .filter(F.size("_w") >= N_SHINGLE)
            .select(
                # explode_OUTER + null filter: plain explode infers a
                # size()/isnotnull generate filter that Catalyst
                # substitutes into the narrow scan stage, re-running
                # the shingle transform there (see _doc_shingles)
                "doc_id",
                F.explode_outer(
                    shingles_of_words(F.col("_w"))
                ).alias("shingle"),
            )
            .filter(F.col("shingle").isNotNull())
        )

    tsh = sh_of(train)
    esh = sh_of(eval_docs).select("shingle").distinct().withColumn(
        "hit", F.lit(1)
    )
    # ONE pass over the (100 TB) training shingles: the broadcast
    # left-join marks hits in place, and a single aggregation yields
    # both the total and the hit count
    joined = (
        tsh.join(F.broadcast(esh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
    )
    return joined.withColumn(
        "frac",
        F.floor(
            F.col("n_hits").cast("double") / F.col("n_grams")
            * 1000000.0
        ) / 1000000.0,
    )


def banded_hamming_pairs(
    sig: DataFrame, id_col: str, hash_col: str,
    max_hamming: int, bits: int, n_bands: int,
    out_a: str = "doc_a", out_b: str = "doc_b",
) -> DataFrame:
    """Generic banded Hamming near-dup pairing over ANY integer
    fingerprint column (SimHash, DCT pHash, audio band fingerprints,
    md5-derived signatures): slice the ``bits``-bit hash into
    ``n_bands`` equal bands; by pigeonhole any pair within
    ``max_hamming <= n_bands - 1`` flips shares one identical band,
    so candidates come from an EQUI-join on (band, slice) -- never
    all-pairs -- with the exact popcount filter applied JVM-side
    BEFORE the dedup shuffle.  Signed 64-bit hashes are fine: the
    arithmetic shiftright's sign-fill is cut by the band mask.
    Returns (out_a, out_b, hamming)."""
    assert max_hamming <= n_bands - 1, "pigeonhole needs bands > flips"
    width = bits // n_bands
    mask = (1 << width) - 1
    banded = sig.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h"),
        F.posexplode(
            F.array(*[
                F.shiftright(F.col(hash_col), b * width)
                .bitwiseAND(F.lit(mask))
                for b in range(n_bands)
            ])
        ).alias("band", "key"),
    )
    a = banded.select(
        F.col("_id").alias(out_a), F.col("_h").alias("_ha"),
        "band", "key",
    )
    b = banded.select(
        F.col("_id").alias(out_b), F.col("_h").alias("_hb"),
        "band", "key",
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col(out_a) < F.col(out_b))
        .withColumn(
            "hamming",
            F.bit_count(
                F.col("_ha").bitwiseXOR(F.col("_hb"))
            ).cast("int"),
        )
        # cheap JVM popcount filter BEFORE the dedup shuffle, so the
        # exchange carries only true near-dups, not every multi-band
        # candidate collision
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates([out_a, out_b])
        .select(out_a, out_b, "hamming")
    )


def simhash_near_dup(docs: DataFrame) -> DataFrame:
    """SimHash near-duplicate pairs at scale: band the 60-bit
    fingerprint into 4 equal slices; by pigeonhole, any pair within
    3 bit flips shares at least one identical band, so candidates
    come from an EQUI-join on (band, slice) -- never an all-pairs
    scan -- and the exact ``bit_count(xor)`` filter runs JVM-side on
    candidates only.
    Returns (doc_a, doc_b, hamming)."""
    return banded_hamming_pairs(
        simhash(docs), "doc_id", "simhash",
        max_hamming=3, bits=60, n_bands=4,
    )


# ---------------------------------------------------------------------------
# line-level corpus dedup (CCNet-style)
# ---------------------------------------------------------------------------

def line_dedup(docs: DataFrame, min_df: int = 2) -> DataFrame:
    """CCNet-style line-level corpus deduplication (Wenzek et al.
    2020): drop every line whose exact content occurs in >= ``min_df``
    DISTINCT documents (boilerplate headers, navigation menus, cookie
    banners at web scale), then reassemble each document from its
    surviving lines in original order.  Returns
    ``(doc_id, n_total, n_kept, text_out)`` for documents with at
    least one surviving line; ``n_dropped = n_total - n_kept``.

    Scale shape (100 TB): the document-frequency count shuffles the
    16-byte md5 of each line, never the line text; it partial-
    aggregates map-side, so the exchange carries one row per distinct
    (hash, doc) pair.  The resulting "hot line" set is tiny relative
    to the corpus (only lines repeated across >= min_df docs) and
    joins back LEFT ANTI -- AQE broadcasts it when it fits.
    Reassembly is one groupBy(doc) whose state is bounded by document
    length, not corpus size.  Nothing here is quadratic and no stage
    keys on raw text.

    Reference analog: the reference dedups rows/files by md5 checksum
    (srtm/organize.py:17-43); this is the same identity-by-hash move
    applied at sub-document granularity, the standard first stage of
    an LLM training-data pipeline.
    """
    base = fan_out(docs, "doc_id").select(
        "doc_id", F.split(F.col("text"), "\n").alias("_ls"),
    )
    # decision pass on HASHES only (guide section-8 shape: decide with
    # small rows, move the payload once): the exploded frame carries
    # (doc_id, pos, 32-hex md5) -- never the line text -- so both the
    # document-frequency shuffle and the keep-position shuffle move a
    # few dozen bytes per line instead of the line itself
    # posexplode_OUTER + null-pos filter == posexplode, but without
    # the InferFiltersFromGenerate size()/isnotnull predicate, which
    # Catalyst would substitute through the projection and push below
    # the fan-out exchange -- re-evaluating the caller's (possibly
    # expensive) text expression several times per row inside the
    # narrow scan stage (measured: the whole line_dedup fixture ran
    # single-task because of exactly that)
    lines = base.select(
        "doc_id",
        F.posexplode_outer("_ls").alias("pos", "line"),
    ).filter(F.col("pos").isNotNull()).select(
        "doc_id", "pos", F.md5(F.col("line")).alias("h")
    )
    hot = (
        lines.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("h")
    )
    kept = (
        lines.join(hot, "h", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("_keep"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    # re-attach the kept positions to the documents (equi-join on the
    # doc id; inner join == "documents with >= 1 surviving line") and
    # reassemble text locally from the original line array
    return base.join(kept, "doc_id").select(
        "doc_id",
        F.size("_ls").alias("n_total"),
        "n_kept",
        F.array_join(
            F.transform(
                F.col("_keep"),
                lambda i: F.element_at(F.col("_ls"), i + 1),
            ),
            "\n",
        ).alias("text_out"),
    )


def anchored_span_pairs(docs: DataFrame) -> DataFrame:
    """Span-level EXACT dedup (the ExactSubstr stage of training-data
    pipelines; complements line_dedup / rolling_fp): find document
    pairs sharing an identical 32-character substring, indexing only
    the ~1/4 content-defined ANCHOR grams.

    Every 32-gram position is hashed (md5, engine-portable); a gram is
    an anchor iff its hash class is 0 mod 4.  Anchoring is a pure
    function of CONTENT, so two documents sharing a long span sample
    the same anchors regardless of where the span sits in either
    document (alignment-invariant, unlike positional striding); a
    shared span of length >= 36 carries an anchor in expectation,
    and the index is ~4 times smaller than the full gram set.

    Scale shape: the corpus side is one projection + repartitioned
    mapInPandas batch pass (hashlib md5 over sliding byte windows --
    the per-position JVM md5 expression ran ~3.6 us/gram and, worse,
    inside however few tasks the parquet split produced, since the
    explode multiplies rows AFTER the scan split decision; measured
    49.8 s single-task at 50k docs).  Only the ~1/4 anchor grams cross
    back from Python.  The pair join is an equi-join on the 32-hex
    hash with a ``SPAN_MAX_DF`` hot-gram guard (boilerplate/license grams
    would otherwise pair quadratically -- same guard as ngram_jaccard).
    Output: (doc_a, doc_b, n_spans) with doc_a < doc_b.
    """
    id_type = dict(docs.dtypes)["doc_id"]

    def gen(batches):
        import hashlib

        md5 = hashlib.md5
        # anchor iff the first 8 hex chars (= first 4 bytes,
        # big-endian) are 0 mod 4 -- identical to
        # conv(substring(h, 1, 8), 16, 10) % 4 == 0.  4 divides 256,
        # so the big-endian value mod 4 equals the 4th byte mod 4 and
        # the hot loop tests one byte instead of building an int
        # (measured 0.92 -> 0.63 us/position with the zero-copy
        # memoryview windows below)
        for pdf in batches:
            ids, hs = [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                if txt is None or len(txt) < 32:
                    continue
                b = txt.encode("utf-8")
                if len(b) != len(txt):
                    # non-ASCII: substring() counts CHARS; hash the
                    # UTF-8 bytes of each char-window exactly as the
                    # JVM md5(substring(...)) did
                    windows = [
                        txt[pos : pos + 32].encode("utf-8")
                        for pos in range(len(txt) - 32 + 1)
                    ]
                else:
                    mv = memoryview(b)
                    windows = [
                        mv[pos : pos + 32]
                        for pos in range(len(b) - 32 + 1)
                    ]
                seen = set()
                add = seen.add
                iapp = ids.append
                happ = hs.append
                for wb in windows:
                    dig = md5(wb).digest()
                    if dig[3] % 4 == 0 and dig not in seen:
                        add(dig)
                        iapp(did)
                        happ(dig)
            import pandas as pd

            yield pd.DataFrame({"doc_id": ids, "h": hs})

    # h travels as the 16-byte digest, not 32 hex chars: the hash is
    # only ever a grouping/join key here (never output), and the
    # distinct + hot-guard + self-join exchanges all carry it -- half
    # the key bytes per row (guide: narrower types on the shuffle)
    anchored = fan_out(
        docs.select(F.col("doc_id"), F.col("text")), "doc_id"
    ).mapInPandas(gen, schema=f"doc_id {id_type}, h binary")
    # the per-document set above already collapses within-document
    # repeats, but the DISTINCT is kept deliberately: its exchange is
    # the materialization point that the hot-gram aggregate and BOTH
    # self-join sides reuse -- dropping it re-runs the Python anchor
    # pass once per consumer (measured 3.7 s -> 7.1 s)
    d = anchored.select("doc_id", "h").distinct()
    hot = (
        d.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > SPAN_MAX_DF)
        .select("h")
    )
    d = d.join(hot, "h", "left_anti")
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_spans"))
    )


def levenshtein_near_dup(docs: DataFrame) -> DataFrame:
    """Edit-distance near-dup pairs with BLOCKED candidate generation:
    lowercase-normalize, block on (first 16 chars), keep only pairs
    whose lengths differ by <= 8 (a free lower bound on edit
    distance), then score survivors with the exact JVM
    ``levenshtein`` and keep dist <= ``LEV_MAX_DIST``.

    Scale shape: the corpus NEVER self-joins -- the equi-join key is
    the prefix block, so candidate volume is sum over blocks of
    |block|^2, bounded in practice by the prefix selectivity (a
    boilerplate-heavy corpus needs a longer prefix or a
    ``max_df``-style hot-block drop if a block explodes).  The length
    band is applied INSIDE the join condition so over-length pairs
    die before the O(L^2) distance kernel, which runs whole-stage
    JVM-side (no Python).  Edit distance is exact unit-cost
    Levenshtein -- identical in Spark and DuckDB, so the operator is
    bit-checkable end to end.

    Returns (doc_a, doc_b, dist int) with doc_a < doc_b.
    """
    max_dist = LEV_MAX_DIST
    n = docs.select(
        F.col("doc_id").alias("_id"),
        F.lower(F.col("text")).alias("_t"),
    ).withColumn("_blk", F.substring("_t", 1, 16))
    a, b = n.alias("a"), n.alias("b")
    # dist <= max_dist implies |len(a) - len(b)| <= max_dist, so the
    # band can be tightened to min(8, max_dist) for free --
    # pairs in the gap would run the kernel only to be rejected
    eff_band = min(8, max_dist)
    # the distance threshold is the LAST conjunct of the join
    # condition on purpose: conjuncts evaluate in order, so the id
    # and length-band predicates kill most same-block pairs before
    # the O(L^2) kernel runs.  (A post-join .filter() would be pushed
    # INTO the join ahead of the cheap conjuncts by Catalyst's
    # predicate pushdown -- measured 6.7 s -> 0.5 s at sf0.1.)
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._id") < F.col("b._id"))
            & (
                F.abs(F.length("a._t") - F.length("b._t"))
                <= F.lit(eff_band)
            )
            # thresholded levenshtein runs the BANDED O(L * max_dist)
            # DP (early bail-out) instead of the full O(L^2) table;
            # it returns -1 when the distance exceeds the threshold,
            # so >= 0 is exactly dist <= max_dist
            & (F.levenshtein("a._t", "b._t", max_dist) >= 0),
        )
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            # recomputed ONLY for rows that survived the join -- the
            # O(pairs_out * L^2) cost is dwarfed by the candidate
            # filtering above (a join condition cannot emit a value)
            F.levenshtein("a._t", "b._t").alias("dist"),
        )
    )
