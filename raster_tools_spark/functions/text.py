"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

All implementations are pure JVM-side column expressions (no UDFs at
all) so they stay inside whole-stage codegen; every one has an exact
DuckDB-SQL oracle (see __spark_entry__.oracle_sql).

Token convention: documents are single-space separated; token count is
computed arithmetically (spaces + 1) so the Spark and SQL versions are
bit-identical with no regex dialect risk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import fan_out, reuse

STOPWORDS_EN = ("the", "a", "of", "and", "to")


def token_count_col(text: Column) -> Column:
    """Whitespace token count: spaces + 1 (empty text -> 0)."""
    return F.when(F.length(text) == 0, F.lit(0)).otherwise(
        F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit(""))) + 1
    )


def alpha_ratio_col(text: Column) -> Column:
    """Fraction of [a-z] characters."""
    return F.length(F.regexp_replace(text, "[^a-z]", "")) / F.length(text)


def avg_word_len_col(text: Column) -> Column:
    return (
        F.length(F.replace(text, F.lit(" "), F.lit("")))
        / token_count_col(text)
    )


def stopword_ratio_col(text: Column) -> Column:
    """Fraction of tokens that are English stopwords."""
    toks = F.split(text, " ")
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS_EN))
    )
    return hits / F.size(toks)


def quality_scores(docs: DataFrame) -> DataFrame:
    """Per-document quality metrics (length / char-class / word-shape
    ratios), rounded for engine-exact comparison."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars_m"),
        token_count_col(t).alias("n_tokens"),
        F.round(alpha_ratio_col(t), 6).alias("alpha_ratio"),
        F.round(avg_word_len_col(t), 6).alias("avg_word_len"),
        F.round(stopword_ratio_col(t), 6).alias("stopword_ratio"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-profile language ID heuristic: predict 'en' when the
    text contains an English stopword token, else 'unk'; report
    agreement with the labeled lang."""
    toks = F.split(F.col("text"), " ")
    pred = F.when(
        F.arrays_overlap(toks, F.array(*[F.lit(s) for s in STOPWORDS_EN])),
        F.lit("en"),
    ).otherwise(F.lit("unk"))
    return (
        docs.select("doc_id", "lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bpe_ish_token_count(docs: DataFrame) -> DataFrame:
    """BPE-ish subword token counting via a dialect-portable regex:
    letter runs, digit runs, and single punctuation marks each count as
    one token (the coarse shape of a byte-pair pre-tokenizer).  Pure
    JVM regexp; the pattern uses only constructs Java regex and RE2
    (DuckDB) treat identically, so the oracle is exact."""
    pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(pat), 0)
        ).alias("bpe_ish_tokens"),
    )


def rolling_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003):
    base-256 polynomial rolling hash mod 1_000_003 over every 8-char
    gram, then the minimum hash of each full sliding window of 16
    grams; the DISTINCT minima are the document's fingerprints.

    All JVM expressions: gram positions via sequence+explode, the
    8-term Horner hash as a codegen'd arithmetic chain, the window
    minimum via a min() frame -- no Python, exact integer math that
    any oracle engine reproduces."""
    from pyspark.sql import Window as W

    n_grams = F.length(F.col("text")) - 8 + 1
    pos = docs.filter(n_grams >= 16).select(
        "doc_id",
        F.col("text").alias("_t"),
        F.explode(F.sequence(F.lit(1), n_grams)).alias("p"),
    )
    # Horner chain: h = ((...(c0*B + c1)*B + c2)...) % m per step
    acc = F.lit(0).cast("long")
    for j in range(8):
        c = F.ascii(F.expr(f"substring(_t, p + {j}, 1)")).cast("long")
        acc = (acc * F.lit(256).cast("long") + c) % F.lit(1_000_003)
    hashed = pos.select(
        "doc_id", "p", acc.alias("h"),
        (F.length("_t") - 8 + 1 - 16 + 1).alias("_maxp"),
    )
    win = W.partitionBy("doc_id").orderBy("p").rowsBetween(0, 16 - 1)
    fps = hashed.select(
        "doc_id",
        F.min("h").over(win).alias("fp"),
        "p", "_maxp",
    ).filter(F.col("p") <= F.col("_maxp"))
    return fps.groupBy("doc_id", "fp").agg(
        F.count(F.lit(1)).alias("n_windows")
    )


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText rule
    family: boilerplate and spam show up as n-gram repetition): per
    document, the fraction of word-bigram occurrences taken by the
    single most frequent bigram, and the fraction of word-trigram
    occurrences that are duplicates (non-first occurrences).  Pure
    JVM expressions (split -> transform -> explode -> two-level agg),
    floor-scaled to 6 dp so the DuckDB oracle is exact; only
    documents with >= 3 words qualify.  Returns (doc_id,
    top_bigram_frac, dup_trigram_frac)."""
    words = F.split(F.col("text"), " ")
    d = fan_out(docs, "doc_id").select(
        "doc_id", words.alias("w")
    ).filter(F.size("w") >= 3)

    def grams(n):
        # explode_OUTER: plain explode infers a size()/isnotnull
        # generate filter that Catalyst substitutes through the
        # projection into the narrow scan stage, re-running the whole
        # gram transform there; gram elements are never null
        # (concat_ws) and d guarantees non-empty arrays, so OUTER
        # changes nothing except suppressing that inferred filter
        return F.explode_outer(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - n),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at("w", i + j + 1) for j in range(n)],
                ),
            )
        )

    bstat = (
        d.select("doc_id", grams(2).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            (
                F.floor(
                    F.max("c").cast("double") / F.sum("c")
                    * 1000000.0
                ) / 1000000.0
            ).alias("top_bigram_frac")
        )
    )
    tstat = (
        d.select("doc_id", grams(3).alias("g"))
        .groupBy("doc_id")
        .agg(
            (
                F.floor(
                    (F.count(F.lit(1)) - F.countDistinct("g"))
                    .cast("double") / F.count(F.lit(1)) * 1000000.0
                ) / 1000000.0
            ).alias("dup_trigram_frac")
        )
    )
    return bstat.join(tstat, "doc_id")


EMAIL_PAT = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
PHONE_PAT = r"[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+"


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII scrubbing for corpus curation: count and redact email
    addresses and long digit runs (phone-ish) with typed
    placeholders.  Patterns restricted to constructs Java regex and
    RE2 (DuckDB) treat identically, so the oracle is exact; pure JVM
    regexp codegen, no shuffle at all.  Returns (doc_id, n_emails,
    n_phones, clean_fp) where clean_fp is the md5 of the redacted
    text (the downstream dedup key)."""
    t = F.col("text")
    emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_PAT), 0))
    cleaned = F.regexp_replace(
        F.regexp_replace(t, EMAIL_PAT, "<EMAIL>"),
        PHONE_PAT, "<PHONE>",
    )
    phones = F.size(
        F.regexp_extract_all(
            F.regexp_replace(t, EMAIL_PAT, "<EMAIL>"),
            F.lit(PHONE_PAT), 0,
        )
    )
    return docs.select(
        "doc_id",
        emails.alias("n_emails"),
        phones.alias("n_phones"),
        F.md5(cleaned).alias("clean_fp"),
    )


def oov_fraction(docs: DataFrame, vocab_size: int = 1000) -> DataFrame:
    """Out-of-vocabulary scoring against the corpus' OWN top-K
    vocabulary: the rank-based form of LM-quality filtering (docs
    full of tokens the corpus has never seen rank as noise), with no
    cross-engine float log-probs -- pure integer counts, so the
    DuckDB oracle is exact.  Vocabulary rank is deterministic:
    (count DESC, token ASC).

    Scale shape: pass 1 is a token count + distributed top-K
    (orderBy+limit = TakeOrdered, never a global sort); pass 2
    broadcasts the K-row vocabulary and left-joins token occurrences
    map-side -- the corpus-sized side never shuffles.  Returns
    (doc_id, n_tokens, oov_frac)."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    vocab = (
        toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("t").asc())
        .limit(vocab_size)
        .select("t", F.lit(1).alias("in_v"))
    )
    return (
        toks.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.floor(
                    F.sum(
                        F.when(F.col("in_v").isNull(), 1).otherwise(0)
                    ).cast("double")
                    / F.count(F.lit(1)) * 1000000.0
                ) / 1000000.0
            ).alias("oov_frac"),
        )
    )


def stratified_sample(docs: DataFrame, quotas: dict) -> DataFrame:
    """Deterministic language-balanced downsampling: keep a document
    iff its md5-derived uniform draw falls under its language's quota
    (percent).  The draw is a pure function of doc_id, so the
    sample is identical at any parallelism and reproducible by any
    engine with md5 -- the corpus-mixing primitive of training-data
    pipelines (downweight over-represented languages without a shuffle
    or an RNG).

    ``quotas``: {lang: keep_percent 0..100}; unlisted langs keep
    every document.  All JVM expressions: md5 of "strat1" || doc_id ->
    first 8 hex chars -> int -> % 100.
    """
    draw = (
        F.conv(F.substring(F.md5(F.concat(F.lit("strat1"), F.col("doc_id")
                                          .cast("string"))), 1, 8),
               16, 10)
        .cast("long") % 100
    )
    quota = F.lit(100)
    for lang, pct in sorted(quotas.items()):
        quota = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(quota)
    # filter on the expression directly: materializing a named column
    # would clobber any caller column that happens to share the name
    return docs.filter(draw < quota)


TARGET_DOCS_PER_SHARD = 1_000_000
MIN_SHARDS = 8


def derive_n_shards(n_docs: int) -> int:
    """Corpus-scaled shard count for the sequential packing walk:
    enough shards that the EXPECTED shard holds <=
    ``TARGET_DOCS_PER_SHARD`` documents, so each ``applyInPandas``
    group stays executor-memory-sized and the per-shard serial Python
    walk stays bounded (a fixed shard count puts n/const rows in one
    group -- OOM at 10^12 docs).  Mirrors similarity.derive_n_planes;
    the formula is mirrored verbatim in the DuckDB oracle SQL
    (GREATEST/ceil), so the derived count is a hard cross-engine
    check."""
    import math

    if n_docs <= TARGET_DOCS_PER_SHARD * MIN_SHARDS:
        return MIN_SHARDS
    return max(MIN_SHARDS, math.ceil(n_docs / TARGET_DOCS_PER_SHARD))


def pack_sequences(docs, budget: int):
    """Greedy sequential sequence packing (the pre-training batching
    op): walk each shard's documents in id order, filling packs of at
    most ``budget`` whitespace tokens; a document that would overflow
    starts the next pack (oversized documents get a pack of their
    own).  Sharding makes the inherently-sequential walk parallel --
    the order-sensitive state never crosses a shard, so the operator
    scales with the corpus: the shard count is derived from the corpus
    size (``derive_n_shards``, target ~1e6 docs/shard).
    Returns (doc_id, shard, n_tokens, pack_id); oracle = per-shard
    recursive CTE with the shard formula mirrored in SQL."""
    from pyspark.sql import functions as F

    # the sizing count materializes the corpus once for the pack too
    docs = reuse(docs)
    n_shards = derive_n_shards(docs.count())

    d = docs.select(
        "doc_id",
        (F.col("doc_id") % n_shards).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("long")
        .alias("n_tokens"),
    )

    def pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        ids = []
        fill = None
        cur = -1
        for nt in pdf["n_tokens"]:
            nt = int(nt)
            if fill is None or fill + nt > budget:
                cur += 1
                fill = nt
            else:
                fill += nt
            ids.append(cur)
        pdf["pack_id"] = ids
        return pdf[["doc_id", "shard", "n_tokens", "pack_id"]]

    return d.groupBy("shard").applyInPandas(
        pack,
        schema="doc_id long, shard long, n_tokens long, pack_id int",
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring (Okapi BM25, Robertson & Walker 1994)
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(docs: DataFrame, terms) -> DataFrame:
    """Okapi BM25 score of every document against a fixed small query
    term list.  Returns ``(doc_id, dl, score)`` for documents with
    score > 0, score floor-rounded to 4 dp.

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    score   = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Scale shape (100 TB): term frequencies are pure JVM expressions
    over the tokenized text (whole-stage codegen, no shuffle); the
    corpus statistics (N, per-term df, avgdl) reduce to ONE scalar row
    via a single partial-aggregated pass, which then joins back as a
    broadcast cross join -- the corpus side never shuffles.  The term
    list is compile-time small (a query, not a vocabulary), so the
    per-term tf columns are a fixed-width projection, not an explode.

    The per-term contributions are added in explicit list order (not a
    grouped SUM), so the floating-point association is deterministic
    and an external SQL engine reproduces the score bit-for-bit.
    """
    terms = list(terms)
    d = fan_out(docs, "doc_id").select(
        "doc_id", F.split(F.col("text"), " ").alias("_w"),
    ).select(
        "doc_id",
        F.size("_w").alias("dl"),
        # NB: the lambda must take exactly ONE parameter -- F.filter
        # interprets a second parameter as the element-index column,
        # silently shadowing any default-argument closure trick
        *[
            F.size(
                F.filter("_w", (lambda t: lambda w: w == F.lit(t))(t))
            ).alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    # the stats pass and the scoring pass would otherwise each
    # re-tokenize the corpus; reuse the tiny (doc_id, dl, tf*)
    # projection so tokenization runs once (the broadcast stats job
    # materializes it, scoring reuses the blocks)
    d = reuse(d)
    stats = d.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("dl").alias("_sumdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = d.crossJoin(F.broadcast(stats))
    k1, b = BM25_K1, BM25_B
    n = F.col("_n").cast("double")
    avgdl = F.col("_sumdl").cast("double") / n
    contrib = []
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}").cast("double")
        df = F.col(f"_df{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n - df + 0.5) / (df + 0.5))
        denom = tf + k1 * ((1.0 - b) + b * (F.col("dl").cast("double") / avgdl))
        contrib.append(idf * (tf * (k1 + 1.0) / denom))
    score = contrib[0]
    for c in contrib[1:]:
        score = score + c
    return (
        scored.select(
            "doc_id",
            "dl",
            (F.floor(score * 10000.0) / 10000.0).alias("score"),
        )
        .filter(F.col("score") > 0.0)
    )


def normalize_text(docs: DataFrame) -> DataFrame:
    """Corpus text normalization (the cleanup stage every training
    pipeline runs before dedup): lowercase, strip non-printable-ASCII
    bytes, collapse whitespace runs, trim.  Pure JVM regex in the
    Java/RE2-common dialect (same portability contract as
    redact_pii), zero shuffles; ``clean_fp`` (md5 of the normalized
    text) is the downstream exact-dedup key.

    Returns (doc_id, clean_text, n_chars_clean, clean_fp).
    """
    t = F.lower(F.col("text"))
    # whitespace chars -> plain space FIRST (so tabs/newlines act as
    # separators instead of being dropped by the printable filter),
    # then strip non-printables, then collapse the surviving spaces
    t = F.regexp_replace(t, r"\s", " ")
    t = F.regexp_replace(t, r"[^\x20-\x7e]+", "")
    t = F.trim(F.regexp_replace(t, r" +", " "))
    return docs.select(
        "doc_id",
        t.alias("clean_text"),
        F.length(t).alias("n_chars_clean"),
        F.md5(t).alias("clean_fp"),
    )
