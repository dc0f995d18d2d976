"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the correctness baseline.  Dot products via
  JVM-side ``aggregate(zip_with(...))`` higher-order functions -- no
  Python in the loop; candidates restricted by an equi-join key when
  provided.
- LSH-bucketed ANN: deterministic random-hyperplane signs derived from
  (plane, dim) hashes; vectors sharing a signature bucket are compared
  exactly.  The scale path: bucket join replaces the cross join.

Norms are precomputed once per side.  At 10^12 scale the brute-force
path is only for small query sets (it is a broadcast nested-loop of
|Q| x |C|); the LSH path is the default.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _stack_f64(col) -> "np.ndarray":
    """Stack an Arrow-delivered array column to an (n, dim) float64
    matrix.  float32 -> float64 widening is exact, matching the JVM
    ``x.cast("double")`` in _dot/_norm."""
    return np.array([np.asarray(x, dtype=np.float64) for x in col])


def _pairwise_floor_sims(qm, qn, cm, cn) -> "np.ndarray":
    """floor(dot(q, c) / (qn * cn) * 1e6) / 1e6 for every (q, c) pair,
    accumulated IN DIMENSION ORDER: acc starts at 0.0 and adds
    qm[:,d] * cm[:,d] products for d = 0, 1, ... -- the identical IEEE
    operation sequence as the JVM ``aggregate(zip_with(...))`` fold and
    the oracle's list_sum, so the scores are bit-for-bit the scores the
    expression path produced (vectorized across pairs, ordered within
    each pair)."""
    acc = np.zeros((qm.shape[0], cm.shape[0]))
    for d in range(qm.shape[1]):
        acc += qm[:, d][:, None] * cm[:, d][None, :]
    return np.floor(acc / (qn[:, None] * cn[None, :]) * 1000000.0) / 1000000.0


def _local_topk_rows(qids, qm, qn, cids, cm, cn, k):
    """Per-query local top-k candidate rows (qid, cid, sim) within one
    bucket/cluster, ordered by (sim desc, cid asc), self-pairs
    (qid == cid) excluded.  The LOCAL top-k is a superset argument:
    any pair in the GLOBAL top-k of a query ranks <= k inside every
    bucket that contains it (the bucket holds a subset of the query's
    global candidates), so emitting k per bucket and re-ranking the
    union globally reproduces row_number() over all candidates
    exactly."""
    out_q, out_c, out_s = [], [], []
    for lo in range(0, len(qids), 512):
        hi = min(lo + 512, len(qids))
        sims = _pairwise_floor_sims(qm[lo:hi], qn[lo:hi], cm, cn)
        for r in range(hi - lo):
            qid = qids[lo + r]
            mask = cids != qid
            row = sims[r][mask]
            cc = cids[mask]
            if len(cc) == 0:
                continue
            order = np.lexsort((cc, -row))[:k]
            out_q.extend([qid] * len(order))
            out_c.extend(cc[order])
            out_s.extend(row[order])
    return pd.DataFrame({"qid": out_q, "cid": out_c, "sim": out_s})


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(queries: DataFrame, candidates: DataFrame) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector, the query
    itself excluded.

    Returns (qid, cid, sim, rn) with sim rounded to 6 dp and
    deterministic tie-break on cid.
    """
    from .dedup import _spread

    q = queries.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    # the candidate corpus usually scans as fewer splits than cores
    # (single-row-group fixture parquet); spread it so the broadcast
    # nested-loop scoring runs at full width (no-op on real corpora)
    c = _spread(candidates, "vec_id").select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    pairs = q.crossJoin(c).filter(F.col("qid") != F.col("cid"))
    # floor-scale, not round(): engines disagree on decimal-tie
    # rounding of doubles, floor of the identical quotient cannot
    scored = pairs.withColumn(
        "sim",
        F.floor(
            _dot(F.col("qv"), F.col("cv"))
            / (F.col("qn") * F.col("cn"))
            * 1000000.0
        )
        / 1000000.0,
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("cid").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid", "sim", "rn")
    )


def _ensure_sized(vectors: DataFrame):
    """Sizing count without a second source scan: materialize the
    input once via an eager localCheckpoint so the count and the
    downstream pipeline share one materialization (otherwise a 100-TB
    corpus is scanned twice -- once by the eager count hidden in plan
    construction, once at execution).  localCheckpoint rather than
    persist: the blocks are released by the ContextCleaner when the
    DataFrame goes out of scope, instead of pinning executor storage
    for the application lifetime.

    Reliability trade-off: localCheckpoint stores NON-replicated
    blocks and truncates lineage, so losing any executor after the
    checkpoint fails the job unrecoverably; persist()+unpersist()
    would keep the lineage recomputable at the cost of a second scan
    on block loss.  The eager trigger also runs the upstream plan at
    query-CONSTRUCTION time, which surprises callers building plans
    lazily."""
    vectors = vectors.localCheckpoint(eager=True)
    return vectors, vectors.count()


TARGET_BUCKET_ROWS = 1024
MIN_PLANES = 8
MAX_PLANES = 32


def derive_n_planes(n_rows: int) -> int:
    """Corpus-scaled hyperplane count: enough planes that the EXPECTED
    bucket holds <= ``TARGET_BUCKET_ROWS`` vectors (buckets = 2^planes),
    so the within-bucket exact-cosine join stays O(n * target) instead
    of degrading toward O(n^2 / 2^const) at fixed plane count.  The
    formula is mirrored verbatim in the DuckDB oracle SQL
    (GREATEST/LEAST/ceil/log2), so derived counts stay a hard
    cross-engine check."""
    import math

    if n_rows <= TARGET_BUCKET_ROWS:
        return MIN_PLANES
    return max(
        MIN_PLANES,
        min(MAX_PLANES,
            math.ceil(math.log2(n_rows / TARGET_BUCKET_ROWS))),
    )


def _plane_matrix(n_planes: int, dim: int) -> np.ndarray:
    """Deterministic hyperplane directions from closed-form integer
    arithmetic: w[p,d] = (((p*8191 + d) * 2654435761) mod 2^31) / 2^30
    - 1.0, an exact dyadic rational in [-1, 1).  Crucially this is
    SQL-expressible, so the DuckDB oracle reconstructs the identical
    planes and the bucket assignment is a HARD cross-engine check (the
    previous Philox-keyed planes could only ever be rows-only)."""
    p = np.arange(n_planes, dtype=np.int64)[:, None]
    d = np.arange(dim, dtype=np.int64)[None, :]
    h = ((p * 8191 + d) * 2654435761) % (1 << 31)
    return h.astype(np.float64) / float(1 << 30) - 1.0


def lsh_band_sigs_udf(n_planes: int, dim: int, n_bands: int):
    """One signature per band; band ``b`` uses plane rows
    [b*n_planes, (b+1)*n_planes) of the shared closed-form matrix
    (minhash-style banding: a pair is a candidate if ANY band
    matches, trading extra candidates for recall)."""
    planes = _plane_matrix(n_bands * n_planes, dim)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sigs(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        n = len(m)
        out = np.zeros((n, n_bands), dtype=np.int64)
        for b in range(n_bands):
            for p in range(n_planes):
                acc = np.zeros(n, dtype=np.float64)
                for d in range(planes.shape[1]):
                    acc += m[:, d] * planes[b * n_planes + p, d]
                out[:, b] |= (acc > 0).astype(np.int64) << p
        return pd.Series(list(out))

    return sigs


def lsh_topk(vectors: DataFrame) -> DataFrame:
    """ANN: top-5 by exact cosine within each random-hyperplane bucket.

    The plane count is derived from the corpus size so expected
    bucket occupancy stays bounded (derive_n_planes) -- a fixed plane
    count makes the within-bucket join quadratic at large n.
    Two independent plane sets are probed and their candidates
    unioned (minhash-style banding) to recover recall lost to the
    larger plane count.  The join is an equi-join on (band, signature)
    -- the shape that scales (shuffle by bucket, no cross join).
    """
    vectors, n = _ensure_sized(vectors)
    n_planes = derive_n_planes(n)
    sigs = lsh_band_sigs_udf(n_planes, 64, 2)
    v = vectors.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")
    ).withColumn("sigs", sigs(F.col("vec"))).withColumn(
        "n", _norm(F.col("vec"))
    ).select(
        "vid", "vec", "n",
        F.posexplode("sigs").alias("band", "sig"),
    )
    # Within-bucket scoring runs as ONE grouped Arrow batch per
    # (band, sig) bucket: pairwise dots via ordered numpy accumulation
    # (bit-identical to the former per-pair JVM HOF fold -- see
    # _pairwise_floor_sims) and only the LOCAL top-k rows per query
    # leave the bucket.  The former shape materialized every candidate
    # pair (O(n * bucket) rows) through an interpreted
    # aggregate(zip_with(...)) fold and shuffled them all into one
    # global window -- measured 57 s at 20k vectors; this shape emits
    # <= 2 * 5 rows per query into the final window.
    id_type = dict(v.dtypes)["vid"]
    out_schema = f"qid {id_type}, cid {id_type}, sim double"

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        m = _stack_f64(pdf["vec"])
        ns = pdf["n"].to_numpy(dtype=np.float64)
        ids = pdf["vid"].to_numpy()
        return _local_topk_rows(ids, m, ns, ids, m, ns, 5)

    local = v.groupBy("band", "sig").applyInPandas(
        score_bucket, schema=out_schema
    )
    # a pair matching in several bands must be ranked once; sim is
    # identical wherever the pair was scored
    cand = local.dropDuplicates(["qid", "cid"])
    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("cid").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid", "sim", "rn")
    )


def _centroid_sims_udf(centroids: np.ndarray):
    """Cosine similarity of each vector to every centroid, accumulated
    in explicit dimension order (bit-identical to the oracle's
    list_sum).  Returns an array column of doubles in centroid order."""
    cents = centroids.astype(np.float64)
    cnorms = np.sqrt((cents * cents).sum(axis=1))

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def sims(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        n = len(m)
        vnorm = np.zeros(n)
        for d in range(m.shape[1]):
            vnorm += m[:, d] * m[:, d]
        vnorm = np.sqrt(vnorm)
        out = np.empty((n, len(cents)))
        for k in range(len(cents)):
            acc = np.zeros(n)
            for d in range(m.shape[1]):
                acc += m[:, d] * cents[k, d]
            out[:, k] = acc / (vnorm * cnorms[k])
        return pd.Series(list(out))

    return sims


def derive_n_centroids(n_rows: int) -> int:
    """IVF list count ~ sqrt(n) (the standard IVF sizing): expected
    list length and probe cost are then both O(sqrt(n)) -- total work
    per query nprobe * n / n_centroids = O(sqrt(n)) instead of O(n).
    The centroid table itself stays collectable on the driver
    (sqrt(10^12) ~= 10^6 rows of a 64-dim vector ~= 256 MB at the
    extreme; cap and shard beyond that)."""
    import math

    if n_rows <= 8 * 8:
        return 8
    return max(
        8,
        min(65536, int(math.isqrt(n_rows))),
    )


MAX_CLOSURE_CENTROIDS = 4096
# inverted lists each IVF query probes
IVF_NPROBE = 2


def _two_level_lists_and_probes(v, n_centroids, nprobe):
    """Two-level coarse quantizer for the IVF paths where sqrt(n)
    centroids no longer fit a task closure (n ~ 10^9+ vectors: the
    single-level closure is ~GB and every vector pays sqrt(n) dot
    products).  Level 1: <= MAX_CLOSURE_CENTROIDS super-centroids in a
    small closure.
    Level 2: the fine centroids stay a DATAFRAME -- each is assigned
    to its nearest super-group, vectors broadcast-join the fine
    centroids of their own super-group(s), and a row_number picks the
    nearest / top-nprobe fine lists.  Closure and per-vector dot cost
    both drop to O(cap + n_centroids / cap); the fine-centroid table
    is broadcast once instead of closed into every serialized task.
    Deterministic: ties break on centroid id everywhere."""
    import math

    n_super = max(8, min(MAX_CLOSURE_CENTROIDS,
                         math.isqrt(n_centroids)))
    super_rows = (
        v.select("vid", "vec")
        .filter(F.col("vid") < n_super)
        .orderBy("vid")
        .collect()
    )
    super_np = np.stack([np.asarray(r.vec) for r in super_rows])
    sims1 = _centroid_sims_udf(super_np)

    @F.pandas_udf(T.IntegerType())
    def g_assign(csims: pd.Series) -> pd.Series:
        m = np.stack(csims.to_numpy())
        return pd.Series(np.argmax(m, axis=1).astype(np.int32))

    n_probe_super = min(2, n_super)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def g_probe(csims: pd.Series) -> pd.Series:
        m = np.stack(csims.to_numpy())
        order = np.argsort(-m, axis=1, kind="stable")[:, :n_probe_super]
        return pd.Series(list(order.astype(np.int32)))

    fine = (
        v.select("vid", "vec")
        .filter(F.col("vid") < n_centroids)
        .withColumn("grp", g_assign(sims1(F.col("vec"))))
        .select(
            F.col("vid").alias("fcid"), F.col("vec").alias("fvec"),
            "grp",
        )
        .withColumn("fn", _norm(F.col("fvec")))
    )
    vg = v.withColumn("gs", g_probe(sims1(F.col("vec"))))
    # assignment: nearest fine centroid within the vector's TOP-1
    # super-group (standard hierarchical quantizer); the joined rows
    # never materialize -- broadcast join pipelines into the window
    asg = (
        vg.withColumn("grp", F.element_at("gs", 1))
        .join(F.broadcast(fine), "grp")
        .withColumn(
            "fsim", _dot(F.col("vec"), F.col("fvec"))
            / (F.col("n") * F.col("fn"))
        )
    )
    w1 = Window.partitionBy("vid").orderBy(
        F.col("fsim").desc(), F.col("fcid").asc()
    )
    lists = (
        asg.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") == 1)
        .select(
            F.col("vid").alias("cid"), F.col("vec").alias("cv2"),
            F.col("n").alias("cn"), F.col("fcid").alias("cluster"),
        )
    )
    # probing: top-nprobe fine lists across the top super-groups
    prb = (
        vg.select("vid", "vec", "n", F.explode("gs").alias("grp"))
        .join(F.broadcast(fine), "grp")
        .withColumn(
            "fsim", _dot(F.col("vec"), F.col("fvec"))
            / (F.col("n") * F.col("fn"))
        )
    )
    queries = (
        prb.withColumn("rnp", F.row_number().over(w1))
        .filter(F.col("rnp") <= nprobe)
        .select(
            F.col("vid").alias("qid"), F.col("vec").alias("qv"),
            F.col("n").alias("qn"), F.col("fcid").alias("cluster"),
        )
    )
    return lists, queries


def ivf_topk(vectors: DataFrame, n_centroids: int | None = None) -> DataFrame:
    """IVF-flat ANN: a coarse quantizer (the first ``n_centroids``
    vectors by id -- deterministic sampling) partitions the corpus into
    inverted lists; each query probes its ``IVF_NPROBE`` nearest lists
    and ranks its top-5 candidates by exact cosine.  The probe/list join is an
    equi-join on the cluster id -- the IVF shape that scales (shuffle
    by list, never all-pairs); recall < 1 by construction, raise
    ``IVF_NPROBE`` to trade cost for recall.  ``n_centroids=None``
    derives sqrt(n) lists (derive_n_centroids) from a sizing count.

    Beyond ``MAX_CLOSURE_CENTROIDS`` lists the quantizer goes TWO-
    LEVEL (see _two_level_lists_and_probes): the closure shipped to
    executors is bounded at the cap and the fine centroids move as a
    broadcast DataFrame -- the single-level path would close ~GB of
    centroids into every task at 10^9+ vectors."""
    nprobe = IVF_NPROBE
    if n_centroids is None:
        vectors, n = _ensure_sized(vectors)
        n_centroids = derive_n_centroids(n)

    v = vectors.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")
    ).withColumn("n", _norm(F.col("vec")))

    if n_centroids > MAX_CLOSURE_CENTROIDS:
        lists, queries = _two_level_lists_and_probes(v, n_centroids, nprobe)
    else:
        cents_rows = (
            vectors.select(F.col("vec_id").alias("cid_c"),
                           F.col("embedding").alias("cv"))
            .filter(F.col("cid_c") < n_centroids)
            .orderBy("cid_c")
            .collect()
        )
        centroids = np.stack([np.asarray(r.cv) for r in cents_rows])
        sims = _centroid_sims_udf(centroids)

        v = v.withColumn("csims", sims(F.col("vec")))

        @F.pandas_udf(T.IntegerType())
        def assign(csims: pd.Series) -> pd.Series:
            m = np.stack(csims.to_numpy())
            return pd.Series(np.argmax(m, axis=1).astype(np.int32))

        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def probe(csims: pd.Series) -> pd.Series:
            m = np.stack(csims.to_numpy())
            order = np.argsort(-m, axis=1, kind="stable")[:, :nprobe]
            return pd.Series(list(order.astype(np.int32)))

        lists = v.withColumn(
            "cluster", assign(F.col("csims"))
        ).select(
            F.col("vid").alias("cid"), F.col("vec").alias("cv2"),
            F.col("n").alias("cn"), "cluster",
        )
        queries = v.withColumn(
            "cluster", F.explode(probe(F.col("csims")))
        ).select(
            F.col("vid").alias("qid"), F.col("vec").alias("qv"),
            F.col("n").alias("qn"), "cluster",
        )
    # Per-list scoring runs as ONE cogrouped Arrow batch per inverted
    # list: pairwise dots via ordered numpy accumulation (bit-identical
    # to the former per-pair JVM HOF fold -- _pairwise_floor_sims) and
    # only the LOCAL top-k rows per (query, probed list) leave the
    # task.  The former shape materialized every (query, list-member)
    # pair -- nprobe * n^2 / n_centroids rows, measured 198 s at 20k
    # vectors / 32 lists -- through an interpreted fold plus one global
    # window; this shape feeds the window <= nprobe * 5 rows per query.
    # No cross-list dedup is needed: a candidate lives in exactly ONE
    # inverted list.  Global row_number over the union of local top-ks
    # equals row_number over all candidates (see _local_topk_rows).
    id_type = dict(v.dtypes)["vid"]
    out_schema = f"qid {id_type}, cid {id_type}, sim double"

    def score_list(qpdf: pd.DataFrame, lpdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(lpdf) == 0:
            return pd.DataFrame({"qid": [], "cid": [], "sim": []})
        return _local_topk_rows(
            qpdf["qid"].to_numpy(), _stack_f64(qpdf["qv"]),
            qpdf["qn"].to_numpy(dtype=np.float64),
            lpdf["cid"].to_numpy(), _stack_f64(lpdf["cv2"]),
            lpdf["cn"].to_numpy(dtype=np.float64), 5,
        )

    local = (
        queries.groupBy("cluster")
        .cogroup(lists.groupBy("cluster"))
        .applyInPandas(score_list, schema=out_schema)
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("cid").asc()
    )
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid", "sim", "rn")
    )


def embedding_near_dup(
    vectors: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded LSH buckets
    (corpus-scaled plane count, same shape as lsh_topk)."""
    vectors, n = _ensure_sized(vectors)
    n_planes = derive_n_planes(n)
    sigs = lsh_band_sigs_udf(n_planes, 64, 2)
    v = vectors.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")
    ).withColumn("sigs", sigs(F.col("vec"))).withColumn(
        "n", _norm(F.col("vec"))
    ).select(
        "vid", "vec", "n",
        F.posexplode("sigs").alias("band", "sig"),
    )
    a = v.select(F.col("vid").alias("doc_a"), F.col("vec").alias("va"),
                 F.col("n").alias("na"), "band", "sig")
    b = v.select(F.col("vid").alias("doc_b"), F.col("vec").alias("vb"),
                 F.col("n").alias("nb"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn(
            "sim",
            F.floor(
                _dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
                * 1000000.0
            )
            / 1000000.0,
        )
        .filter(F.col("sim") >= threshold)
        .select("doc_a", "doc_b", "sim")
    )
