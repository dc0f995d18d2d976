"""The engine's one materialization and fan-out policy.

``reuse(df)`` materializes a frame that has more than one consumer,
so the work behind it (a scan, a decode, a pandas UDF, a join) runs
once per query instead of once per consumer subtree.  Three rules:

1. Never checkpoint eagerly.  ``reuse`` is always a lazy
   ``localCheckpoint``: the first job that reads the frame stores its
   blocks, and later jobs read them.  A caller that needs a size calls
   ``reuse(df)`` and then ``count()``; the count's own job
   materializes the checkpoint, where an eager checkpoint would spend
   one more job first.  Lazy is not free when the frame has a shuffle
   below it: adaptive execution runs that shuffle's map stages when
   the checkpoint is built.  Frames whose consumers all sit in one
   plan share those exchanges anyway (Spark reuses identical ones),
   so they are not materialized at all (``graph.triangle_count``).
2. Call ``reuse`` before the frame's first consumer is derived.  A
   consumer built from the frame before the call reads the original
   plan, not the blocks, and runs that plan again.
3. ``fan_out(df, key)`` is the only parallelism-only repartition: a
   hash repartition by ``key`` to ``FAN_OUT`` times the default
   parallelism.  A small input scans as fewer splits than cores (one
   16 MB split at the fixture scale), and AQE's size-based coalescing
   would pack the data-tiny groups of a CPU-heavy explode or pandas
   UDF onto one task; an explicit count is exempt from coalescing,
   and the hash partitioning on ``key`` satisfies a following
   ``groupBy(key)`` without a second exchange.  There is no run-time
   probe of the input's partition count: asking for it plans the
   whole upstream on the driver, and a frame that comes out of a
   shuffle needs no fan-out.

Hazard: ``localCheckpoint`` blocks are not replicated and the lineage
behind them is cut, so losing one executor after the checkpoint fails
the query; it does not recompute.  The blocks are released when the
DataFrame is garbage-collected.  ``persist`` is not used: it registers
the frame in the session's CacheManager, which keeps the blocks until
an ``unpersist`` that nothing calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# fan_out's partitions per default-parallelism slot: two balance
# uneven per-group CPU (per-cell triangulations) better than one,
# for some tens of ms of task overhead on the smallest queries
FAN_OUT = 2


def reuse(df: DataFrame) -> DataFrame:
    """``df`` behind a lazy local checkpoint; derive every consumer
    from the returned frame."""
    return df.localCheckpoint(eager=False)


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """``df`` hash-repartitioned by ``key`` over ``FAN_OUT`` times the
    default parallelism."""
    n = df.sparkSession.sparkContext.defaultParallelism * FAN_OUT
    return df.repartition(n, key)
