"""Custom stateful streaming operator: per-user SESSIONIZATION
(SURVEY.md section 2.8 "streaming-state" surface).

The reference's closest analog is its resume-serial bookkeeping --
long-running per-key state advanced by every new record.  The
streaming re-expression is ``applyInPandasWithState``: per user_id the
state holds the open session (start, last event ts, count, value sum);
an event within ``gap`` extends it, a later event closes it and opens
a new one; the event-time watermark closes sessions whose gap has
provably expired.

``sessionize_batch`` is the batch twin used as the parity oracle AND
the CORRECTNESS-gate query (plain window functions: a session starts
wherever the gap from the previous event exceeds the threshold) --
stream-vs-batch equality is pytest-checked the same way the windowed
aggs are.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_SECONDS_DEFAULT = 1800

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_v", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start", T.DoubleType()),   # epoch seconds
        T.StructField("last", T.DoubleType()),
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ]
)


def sessionize_batch(
    events: DataFrame, gap_seconds: int = GAP_SECONDS_DEFAULT
) -> DataFrame:
    """Batch twin: gap-based sessions per user via window functions.
    Returns (user_id, session_start, session_end, n_events, sum_v)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    marked = events.select(
        "user_id", "ts", "event_id", "value"
    ).withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("timestamp").cast("double")
            - F.lag(F.col("ts").cast("timestamp").cast("double")).over(w)
            > float(gap_seconds),
            1,
        )
        .otherwise(0)
        .cast("long"),
    ).withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return marked.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("sum_v"),
    ).drop("session_no")


def _session_fn(gap_seconds: int):
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        user_id = int(key[0])
        if state.hasTimedOut:
            start, last, n, s = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [
                        pd.Timestamp(int(start * 1e6), unit="us")
                    ],
                    "session_end": [
                        pd.Timestamp(int(last * 1e6), unit="us")
                    ],
                    "n_events": [int(n)],
                    "sum_v": [float(s)],
                }
            )
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        if state.exists:
            start, last, n, s = state.get
        else:
            start = last = None
            n, s = 0, 0.0
        closed = []
        for t_ in rows.itertuples():
            ts = t_.ts.timestamp()
            if last is not None and ts <= last:
                # late-but-within-watermark arrival inside the open
                # session's span: merge without moving the session end
                # backwards (exact whenever the late event falls within
                # [start, last]; an event late enough to BRIDGE two
                # already-separate sessions would need full history and
                # stays approximate -- documented limitation)
                start = min(start, ts)
                n += 1
                s += float(t_.value)
                continue
            if last is not None and ts - last > gap_seconds:
                closed.append((start, last, n, s))
                start, n, s = ts, 0, 0.0
            if start is None:
                start = ts
            last = ts
            n += 1
            s += float(t_.value)
        state.update((float(start), float(last), int(n), float(s)))
        state.setTimeoutTimestamp(
            int(last * 1000) + gap_seconds * 1000
        )
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [
                        pd.Timestamp(int(c[0] * 1e6), unit="us")
                        for c in closed
                    ],
                    "session_end": [
                        pd.Timestamp(int(c[1] * 1e6), unit="us")
                        for c in closed
                    ],
                    "n_events": [int(c[2]) for c in closed],
                    "sum_v": [float(c[3]) for c in closed],
                }
            )

    return fn


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = GAP_SECONDS_DEFAULT,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization: event-time watermark + per-user state;
    sessions emit when the gap provably expired (timeout) or when a
    later in-key event closes them."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_seconds),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
