"""Custom stateful streaming operator: event sessionization via
``applyInPandasWithState`` — the Structured Streaming surface for operators
Spark lacks natively (SURVEY.md §2.9 note; the engine's only stateful op).

Groups an event stream by user, maintains per-user session state (start,
last-seen, count, value sum) and emits a session row whenever a gap larger
than ``gap_seconds`` closes the session (or the state times out). Works
identically over the testdata ``events`` table replayed as a stream.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (DoubleType, LongType, StructField, StructType,
                               TimestampType)

from ..functions.udfs import settle_worker_imports

SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
])

STATE_SCHEMA = StructType([
    StructField("start_us", LongType()),
    StructField("last_us", LongType()),
    StructField("n", LongType()),
    StructField("total", DoubleType()),
])


def sessionize(events: DataFrame, gap_seconds: int = 1800,
               ts_col: str = "ts", user_col: str = "user_id",
               value_col: str = "value") -> DataFrame:
    """events (streaming or batch-test via ``foreachBatch``) -> closed
    sessions. State key = user_id; a session closes when a new event
    arrives more than ``gap_seconds`` after the last, or on timeout."""
    gap_us = gap_seconds * 1_000_000

    def fn(key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState):
        settle_worker_imports()
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            state.remove()
            yield pd.DataFrame([{
                "user_id": user_id,
                "session_start": pd.Timestamp(start_us, unit="us"),
                "session_end": pd.Timestamp(last_us, unit="us"),
                "n_events": n, "total_value": total,
            }])
            return
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        ts_us = rows[ts_col].astype("datetime64[us]").astype("int64")
        vals = rows[value_col].astype(float).to_numpy()
        if state.exists:
            start_us, last_us, n, total = state.get
        else:
            start_us, last_us, n, total = int(ts_us.iloc[0]), None, 0, 0.0
            last_us = start_us - gap_us - 1  # force no-gap on first event
        closed = []
        for t, v in zip(ts_us, vals):
            t = int(t)
            if n > 0 and t - last_us > gap_us:
                closed.append((start_us, last_us, n, total))
                start_us, n, total = t, 0, 0.0
            if n == 0:
                start_us = t
            n += 1
            total += float(v)
            last_us = t
        state.update((start_us, last_us, n, total))
        state.setTimeoutDuration(gap_seconds * 1000)
        if closed:
            yield pd.DataFrame([{
                "user_id": user_id,
                "session_start": pd.Timestamp(s, unit="us"),
                "session_end": pd.Timestamp(e, unit="us"),
                "n_events": k, "total_value": tv,
            } for s, e, k, tv in closed])

    return (events.groupBy(user_col).applyInPandasWithState(
        fn, outputStructType=SESSION_SCHEMA, stateStructType=STATE_SCHEMA,
        outputMode="append", timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))
