"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` (the Structured Streaming extension point
for state machines the built-in windowed aggs can't express —
SURVEY.md custom-operator policy (b)).

Semantics (matches the batch formulation in operators/events.sessionize
and the native session_window twin): events for a user belong to one
session while consecutive gaps are ≤ `gap`; a larger gap closes the
session.  A closed session is EMITTED as soon as the batch that closes
it is processed; the trailing open session stays in state and is
emitted when the state times out (no events for `state_timeout`).

State per user: (session_start_us, last_ts_us, n_events, total_value)
— fixed-size, so total state = O(active users), the property that
keeps this runnable forever on an unbounded stream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("closed_by", T.StringType()),  # 'gap' | 'timeout'
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

US = 1_000_000


def _sessionize_group(gap_us: int, flush_timeout_ms: int | None):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # no new events: flush the pending session
            if state.exists:
                start_us, last_us, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "session_start": [pd.Timestamp(start_us, unit="us")],
                        "session_end": [pd.Timestamp(last_us, unit="us")],
                        "n_events": [n],
                        "closed_by": ["timeout"],
                    }
                )
            return

        ts_us = pd.concat([p["ts"] for p in pdfs]).astype("int64").sort_values() // 1000
        # pandas datetime64[ns] → int64 ns; //1000 → µs
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = int(ts_us.iloc[0])
            n = 0
        out = {k: [] for k in ("user_id", "session_start", "session_end", "n_events", "closed_by")}
        for t in ts_us:
            t = int(t)
            if n > 0 and t - last_us > gap_us:
                out["user_id"].append(user_id)
                out["session_start"].append(pd.Timestamp(start_us, unit="us"))
                out["session_end"].append(pd.Timestamp(last_us, unit="us"))
                out["n_events"].append(n)
                out["closed_by"].append("gap")
                start_us, n = t, 0
            last_us = t
            n += 1
        state.update((start_us, last_us, n))
        if flush_timeout_ms is not None:
            state.setTimeoutDuration(flush_timeout_ms)
        if out["user_id"]:
            yield pd.DataFrame(out)

    return fn


def streaming_sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    flush_timeout_ms: int | None = 600_000,
) -> DataFrame:
    """events stream (user_id, ts, ...) → closed-session stream.

    ``flush_timeout_ms`` controls the trailing-session flush: with a
    processing-time timeout, pending sessions are emitted after that
    much quiet time (continuous-stream mode).  Pass ``None`` for
    NoTimeout — gap-closed sessions only — which also lets an
    availableNow run terminate on its own (a query with registered
    timeouts keeps running to fire them)."""
    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if flush_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group(gap_minutes * 60 * US, flush_timeout_ms),
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )
