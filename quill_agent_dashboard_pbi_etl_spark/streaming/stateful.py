"""Custom stateful streaming operator: gap-based session CLOSING.

Spark's built-in ``session_window`` aggregation can window events, but it
cannot emit a *closed-session record with custom payload* (first/last event
ids, duration) exactly once at close time — that needs per-key state with
timeouts, i.e. ``applyInPandasWithState`` (SURVEY.md §2.7 extension surface;
the reference's dashboard treats an agent's burst of activity as one logical
work session).

Semantics:
  * Events for one AgentID are one session while consecutive event times are
    ≤ ``gap_minutes`` apart.
  * A session is emitted exactly once, when it CLOSES — either because a
    later event arrives > gap after it (in-batch or cross-batch), or because
    the event-time watermark passes ``last_event_time + gap`` (timeout).
  * Open sessions live in the state store; state size is O(active agents),
    bounded by the timeout — the same TTL discipline as the dedup ledger.

This is the (b)-tier custom-operator pattern from the build rules: built-in
ops can't express it, so it is an Arrow-batched stateful Pandas transform —
never row-at-a-time Python.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("AgentID", StringType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("first_event", StringType()),
        StructField("last_event", StringType()),
    ]
)

# State tuple: epoch-ms bounds + running payload for the OPEN session.
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_ms", LongType()),
        StructField("last_ms", LongType()),
        StructField("n", LongType()),
        StructField("first_event", StringType()),
        StructField("last_event", StringType()),
    ]
)


def _session_row(agent: str, s: tuple[int, int, int, str, str]) -> dict[str, Any]:
    return {
        "AgentID": agent,
        "session_start": pd.Timestamp(s[0], unit="ms"),
        "session_end": pd.Timestamp(s[1], unit="ms"),
        "n_events": s[2],
        "first_event": s[3],
        "last_event": s[4],
    }


def close_gap_sessions(
    fact: DataFrame,
    gap_minutes: int = 30,
    watermark_delay: str | None = "10 minutes",
    time_col: str = "EventTime",
    key_col: str = "AgentID",
    id_col: str = "EventID",
) -> DataFrame:
    """Closed per-agent sessions from a streaming fact DataFrame.

    One shuffle (groupBy key); state store persists open sessions across
    micro-batches and restarts via the checkpoint.

    Run this as its OWN consumer of the normalized stream (not downstream of
    the watermarked dedup stage): Spark disallows redefining a watermark, and
    the dedup ledger's 14-day delay would hold session timeouts open for two
    weeks. Pass ``watermark_delay=None`` if the input already carries one.
    """
    gap_ms = gap_minutes * 60_000

    def fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        agent = key[0]
        closed: list[dict[str, Any]] = []

        if state.hasTimedOut:
            # Watermark passed last+gap with no new events: flush and clear.
            if state.exists:
                closed.append(_session_row(agent, tuple(state.get)))
                state.remove()
            yield pd.DataFrame(closed, columns=[f.name for f in SESSION_OUTPUT_SCHEMA])
            return

        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(time_col)
        open_s: tuple[int, int, int, str, str] | None = (
            tuple(state.get) if state.exists else None
        )
        for ts, eid in zip(
            rows[time_col].astype("int64") // 1_000_000, rows[id_col].astype(str)
        ):
            ts = int(ts)
            if open_s is None:
                open_s = (ts, ts, 1, eid, eid)
            elif ts - open_s[1] > gap_ms:
                closed.append(_session_row(agent, open_s))
                open_s = (ts, ts, 1, eid, eid)
            else:
                open_s = (open_s[0], ts, open_s[2] + 1, open_s[3], eid)

        state.update(open_s)
        state.setTimeoutTimestamp(open_s[1] + gap_ms)
        yield pd.DataFrame(closed, columns=[f.name for f in SESSION_OUTPUT_SCHEMA])

    stream = fact
    if fact.isStreaming and watermark_delay is not None:
        stream = fact.withWatermark(time_col, watermark_delay)
    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

