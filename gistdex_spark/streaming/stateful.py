"""Custom stateful streaming operator via applyInPandasWithState:
per-user session tracking with a 30-minute inactivity gap.

The batch form (`events_sessionize` in queries.py, oracle-checked) counts
sessions after the fact; this operator maintains LIVE per-user state —
open-session start, event count, session count — and emits a row per user
per micro-batch, expiring idle users through a processing-time timeout.

This is the `applyInPandasWithState` pattern from the Structured Streaming
programming guide: state is partitioned by the grouping key, so on a
1000-executor cluster each user's state lives in exactly one state-store
partition and the operator scales with the key cardinality.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

SESSION_GAP_SECONDS = 1800

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", StringType()),
        StructField("n_events", LongType()),
        StructField("n_sessions", LongType()),
        StructField("last_ts_epoch", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("n_sessions", LongType()),
        StructField("last_ts_epoch", LongType()),
    ]
)


def track_sessions(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's events into the user's running session state.

    Events inside a batch are sorted by timestamp; a gap > 30 min (against
    state carried across batches) opens a new session. A user idle for
    the whole gap times out: the state is dropped and no row is emitted,
    so a later event starts the user's counters afresh.
    """
    if state.hasTimedOut:
        state.remove()
        return
    (user_id,) = key
    if state.exists:
        n_events, n_sessions, last_ts = state.get
    else:
        n_events, n_sessions, last_ts = 0, 0, None

    for pdf in batches:
        ts = pdf["ts"].astype("int64") // 1_000_000_000  # ns → s epoch
        for t in sorted(ts):
            if last_ts is None or t - last_ts > SESSION_GAP_SECONDS:
                n_sessions += 1
            last_ts = int(t)
            n_events += 1

    state.update((n_events, n_sessions, last_ts))
    state.setTimeoutDuration(SESSION_GAP_SECONDS * 1000)
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n_events": n_events,
                "n_sessions": n_sessions,
                "last_ts_epoch": last_ts,
            }
        ]
    )


def sessionize_stream(events):
    """events stream (user_id, ts, ...) → live per-user session counters.

    Limit: the processing-time timeout makes Spark schedule no-data
    micro-batches while any state is live, so a
    ``trigger(availableNow=True)`` query over this operator never
    finishes on its own (measured on sf0.001: still active after 200 s,
    hundreds of no-data batches). Set
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` before
    ``start()`` to drain a backlog and stop; idle users' state then
    expires only when a later batch brings data.
    """
    return (
        events.selectExpr("CAST(user_id AS STRING) AS user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            track_sessions,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Live transition counting: the streaming counterpart of the oracle-checked
# batch `event_transitions` query (queries.py). State per user is the last
# event seen (epoch-us, event_id, type); each micro-batch emits the
# (prev_type, next_type) increments it observed, so a downstream sum over
# emissions equals the batch transition matrix when batches arrive in
# event-time order.
# ---------------------------------------------------------------------------

TRANSITION_OUTPUT = StructType(
    [
        StructField("user_id", StringType()),
        StructField("prev_type", StringType()),
        StructField("next_type", StringType()),
        StructField("n", LongType()),
    ]
)

# "" sentinel: applyInPandasWithState state rows cannot hold NULLs
# portably, and the first event of a user has no predecessor. The state
# is ONLY the last event type — the operator assumes micro-batches
# arrive in event-time order per user (an ordered landing zone, as the
# chunk_jsonl streaming source guarantees); it does not reorder late
# events across batches, so no timestamp belongs in the state.
TRANSITION_STATE = StructType([StructField("last_type", StringType())])


def track_transitions(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's events (sorted by ts, event_id — the batch
    query's exact order) into per-user last-event state; emit transition
    increments."""
    (user_id,) = key
    last_type = None
    if state.exists:
        (t,) = state.get
        last_type = t if t != "" else None

    frames = []
    for pdf in batches:
        sub = pdf[["ts", "event_id", "event_type"]].copy()
        sub["us"] = sub["ts"].astype("int64") // 1_000
        frames.append(sub[["us", "event_id", "event_type"]])

    counts: dict[tuple[str, str], int] = {}
    if frames:
        ordered = pd.concat(frames).sort_values(["us", "event_id"])
        for _us, _eid, typ in ordered.itertuples(index=False):
            if last_type is not None:
                k = (last_type, typ)
                counts[k] = counts.get(k, 0) + 1
            last_type = str(typ)

    state.update((last_type if last_type is not None else "",))
    yield pd.DataFrame(
        [
            {"user_id": user_id, "prev_type": a, "next_type": b, "n": n}
            for (a, b), n in counts.items()
        ],
        columns=["user_id", "prev_type", "next_type", "n"],
    )


def transitions_stream(events):
    """events stream → per-user (prev_type, next_type) count increments."""
    return (
        events.selectExpr(
            "CAST(user_id AS STRING) AS user_id", "ts", "event_id", "event_type"
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            track_transitions,
            outputStructType=TRANSITION_OUTPUT,
            stateStructType=TRANSITION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
