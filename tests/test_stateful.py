"""Stateful streaming sessionization must agree with the oracle-checked
batch sessionization on the same input when the whole input arrives as
one micro-batch (gap logic identical; state carries across batches)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gistdex_spark.sources.tables import load_table
from gistdex_spark.streaming.events import as_event_time
from gistdex_spark.streaming.stateful import sessionize_stream
from tests.conftest import drain

SF = "/root/testdata/sf0.001"


def test_stateful_sessionize_matches_batch(spark):
    batch = load_table(spark, SF, "events")
    stream = (
        spark.readStream.schema(spark.read.parquet(f"{SF}/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    stream, batch = as_event_time(stream), as_event_time(batch)

    # Without this the processing-time timeout keeps scheduling no-data
    # batches and the availableNow query never ends (sessionize_stream).
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        q = (
            sessionize_stream(stream)
            .writeStream.format("memory")
            .queryName("sessions_state")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    drain(q, 180)

    # latest state per user (update mode may emit multiple rows per user)
    got = {
        r.user_id: (r.n_events, r.n_sessions)
        for r in spark.sql(
            """SELECT user_id, n_events, n_sessions FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) rn
                 FROM sessions_state) WHERE rn = 1"""
        ).collect()
    }

    from gistdex_spark.queries import REGISTRY

    expected = {
        str(r.user_id): (r.n_events, r.n_sessions)
        for r in REGISTRY["events_sessionize"](spark, SF).collect()
    }
    assert got == expected


def test_stateful_transitions_match_batch(spark):
    """Streaming transition increments summed over all emissions must
    equal the oracle-checked batch transition matrix."""
    from gistdex_spark.streaming.stateful import transitions_stream

    stream = (
        spark.readStream.schema(spark.read.parquet(f"{SF}/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    stream = as_event_time(stream)

    q = (
        transitions_stream(stream)
        .writeStream.format("memory")
        .queryName("transitions_state")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 180)

    got = {
        (r.prev_type, r.next_type): r.total
        for r in spark.sql(
            "SELECT prev_type, next_type, sum(n) AS total "
            "FROM transitions_state GROUP BY prev_type, next_type"
        ).collect()
    }

    from gistdex_spark.queries import REGISTRY

    expected = {
        (r.prev_type, r.next_type): r.n
        for r in REGISTRY["event_transitions"](spark, SF).collect()
    }
    assert got == expected


def test_track_transitions_state_carries_across_batches():
    """Unit-level: the last event persists in state, so a transition that
    straddles a micro-batch boundary is still counted."""
    import pandas as pd

    from gistdex_spark.streaming.stateful import track_transitions

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

        def setTimeoutDuration(self, ms):
            pass

    def batch(rows):
        return pd.DataFrame(
            rows, columns=["ts", "event_id", "event_type"]
        ).astype({"ts": "datetime64[us]"})

    st = FakeState()
    out1 = list(
        track_transitions(
            ("7",),
            iter([batch([("2024-01-01 00:00:01", 1, "view"),
                         ("2024-01-01 00:00:02", 2, "click")])]),
            st,
        )
    )[0]
    assert out1[["prev_type", "next_type", "n"]].values.tolist() == [
        ["view", "click", 1]
    ]
    # second batch: first event must pair with the click carried in state
    out2 = list(
        track_transitions(
            ("7",),
            iter([batch([("2024-01-01 00:00:03", 3, "purchase")])]),
            st,
        )
    )[0]
    assert out2[["prev_type", "next_type", "n"]].values.tolist() == [
        ["click", "purchase", 1]
    ]


def test_track_sessions_timeout_drops_state_and_emits_nothing():
    """A timeout call (no events) removes the user's state and emits no
    row. Before, it re-wrote the same state, re-armed the timeout and
    emitted a duplicate row, so idle users' state never expired."""
    from gistdex_spark.streaming.stateful import track_sessions

    class TimedOutState:
        exists = True
        hasTimedOut = True
        get = (5, 2, 1_700_000_000)

        def __init__(self):
            self.calls = []

        def update(self, v):
            self.calls.append("update")

        def setTimeoutDuration(self, ms):
            self.calls.append("setTimeoutDuration")

        def remove(self):
            self.calls.append("remove")

    st = TimedOutState()
    assert list(track_sessions(("7",), iter([]), st)) == []
    assert st.calls == ["remove"]
