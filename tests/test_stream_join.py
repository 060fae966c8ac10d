"""Stream-stream interval join == the equivalent batch join on the same
input (Dataflow invariant). Purchases x views within a 1-hour lookback per
user, AvailableNow trigger, memory sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from gistdex_spark.sources.tables import load_table
from gistdex_spark.streaming.events import as_event_time, run_availablenow
from gistdex_spark.streaming.joins import stream_interval_join
from tests.conftest import drain

SF = "/root/testdata/sf0.001"


def _event_stream(spark, etype):
    batch = load_table(spark, SF, "events")
    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{SF}/events.parquet").schema
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    stream, batch = as_event_time(stream), as_event_time(batch)
    pick = lambda df: df.filter(F.col("event_type") == etype).select(  # noqa: E731
        "user_id", "event_id", "ts"
    )
    return pick(stream), pick(batch)


def test_stream_interval_join_matches_batch(spark):
    p_stream, p_batch = _event_stream(spark, "purchase")
    v_stream, v_batch = _event_stream(spark, "view")

    q = run_availablenow(
        stream_interval_join(p_stream, v_stream),
        "stream_join_test",
        "append",
    )
    drain(q, 180)
    got = {
        (r.l_event_id, r.r_event_id)
        for r in spark.sql("SELECT * FROM stream_join_test").collect()
    }

    l, r = p_batch.alias("l"), v_batch.alias("r")
    cond = F.expr(
        "l.user_id = r.user_id AND r.ts >= l.ts - INTERVAL 1 hour"
        " AND r.ts <= l.ts"
    )
    expected = {
        (row["l_event_id"], row["r_event_id"])
        for row in l.join(r, cond, "inner")
        .select(
            F.col("l.event_id").alias("l_event_id"),
            F.col("r.event_id").alias("r_event_id"),
        )
        .collect()
    }
    assert expected, "batch join found no pairs — lookback too narrow?"
    assert got == expected


def test_stream_interval_join_left_outer_emits_after_watermark(spark, tmp_path):
    """leftOuter stream-stream join: the unmatched left row must emit with
    NULL right columns — but only after the global watermark passes its
    join horizon, which happens in a LATER batch than the crossing (the
    documented one-batch delay). Clock ticks on BOTH streams advance the
    min-watermark across three checkpointed availableNow runs."""
    from gistdex_spark.streaming.joins import stream_interval_join

    ldir, rdir = str(tmp_path / "left"), str(tmp_path / "right")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def emit(side, rows, name):
        (
            spark.createDataFrame(
                rows, "user_id BIGINT, event_id BIGINT, ts STRING"
            )
            .withColumn("ts", F.to_timestamp("ts"))
            .coalesce(1)
            .write.mode("append")
            .parquet(side)
        )

    # Run 1: one matched purchase (101<-201), one unmatched (102).
    emit(ldir, [(1, 101, "2024-01-01 10:00:00"),
                (2, 102, "2024-01-01 10:00:00")], "l1")
    emit(rdir, [(1, 201, "2024-01-01 09:30:00")], "r1")

    def run_once():
        left = spark.readStream.schema(
            "user_id BIGINT, event_id BIGINT, ts TIMESTAMP"
        ).parquet(ldir)
        right = spark.readStream.schema(
            "user_id BIGINT, event_id BIGINT, ts TIMESTAMP"
        ).parquet(rdir)
        q = (
            stream_interval_join(left, right, how="leftOuter")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 180)
        import os

        if not os.path.isdir(out):
            return set()
        return {
            (r.l_event_id, r.r_event_id)
            for r in spark.read.parquet(out).collect()
        }

    got1 = run_once()
    assert (101, 201) in got1  # inner match emits immediately
    assert not any(l == 102 for l, _ in got1)  # outer row still pending

    # Run 2: clock ticks on BOTH sides push the min-watermark past the
    # unmatched row's horizon (wm = 16:00 - 2h = 14:00 > 10:00)...
    emit(ldir, [(999, 901, "2024-01-01 16:00:00")], "l2")
    emit(rdir, [(999, 902, "2024-01-01 16:00:00")], "r2")
    run_once()

    # Run 3: one more tick forces the batch AFTER the crossing, where the
    # expired row finally emits with a NULL right side.
    emit(ldir, [(999, 903, "2024-01-01 17:00:00")], "l3")
    emit(rdir, [(999, 904, "2024-01-01 17:00:00")], "r3")
    got3 = run_once()
    assert (102, None) in got3, got3
    # and the matched row was never duplicated
    assert sum(1 for l, r in got3 if l == 101) == 1
