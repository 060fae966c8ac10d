"""Structured Streaming over events: the stream result must equal the batch
result on the same input (Dataflow-model invariant). Uses a file stream
source over the test parquet + AvailableNow trigger + memory sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from gistdex_spark.sources.tables import load_table
from gistdex_spark.streaming.events import (
    as_event_time,
    dedup_stream,
    hourly_counts_stream,
    run_availablenow,
)
from tests.conftest import drain

SF = "/root/testdata/sf0.001"


def _stream_events(spark):
    batch = load_table(spark, SF, "events")
    # file-stream source requires a directory: point at the sf dir and
    # glob-filter down to the events file
    stream = (
        spark.readStream.schema(spark.read.parquet(f"{SF}/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    return as_event_time(stream), as_event_time(batch)


def test_hourly_counts_stream_matches_batch(spark):
    stream_src, batch = _stream_events(spark)
    q = run_availablenow(
        hourly_counts_stream(stream_src), "hourly_test", "append"
    )
    drain(q, 120)
    got = {
        (r.hour, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM hourly_test").collect()
    }
    expected = {
        (r.hour, r.event_type): (r.n_events, r.total_value)
        for r in (
            batch.groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .collect()
        )
    }
    # watermark may hold back the tail hour in append mode; everything
    # emitted must match the batch result exactly
    assert got, "stream produced no rows"
    for k, v in got.items():
        assert expected[k] == v, k
    assert len(got) >= len(expected) * 0.5


def test_dedup_stream_unique_ids(spark):
    stream_src, batch = _stream_events(spark)
    q = run_availablenow(dedup_stream(stream_src), "dedup_test", "append")
    drain(q, 120)
    out = spark.sql("SELECT event_id FROM dedup_test").collect()
    ids = [r.event_id for r in out]
    assert len(ids) == len(set(ids)), "duplicate event_id in deduped stream"
    assert len(ids) == batch.select("event_id").distinct().count()


def test_sliding_counts_stream_matches_batch(spark):
    from gistdex_spark.streaming.events import sliding_counts_stream

    stream_src, _batch = _stream_events(spark)
    q = run_availablenow(
        sliding_counts_stream(stream_src), "sliding_test", "append"
    )
    drain(q, 120)
    got = {
        (r.window_start_us, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM sliding_test").collect()
    }
    from gistdex_spark.queries import REGISTRY

    expected = {
        (r.window_start_us, r.event_type): (r.n_events, r.total_value)
        for r in REGISTRY["events_sliding_windows"](spark, SF).collect()
    }
    # Append mode only emits windows the watermark has closed, so the
    # tail windows (those still open when the backlog ends) are held
    # back; every window that WAS emitted must match batch exactly, and
    # the held-back tail must be small (bounded by watermark/slide slots
    # per event_type).
    assert got, "stream produced no rows"
    for k, v in got.items():
        assert expected[k] == v, k
    missing = set(expected) - set(got)
    assert len(missing) <= 3 * 12, f"too many held-back windows: {len(missing)}"


def test_dedup_within_watermark_matches_batch_distinct(spark):
    from gistdex_spark.streaming.events import dedup_within_watermark_stream

    stream_src, batch = _stream_events(spark)
    q = run_availablenow(
        dedup_within_watermark_stream(stream_src), "dedup_ww_test", "append"
    )
    drain(q, 120)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d "
                    "FROM dedup_ww_test").collect()[0]
    expected = batch.select("event_id").distinct().count()
    # every id exactly once, and nothing beyond the batch-distinct set
    assert got.n == got.d == expected


def test_enrich_stream_matches_batch_join(spark):
    from gistdex_spark.streaming.events import enrich_stream

    dim = spark.createDataFrame(
        [("click", "ui"), ("view", "ui"), ("purchase", "commerce")],
        schema="event_type string, category string",
    )
    stream_src, batch = _stream_events(spark)
    q = run_availablenow(
        enrich_stream(stream_src, dim), "enrich_test", "append"
    )
    drain(q, 120)
    got = {
        (r.category,): r.n
        for r in spark.sql(
            "SELECT category, count(*) AS n FROM enrich_test GROUP BY category"
        ).collect()
    }
    expected = {
        (r.category,): r.n
        for r in batch.join(dim, "event_type", "left")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected and got, "enriched stream must equal batch join"
