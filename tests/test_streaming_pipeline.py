"""The training-pipeline operators are stateless Catalyst projections, so
the SAME functions run unchanged over Structured Streaming — this pins that
a streamed corpus passes through quality gates / PII scrub / split
assignment with results identical to the batch run (Dataflow invariant)."""

from __future__ import annotations

from gistdex_spark.operators.pipeline import (
    pii_redact,
    repetition_stats,
    split_assign,
)
from gistdex_spark.sources.tables import load_table
from gistdex_spark.streaming.events import run_availablenow
from tests.conftest import drain

SF = "/root/testdata/sf0.001"


def _stream_documents(spark):
    batch = load_table(spark, SF, "documents")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF)
    )
    return stream, batch


def test_quality_gate_stream_matches_batch(spark):
    stream_src, batch = _stream_documents(spark)
    q = run_availablenow(
        repetition_stats(stream_src), "quality_stream_test", "append"
    )
    drain(q, 120)
    got = {
        r.doc_id: (r.unique_frac, r.top_word_frac, r.quality_pass)
        for r in spark.sql("SELECT * FROM quality_stream_test").collect()
    }
    expected = {
        r.doc_id: (r.unique_frac, r.top_word_frac, r.quality_pass)
        for r in repetition_stats(batch).collect()
    }
    assert got == expected  # stateless op: stream == batch, row for row


def test_pii_and_split_stream_matches_batch(spark):
    stream_src, batch = _stream_documents(spark)
    pipe = lambda df: split_assign(  # noqa: E731
        pii_redact(df, "text")
    ).select("doc_id", "n_emails", "n_digit_runs", "split")
    q = run_availablenow(pipe(stream_src), "pii_split_stream_test", "append")
    drain(q, 120)
    got = {
        r.doc_id: (r.n_emails, r.n_digit_runs, r.split)
        for r in spark.sql("SELECT * FROM pii_split_stream_test").collect()
    }
    expected = {
        r.doc_id: (r.n_emails, r.n_digit_runs, r.split)
        for r in pipe(batch).collect()
    }
    assert got == expected
