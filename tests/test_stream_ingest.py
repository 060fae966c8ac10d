"""Streaming ingestion == batch ingestion (foreachBatch runs the same
pipeline), and re-delivery is idempotent via the store anti-join."""

from __future__ import annotations

import json

from gistdex_spark.api import GistdexSpark
from gistdex_spark.streaming.ingest import stream_index
from tests.conftest import drain


def _write_docs_json(spark, path, rows):
    import os

    os.makedirs(path, exist_ok=True)
    with open(f"{path}/docs.json", "w") as f:
        for sid, content in rows:
            f.write(json.dumps({"source_id": sid, "content": content}) + "\n")


def _read_stream(spark, path):
    return (
        spark.readStream.schema("source_id STRING, content STRING")
        .json(path)
    )


ROWS = [
    ("s1", "alpha beta gamma " * 40),
    ("s2", "delta epsilon zeta " * 40),
    ("s3", "eta theta iota " * 40),
]


def test_stream_ingest_matches_batch_store(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_docs_json(spark, src, ROWS)

    q = stream_index(
        _read_stream(spark, src),
        str(tmp_path / "stream_store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    drain(q, 120)

    batch_engine = GistdexSpark(spark, str(tmp_path / "batch_store"))
    batch_engine.index_text(
        spark.createDataFrame(ROWS, "source_id STRING, content STRING")
    )

    stream_engine = GistdexSpark(spark, str(tmp_path / "stream_store"))
    got = {
        (r.source_id, r.chunk_index, r.content)
        for r in stream_engine.chunks()
        .select("source_id", "chunk_index", "content")
        .collect()
    }
    expected = {
        (r.source_id, r.chunk_index, r.content)
        for r in batch_engine.chunks()
        .select("source_id", "chunk_index", "content")
        .collect()
    }
    assert got == expected and got


def test_stream_ingest_redelivery_is_idempotent(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_docs_json(spark, src, ROWS)
    store = str(tmp_path / "store")

    q = stream_index(
        _read_stream(spark, src), store,
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    drain(q, 120)
    n1 = GistdexSpark(spark, store).chunks().count()

    # Re-deliver the same sources through a FRESH checkpoint (simulated
    # replay): the store anti-join must skip every known source_id.
    q2 = stream_index(
        _read_stream(spark, src), store,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    drain(q2, 120)
    n2 = GistdexSpark(spark, store).chunks().count()
    assert n1 == n2 and n1 > 0


def test_stream_neardup_filter_matches_batch(spark, tmp_path):
    """Streaming admission decisions == batch simhash_pairs_between:
    near-dups of the static corpus are rejected, novel docs accepted."""
    from gistdex_spark.streaming.ingest import stream_neardup_filter

    static_docs = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog " * 10),
            (101, "pack my box with five dozen liquor jugs today " * 10),
        ],
        "doc_id BIGINT, text STRING",
    )
    incoming = [
        # near-identical to static 100 -> rejected
        (1, "the quick brown fox jumps over the lazy dog " * 10 + "extra"),
        # novel -> accepted
        (2, "completely different content about spark streaming " * 10),
        # near-identical to static 101 -> rejected
        (3, "pack my box with five dozen liquor jugs today " * 10 + "now"),
    ]
    src = str(tmp_path / "nd_src")
    _write_docs_json(
        spark, src, [(str(i), t) for i, t in incoming]
    )
    stream = (
        spark.readStream.schema("source_id STRING, content STRING")
        .json(src)
        .selectExpr("CAST(source_id AS BIGINT) AS doc_id", "content AS text")
    )
    out = str(tmp_path / "nd_out")
    q = stream_neardup_filter(
        stream, static_docs, out,
        checkpoint_dir=str(tmp_path / "nd_ckpt"),
    )
    drain(q, 120)

    got = {r.doc_id for r in spark.read.parquet(out).collect()}

    # batch reference: same operator, same decision
    from gistdex_spark.operators.dedup import simhash_pairs_between

    batch_df = spark.createDataFrame(incoming, "doc_id BIGINT, text STRING")
    rejected = {
        r.new_id
        for r in simhash_pairs_between(batch_df, static_docs).collect()
    }
    expected = {i for i, _ in incoming} - rejected
    assert got == expected
    assert 2 in got  # the novel doc was accepted

    # Redelivery guard: reprocessing the same input (fresh checkpoint =
    # everything replays) must not append duplicate rows to the store.
    q2 = stream_neardup_filter(
        stream, static_docs, out,
        checkpoint_dir=str(tmp_path / "nd_ckpt2"),
    )
    drain(q2, 120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == len({r.doc_id for r in rows}), "duplicate appends"
    assert {r.doc_id for r in rows} == expected


def test_stream_neardup_filter_stored_matches_recompute_form(spark, tmp_path):
    """Store-backed streaming admission == recompute-both-sides
    admission: same accepted set, with the static side read from the
    band-store signatures instead of re-tokenized text."""
    from gistdex_spark.sources.band_store import write_band_store
    from gistdex_spark.streaming.ingest import (
        stream_neardup_filter,
        stream_neardup_filter_stored,
    )

    static_docs = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog " * 10),
            (101, "pack my box with five dozen liquor jugs today " * 10),
        ],
        "doc_id BIGINT, text STRING",
    )
    store = str(tmp_path / "sig_store")
    write_band_store(static_docs, store)

    incoming = [
        (1, "the quick brown fox jumps over the lazy dog " * 10 + "extra"),
        (2, "completely different content about spark streaming " * 10),
        (3, "pack my box with five dozen liquor jugs today " * 10 + "now"),
    ]
    src = str(tmp_path / "nds_src")
    _write_docs_json(spark, src, [(str(i), t) for i, t in incoming])

    def run(factory, out, ckpt):
        stream = (
            spark.readStream.schema("source_id STRING, content STRING")
            .json(src)
            .selectExpr("CAST(source_id AS BIGINT) AS doc_id", "content AS text")
        )
        q = factory(stream, out, ckpt)
        drain(q, 120)
        return {r.doc_id for r in spark.read.parquet(out).collect()}

    got_stored = run(
        lambda s, out, ck: stream_neardup_filter_stored(
            s, store, out, checkpoint_dir=ck
        ),
        str(tmp_path / "nds_out"),
        str(tmp_path / "nds_ckpt"),
    )
    got_recompute = run(
        lambda s, out, ck: stream_neardup_filter(
            s, static_docs, out, checkpoint_dir=ck
        ),
        str(tmp_path / "ndr_out"),
        str(tmp_path / "ndr_ckpt"),
    )
    assert got_stored == got_recompute == {2}
