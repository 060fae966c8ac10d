"""Spark 4 Python DataSource (chunk_jsonl): round-trip, hive-style
partition pruning, filter pushdown enforcement, and abort cleanup."""

from __future__ import annotations

import os

import pytest

from gistdex_spark.sources.jsonl_source import (
    ChunkJsonlDataSource,
    ChunkJsonlReader,
    _list_jsonl,
)
from tests.conftest import drain

ROWS = [
    ("s1", 0, "alpha", "en"),
    ("s1", 1, "beta", "en"),
    ("s2", 0, "gamma", "ja"),
    ("s3", 0, "delta", "de"),
]
COLS = ["source_id", "chunk_index", "content", "lang"]


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(ChunkJsonlDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark


def test_write_read_roundtrip(registered, tmp_path):
    spark = registered
    d = str(tmp_path / "store")
    df = spark.createDataFrame(ROWS, COLS)
    df.write.format("chunk_jsonl").option("path", d).mode("append").save()
    assert os.path.exists(os.path.join(d, "_SUCCESS"))
    back = spark.read.format("chunk_jsonl").option("path", d).load()
    assert sorted(tuple(r) for r in back.collect()) == sorted(ROWS)
    assert [f.name for f in back.schema.fields] == COLS


def test_partitioned_layout_and_directory_pruning(registered, tmp_path):
    spark = registered
    d = str(tmp_path / "parted")
    spark.createDataFrame(ROWS, COLS).write.format("chunk_jsonl").option(
        "path", d
    ).option("partition_col", "lang").mode("append").save()
    # hive-style dirs per lang
    subdirs = {p for p in os.listdir(d) if "=" in p}
    assert subdirs == {"lang=en", "lang=ja", "lang=de"}

    back = spark.read.format("chunk_jsonl").option("path", d).option(
        "partition_col", "lang"
    ).load()
    got = back.filter(back.lang == "ja").collect()
    assert [(r.source_id, r.content) for r in got] == [("s2", "gamma")]

    # pruning is observable at the partition-planning level: only the
    # matching directory's files survive
    reader = ChunkJsonlReader(
        back.schema, {"path": d, "partition_col": "lang"}
    )
    from pyspark.sql.datasource import EqualTo

    residual = list(reader.pushFilters([EqualTo(("lang",), "ja")]))
    assert residual == []  # fully absorbed
    parts = reader.partitions()
    assert len(parts) == 1 and "lang=ja" in parts[0].path
    assert len(_list_jsonl(d)) >= 3  # but every lang's files exist on disk


def test_filter_pushdown_enforced_row_level(registered, tmp_path):
    spark = registered
    d = str(tmp_path / "flat")
    spark.createDataFrame(ROWS, COLS).write.format("chunk_jsonl").option(
        "path", d
    ).mode("append").save()
    back = spark.read.format("chunk_jsonl").option("path", d).load()
    # GreaterThan pushed and enforced in the Python reader
    got = back.filter(back.chunk_index > 0).collect()
    assert [(r.source_id, r.chunk_index) for r in got] == [("s1", 1)]
    # combined filters
    got2 = back.filter((back.lang == "en") & (back.chunk_index > 0)).collect()
    assert [(r.content) for r in got2] == ["beta"]


def test_unsupported_filter_kept_as_residual(registered, tmp_path):
    from pyspark.sql.datasource import EqualTo

    spark = registered
    d = str(tmp_path / "resid")
    spark.createDataFrame(ROWS, COLS).write.format("chunk_jsonl").option(
        "path", d
    ).mode("append").save()
    back = spark.read.format("chunk_jsonl").option("path", d).load()
    # IsNotNull / In etc. are not absorbed; Spark must still evaluate them —
    # end-to-end result stays correct either way
    got = back.filter(back.lang.isin("en", "de")).collect()
    assert len(got) == 3

    reader = ChunkJsonlReader(back.schema, {"path": d})
    class Fake(EqualTo):
        pass
    # nested attribute path → residual
    residual = list(reader.pushFilters([EqualTo(("a", "b"), 1)]))
    assert len(residual) == 1


def test_overwrite_mode_replaces(registered, tmp_path):
    spark = registered
    d = str(tmp_path / "ow")
    df = spark.createDataFrame(ROWS, COLS)
    df.write.format("chunk_jsonl").option("path", d).mode("append").save()
    df.limit(1).write.format("chunk_jsonl").option("path", d).mode(
        "overwrite"
    ).save()
    back = spark.read.format("chunk_jsonl").option("path", d).load()
    assert back.count() == 1


def test_stream_reads_only_new_files_across_batches(spark, tmp_path):
    """The streaming form of the source: a checkpointed availableNow run
    picks up exactly the files appended since the previous run."""
    import json as _json

    root = tmp_path / "landing"
    root.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def emit(name, rows):
        with open(root / name, "w", encoding="utf-8") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    emit("seq-000.jsonl", [
        {"source_id": "s1", "chunk_index": 0, "content": "a", "lang": "en"},
        {"source_id": "s1", "chunk_index": 1, "content": "b", "lang": "en"},
    ])
    emit("seq-001.jsonl", [
        {"source_id": "s2", "chunk_index": 0, "content": "c", "lang": "ja"},
    ])

    from gistdex_spark.sources.jsonl_source import ChunkJsonlDataSource

    try:
        spark.dataSource.register(ChunkJsonlDataSource)
    except Exception:
        pass  # already registered by another test in this session

    out = str(tmp_path / "out")

    def run_batch():
        q = (
            spark.readStream.format("chunk_jsonl")
            .option("path", str(root))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 120)

    def sunk():
        return {
            (r.source_id, r.chunk_index)
            for r in spark.read.parquet(out).collect()
        }

    run_batch()
    first = sunk()
    assert first == {("s1", 0), ("s1", 1), ("s2", 0)}

    emit("seq-002.jsonl", [
        {"source_id": "s3", "chunk_index": 0, "content": "d", "lang": "en"},
    ])
    run_batch()
    # only the new file's rows were appended — no re-read of old files
    assert sunk() == first | {("s3", 0)}


def test_stream_backlog_drains_in_bounded_batches(spark, tmp_path):
    """A cold start against a backlog must drain over several bounded
    micro-batches (maxFilesPerTrigger), not one unbounded driver batch —
    and still deliver every row exactly once."""
    import json as _json

    from gistdex_spark.sources.jsonl_source import (
        ChunkJsonlDataSource,
        ChunkJsonlStreamReader,
        DEFAULT_SCHEMA,
    )

    root = tmp_path / "landing"
    root.mkdir()
    for i in range(5):
        with open(root / f"seq-{i:03d}.jsonl", "w", encoding="utf-8") as fh:
            fh.write(_json.dumps({
                "source_id": f"s{i}", "chunk_index": 0,
                "content": f"c{i}", "lang": "en",
            }) + "\n")

    # Unit level: each read() takes at most maxFilesPerTrigger files and
    # advances the watermark to the last file TAKEN.
    from pyspark.sql.types import StructType

    rdr = ChunkJsonlStreamReader(
        StructType.fromDDL(DEFAULT_SCHEMA),
        {"path": str(root), "maxFilesPerTrigger": "2"},
    )
    off = rdr.initialOffset()
    seen, batches = [], 0
    while True:
        rows, off2 = rdr.read(off)
        if off2 == off:
            break
        assert len(rows) <= 2
        seen.extend(rows)
        off = off2
        batches += 1
    assert batches == 3  # 2 + 2 + 1
    assert {r[0] for r in seen} == {f"s{i}" for i in range(5)}

    # End-to-end: a SimpleDataSourceStreamReader snapshots one offset per
    # availableNow run, so a capped cold start drains INCREMENTALLY across
    # checkpointed runs — 2 files, then 2, then 1 — never one unbounded
    # driver batch, and never skipping or re-reading a file.
    try:
        spark.dataSource.register(ChunkJsonlDataSource)
    except Exception:
        pass
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("chunk_jsonl")
            .option("path", str(root))
            .option("maxFilesPerTrigger", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 120)
        return {r.source_id for r in spark.read.parquet(out).collect()}

    assert len(run_once()) == 2
    assert len(run_once()) == 4
    assert run_once() == {f"s{i}" for i in range(5)}
