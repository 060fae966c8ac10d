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
