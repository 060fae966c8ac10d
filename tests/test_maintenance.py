"""Compaction and copy-on-write merge: content preserved, files reduced,
merge idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from gistdex_spark.sources.maintenance import (
    _parquet_files,
    compact_store,
    merge_upsert,
)
from tests.conftest import drain


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    df.repartition(64).write.parquet(path)
    assert len(_parquet_files(path)) >= 64

    before = df.collect()
    stats = compact_store(spark, path, target_mb=128)
    assert stats["files_before"] >= 64
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 4

    after = spark.read.parquet(path).collect()
    assert sorted(r.id for r in after) == sorted(r.id for r in before)
    assert {(r.id, r.v) for r in after} == {(r.id, r.v) for r in before}


def test_merge_upsert_updates_inserts_and_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "store")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], schema="k BIGINT, v STRING"
    ).write.parquet(path)

    updates = spark.createDataFrame(
        [(2, "B2"), (9, "new")], schema="k BIGINT, v STRING"
    )
    merge_upsert(spark, path, updates, key="k")
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (9, "new")}

    # idempotent: same updates -> same state
    merge_upsert(spark, path, updates, key="k")
    got2 = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got2 == got


def test_landing_zone_lifecycle(spark, tmp_path):
    """Composition of the ingest-side pieces: a chunk_jsonl landing zone
    streamed through foreachBatch indexing into the chunk store, then
    compacted — row counts survive every hop."""
    import json as _json

    from gistdex_spark.sources.jsonl_source import ChunkJsonlDataSource
    from gistdex_spark.streaming.ingest import stream_index

    try:
        spark.dataSource.register(ChunkJsonlDataSource)
    except Exception:
        pass

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "seq-000.jsonl", "w", encoding="utf-8") as fh:
        for i in range(6):
            fh.write(_json.dumps({
                "source_id": f"doc-{i}",
                "chunk_index": 0,
                "content": f"text number {i} " * 40,
                "lang": "en",
            }) + "\n")

    texts = (
        spark.readStream.format("chunk_jsonl")
        .option("path", str(landing))
        .load()
        .selectExpr("source_id", "content")
    )
    store = str(tmp_path / "store")
    q = stream_index(
        texts, store, checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="landing_ingest",
    )
    drain(q, 180)

    chunks = spark.read.parquet(store)
    n = chunks.count()
    assert n >= 6
    assert chunks.select("source_id").distinct().count() == 6

    stats = compact_store(spark, store, target_mb=128)
    assert stats["files_after"] <= stats["files_before"]
    assert spark.read.parquet(store).count() == n


def test_swap_crash_recovery_restores_backup(spark, tmp_path):
    """Crash inside the swap window (path renamed aside, new dir never
    moved in) must be recoverable: the next maintenance call restores the
    newest backup instead of failing with ENOENT."""
    import os

    from gistdex_spark.sources.maintenance import _recover_store, compact_store

    store = str(tmp_path / "store")
    spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(store)
    # Simulate the crash: table gone, data stranded in a .__bak-* sibling.
    os.rename(store, store + ".__bak-deadbeef")
    assert not os.path.exists(store)
    stats = compact_store(spark, store, target_mb=128)
    assert stats["files_after"] >= 1
    assert spark.read.parquet(store).count() == 10
    assert not os.path.exists(store + ".__bak-deadbeef")
    # Idempotent when nothing is wrong.
    assert _recover_store(store) is False


def test_swap_sweeps_superseded_backups(spark, tmp_path):
    """Crash after the second rename (backup never deleted) leaves a stale
    .__bak-* beside a healthy table; recovery must sweep it, not restore
    it over live data."""
    import os

    from gistdex_spark.sources.maintenance import _recover_store

    store = str(tmp_path / "store")
    spark.range(5).write.parquet(store)
    spark.range(3).write.parquet(store + ".__bak-00000000")
    os.makedirs(store + ".__tmp-11111111")
    assert _recover_store(store) is False
    assert spark.read.parquet(store).count() == 5  # live data untouched
    assert not os.path.exists(store + ".__bak-00000000")
    assert not os.path.exists(store + ".__tmp-11111111")


def test_delta_merge_and_optimize_when_available(tmp_path):
    """Delta-backed maintenance (gated: skips where the `delta` package
    isn't installed): MERGE INTO and OPTIMIZE must produce the same final
    state as the copy-on-write path."""
    import pytest

    pytest.importorskip("delta")
    from delta import configure_spark_with_delta_pip
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[2]")
        .appName("delta-maintenance")
        .config(
            "spark.sql.extensions",
            "io.delta.sql.DeltaSparkSessionExtension",
        )
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.catalog.spark_catalog."
            "DeltaCatalog",
        )
    )
    dspark = configure_spark_with_delta_pip(builder).getOrCreate()
    try:
        from gistdex_spark.sources.maintenance import (
            compact_store,
            merge_upsert,
        )

        store = str(tmp_path / "dstore")
        dspark.range(10).selectExpr(
            "id AS k", "id * 10 AS v"
        ).write.format("delta").save(store)
        updates = dspark.range(8, 12).selectExpr("id AS k", "id * 100 AS v")
        merge_upsert(dspark, store, updates, key="k")
        got = {
            r["k"]: r["v"]
            for r in dspark.read.format("delta").load(store).collect()
        }
        assert len(got) == 12
        assert got[9] == 900 and got[11] == 1100 and got[3] == 30
        stats = compact_store(dspark, store)
        assert stats["files_after"] >= 1
        assert dspark.read.format("delta").load(store).count() == 12
    finally:
        dspark.stop()
