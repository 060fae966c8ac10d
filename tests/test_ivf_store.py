"""IVF store at rest: partition pruning is measured from the files the
probe actually reads, and the stored probe returns exactly the in-memory
probe's results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gistdex_spark.operators.ivf import (
    assign_clusters,
    first_c_centroids,
    probe,
)
from gistdex_spark.queries import QV_MAIN
from gistdex_spark.sources.ivf_store import probe_stored, write_ivf_store
from gistdex_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def cents(emb):
    return first_c_centroids(emb, 8)


@pytest.fixture(scope="module")
def store(spark, emb, cents, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "store")
    write_ivf_store(emb, cents, path)
    return path


def test_layout_is_partitioned_by_cluster(spark, store):
    import os

    dirs = {d for d in os.listdir(store) if d.startswith("cluster=")}
    assert len(dirs) >= 2  # the corpus spans multiple cells


def test_probe_reads_only_probed_partitions(spark, store, cents):
    """The scale claim itself: with nprobe=2 of 8 cells, every file the
    probe touches lives under one of the two probed cluster dirs."""
    from gistdex_spark.functions.vectors import cosine, vector_literal

    probed = [
        int(r["c_id"])
        for r in cents.withColumn("q", vector_literal(QV_MAIN))
        .withColumn("qs", cosine("c_vec", "q"))
        .orderBy(F.desc("qs"), F.asc("c_id"))
        .limit(2)
        .collect()
    ]
    files = {
        r["f"]
        for r in spark.read.parquet(store)
        .filter(F.col("cluster").isin(probed))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert files, "probe read no files"
    for f in files:
        assert any(f"cluster={c}/" in f for c in probed), f
    # And the plan carries the partition filter (pruning before IO).
    plan = (
        spark.read.parquet(store)
        .filter(F.col("cluster").isin(probed))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    assert "cluster" in plan.split("PartitionFilters", 1)[1][:200]


def test_stored_probe_matches_inmemory_probe(spark, emb, cents, store):
    inmem = probe(
        assign_clusters(emb, cents), cents, QV_MAIN, k=5, nprobe=2
    ).collect()
    stored = probe_stored(
        spark, store, cents, QV_MAIN, k=5, nprobe=2
    ).collect()
    assert [(r["vec_id"], r["score"]) for r in inmem] == [
        (r["vec_id"], r["score"]) for r in stored
    ]
