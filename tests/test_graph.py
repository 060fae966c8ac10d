"""PageRank operator: mass conservation, known-graph values, and
determinism across partition counts (the property a cluster migration
needs)."""

from __future__ import annotations

import pytest

from gistdex_spark import materialize
from gistdex_spark.operators.graph import pagerank


@pytest.fixture()
def star_pairs(spark):
    # Star: hub 0 connected to 1..4 (undirected via symmetrization).
    return spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "doc_id_a BIGINT, doc_id_b BIGINT"
    )


def test_mass_conserved_and_hub_dominates(spark, star_pairs):
    rows = {r["node"]: r["rank"] for r in pagerank(star_pairs).collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-4  # no dangling leakage
    assert rows[0] == max(rows.values())  # the hub anchors the cluster
    leaf_ranks = {rows[i] for i in range(1, 5)}
    assert len(leaf_ranks) == 1  # symmetric leaves tie exactly


def test_two_node_graph_uniform(spark):
    pairs = spark.createDataFrame(
        [(7, 9)], "doc_id_a BIGINT, doc_id_b BIGINT"
    )
    rows = {r["node"]: r["rank"] for r in pagerank(pairs).collect()}
    assert rows == {7: 0.5, 9: 0.5}  # symmetric pair splits evenly


def test_partition_count_invariant(spark, star_pairs):
    a = {(r["node"], r["rank"]) for r in pagerank(star_pairs).collect()}
    b = {
        (r["node"], r["rank"])
        for r in pagerank(star_pairs.repartition(7)).collect()
    }
    assert a == b


def test_reliable_checkpoint_mode(spark, star_pairs, tmp_path):
    # A reliable-checkpoint scope switches every per-round lineage cut
    # to checkpoint(); ranks must be identical and files must land.
    import os

    ckpt = str(tmp_path / "pr_ckpt")
    a = {(r["node"], r["rank"]) for r in pagerank(star_pairs).collect()}
    spark.sparkContext.setCheckpointDir(ckpt)
    with materialize.scope(lambda df: df.checkpoint(eager=True)):
        b = {(r["node"], r["rank"]) for r in pagerank(star_pairs).collect()}
    assert a == b
    assert any(os.scandir(ckpt)), "reliable checkpoint dir must be populated"
