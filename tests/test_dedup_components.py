"""Connected components over near-dup pairs + survivor selection.

The transitive-closure step of dedup (reference semantics: a duplicate
GROUP collapses to one kept doc, even when the pair list only links the
members indirectly). Unit-level graphs here; the full SimHash-fed path is
oracle-checked in test_oracle_parity (dedup_components, dedup_survivors).
"""

import pyspark.sql.functions as F

from gistdex_spark import materialize
from gistdex_spark.operators.dedup import connected_components, dedup_survivors


def _pairs(spark, edges):
    return spark.createDataFrame(edges, ["doc_id_a", "doc_id_b"])


def test_chain_collapses_to_min_id(spark):
    # a-b, b-c, c-d: one component labeled by the min id even though
    # a and d are never directly paired.
    cc = connected_components(_pairs(spark, [("a", "b"), ("b", "c"), ("c", "d")]))
    got = {r["node"]: r["component"] for r in cc.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_disjoint_components_stay_apart(spark):
    cc = connected_components(
        _pairs(spark, [("a", "b"), ("x", "y"), ("y", "z")])
    )
    got = {r["node"]: r["component"] for r in cc.collect()}
    assert got == {"a": "a", "b": "a", "x": "x", "y": "x", "z": "x"}


def test_survivors_keep_min_and_untouched(spark):
    docs = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("q", 4)], ["doc_id", "n"]
    )
    cc = connected_components(_pairs(spark, [("a", "b"), ("b", "c")]))
    kept = sorted(
        r["doc_id"] for r in dedup_survivors(docs, cc).collect()
    )
    # a survives its group; q was never in any pair.
    assert kept == ["a", "q"]


def test_converges_on_long_chain(spark):
    # Diameter 9 — forces several propagation rounds and exercises the
    # per-round lineage truncation (the pre-fix version OOMed here).
    ids = [f"d{i:02d}" for i in range(10)]
    edges = list(zip(ids, ids[1:]))
    cc = connected_components(_pairs(spark, edges))
    labels = {r["component"] for r in cc.collect()}
    assert labels == {"d00"}


def test_reliable_checkpoint_mode(spark, tmp_path):
    # A reliable-checkpoint scope switches every lineage cut to
    # checkpoint(); result must be identical and checkpoint files must
    # actually land.
    ckpt = str(tmp_path / "cc_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    with materialize.scope(lambda df: df.checkpoint(eager=True)):
        cc = connected_components(
            _pairs(spark, [("a", "b"), ("b", "c"), ("x", "y")])
        )
    got = {r["node"]: r["component"] for r in cc.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    import os

    assert any(os.scandir(ckpt)), "reliable checkpoint dir must be populated"


def test_strict_nonconvergence_raises(spark):
    # diameter-5 chain cannot converge in 1 round; strict mode must be
    # loud instead of emitting unmerged components. Pinned to the
    # label-propagation path — the contraction path is exact by
    # construction and has no convergence cap to violate.
    import pytest as _pytest

    ids = [f"d{i}" for i in range(6)]
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            _pairs(spark, list(zip(ids, ids[1:]))),
            max_iter=1,
            strict=True,
            algorithm="labelprop",
        )


def _random_graph(seed=7, n_nodes=120, n_edges=180):
    import random

    rng = random.Random(seed)
    return [
        (f"n{rng.randrange(n_nodes):03d}", f"n{rng.randrange(n_nodes):03d}")
        for _ in range(n_edges)
    ]


def test_filter_matches_labelprop_on_random_graph(spark):
    # the two algorithms must produce the identical min-id labeling
    edges = [(a, b) for a, b in _random_graph() if a != b]
    got_f = {
        r["node"]: r["component"]
        for r in connected_components(_pairs(spark, edges)).collect()
    }
    got_l = {
        r["node"]: r["component"]
        for r in connected_components(
            _pairs(spark, edges), algorithm="labelprop"
        ).collect()
    }
    assert got_f == got_l
    assert len(got_f) > 0


def test_filter_partition_invariance(spark):
    edges = [(a, b) for a, b in _random_graph(seed=11) if a != b]
    base = _pairs(spark, edges)
    lbl1 = {
        r["node"]: r["component"]
        for r in connected_components(base.repartition(1)).collect()
    }
    lbl17 = {
        r["node"]: r["component"]
        for r in connected_components(base.repartition(17)).collect()
    }
    assert lbl1 == lbl17


def test_filter_budget_fallback_still_exact(spark):
    # a row budget smaller than the star set forces the distributed
    # label-prop finish; the labeling must be unchanged
    edges = [(a, b) for a, b in _random_graph(seed=23) if a != b]
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            _pairs(spark, edges).repartition(4), fit_partition_rows=5
        ).collect()
    }
    want = {
        r["node"]: r["component"]
        for r in connected_components(
            _pairs(spark, edges), algorithm="labelprop"
        ).collect()
    }
    assert got == want


def test_filter_skewed_input_partition_still_exact(spark):
    # Skewed LEVEL-1 layout: nearly all edges in one partition while the
    # AVERAGE is within budget — the max-partition-size guard must
    # round-robin the input (not trust the average) and stay exact.
    edges = [(a, b) for a, b in _random_graph(seed=31) if a != b]
    big = _pairs(spark, [e for e in edges[:-3]]).coalesce(1)
    small = _pairs(spark, edges[-3:]).coalesce(1)
    skewed = big.unionAll(small)  # 2 partitions: ~all rows vs 3 rows
    budget = max(len(edges) // 2 + 2, 4)  # avg fits, max doesn't
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            skewed, fit_partition_rows=budget
        ).collect()
    }
    want = {
        r["node"]: r["component"]
        for r in connected_components(
            _pairs(spark, edges), algorithm="labelprop"
        ).collect()
    }
    assert got == want


def test_null_endpoints_dropped_not_raised(spark):
    # Null ids carry no connectivity; the union-find path must skip them
    # (the labelprop joins always did) instead of raising TypeError on
    # Python `<` against None.
    edges = [("a", "b"), (None, "c"), ("d", None), (None, None), ("b", "e")]
    cc = connected_components(_pairs(spark, edges))
    got = {r["node"]: r["component"] for r in cc.collect()}
    assert got == {"a": "a", "b": "a", "e": "a"}


def test_filter_later_level_coalesce_respects_budget(spark):
    # Multi-level shrink path (needs several partitions + a budget that
    # forces >1 level): the post-coalesce max-partition re-check must
    # keep the labeling exact even when merged partitions would exceed
    # the row budget. Equivalence to labelprop is the contract.
    edges = [(a, b) for a, b in _random_graph(seed=47) if a != b]
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            _pairs(spark, edges).repartition(16),
            fit_partition_rows=len(edges) // 3 + 1,
            level_shrink=2,
        ).collect()
    }
    want = {
        r["node"]: r["component"]
        for r in connected_components(
            _pairs(spark, edges), algorithm="labelprop"
        ).collect()
    }
    assert got == want


def test_incremental_pairs_never_old_vs_old(spark):
    from gistdex_spark.operators.dedup import simhash_pairs_between

    new = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    old = spark.createDataFrame(
        [
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "alpha beta gamma delta epsilon zeta"),
            (4, "totally different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        (r["new_id"], r["old_id"])
        for r in simhash_pairs_between(new, old).collect()
    )
    # docs 2 and 3 are identical to each other AND to doc 1, but only
    # new-vs-old pairs may appear
    assert got == [(1, 2), (1, 3)]
