"""Checkpoint scopes of registry queries (queries.register,
gistdex_spark.materialize): each query invocation owns one Materializer.
Two registry frames must coexist and be consumed out of order, however
many checkpoints each query takes; a same-query rebuild and the LRU
bound over queries still release blocks."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECTNESS, persistent_rdd_ids


def test_two_registry_frames_consumable_out_of_order(spark):
    """Build A (checkpointing), build B (checkpointing), THEN consume A."""
    from gistdex_spark.queries import REGISTRY

    a = REGISTRY["hybrid_rrf"](spark, SF_CORRECTNESS)
    b = REGISTRY["prf_expanded_search"](spark, SF_CORRECTNESS)
    assert a.count() > 0  # A consumed after B's build
    assert b.count() > 0
    # and re-consumable until a same-query rebuild or LRU eviction
    assert a.count() == a.count()


def test_many_checkpoints_of_one_query_cannot_evict_another(spark):
    """curriculum_shard_write_census checkpoints more often than the
    LRU bound (rank input, ranged frame and the writer's three); all of
    it is one query, so hybrid_rrf built before it stays consumable."""
    from gistdex_spark.queries import REGISTRY

    a = REGISTRY["hybrid_rrf"](spark, SF_CORRECTNESS)
    REGISTRY["curriculum_shard_write_census"](spark, SF_CORRECTNESS).collect()
    assert a.count() > 0


def test_same_query_rebuild_releases_previous_blocks(spark):
    """Rebuilding the SAME query must replace (not accumulate) its live
    checkpoint blocks — the leak the scope exists to stop."""
    from gistdex_spark.queries import _LIVE, _LIVE_LOCK, REGISTRY

    a1 = REGISTRY["hybrid_rrf"](spark, SF_CORRECTNESS)
    a1.count()
    with _LIVE_LOCK:
        first_ids = set(_LIVE["hybrid_rrf"].rdd_ids)
    assert first_ids, "hybrid_rrf must record its checkpoint blocks"
    a2 = REGISTRY["hybrid_rrf"](spark, SF_CORRECTNESS)
    with _LIVE_LOCK:
        second_ids = set(_LIVE["hybrid_rrf"].rdd_ids)
    assert second_ids and second_ids.isdisjoint(first_ids)
    # the replaced RDDs are gone from executor storage
    assert first_ids.isdisjoint(persistent_rdd_ids(spark))
    assert a2.count() > 0


def test_lru_bound_counts_queries(spark):
    """Past _MAX_LIVE_QUERIES checkpointing queries, the least recently
    built query's scope is released whole; the newer queries keep every
    checkpoint, however many each took."""
    from gistdex_spark import queries as Q

    base = spark.range(10).withColumn("x", F.col("id") * 2)

    def probe(spark, sf_dir):
        return Q._ckpt(Q._ckpt(Q._ckpt(base)))

    names = [f"lru_probe_{i}" for i in range(Q._MAX_LIVE_QUERIES + 2)]
    before = persistent_rdd_ids(spark)
    try:
        frames = [Q.register(n)(probe)(spark, SF_CORRECTNESS) for n in names]
    finally:
        for n in names:
            Q.REGISTRY.pop(n, None)
    kept = names[-Q._MAX_LIVE_QUERIES:]
    with Q._LIVE_LOCK:
        assert list(Q._LIVE) == kept
        kept_ids = {i for n in kept for i in Q._LIVE[n].rdd_ids}
    assert len(kept_ids) == 3 * len(kept)
    assert persistent_rdd_ids(spark) - before == kept_ids
    for f in frames[-Q._MAX_LIVE_QUERIES:]:
        assert f.count() == 10


def test_identity_scope_keeps_full_lineage(spark):
    """A query built inside a caller's scope checkpoints through it, and
    so do the operators' default cuts: under an identity scope neither
    hybrid_rrf's tokenized corpus nor global_index_audit's ranged frame
    is a checkpoint (ExistingRDD) in the plan."""
    from gistdex_spark import materialize as M
    from gistdex_spark.plans.inspect import executed_plan
    from gistdex_spark.queries import REGISTRY

    for name in ("hybrid_rrf", "global_index_audit"):
        with M.scope(lambda frame: frame):
            df = REGISTRY[name](spark, SF_CORRECTNESS)
        assert "ExistingRDD" not in executed_plan(df), name
        assert "ExistingRDD" in executed_plan(
            REGISTRY[name](spark, SF_CORRECTNESS)
        ), name


def test_store_probe_cuts_belong_to_the_query(spark):
    """The minhash store probe cuts lineage through the query's scope:
    each rebuild of a stored-minhash query releases the previous build's
    checkpoints instead of leaving one more behind."""
    from gistdex_spark.queries import REGISTRY

    before = persistent_rdd_ids(spark)
    created = []
    for _ in range(3):
        REGISTRY["eval_decontaminate_minhash_stored"](spark, SF_CORRECTNESS)
        created.append(persistent_rdd_ids(spark) - before)
    assert len(created[0]) == len(created[1]) == len(created[2]) > 0
    assert created[0].isdisjoint(created[2])
