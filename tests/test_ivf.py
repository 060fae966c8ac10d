"""IVF coarse quantizer: trained-centroid recall vs exact kNN, assignment
invariants, and probe plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gistdex_spark.functions.vectors import cosine, vector_literal
from gistdex_spark.operators.ivf import (
    assign_clusters,
    first_c_centroids,
    ivf_search,
    train_centroids,
)
from tests.conftest import SF_CORRECTNESS


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_CORRECTNESS}/embeddings.parquet")


@pytest.fixture(scope="module")
def qvec(emb):
    # a real corpus vector as the query — its cell must contain itself
    row = emb.filter(F.col("vec_id") == 7).select("embedding").first()
    return [float(x) for x in row.embedding]


def _exact_topk(emb, qvec, k):
    return [
        r.vec_id
        for r in emb.withColumn("q", vector_literal(qvec))
        .withColumn("s", cosine("embedding", "q"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(k)
        .collect()
    ]


def test_training_is_deterministic(emb):
    a = train_centroids(emb, k=8, seed=42).collect()
    b = train_centroids(emb, k=8, seed=42).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_every_vector_assigned_exactly_once(emb):
    cents = train_centroids(emb, k=8, seed=42)
    assigned = assign_clusters(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.filter(F.col("cluster") < 0).count() == 0
    # every cluster id is a real centroid
    ids = {r.c_id for r in cents.collect()}
    assert {r.cluster for r in assigned.select("cluster").distinct().collect()} <= ids


def test_trained_recall_beats_probe_fraction(emb, qvec):
    """nprobe=2 of k=8 cells scans ~25% of the corpus but must recover
    most of the exact top-10 — the whole point of a trained quantizer."""
    exact = set(_exact_topk(emb, qvec, 10))
    got = {
        r.vec_id
        for r in ivf_search(
            emb, qvec, k=10, nprobe=2, n_centroids=8, trained=True
        ).collect()
    }
    recall = len(got & exact) / 10
    assert recall >= 0.6, f"recall@10 = {recall}"


def test_recall_monotone_in_nprobe(emb, qvec):
    exact = set(_exact_topk(emb, qvec, 10))

    def recall(nprobe):
        got = {
            r.vec_id
            for r in ivf_search(
                emb, qvec, k=10, nprobe=nprobe, n_centroids=8, trained=True
            ).collect()
        }
        return len(got & exact) / 10

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r1 <= r4 <= r8
    assert r8 == 1.0  # probing every cell IS exact search


def test_untrained_path_matches_registry_stand_in(emb):
    cents = first_c_centroids(emb, 4)
    assert [r.c_id for r in cents.orderBy("c_id").collect()] == [0, 1, 2, 3]


def test_probe_never_scans_other_cells(emb, qvec):
    cents = train_centroids(emb, k=8, seed=42)
    assigned = assign_clusters(emb, cents).cache()
    try:
        from gistdex_spark.operators.ivf import probe

        qcell = (
            cents.withColumn("q", vector_literal(qvec))
            .withColumn("qs", cosine("c_vec", "q"))
            .orderBy(F.desc("qs"), F.asc("c_id"))
            .first()
            .c_id
        )
        cell_ids = {
            r.vec_id
            for r in assigned.filter(F.col("cluster") == qcell).collect()
        }
        got = {r.vec_id for r in probe(assigned, cents, qvec, k=100).collect()}
        assert got <= cell_ids
    finally:
        assigned.unpersist()


def test_multiprobe_recall_dominates_single_probe(emb, qvec):
    """radius=1 probing must recover at least everything the single
    bucket finds, and its results must match exact search restricted to
    the probed buckets."""
    from gistdex_spark.operators.similarity import (
        ann_lsh,
        ann_lsh_multiprobe,
        probe_buckets,
        sign_bucket,
    )

    single = {r.vec_id for r in ann_lsh(emb, qvec, k=50, nbits=4).collect()}
    multi = {
        r.vec_id for r in ann_lsh_multiprobe(emb, qvec, k=50, nbits=4).collect()
    }
    probes = probe_buckets(qvec, nbits=4, radius=1)
    assert len(probes) == 5  # qb + 4 single-bit flips
    in_probed = {
        r.vec_id
        for r in emb.filter(sign_bucket("embedding", 4).isin(probes)).collect()
    }
    assert multi <= in_probed
    exact10 = set(_exact_topk(emb, qvec, 10))
    # recall against exact top-10 must not shrink when probing wider
    assert len(multi & exact10) >= len(single & exact10)


def test_multitable_candidates_are_union_of_table_probes(emb, qvec):
    """With k above the pool size, ann_lsh_multitable must return EXACTLY
    the union of each table's probed buckets — the defining multi-table
    property (and what the SQL oracle replays)."""
    from gistdex_spark.operators.similarity import (
        ann_lsh_multitable,
        probe_buckets,
        sign_bucket,
    )

    pool = set()
    for t in range(4):
        probes = probe_buckets(qvec, nbits=4, radius=1, offset=4 * t)
        pool |= {
            r.vec_id
            for r in emb.filter(
                sign_bucket("embedding", 4, offset=4 * t).isin(probes)
            ).collect()
        }
    got = {
        r.vec_id
        for r in ann_lsh_multitable(
            emb, qvec, k=1_000_000, nbits=4, n_tables=4, radius=1
        ).collect()
    }
    assert got == pool
    # and more tables can only widen the pool (monotone recall lever)
    got8 = {
        r.vec_id
        for r in ann_lsh_multitable(
            emb, qvec, k=1_000_000, nbits=4, n_tables=8, radius=1
        ).collect()
    }
    assert got <= got8


def test_vectorized_assignment_is_bit_identical_to_fold(spark, emb):
    """The Arrow argmax kernel must equal the Catalyst fold EXACTLY —
    same left-fold summation order, same zero-norm guard, same
    strictly-greater lowest-c_id tie-break — at every centroid count
    (both sides of the auto-dispatch threshold) and on the zero-vector
    + duplicate-centroid edge."""
    from gistdex_spark.operators.ivf import assign_clusters, first_c_centroids

    for c in (8, 100):
        cents = first_c_centroids(emb, c)
        a = sorted(
            (r["vec_id"], r["cluster"])
            for r in assign_clusters(emb, cents, vectorized=False).collect()
        )
        b = sorted(
            (r["vec_id"], r["cluster"])
            for r in assign_clusters(emb, cents, vectorized=True).collect()
        )
        assert a == b, f"C={c}"
    edf = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.5, 0.5])],
        schema="vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    cdf = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0])],
        schema="c_id BIGINT, c_vec ARRAY<DOUBLE>",
    )
    a = sorted(
        (r["vec_id"], r["cluster"])
        for r in assign_clusters(edf, cdf, vectorized=False).collect()
    )
    b = sorted(
        (r["vec_id"], r["cluster"])
        for r in assign_clusters(edf, cdf, vectorized=True).collect()
    )
    # zero vector -> guard 0.0 everywhere -> first centroid (c_id 0);
    # duplicate centroids 1/2 -> tie resolves to the lower c_id
    assert a == b == [(1, 0), (2, 1), (3, 1)]


def test_multitable_rejects_overlong_projection(emb, qvec):
    import pytest

    from gistdex_spark.operators.similarity import (
        ann_lsh_multitable,
        ann_lsh_vote,
    )

    with pytest.raises(ValueError):
        ann_lsh_multitable(emb, qvec, k=5, nbits=16, n_tables=8)
    with pytest.raises(ValueError):
        ann_lsh_vote(emb, qvec, k=5, nbits=16, n_tables=8)


def test_sign_bucket_python_matches_catalyst_at_every_offset(spark, emb):
    """probe_buckets derives the PROBE side in Python while rows bucket
    through the Catalyst expression — the whole LSH family is wrong if
    they ever disagree, including on the boundary convention (x > 0:
    zeros and negatives both map to bit 0). Checked on real corpus
    vectors plus explicit zero/negative edges, at several offsets."""
    from gistdex_spark.operators.similarity import sign_bucket, sign_bucket_py

    rows = emb.select("vec_id", "embedding").limit(64).collect()
    edge = [
        (9_000_001, [0.0, -1.0, 1.0, -0.0, 2.0, 0.0, -3.0, 4.0] * 8),
        (9_000_002, [0.0] * 64),
        (9_000_003, [-1.0] * 64),
    ]
    data = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in rows]
    data += edge
    df = spark.createDataFrame(
        data, schema="vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    for nbits, offset in [(4, 0), (6, 6), (6, 54), (8, 56)]:
        got = {
            r["vec_id"]: r["b"]
            for r in df.select(
                "vec_id", sign_bucket("embedding", nbits, offset).alias("b")
            ).collect()
        }
        for vid, vec in data:
            assert got[vid] == sign_bucket_py(vec, nbits, offset), (
                vid, nbits, offset
            )


def test_vote_ranks_full_collision_first(spark, emb, qvec):
    """A vector IDENTICAL to the query collides in every table (max
    votes), so it must survive any shortlist and rank first in the
    exact rerank; and the vote shortlist equals the brute-force
    (votes desc, id asc) prefix."""
    from pyspark.sql import functions as F

    from gistdex_spark.operators.similarity import (
        ann_lsh_vote,
        probe_buckets,
        sign_bucket,
    )

    emb2 = emb.select("vec_id", "embedding")
    extra = spark.createDataFrame(
        [(10_000_000, [float(x) for x in qvec])],
        schema="vec_id BIGINT, embedding ARRAY<DOUBLE>",
    ).withColumn(
        "embedding", F.col("embedding").cast(dict(emb2.dtypes)["embedding"])
    )
    planted = emb2.unionByName(extra)
    got = ann_lsh_vote(
        planted, qvec, k=3, nbits=4, n_tables=4, radius=0, shortlist=10
    ).collect()
    # qvec IS vec_id 7's embedding, so 7 and the planted copy both score
    # a cosine of exactly 1.0 — the id tie-break ranks 7 first and the
    # planted max-vote copy second (it survived the shortlist).
    assert [r["vec_id"] for r in got[:2]] == [7, 10_000_000]
    assert got[0]["score"] == got[1]["score"] == 1.0
    # shortlist = brute-force (votes desc, id asc) prefix
    votes = None
    for t in range(4):
        probes = probe_buckets(qvec, nbits=4, radius=0, offset=4 * t)
        v = F.when(
            sign_bucket("embedding", 4, offset=4 * t).isin(probes), 1
        ).otherwise(0)
        votes = v if votes is None else votes + v
    brute = [
        r["vec_id"]
        for r in planted.withColumn("v", votes)
        .orderBy(F.desc("v"), F.asc("vec_id"))
        .limit(10)
        .collect()
    ]
    assert 10_000_000 in brute


def test_assignment_paths_agree_on_nan_and_inf_edges(spark):
    """r10 ADVICE probe, resolved as ALREADY-identical (no sanitization
    needed — adding one would break the agreement): Spark compares
    doubles NaN-LARGEST (NaN > 5.0 is true, NaN > NaN is false), so the
    strict-greater fold keeps the FIRST NaN-scoring centroid — exactly
    np.argmax's first-NaN rule — and an inf embedding folds to inf/inf
    = NaN under IEEE in both engines. Pinned: a NaN centroid beating
    finite scores, an all-NaN score row (NaN embedding), an inf
    embedding, and the zero-vector guard alongside a NaN centroid."""
    from gistdex_spark.operators.ivf import assign_clusters

    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),                 # finite; NaN centroid wins
            (2, [float("nan"), 1.0]),        # NaN embedding: all-NaN row
            (3, [0.0, 0.0]),                 # zero guard: 0.0 everywhere
            (4, [float("inf"), 1.0]),        # inf/inf -> NaN both paths
        ],
        schema="vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [float("nan"), 1.0]), (2, [0.0, 1.0])],
        schema="c_id BIGINT, c_vec ARRAY<DOUBLE>",
    )
    fold = sorted(
        (r["vec_id"], r["cluster"])
        for r in assign_clusters(emb, cents, vectorized=False).collect()
    )
    kernel = sorted(
        (r["vec_id"], r["cluster"])
        for r in assign_clusters(emb, cents, vectorized=True).collect()
    )
    # vec 1: centroid 1 scores NaN (largest) -> first NaN wins;
    # vec 2/4: every score NaN -> first centroid; vec 3: zero-norm guard
    # scores 0.0 everywhere -> first centroid.
    assert fold == kernel == [(1, 1), (2, 0), (3, 0), (4, 0)]
