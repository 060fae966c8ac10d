"""SemDeDup: semantic deduplication inside coarse clusters.

Extends the reference's pairwise-cosine duplicate detection
(`src/mcp/tools/agent-query-tool.ts:257-271` redundancy; memory-adapter
brute-force scoring `src/core/vector-db/adapters/memory-adapter.ts:50-88`)
to the corpus-curation form of Abbas et al. 2023 ("SemDeDup: Data-efficient
learning at web-scale through semantic deduplication", arXiv:2303.09540):

1. coarse-cluster every embedding (k-means at scale; the deterministic
   first-C stand-in for oracle tests — same split as `operators/ivf.py`);
2. WITHIN each cluster only, find pairs with cosine >= threshold;
3. from every duplicate neighborhood keep exactly one exemplar — the
   member FARTHEST from its centroid (the paper's keep-low-centroid-
   similarity rule), ties broken by id, so the survivor set is
   deterministic and engine-independent.

Scale shape: the pair join is an EQUALITY join on ``cluster`` — never
all-pairs over the corpus. Per-cluster pair cost is bounded by choosing
k ∝ corpus_size / target_cluster_size (the paper runs 50k clusters over
LAION); cluster assignment itself is the zero-shuffle broadcast argmax
fold of `operators/ivf.assign_clusters`. Centroid distance is computed
once per row (map-side), and the "exists a more-central duplicate"
verdict is a half-open pair join + groupBy — two shuffles total, both on
``cluster``/id keys.

All comparisons happen on ROUND-rounded cosines so Spark and the DuckDB
oracle cannot disagree on a boundary pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gistdex_spark.materialize import Materialize, checkpoint

ROUND = 6


def suggest_n_clusters(
    n_vectors: int, target_cluster_size: int = 300, min_clusters: int = 8
) -> int:
    """k ∝ n made operational: the cluster count that keeps per-cluster
    pair work bounded as the corpus grows. SemDeDup's cost is dominated
    by the within-cluster pair expansion (~n * cluster_size comparisons
    total), so FIXING k while n grows makes the operator super-linear —
    measured on the 10x sf1 corpus (~55k vectors, ROUND7_NOTES): k=16
    took 13.6s, k=64 5.5s, k=160 5.4s — k ∝ n restores the scaling and
    flattens at the irreducible scan+assignment cost. The paper's own
    ratio (50k clusters over ~5B LAION rows) implies ~100k rows per
    cluster with much cheaper pair math; ~300 works for the expression-
    fold cosine used here. Training cost rises with k, but assignment
    stays the same zero-shuffle broadcast argmax.
    """
    if n_vectors <= 0:
        return min_clusters
    return max(min_clusters, n_vectors // target_cluster_size)


def semdedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    salt: int = 8,
    pair_partitions: int | None = 64,
    partitions: int | None = None,
    max_cluster_size: int | None = None,
    materialize: Materialize = checkpoint,
) -> DataFrame:
    """(id, cluster, cos_centroid, pruned): SemDeDup verdict per vector.

    A vector is ``pruned`` iff some same-cluster neighbour scores
    ``>= threshold`` against it AND that neighbour is strictly more
    deserving of removal-immunity — i.e. the neighbour's
    (cos_centroid, id) sorts strictly LOWER (farther from the centroid;
    the paper keeps the far-from-centroid member of each duplicate pair).
    The lowest-sorted member of every duplicate neighbourhood therefore
    always survives, and the verdict is order-free and deterministic.

    ``max_cluster_size`` caps the in-cluster pair expansion — the one
    remaining quadratic surface when the caller fixes the cluster count
    (k ∝ n callers are bounded by construction in expectation, but a
    skewed assignment can still concentrate mass in one cluster). Any
    cluster above the cap is deterministically sub-split by RANK: rows
    sort by (cos_centroid, id) within the cluster and land in
    consecutive buckets of ``max_cluster_size``, and pairs only form
    inside a (cluster, sub) bucket. Rank-bucketing (not hash) keeps the
    approximation tight: duplicates by definition sit at near-identical
    distance to the centroid, so they sort adjacently and almost always
    share a bucket — the same banded trick as the dedup module. The
    sub-split window sorts each cluster on one task (O(n log n), vs the
    O(n²) pairs it prevents); both the rank order and the bucket
    boundaries are engine-identical, so SQL oracles mirror the cap with
    ``(row_number() OVER (PARTITION BY cluster ORDER BY cos_centroid,
    id) - 1) // cap``.

    ``materialize`` cuts the triple-consumed ``base`` lineage. The
    default checkpoints into the active
    :mod:`~gistdex_spark.materialize` scope, so a registry query's
    blocks are released with the query's other checkpoints.
    """
    from gistdex_spark.operators.ivf import assign_clusters

    from gistdex_spark.functions.vectors import dot, l2_norm

    assigned = assign_clusters(
        emb,
        centroids,
        id_col=id_col,
        embedding_col=embedding_col,
        partitions=partitions,
    )
    cents = centroids.select(
        F.col("c_id").alias("cluster"),
        F.col("c_vec").alias("c__vec"),
        l2_norm("c_vec").alias("c__nrm"),
    )
    # cos-to-centroid AND the row's own norm once per row (the norm is
    # reused by every pair the row appears in — 1 dot per pair instead of
    # 3; bit-identical to recomputing, it is the same expression tree);
    # centroid set is tiny -> broadcast.
    base = (
        assigned.withColumn("nrm", l2_norm(embedding_col))
        .join(F.broadcast(cents), "cluster")
        .withColumn(
            "cos_centroid",
            F.round(
                F.when(
                    (F.col("nrm") == F.lit(0.0)) | (F.col("c__nrm") == F.lit(0.0)),
                    F.lit(0.0),
                ).otherwise(
                    dot(embedding_col, "c__vec")
                    / (F.col("nrm") * F.col("c__nrm"))
                ),
                ROUND,
            ),
        )
        .drop("c__vec", "c__nrm")
    )
    if max_cluster_size is not None:
        # Rank-bucket sub-split (see docstring): computed BEFORE the
        # lineage cut so the per-cluster sort runs once, not once per
        # consumer.
        w = Window.partitionBy("cluster").orderBy(
            F.asc("cos_centroid"), F.asc(id_col)
        )
        # Integer division (SQL `div`), not float-divide-then-cast: the
        # float form is exact only while cap * rank stays inside double
        # rounding (fine for the power-of-two default, not guaranteed
        # for arbitrary caps at extreme row counts) — `div` mirrors the
        # oracle's `//` exactly for every cap (r10 ADVICE).
        base = base.withColumn(
            "__rn0", F.row_number().over(w) - F.lit(1)
        ).withColumn(
            "sub",
            F.expr(f"cast(__rn0 div {int(max_cluster_size)} as int)"),
        ).drop("__rn0")
    else:
        base = base.withColumn("sub", F.lit(0))
    # `base` is consumed three times (both pair-join sides and the final
    # verdict join) and Spark has no cross-branch CSE — without a cut,
    # the assignment argmax fold over the whole corpus runs three times
    # per action. The eager checkpoint stores base once (the standard
    # store-vs-recompute trade of multi-pass algorithms; swap for
    # reliable checkpoint() on long cluster jobs, exactly as in
    # connected_components).
    base = materialize(base)
    left = base.select(
        F.col("cluster"),
        F.col("sub"),
        F.col(id_col).alias("id_a"),
        F.col(embedding_col).alias("v_a"),
        F.col("cos_centroid").alias("cc_a"),
        F.col("nrm").alias("n_a"),
    )
    right = base.select(
        F.col("cluster"),
        F.col("sub"),
        F.col(id_col).alias("id_b"),
        F.col(embedding_col).alias("v_b"),
        F.col("cos_centroid").alias("cc_b"),
        F.col("nrm").alias("n_b"),
    )
    pair_cos = F.when(
        (F.col("n_a") == F.lit(0.0)) | (F.col("n_b") == F.lit(0.0)), F.lit(0.0)
    ).otherwise(dot("v_a", "v_b") / (F.col("n_a") * F.col("n_b")))
    # Equality join on cluster; "neighbour sorts lower" keeps the pair
    # half-open so each duplicate relation is examined once per direction.
    #
    # The join is COMPUTE-bound (a 64-float dot per candidate pair) over
    # BYTE-small inputs, the combination AQE mis-sizes: it coalesces the
    # pair shuffle to one partition because the bytes fit, serializing all
    # the dot products. So the left side is salted by id hash, the right
    # side replicated across the salts (every pair still meets exactly
    # once, at the left row's salt), and both sides carry an explicit
    # user repartition AQE must honor — parallelism becomes
    # clusters x salt regardless of input bytes, and a hot cluster is
    # split `salt` ways instead of landing on one task (the same skew
    # treatment as the salted joins in operators/temporal.py).
    left = left.withColumn(
        "__salt", F.pmod(F.hash(F.col("id_a")), F.lit(salt))
    )
    right = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    if pair_partitions is not None:
        # pair_partitions=None drops the explicit repartition and lets
        # AQE size the join shuffle by bytes — the right call on inputs
        # that carry real byte weight (see ROUND6_NOTES sf1 experiment);
        # the explicit form exists for byte-starved compute-bound scans.
        left = left.repartition(pair_partitions, "cluster", "sub", "__salt")
        right = right.repartition(pair_partitions, "cluster", "sub", "__salt")
    pruned_ids = (
        left.join(right, ["cluster", "sub", "__salt"])
        .filter(
            (F.col("cc_a") < F.col("cc_b"))
            | ((F.col("cc_a") == F.col("cc_b")) & (F.col("id_a") < F.col("id_b")))
        )
        .filter(F.round(pair_cos, ROUND) >= F.lit(threshold))
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        base.join(pruned_ids.withColumn("pruned", F.lit(True)), id_col, "left")
        .withColumn("pruned", F.coalesce(F.col("pruned"), F.lit(False)))
        .select(id_col, "cluster", "cos_centroid", "pruned")
    )
