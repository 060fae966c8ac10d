"""IVF coarse quantizer: trained centroids, assignment, and cell probe.

The ANN role of the reference's full-scan cosine search (`search.ts` +
`vector-db` adapters) restructured for 100 TB: k-means|| centroids
partition the corpus into cells; a query scores only its nearest
``nprobe`` cells instead of every vector.

Scale design:
- TRAIN on a sample (MLlib k-means|| is itself distributed; centroids are
  tiny and broadcast from then on).
- ASSIGN is a ZERO-shuffle per-row argmax fold over the broadcast centroid
  array — map-only, linear in corpus size.
- At rest, write the corpus partitioned by ``cluster`` so a probe is
  partition PRUNING: nprobe=2 of k=1024 cells reads ~0.2% of the data.
- Cosine geometry: vectors are L2-normalized before clustering, where
  euclidean k-means is equivalent to spherical (cosine) k-means — same
  unit-sphere conversion as the BucketedRandomProjectionLSH path
  (`functions/mllib_embedder.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gistdex_spark.functions.vectors import dot_sql, l2_norm, quote
from gistdex_spark.operators.search import with_score


def train_centroids(
    emb: DataFrame,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    embedding_col: str = "embedding",
    train_sample: int = 100_000,
) -> DataFrame:
    """Trained centroids as a tiny (c_id, c_vec) frame.

    Deterministic for a fixed seed. Callers persist this frame (parquet)
    and broadcast it everywhere else — training never reruns per query.

    Same bounded-sample posture as PQ codebook training (FAISS trains
    its coarse quantizer on a sample too): one count + ONE distributed
    scan collects a deterministic-seed RAW sample capped at
    ``train_sample`` rows (normalized driver-side in numpy,
    bit-identically — a Catalyst normalize projection inlines
    the norm fold per output element and made the collect itself the
    hot spot; see pq._collect_normalized_sample), then a seeded
    in-memory k-means++ fit — centroid quality saturates at ~1k-10k
    points per centroid, and a full-corpus clustering job per index
    build is superlinear cost for no recall gain. Everything
    corpus-sized (assignment, probe) stays distributed.
    """
    from gistdex_spark.operators.pq import (
        _collect_normalized_sample,
        _kmeans_np,
    )

    X = _collect_normalized_sample(emb, embedding_col, seed, train_sample)
    centers = [
        (i, [float(x) for x in c])
        for i, c in enumerate(_kmeans_np(X, k, seed, max_iter))
    ]
    return emb.sparkSession.createDataFrame(
        centers, schema="c_id BIGINT, c_vec ARRAY<DOUBLE>"
    )


def first_c_centroids(
    emb: DataFrame, c: int, id_col: str = "vec_id", embedding_col: str = "embedding"
) -> DataFrame:
    """The deterministic stand-in (first C vectors) kept for the DuckDB
    oracle, which cannot train k-means."""
    return emb.filter(F.col(id_col) < c).select(
        F.col(id_col).alias("c_id"), F.col(embedding_col).alias("c_vec")
    )


def assign_clusters(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    partitions: int | None = None,
    vectorized: bool | None = None,
) -> DataFrame:
    """(id, embedding, cluster): nearest centroid by cosine, ties → lowest id.

    ZERO-shuffle either way: map-only over the corpus with the centroid
    set riding along (broadcast array row in the expression form; a
    task-serialized numpy matrix in the vectorized form). No row
    amplification, no window.

    ``vectorized``: None (default) auto-picks — the Arrow kernel when
    the centroid count reaches ``_VECTORIZE_MIN_C``, the Catalyst fold
    below it. The fold is INTERPRETED per element — C centroids × dim
    lambda steps per row (C=400, dim=64 → 25k interpreted ops/row) —
    which made assignment the dominant cost of the adaptive SemDeDup
    family (sf1: 7.4 → 4.0 s); the numpy kernel does the identical
    arithmetic ~10x faster. At SMALL C the fold wins: the kernel pays
    an Arrow round-trip of the embedding column per row regardless of
    C, pure overhead when the fold is only a few hundred ops (measured:
    C=16 ivfpq_index slowed under the kernel). True/False force a path.
    BIT-IDENTICAL by construction, not approximately: the kernel
    accumulates dot products and squared norms DIMENSION BY DIMENSION
    (``acc += E[:, i] * C[:, i]``), the same left-fold double-add
    sequence as ``F.aggregate(zip_with(...))`` — float32 inputs widen
    to float64 before multiply exactly as the expression's casts do, the
    zero-norm guard short-circuits to 0.0 identically, and np.argmax's
    first-max rule equals the fold's strictly-greater keep-lowest-c_id
    tie-break (centroids sorted by c_id in both forms). A pairwise/SIMD
    ``np.dot`` would NOT match (different summation order — the
    sum-order boundary-flip failure class); the per-dimension loop is
    64 vectorized ops, not a scalar loop, so it keeps numpy speed while
    preserving fold order. tests/test_ivf.py pins exact frame equality
    of both forms. NaN/inf scores agree too (r10 ADVICE, resolved as
    already-identical): Spark compares doubles NaN-LARGEST, so the
    strict-greater fold keeps the FIRST NaN-scoring centroid — exactly
    np.argmax's first-NaN rule — and inf/inf division yields NaN under
    IEEE in both engines; pinned on NaN-centroid, NaN-embedding, and
    inf-embedding edges in tests/test_ivf.py.

    ``partitions``: optional pre-repartition of the input. At cluster
    scale the scan's natural parallelism is the right answer (this is a
    map-only op — never pay a corpus shuffle for it); locally a small
    parquet file arrives as ONE partition and would serialize the work,
    so callers benching tiny inputs pass the core count.
    """
    if partitions is not None:
        emb = emb.repartition(partitions)
    if vectorized is not False:
        narrow_cents = centroids.select("c_id", "c_vec")
        rows = narrow_cents.orderBy("c_id").collect()
        if vectorized or len(rows) >= _VECTORIZE_MIN_C:
            return _assign_clusters_np(emb, rows, id_col, embedding_col)
        # Fold path chosen AFTER the auto-dispatch collect: rebuild the
        # tiny centroid frame from the already-collected rows so the
        # upstream centroid plan is evaluated exactly once — not a second
        # time by the fold's collect_list aggregation (r10 ADVICE).
        # vectorized=False skips the collect entirely and stays lazy.
        centroids = emb.sparkSession.createDataFrame(
            rows, schema=narrow_cents.schema
        )
    cents_arr = centroids.select(
        F.struct(F.col("c_id"), F.col("c_vec"), l2_norm("c_vec").alias("c_nrm")).alias("c")
    ).agg(F.array_sort(F.collect_list("c")).alias("cents"))
    # Strictly-greater argmax over the c_id-sorted centroids: ties keep
    # the lowest c_id. The score is the cosine over the precomputed norms.
    s = (
        "CASE WHEN __ne = 0D OR c.c_nrm = 0D THEN 0D "
        f"ELSE {dot_sql(quote(embedding_col), 'c.c_vec')} / (__ne * c.c_nrm) END"
    )
    best = F.expr(
        "aggregate(cents, named_struct('s', -2D, 'cid', -1L), (best, c) -> "
        f"CASE WHEN {s} > best.s "
        f"THEN named_struct('s', {s}, 'cid', CAST(c.c_id AS BIGINT)) "
        "ELSE best END)"
    )
    return (
        emb.withColumn("__ne", l2_norm(embedding_col))
        .crossJoin(F.broadcast(cents_arr))
        .withColumn("best", best)
        .select(id_col, embedding_col, F.col("best.cid").alias("cluster"))
    )


_VECTORIZE_MIN_C = 64  # Arrow round-trip amortizes above ~this many centroids


def _centroid_arrays(rows: list):
    """Collected (c_id, c_vec) rows -> (c_ids, matrix, norms) with the
    norms accumulated DIMENSION BY DIMENSION (the fold's sum order)."""
    import numpy as np

    c_ids = np.array([r["c_id"] for r in rows], dtype=np.int64)
    cm = np.stack([np.asarray(r["c_vec"], dtype=np.float64) for r in rows])
    cn_acc = np.zeros(len(rows))
    for i in range(cm.shape[1]):
        cn_acc = cn_acc + cm[:, i] * cm[:, i]
    return c_ids, cm, np.sqrt(cn_acc)


def _assign_batch_np(X, c_ids, cm, c_nrm):
    """One batch of the bit-identical argmax kernel: X is the (n, dim)
    float64 embedding matrix; returns the (n,) int64 cluster ids. Shared
    by assign_clusters' Arrow path and the fused IVF-PQ index build."""
    import numpy as np

    n = X.shape[0]
    acc = np.zeros((n, len(c_ids)))
    ne_acc = np.zeros(n)
    for i in range(cm.shape[1]):
        col = X[:, i]
        acc += col[:, None] * cm[None, :, i]
        ne_acc += col * col
    ne = np.sqrt(ne_acc)
    with np.errstate(divide="ignore", invalid="ignore"):
        s = np.where(
            (ne[:, None] == 0.0) | (c_nrm[None, :] == 0.0),
            0.0,
            acc / (ne[:, None] * c_nrm[None, :]),
        )
    return c_ids[np.argmax(s, axis=1)]


def _assign_clusters_np(
    emb: DataFrame,
    rows: list,
    id_col: str,
    embedding_col: str,
) -> DataFrame:
    """Arrow-batched assignment kernel (see assign_clusters docstring for
    the bit-identity argument). ``rows`` is the collected (c_id, c_vec)
    centroid list, sorted by c_id — tiny by contract (the same bound the
    broadcast array form relies on) — and rides to executors via task
    serialization."""
    import numpy as np
    out_fields = (
        f"{id_col} "
        + dict(emb.dtypes)[id_col]
        + f", {embedding_col} "
        + dict(emb.dtypes)[embedding_col]
        + ", cluster bigint"
    )
    narrow = emb.select(id_col, embedding_col)
    if not rows:
        # mirror the expression fold's init: no centroids -> cluster -1
        return narrow.withColumn("cluster", F.lit(-1).cast("bigint"))
    c_ids, cm, c_nrm = _centroid_arrays(rows)

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(cluster=np.array([], dtype=np.int64))
                continue
            e = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[embedding_col]]
            )
            yield pdf.assign(cluster=_assign_batch_np(e, c_ids, cm, c_nrm))

    return narrow.mapInPandas(_assign, schema=out_fields)


def probe(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """Top-k by exact cosine inside the query's ``nprobe`` nearest cells.

    The cell choice scores only the tiny centroid frame; the corpus join
    is an equality join on ``cluster`` (partition pruning when the store
    is partitioned by it). Result: (id, score) ordered desc.
    """
    qcells = (
        with_score(centroids, query_vec, "c_vec")
        .orderBy(F.desc("score"), F.asc("c_id"))
        .limit(nprobe)
        .select(F.col("c_id").alias("cluster"))
    )
    probed = assigned.join(F.broadcast(qcells), "cluster")
    return (
        with_score(probed, query_vec, embedding_col)
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ivf_search(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 5,
    nprobe: int = 1,
    n_centroids: int = 16,
    trained: bool = True,
    seed: int = 42,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """End-to-end IVF search. ``trained=True`` uses k-means|| centroids;
    ``trained=False`` keeps the first-C stand-in (oracle-comparable)."""
    cents = (
        train_centroids(emb, k=n_centroids, seed=seed, embedding_col=embedding_col)
        if trained
        else first_c_centroids(emb, n_centroids, id_col, embedding_col)
    )
    assigned = assign_clusters(emb, cents, id_col, embedding_col)
    return probe(assigned, cents, query_vec, k, nprobe, id_col, embedding_col)
