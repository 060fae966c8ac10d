"""Product quantization (PQ) for ANN at 100 TB.

IVF prunes WHICH vectors to score; PQ compresses HOW each vector is
stored/scored: the D-dim embedding becomes m one-byte codes (one per
subspace, each the id of the nearest of ksub sub-centroids). For D=64
float32 that is 256 bytes -> m bytes (32x at m=8) — the difference
between an embedding corpus that fits executor memory and one that
doesn't. (Subspace width D/m of 4-8 dims is the standard PQ regime;
recall on this corpus: m=16 -> 1.0@10 with a 100-vector shortlist,
m=8 -> 0.8 only at shortlist 200 — near-random hash embeddings are the
hard case for PQ, real model embeddings cluster far better.)

Scale design mirrors operators/ivf.py:
- TRAIN on a bounded sample (FAISS practice): one distributed scan
  collects a deterministic-seed sample (<=train_sample rows), then m
  in-memory seeded k-means++ fits over its subvector slices; codebooks
  are m x ksub x (D/m) floats — kilobytes, driver-held.
- ENCODE is a zero-shuffle per-row fold: each subvector argmins over its
  broadcast codebook inside codegen. Linear in corpus size.
- SEARCH is asymmetric distance computation (ADC): the query builds an
  m x ksub inner-product table once (driver-side, against kilobytes of
  codebook), and every stored vector's approximate score is m array
  lookups + adds — no float math per dimension. The ADC shortlist is
  then exactly re-scored (only k' vectors read their full embedding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gistdex_spark.functions.vectors import vector_literal
from gistdex_spark.operators.search import with_score


def _kmeans_np(X, k: int, seed: int, max_iter: int):
    """Seeded k-means++ init + Lloyd iterations over an in-memory sample
    (numpy). Empty clusters re-seed to the current worst-fit point, so
    exactly k centroids always come back."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n = X.shape[0]
    if n <= k:
        # Degenerate corpus: pad with repeats so the codebook shape holds.
        idx = rng.choice(n, size=k, replace=True)
        return X[idx].copy()
    # k-means++ seeding: each next center drawn with prob ∝ D(x)^2.
    centers = [X[rng.randint(n)]]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        tot = d2.sum()
        if tot <= 0:
            centers.append(X[rng.randint(n)])
            continue
        centers.append(X[rng.choice(n, p=d2 / tot)])
        d2 = np.minimum(d2, ((X - centers[-1]) ** 2).sum(axis=1))
    C = np.stack(centers)
    assign = None
    for _ in range(max_iter):
        # ||x-c||^2 = ||x||^2 - 2x·c + ||c||^2; drop the x term (argmin-inv).
        dist = C @ X.T * -2.0 + (C * C).sum(axis=1)[:, None]
        new_assign = dist.argmin(axis=0)
        if assign is not None and (new_assign == assign).all():
            break
        assign = new_assign
        for c in range(k):
            mask = assign == c
            if mask.any():
                C[c] = X[mask].mean(axis=0)
            else:
                C[c] = X[dist.min(axis=0).argmax()]
    return C


def _collect_normalized_sample(
    emb: DataFrame, embedding_col: str, seed: int, train_sample: int
):
    """ONE count + ONE collect of RAW vectors, normalized driver-side in
    numpy: the float64 widen, the dimension-ORDERED squared-norm fold,
    the zero-norm identity guard, and the per-element division are the
    exact IEEE sequence of the Catalyst ``transform(v, x -> x / |v|)``
    expression, so every trained artifact is bit-identical to the previous
    collect-through-normalize form. That form was the hidden hot spot:
    the transform inlines the norm fold into EVERY element of its
    output transform (Catalyst substitutes, it does not CSE lambda-bound
    subtrees), so each collected row paid ~dim² interpreted steps —
    measured 1.9-4.1 s for a 2,000-row collect at sf0.1, pure expression
    interpretation. Raw collect + numpy is milliseconds and removes the
    separate dim-probe ``first()`` job too."""
    import numpy as np

    raw = emb.select(embedding_col)
    n = raw.count()
    if n == 0:
        raise ValueError("cannot train on an empty corpus")
    if n > train_sample:
        # Deterministic over-sample then exact-cap limit: sample() alone
        # is only approximate in count; the 1.1 fudge keeps the limit
        # full. Bernoulli row selection is projection-independent, so the
        # sampled rows equal the previous normalized-projection form's.
        raw = raw.sample(
            fraction=min(1.0, 1.1 * train_sample / n), seed=seed
        ).limit(train_sample)
    X = np.array([list(r[0]) for r in raw.collect()], dtype=np.float64)
    ss = np.zeros(len(X), dtype=np.float64)
    for j in range(X.shape[1]):
        ss = ss + X[:, j] * X[:, j]
    nrm = np.sqrt(ss)[:, None]
    nrm[nrm == 0.0] = 1.0  # zero vector stays itself
    return X / nrm


def _fit_codebooks(X, m: int, ksub: int, seed: int, max_iter: int):
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [
            [float(x) for x in c]
            for c in _kmeans_np(
                X[:, s * dsub : (s + 1) * dsub], ksub, seed + s, max_iter
            )
        ]
        for s in range(m)
    ]


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 16,
    ksub: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    embedding_col: str = "embedding",
    train_sample: int = 100_000,
) -> list[list[list[float]]]:
    """m codebooks of ksub centroids each, trained on L2-normalized
    subvector slices. Returns a driver-side nested list (kilobytes):
    codebooks[s][c] is the (D/m)-dim centroid c of subspace s.

    Scale posture (FAISS's published train-on-sample practice): codebook
    quality saturates at ~1k-10k training points per centroid, so the
    ONLY distributed work here is one count + one scan that collects a
    deterministic-seed RAW sample capped at ``train_sample`` rows — for
    D=64/float32 and the default cap that is a <=25 MB driver matrix, by
    construction (normalization happens driver-side in numpy,
    bit-identically: see :func:`_collect_normalized_sample`). The m
    independent subspace fits are then in-memory seeded k-means++
    (numpy) over slices of that matrix: no per-fit Spark jobs at all,
    where the previous MLlib form paid 16 sequential full-corpus
    k-means|| job chains — superlinear in corpus size for zero accuracy
    benefit. Encoding (the genuinely corpus-sized pass) stays fully
    distributed in :func:`encode_pq`. Training coarse AND fine together?
    Use :func:`train_ivfpq` — one shared sample scan instead of two."""
    X = _collect_normalized_sample(emb, embedding_col, seed, train_sample)
    return _fit_codebooks(X, m, ksub, seed, max_iter)


def train_ivfpq(
    emb: DataFrame,
    k: int = 8,
    m: int = 16,
    ksub: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    embedding_col: str = "embedding",
    train_sample: int = 100_000,
):
    """(coarse centroids DataFrame, PQ codebooks) from ONE shared sample
    scan — bit-identical to calling :func:`ivf.train_centroids` and
    :func:`train_pq_codebooks` separately with the same seed (identical
    sample rows, identical seeded fits), at half the corpus scans and
    half the collect jobs. This is how FAISS trains IndexIVFPQ too: one
    training set feeds both the coarse quantizer and the sub-quantizers."""
    X = _collect_normalized_sample(emb, embedding_col, seed, train_sample)
    centers = [
        (i, [float(x) for x in c])
        for i, c in enumerate(_kmeans_np(X, k, seed, max_iter))
    ]
    cents = emb.sparkSession.createDataFrame(
        centers, schema="c_id BIGINT, c_vec ARRAY<DOUBLE>"
    )
    return cents, _fit_codebooks(X, m, ksub, seed, max_iter)


def _codebook_lit(book: list[list[float]]) -> F.Column:
    # ONE nested-array Literal node (Spark 4 F.lit accepts nested lists)
    # instead of ksub*dsub Literal + CreateArray nodes: the analyzer and
    # codegen cost of the encode plan is proportional to the expression
    # TREE size, and the flat literal keeps it constant in ksub*dsub.
    return F.lit([[float(x) for x in c] for c in book])


def pq_codes_col(
    codebooks: list[list[list[float]]], normed_vec: F.Column
) -> F.Column:
    """The ARRAY<INT> of per-subspace nearest sub-centroid ids as a pure
    column expression over an already-normalized vector — composable into
    any map-only pass (encode_pq, the IVF-PQ index build)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])

    def argmin_code(s: int) -> F.Column:
        sub = F.slice(normed_vec, s * dsub + 1, dsub)
        init = F.struct(
            F.lit(float("inf")).alias("d"), F.lit(-1).alias("c")
        )

        def step(acc, pair):
            # squared euclidean of sub vs centroid (index-order fold)
            d = F.aggregate(
                F.zip_with(sub, pair["cv"], lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc2, x: acc2 + x,
            )
            return F.when(
                d < acc["d"], F.struct(d.alias("d"), pair["ci"].alias("c"))
            ).otherwise(acc)

        pairs = F.arrays_zip(
            _codebook_lit(codebooks[s]).alias("cv"),
            F.lit(list(range(len(codebooks[s])))).alias("ci"),
        )
        return F.aggregate(pairs, init, step)["c"]

    return F.array(*[argmin_code(s) for s in range(m)])


def _pq_codes_np(codebooks):
    """Closure: (n x D) float matrix -> (n x m) int codes, vectorized.
    Distance per subspace is one (n x ksub x dsub) broadcastified matrix
    op; argmin ties resolve to the LOWEST index — the same rule as the
    expression fold's strict-less update."""
    import numpy as np  # noqa: PLC0415

    mats = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m, dsub = len(mats), len(codebooks[0][0])

    def encode(X):
        # Sum of squares accumulated SEQUENTIALLY over columns (a Python
        # loop, vectorized across rows): np.linalg.norm switches to
        # pairwise summation for dim >= 16, and a last-ulp difference vs
        # the sequential folds in pq_codes_col / the DuckDB oracle could
        # flip a near-tie argmin and silently diverge codes.
        ss = np.zeros(len(X), dtype=np.float64)
        for j in range(X.shape[1]):
            ss = ss + X[:, j] * X[:, j]
        nrm = np.sqrt(ss)[:, None]
        nrm[nrm == 0.0] = 1.0
        Xn = X / nrm
        codes = np.empty((len(X), m), dtype=np.int32)
        for s in range(m):
            sub = Xn[:, s * dsub:(s + 1) * dsub]
            # same sequential left fold as pq_codes_col's aggregate —
            # np.sum over the dsub axis would go pairwise for dsub >= 16
            d = np.zeros((len(X), mats[s].shape[0]), dtype=np.float64)
            for j in range(dsub):
                diff = sub[:, j, None] - mats[s][None, :, j]
                d = d + diff * diff
            codes[:, s] = d.argmin(axis=1)
        return codes

    return encode


def encode_pq(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """(id, codes ARRAY<INT>): nearest sub-centroid id per subspace by
    euclidean distance on the normalized subvector. Still map-only (no
    shuffle), but the argmins run as VECTORIZED numpy over Arrow batches
    — each batch is one (n x ksub x dsub) matrix op per subspace, the
    FAISS encode shape. The pure-expression form (:func:`pq_codes_col`,
    kept for SQL-only deployments) pays interpreted HOF cost per row
    because lambda folds never enter codegen — measured ~4x slower on
    the sf0.1 encode. Tie-break (lowest index) matches the fold."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    encode = _pq_codes_np(codebooks)
    id_type = emb.schema[id_col].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[embedding_col].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": encode(X).tolist()}
            )

    return emb.select(id_col, embedding_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, codes array<int>"
    )


def adc_table(
    codebooks: list[list[list[float]]], query_vec: list[float]
) -> list[list[float]]:
    """The query's m x ksub inner-product table (driver-side: codebooks
    are kilobytes; this is NOT per-row work)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    n = sum(x * x for x in query_vec) ** 0.5 or 1.0
    q = [x / n for x in query_vec]
    return [
        [
            sum(q[s * dsub + j] * c[j] for j in range(dsub))
            for c in codebooks[s]
        ]
        for s in range(m)
    ]


def adc_score_col(
    codebooks: list[list[list[float]]], query_vec: list[float]
) -> F.Column:
    """Approximate inner-product of the query against a ``codes`` column:
    m array lookups + adds per row against the literal ADC table, shipped
    row-major as one flat array literal."""
    table = adc_table(codebooks, query_vec)
    ksub = len(table[0])
    tlit = vector_literal([x for row in table for x in row])
    return sum(
        (F.element_at(tlit, F.col("codes")[s] + (s * ksub + 1)))
        for s in range(len(codebooks))
    )


def pq_search(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """ADC shortlist + exact rerank: approximate score = m table lookups
    per stored vector (TakeOrdered heap to ``shortlist``), then ONLY the
    shortlist joins back to its full embeddings for exact cosine top-k.
    Returns (id, score) desc — same contract as the exact kNN."""
    codes = encode_pq(emb, codebooks, id_col, embedding_col)
    approx = adc_score_col(codebooks, query_vec)
    short = (
        codes.withColumn("approx", approx)
        .select(id_col, "approx")
        .orderBy(F.desc("approx"), F.asc(id_col))
        .limit(shortlist)
    )
    exact = with_score(
        emb.join(F.broadcast(short), id_col), query_vec, embedding_col
    )
    return (
        exact.select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_index(
    emb: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    partitions: int | None = None,
) -> DataFrame:
    """(id, cluster, codes): the FAISS IndexIVFPQ layout (flat encoding,
    by_residual=False) built in ONE map-only pass: coarse assignment and
    the m sub-code argmins both run inside the SAME Arrow batch — one
    numpy argmax (the bit-identical assignment kernel pinned by
    tests/test_ivf.py) plus one matrix op per subspace, one embedding
    transfer total. Fusing matters because the index pass already pays
    the Arrow round-trip for the encode, so assignment rides for free —
    where routing through assign_clusters' auto-dispatch at small C kept
    the INTERPRETED Catalyst fold (C x dim lambda steps per row) in the
    hot pass. Zero-shuffle, linear in corpus size; persist partitioned
    BY cluster and a probe becomes partition pruning."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from gistdex_spark.operators.ivf import _assign_batch_np, _centroid_arrays

    if partitions is not None:
        emb = emb.repartition(partitions)
    rows = centroids.select("c_id", "c_vec").orderBy("c_id").collect()
    encode = _pq_codes_np(codebooks)
    id_type = emb.schema[id_col].dataType.simpleString()
    if not rows:
        # mirror assign_clusters' no-centroid init: cluster -1
        return (
            encode_pq(emb, codebooks, id_col, embedding_col)
            .withColumn("cluster", F.lit(-1).cast("bigint"))
            .select(id_col, "cluster", "codes")
        )
    c_ids, cm, c_nrm = _centroid_arrays(rows)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[embedding_col].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": _assign_batch_np(X, c_ids, cm, c_nrm),
                    "codes": encode(X).tolist(),
                }
            )

    return emb.select(id_col, embedding_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, cluster bigint, codes array<int>"
    )


def ivfpq_search(
    emb: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ search (FAISS IndexIVFPQ): probe the query's ``nprobe``
    nearest cells, ADC-score ONLY their members' codes, heap a shortlist,
    exact-rerank just the shortlist against full embeddings.

    Cost at 100 TB: cell choice scores the kilobyte centroid frame;
    the corpus touch is (nprobe/k_cells of the data) x (m lookups/row);
    exact math happens on ``shortlist`` rows. Pass a persisted ``index``
    (from :func:`ivfpq_index`, ideally written partitioned by cluster)
    to skip the in-line index build — the production path."""
    if index is None:
        index = ivfpq_index(emb, centroids, codebooks, id_col, embedding_col)
    qcells = (
        with_score(centroids, query_vec, "c_vec")
        .orderBy(F.desc("score"), F.asc("c_id"))
        .limit(nprobe)
        .select(F.col("c_id").alias("cluster"))
    )
    short = (
        index.join(F.broadcast(qcells), "cluster")
        .withColumn("approx", adc_score_col(codebooks, query_vec))
        .select(id_col, "approx")
        .orderBy(F.desc("approx"), F.asc(id_col))
        .limit(shortlist)
    )
    exact = with_score(
        emb.join(F.broadcast(short), id_col), query_vec, embedding_col
    )
    return (
        exact.select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
