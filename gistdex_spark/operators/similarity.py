"""Similarity search: exact brute-force top-k, LSH-bucketed ANN, and the
semantic similarity join (reference J6, `doc-service.ts:228-341`).

Scale design:
- Brute-force kNN is a narrow scan + TakeOrderedAndProject — exact, and at
  100 TB it parallelizes perfectly (no shuffle until the final k-row merge).
- The LSH-bucketed variant prunes the scan to matching sign-buckets: the
  bucket id is derivable at write time (partition/Z-order by it) so bucket
  probes become partition pruning at the source.
- similarity_join broadcasts the (small) query side; per-query top-k /
  per-doc best-match are window aggregates partitioned by the join key.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gistdex_spark.functions.vectors import cosine
from gistdex_spark.operators.search import with_score

ROUND = 6


def sign_bucket(vec: Column | str, nbits: int = 8, offset: int = 0) -> Column:
    """LSH bucket id from the sign bits of ``nbits`` dimensions starting
    at ``offset`` — offset 0 is the classic single-table bucket; nonzero
    offsets give the independent projections of the multi-table family."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    out = F.lit(0)
    for i in range(nbits):
        out = out + F.when(vec[offset + i] > 0, F.lit(2**i)).otherwise(F.lit(0))
    return out.cast("int")


def sign_bucket_py(vec: list[float], nbits: int = 8, offset: int = 0) -> int:
    return sum(2**i for i in range(nbits) if vec[offset + i] > 0)


def ann_lsh(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: probe only the query's sign-bucket, exact top-k inside it.

    Approximate by construction (recall < 1); deterministic, so the oracle
    reproduces it. At scale the bucket filter prunes partitions when the
    table is written partitioned by bucket.
    """
    qb = sign_bucket_py(query_vec, nbits)
    pruned = emb.filter(sign_bucket(vec_col, nbits) == F.lit(qb))
    scored = with_score(pruned, query_vec, vec_col)
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def probe_buckets(
    query_vec: list[float], nbits: int = 8, radius: int = 1, offset: int = 0
) -> list[int]:
    """The query's sign-bucket plus every bucket within Hamming distance
    <= radius (bit flips). radius=1 → nbits+1 buckets."""
    from itertools import combinations

    qb = sign_bucket_py(query_vec, nbits, offset)
    out = {qb}
    for r in range(1, radius + 1):
        for bits in combinations(range(nbits), r):
            flipped = qb
            for b in bits:
                flipped ^= 1 << b
            out.add(flipped)
    return sorted(out)


def ann_lsh_multiprobe(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    nbits: int = 8,
    radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multiprobe ANN: exact top-k inside the query's bucket PLUS its
    Hamming-<=radius neighbors — the standard recall lever for sign-bucket
    LSH (a near-neighbor that flips one boundary sign lands one bit away).

    Still a deterministic IN-list filter, so (a) the DuckDB oracle can
    replay it and (b) a bucket-partitioned table prunes to radius+1 bucket
    groups instead of scanning the corpus. Probe count grows as
    C(nbits, <=radius); keep radius small and nbits moderate.
    """
    probes = probe_buckets(query_vec, nbits, radius)
    pruned = emb.filter(sign_bucket(vec_col, nbits).isin(probes))
    scored = with_score(pruned, query_vec, vec_col)
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def ann_lsh_multitable(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    nbits: int = 8,
    n_tables: int = 8,
    radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table sign-LSH ANN — the standard scale form (Andoni &
    Indyk, CACM 2008): ``n_tables`` INDEPENDENT hash tables, table t
    bucketing on the sign bits of dimension slice
    ``[t*nbits, (t+1)*nbits)``; the candidate set is the UNION over
    tables of the query's Hamming-<=``radius`` multiprobe buckets; exact
    cosine rerank of the union only.

    One table's recall is capped by its single projection (measured
    r9: 8-bit single-table tops out at 0.22 recall@10 even at radius 2);
    with L independent tables a true neighbour is missed only if it
    misses ALL L probes, so misses shrink ~exponentially in L. Every
    probe stays a deterministic IN-list — at rest, store the L bucket
    ids as tiny int columns (derivable at write time): each table's
    probe is then partition/Z-order pruning, and the union reads
    L × (probed buckets) instead of the corpus (EXERCISED:
    sources/lsh_store.py writes the layout and tests/test_lsh_store.py
    proves partition pruning on table 0 + pushed int predicates on the
    rest, with the stored search equal to this scan form exactly).
    The DuckDB oracle
    replays the identical bucket arithmetic, so the operator gets a
    full VALUE oracle, not a recall floor.
    """
    if n_tables * nbits > len(query_vec):
        raise ValueError(
            f"{n_tables} tables x {nbits} bits need {n_tables * nbits} dims; "
            f"embedding has {len(query_vec)}"
        )
    cond = None
    for t in range(n_tables):
        probes = probe_buckets(query_vec, nbits, radius, offset=t * nbits)
        c = sign_bucket(vec_col, nbits, offset=t * nbits).isin(probes)
        cond = c if cond is None else (cond | c)
    scored = with_score(emb.filter(cond), query_vec, vec_col)
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def table_votes(
    query_vec: list[float],
    bucket_col,
    nbits: int = 6,
    n_tables: int = 10,
    radius: int = 1,
    weighted: bool = True,
) -> Column:
    """Per-row agreement between the L table buckets and the query's, as
    ONE integer map expression. ``bucket_col(t)`` supplies table t's
    bucket-id column — the sign expression on a raw scan
    (:func:`ann_lsh_vote`), the stored ``b{t}`` int column at rest
    (sources/lsh_store.search_stored_vote) — so the scan and stored
    forms share the estimator by construction.

    ``weighted=True`` (default): GRADED agreement
    ``sum_t (nbits - popcount(bucket_t XOR query_bucket_t))`` — each
    table contributes how many of its sign bits agree, not a 0/1
    verdict. Measured on the sf0.1 hash corpus (5-query mean,
    ROUND11_NOTES): recall@10 = 0.70 at shortlist 100, matching
    binary-sign at equal shortlist, where the 0/1 indicator scored
    0.48; the radius-CUT graded variant ``max(0, radius+1 - ham)`` was
    measured too and does NOT beat the indicator (0.48 @100) — the
    near-miss tail bits carry the recoverable signal, so the sum runs
    over the full per-table Hamming distance and ``radius`` is unused.
    ``weighted=False``: the 0/1 in-probe-set indicator (votes = how
    many tables put the row inside the query's Hamming<=``radius``
    probe set) — kept because its vote is exactly membership in the
    union form's probe set, the quantity the multi-table oracle
    replays. Both are pure int arithmetic over bucket ids:
    deterministic, engine-independent, full value oracles."""
    votes = None
    for t in range(n_tables):
        b = bucket_col(t)
        if weighted:
            qb = sign_bucket_py(query_vec, nbits, offset=t * nbits)
            g = F.lit(nbits) - F.bit_count(b.bitwiseXOR(F.lit(qb)))
        else:
            probes = probe_buckets(query_vec, nbits, radius, offset=t * nbits)
            g = F.when(b.isin(probes), F.lit(1)).otherwise(F.lit(0))
        votes = g if votes is None else (votes + g)
    return votes


def ann_lsh_vote(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nbits: int = 6,
    n_tables: int = 10,
    radius: int = 1,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    weighted: bool = True,
) -> DataFrame:
    """Collision-count LSH ANN — the bounded-candidate answer to the
    multi-table union growing too large on hard (near-random) corpora:
    instead of reranking EVERY vector that matches ANY table,
    shortlist the ``shortlist`` vectors with the highest table
    agreement (:func:`table_votes`: graded bit-agreement by default,
    the 0/1 in-probe-set indicator with ``weighted=False``), then
    exact-rerank only those. More agreeing tables ⇒ higher collision
    probability ⇒ closer vector — the same monotone estimator MinHash
    signature agreement uses for Jaccard, applied to the sign tables.

    Cost shape is binary-sign's, built from the LSH family's parts: one
    cheap map expression per row (int XOR/popcount or IN-list compares —
    no dot products), a TakeOrdered heap to ``shortlist``, exact cosine
    on the shortlist only. The candidate volume is FIXED at
    ``shortlist`` regardless of how the corpus collides — where the
    union form's candidate_frac can reach ~0.7 on hash embeddings, this
    reranks exactly ``shortlist`` rows. Fully deterministic (votes and
    ties broken by id are engine-independent), so it carries a full
    VALUE oracle. At rest the vote expression reads the L stored bucket
    int columns — EXERCISED in sources/lsh_store.search_stored_vote
    (frame-equal to this scan form; embedding untouched until the
    rerank, pinned by tests/test_lsh_store.py)."""
    if n_tables * nbits > len(query_vec):
        raise ValueError(
            f"{n_tables} tables x {nbits} bits need {n_tables * nbits} dims; "
            f"embedding has {len(query_vec)}"
        )
    votes = table_votes(
        query_vec,
        lambda t: sign_bucket(vec_col, nbits, offset=t * nbits),
        nbits=nbits,
        n_tables=n_tables,
        radius=radius,
        weighted=weighted,
    )
    short = (
        emb.withColumn("__votes", votes)
        .orderBy(F.desc("__votes"), F.asc(id_col))
        .limit(shortlist)
    )
    return (
        with_score(short, query_vec, vec_col)
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def similarity_join(
    queries: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.7,
    k_per_query: int | None = 10,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """J6: every query scored against the corpus; threshold + top-k/query.

    The reference runs a sequential per-query loop (`doc-service.ts:291-334`);
    here it is ONE broadcast join — queries are small (<=30 in ci:doc), the
    corpus side streams, and per-query top-k is a single window shuffle.
    """
    scored = corpus.crossJoin(F.broadcast(queries)).withColumn(
        "sim", F.round(cosine(corpus_vec, query_vec), ROUND)
    )
    out = scored.filter(F.col("sim") >= F.lit(threshold))
    if k_per_query is not None:
        w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(corpus_id))
        out = out.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= k_per_query
        ).drop("rn")
    return out.drop(query_vec)


def best_match_per_doc(
    matches: DataFrame,
    doc_col: str = "vec_id",
    sim_col: str = "sim",
    query_col: str = "query_id",
) -> DataFrame:
    """W5: per doc keep the max-similarity match + the set of matched queries.

    ONE hash aggregate (partial map-side combine): the argmax rides as
    max(struct(sim, -query)) so ties resolve to the smallest query id —
    identical to row_number over (sim DESC, query ASC). The window+agg+join
    form reads `matches` twice and shuffles three times; this reads once
    and shuffles once. Requires a numeric query id column.
    """
    b = F.max(
        F.struct(F.col(sim_col).alias("s"), (-F.col(query_col)).alias("nq"))
    ).alias("b")
    return (
        matches.groupBy(doc_col)
        .agg(
            b,
            F.array_sort(F.collect_set(query_col)).alias("matched_queries"),
            F.count(F.lit(1)).alias("match_count"),
        )
        .select(
            doc_col,
            F.col("b.s").alias("best_sim"),
            (-F.col("b.nq")).alias("best_query"),
            "matched_queries",
            "match_count",
        )
    )


def binary_signature(
    vec_col: str = "embedding", lo_bits: int = 32, hi_bits: int = 32
):
    """(lo, hi) BIGINT halves of the 1-bit-per-dimension sign signature —
    binary quantization, the most aggressive embedding compression
    (64 float32 -> 8 bytes, 32x). Split into two 32-bit halves so the
    arithmetic stays inside signed BIGINT on every engine (2^63 would
    overflow). Zero-shuffle fold per half."""

    def half(offset: int, bits: int):
        powers = F.lit(np.array([1 << i for i in range(bits)], dtype=np.int64))
        return F.aggregate(
            F.zip_with(
                F.slice(vec_col, offset + 1, bits),
                powers,
                lambda x, p: F.when(x > 0, p).otherwise(F.lit(0)),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return half(0, lo_bits), half(lo_bits, hi_bits)


def binary_signature_py(vec: list[float]) -> tuple[int, int]:
    lo = sum(1 << i for i in range(32) if vec[i] > 0)
    hi = sum(1 << i for i in range(32) if vec[32 + i] > 0)
    return lo, hi


def ann_binary_sign(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantized ANN: Hamming-distance shortlist on the sign
    signature (bit_count(xor) — 2 instructions per 32 dims), then exact
    cosine rerank of ONLY the shortlist. Fully deterministic (sign bits
    and Hamming ties broken by id are engine-independent), so unlike
    IVF/PQ this quantization gets a full VALUE oracle, not a recall
    floor. At rest, store (lo, hi) as columns: the shortlist pass then
    reads 16 bytes/row instead of the embedding."""
    lo, hi = binary_signature(vec_col)
    qlo, qhi = binary_signature_py(query_vec)
    sig = emb.select(id_col, vec_col, lo.alias("__lo"), hi.alias("__hi"))
    ham = F.expr(
        f"cast(bit_count(__lo ^ {qlo}L) as int)"
        f" + cast(bit_count(__hi ^ {qhi}L) as int)"
    )
    short = (
        sig.withColumn("__ham", ham)
        .orderBy(F.asc("__ham"), F.asc(id_col))
        .limit(shortlist)
    )
    return (
        with_score(short, query_vec, vec_col)
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    min_df: int = 2,
    max_df: int = 30,
    min_len: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse TF-IDF cosine similarity between documents via an
    inverted-index equality join — document similarity WITHOUT embeddings
    (the lexical complement to the dense-vector family; near-identical
    docs score ~1 even when the hash embedder scatters them).

    Scale design: candidate pairs come ONLY from shared postings (join on
    term), and the posting-length cap (``max_df``) bounds each term's
    fan-out — dropping ubiquitous terms is the standard guard that keeps
    the pair join linear-ish in corpus size rather than quadratic
    (ubiquitous terms carry ~zero idf weight anyway). All float sums
    (norms and pair dots) fold in TERM ORDER via sorted-array aggregates,
    so every value is engine-identical for the DuckDB oracle.
    """
    from gistdex_spark.functions.text import stopword_array, tokens

    # explode_OUTER + not-null above the Generate: plain explode pushes
    # an implicit size>0 filter below the projection with the tokenize
    # inlined (one extra split per row — the ngram_jaccard finding);
    # the length >= min_len filter then drops the NULL terms the outer
    # form emits for empty docs, exactly as explode dropped their rows.
    tokd = (
        docs.select(
            F.col(id_col), F.explode_outer(tokens(text_col)).alias("term")
        )
        .filter(F.length("term") >= min_len)
        .filter(~F.array_contains(stopword_array(), F.col("term")))
    )
    tf = tokd.groupBy(id_col, "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    dfr = (
        tf.groupBy("term")
        .agg(F.count("*").alias("dfv"))
        .filter(
            (F.col("dfv") >= min_df) & (F.col("dfv") <= max_df)
        )
    )
    n_docs = docs.agg(F.count("*").cast("double").alias("__n"))
    post = (
        tf.join(dfr, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "w",
            F.col("tf")
            * F.round(F.log(F.col("__n") / F.col("dfv")), 6),
        )
        .select(id_col, "term", "w")
    )

    def _term_fold(expr):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", expr.alias("x")))),
                lambda s: s["x"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    norms = post.groupBy(id_col).agg(
        F.sqrt(_term_fold(F.col("w") * F.col("w"))).alias("norm")
    )
    a = post.select(
        F.col(id_col).alias("da"), "term", F.col("w").alias("wa")
    )
    b = post.select(
        F.col(id_col).alias("db"), "term", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(_term_fold(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("da"), F.col("norm").alias("na"))
    nb = norms.select(F.col(id_col).alias("db"), F.col("norm").alias("nb"))
    return dots.join(na, "da").join(nb, "db").select(
        "da",
        "db",
        F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos"),
    )


def int8_query_codes(query_vec: list[float]) -> list[int]:
    """The quantize_int8_stats code rule (clamp(floor(x/s + 0.5), ±127))
    applied driver-side — shared by the scan form, the stored form, and
    the registry oracle so all three inline the same BIGINT literals."""
    import math  # noqa: PLC0415

    qscale = max(abs(x) for x in query_vec) / 127.0
    if qscale == 0.0:
        return [0] * len(query_vec)
    return [
        int(min(max(math.floor(x / qscale + 0.5), -127.0), 127.0))
        for x in query_vec
    ]


def ann_int8(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Int8 symmetric-quantized ANN (4x compression): the shortlist
    ranks by the exact INTEGER dot product between per-vector int8
    codes and the identically quantized query, then exact cosine
    reranks ONLY the shortlist. Quantization is the
    pipeline.quantize_int8_stats recipe — scale = max|x|/127 per
    vector, code = clamp(floor(x/scale + 0.5), ±127) so the tie rule is
    bit-identical across engines — and the shortlist score is pure
    BIGINT arithmetic, so like binary-sign (and unlike trained IVF/PQ)
    this quantization carries a full VALUE oracle. At rest the codes +
    scale are stored as columns and the shortlist pass reads ~dim bytes
    + 8 per row, never the f64 embedding — exercised code in
    sources/int8_store (frame equality with this scan form and both
    column-pruning pins in tests/test_int8_store.py); compute-on-scan
    here keeps the oracle self-contained.

    The shortlist ranks by ``code_dot * scale`` — the approximate dot
    product up to the constant query scale — not the raw code dot:
    per-vector scales differ, so the raw integer dot of a large-scale
    vector is not comparable to a small-scale one's. The product of an
    exact BIGINT and the exact scale double is still a single IEEE
    multiply, engine-identical. Zero vectors (scale 0) score 0. Two
    stacked TakeOrdered heaps — zero shuffles, the ann_lsh_vote plan
    shape.
    """
    qint = int8_query_codes(query_vec)
    # Spark SQL arrays index from 0 (the oracle's DuckDB lists from 1).
    terms = " + ".join(
        f"cast(greatest(least(floor({vec_col}[{i}] / __s + 0.5), 127.0),"
        f" -127.0) as bigint) * {q}L"
        for i, q in enumerate(qint)
    )
    scale = (
        f"array_max(transform({vec_col}, x -> abs(cast(x as double))))"
        " / 127.0"
    )
    # Dim guard IN the plan (the search_stored_int8 guard class, without
    # its eager job): vec_col[i] past the embedding's end is NULL with
    # ANSI off — silently NULL-poisoning every __qdot so the shortlist
    # degrades to the id tie-break — and a generic INVALID_ARRAY_INDEX
    # with ANSI on. The guard is `<>`, not `<`: a query SHORTER than the
    # stored embeddings would otherwise silently score a prefix dot
    # product, which is just as wrong as the overrun —
    # search_stored_int8's sidecar guard already uses `!=`, and the two
    # forms must fail on the same inputs. The leading CASE branch fails
    # loudly per row with a precise message before the index
    # expressions evaluate.
    dim_guard = (
        f"when size({vec_col}) <> {len(qint)} then cast(raise_error("
        f"concat('ann_int8: dimension mismatch — query dim {len(qint)}"
        f" vs embedding dim ', cast(size({vec_col}) as string))) as double)"
    )
    short = (
        emb.select(id_col, vec_col)
        .withColumn("__s", F.expr(scale))
        .withColumn(
            "__qdot",
            F.expr(
                f"case {dim_guard}"
                f" when __s = 0.0 then cast(0.0 as double)"
                f" else cast({terms} as double) * __s end"
            ),
        )
        .orderBy(F.desc("__qdot"), F.asc(id_col))
        .limit(shortlist)
    )
    return (
        with_score(short, query_vec, vec_col)
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
