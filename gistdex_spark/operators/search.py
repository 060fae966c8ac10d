"""Search operators: kNN top-k, batched kNN, rerank, hybrid, pagination.

Maps SURVEY.md §2 J3/W1/W2/W3/W6/F7/F8. Reference behavior:
- kNN: score candidates by cosine, ORDER BY score DESC LIMIT k
  (`sqlite-storage-operations.ts:182-218`, `memory-adapter.ts:50-88`).
- rerank (W2): score' = score + boost_factor * match_count, resort
  (`search.ts:21-49`).
- hybrid (W3): re-SCORES the semantic candidate set (not a second
  retrieval): score' = score*(1-w) + (matches/#words)*w (`search.ts:98-136`).
- pagination (W6): over-fetch k = page_size*3, slice by offset
  (`agent-query-tool.ts:900-941`).

Scale notes: ``with_score(df, qv)`` is the one scoring stage for a literal
query vector (kNN here, the ANN reranks and centroid probes elsewhere): the
vector ships as one array literal (broadcast by value), scoring is a narrow
map over the scan (no shuffle), and top-k compiles to TakeOrderedAndProject
(per-partition heap + driver merge of k rows — no full sort even at
100 TB). Batched kNN broadcasts the query set and takes top-k per query
with one window shuffle partitioned by query id.

Scores are rounded to 6 dp *before* ordering with an id tiebreak, so result
sets are deterministic and engine-independent (the DuckDB oracle sorts the
same way).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gistdex_spark.functions.text import match_count, query_words, tokens
from gistdex_spark.functions.vectors import cosine, dot_sql, quote, vector_literal

ROUND = 6


def seq_norm(vec: list[float]) -> float:
    """Query-vector norm for :func:`with_score`: a sequential left-fold sum
    of squares, the accumulation order of the engines' row norm, and a
    correctly rounded square root like theirs (``s**0.5`` is not)."""
    s = 0.0
    for v in vec:
        s += v * v
    return math.sqrt(s)


def with_score(
    df: DataFrame,
    qv: list[float],
    vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Attach ``round(cosine(vec_col, qv), 6)``: the one way this package
    scores rows against a literal query vector. A zero row vector scores
    0.0; a null embedding, a null element or a length mismatch scores
    null. A zero query vector scores every row 0.0, as :func:`cosine`
    does.

    Plan shape: ``qv`` is one array literal and its norm a double literal
    (:func:`seq_norm`), so scoring adds no Spark job and no join. The row
    norm is read twice (zero guard and denominator) but folded once: the
    score binds it as the one element of a ``transform``. So scoring is a
    single projection, which CollapseProject merges with the literal's,
    and a top-k heap below it stays a TakeOrderedAndProject that scores
    only the rows it keeps. Each expression is parsed from SQL text in one
    JVM call (:func:`dot_sql`).
    """
    qn = seq_norm(qv)
    if qn == 0.0:
        return df.withColumn(score_col, F.lit(0.0))
    q, v = "__q_vec", quote(vec_col)
    score = (
        f"round(transform(array(sqrt({dot_sql(v, v)})), ne -> "
        f"CASE WHEN ne = 0D THEN 0D "
        f"ELSE {dot_sql(v, q)} / (ne * {qn!r}D) END)[0], {ROUND})"
    )
    return (
        df.select("*", vector_literal(qv).alias(q))
        .withColumn(score_col, F.expr(score))
        .drop(q)
    )


def knn_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batched kNN: broadcast the (small) query set, window top-k per query.

    One shuffle (partition by query_id); at scale the corpus side stays
    partition-local until the rank shuffle, and AQE handles skew.
    """
    scored = corpus.crossJoin(F.broadcast(queries)).withColumn(
        "score", F.round(cosine(vec_col, query_vec_col), ROUND)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn", query_vec_col)
    )


def rerank(
    df: DataFrame,
    query: str,
    boost_factor: float = 0.1,
    content_col: str = "text",
    score_col: str = "score",
) -> DataFrame:
    """W2: score + boost_factor * #query-words-contained (then re-sort)."""
    words = query_words(query)
    if not words:
        return df
    return df.withColumn(
        score_col,
        F.round(F.col(score_col) + match_count(content_col, words) * F.lit(boost_factor), ROUND),
    )


def hybrid_score(
    df: DataFrame,
    query: str,
    keyword_weight: float = 0.3,
    content_col: str = "text",
    score_col: str = "score",
) -> DataFrame:
    """W3: blend semantic score with keyword-match ratio over the SAME rows."""
    words = query_words(query)
    ratio = (
        (match_count(content_col, words) / F.lit(float(len(words))))
        if words
        else F.lit(0.0)
    )
    return df.withColumn(
        score_col,
        F.round(
            F.col(score_col) * F.lit(1.0 - keyword_weight) + ratio * F.lit(keyword_weight),
            ROUND,
        ),
    )


def exclude_ids(df: DataFrame, ids: list, id_col: str = "vec_id") -> DataFrame:
    """F8: drop rows whose id is in the exclusion list (small, literal)."""
    return df.filter(~F.col(id_col).isin(ids))


def threshold(df: DataFrame, t: float, score_col: str = "score") -> DataFrame:
    """F7: keep rows with score >= t (default 0.7 in the reference ci:doc)."""
    return df.filter(F.col(score_col) >= F.lit(t))


def paginate(
    df: DataFrame,
    page: int,
    page_size: int,
    id_col: str = "vec_id",
    score_col: str = "score",
) -> DataFrame:
    """W6: global rank slice [page*size, (page+1)*size) after over-fetch.

    The reference over-fetches k = page_size*3 then slices in memory; here
    the rank is a window over an already-top-k'd (small) result set, so the
    single-partition window is bounded by the over-fetch, never the corpus.
    """
    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    rn = F.row_number().over(w)
    lo, hi = page * page_size, (page + 1) * page_size
    return df.withColumn("rn", rn).filter((F.col("rn") > lo) & (F.col("rn") <= hi)).drop("rn")


def tokenized(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, __toks): the tokenized-corpus frame every BM25-family
    operator consumes. Build it ONCE per multi-pass retrieval pipeline
    and pass it to bm25 / bm25_sparse / prf_expand_terms via their
    ``tokd=`` parameter — tokenization is the dominant map cost of
    sparse retrieval, and Spark has no cross-branch CSE, so each
    operator referencing its own copy re-tokenizes the corpus per pass.
    The caller owns the materialization policy: the registry's
    retrieval chains checkpoint it into their query's
    :mod:`~gistdex_spark.materialize` scope; at 100 TB,
    persist(DISK_ONLY) or plain recompute-per-pass."""
    return df.select(F.col(id_col), tokens(text_col).alias("__toks"))


def bm25(
    df: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "score",
    tokd: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 over the multilingual tokenizer, query-terms-only.

    The reference scores keyword relevance by substring match counts
    (`search.ts:34-40`); BM25 is the standard upgrade a search engine ships:
    idf-weighted, length-normalized term frequency (Robertson/Sparck Jones,
    the Lucene `k1`/`b` form with idf = ln(1 + (N - df + 0.5)/(df + 0.5))).

    Scale shape: NO inverted index is materialized — only the query's own
    terms are counted. Pass 1 computes per-doc tf per term (narrow map over
    the scan), then ONE map-side-combined aggregate reduces corpus stats
    (N, avg dl, per-term df) to a single broadcast row; pass 2 is a narrow
    scoring map. Two scans, zero shuffles of the corpus, and the final
    top-k (done by the caller) compiles to TakeOrderedAndProject. The idf
    is rounded to 6 dp before the fold so both engines multiply identical
    doubles; the per-term sum is chained in listed-term order (sequential,
    engine-independent).
    """
    def _eq(term):  # F.filter treats 2-arg lambdas as (element, index)
        return lambda x: x == F.lit(term)

    # Materialize the token array ONCE per row in its own projection:
    # the regex split is referenced 1 + len(terms) times downstream, and
    # CollapseProject keeps non-cheap multiply-referenced projections
    # separate — inlining it would re-tokenize per referencing expression
    # (the ivfpq normalize-fold blowup, ~len(terms)x the scan cost). A
    # caller-supplied (cached) token frame removes even the per-PASS
    # re-tokenization (stats pass + scoring pass both read it).
    if tokd is None:
        tokd = tokenized(df, id_col, text_col)
    tf_cols = [
        F.size(F.filter(F.col("__toks"), _eq(t))).alias(f"__tf_{i}")
        for i, t in enumerate(terms)
    ]
    perdoc = tokd.select(
        F.col(id_col),
        F.size("__toks").cast("double").alias("__dl"),
        *tf_cols,
    )
    stats = perdoc.agg(
        F.count("*").cast("double").alias("__n"),
        (F.sum("__dl") / F.count("*")).alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("int"))
            .cast("double")
            .alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = perdoc.crossJoin(F.broadcast(stats))
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / F.col("__avgdl")
    )
    total = F.lit(0.0)
    for i in range(len(terms)):
        idf = F.round(
            F.log(
                F.lit(1.0)
                + (F.col("__n") - F.col(f"__df_{i}") + F.lit(0.5))
                / (F.col(f"__df_{i}") + F.lit(0.5))
            ),
            ROUND,
        )
        tf = F.col(f"__tf_{i}").cast("double")
        total = total + idf * (tf * F.lit(k1 + 1.0)) / (tf + norm)
    return scored.select(
        F.col(id_col), F.round(total, ROUND).alias(score_col)
    ).filter(F.col(score_col) > 0)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    score_col: str = "score",
    fused_col: str = "rrf_score",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009) of two
    ranked candidate lists: rrf(d) = Σ 1/(k + rank_i(d)), full-outer on id.

    Inputs are already-bounded candidate lists (post-top-k), so the rank
    windows run over at most the fused candidate caps — bounded by the
    retrieval parameters, never the corpus — and the join broadcasts.
    1/(k+rank) is an exact double of small integers on every engine; no
    rounding boundary exists to diverge.
    """
    wa = Window.orderBy(F.desc(score_col), F.asc(id_col))
    ra = ranked_a.select(id_col, F.row_number().over(wa).alias("__ra"))
    rb = ranked_b.select(id_col, F.row_number().over(wa).alias("__rb"))
    # full outer can't BroadcastHashJoin; both sides are post-top-k
    # (tens of rows), so the exchange is trivially small.
    fused = ra.join(rb, id_col, "full_outer")
    contrib_a = F.when(
        F.col("__ra").isNotNull(), F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("__ra"))
    ).otherwise(F.lit(0.0))
    contrib_b = F.when(
        F.col("__rb").isNotNull(), F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("__rb"))
    ).otherwise(F.lit(0.0))
    return fused.select(
        id_col, F.round(contrib_a + contrib_b, ROUND).alias(fused_col)
    )


def mmr_select(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "doc_id",
    score_col: str = "score",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell & Goldstein
    1998): greedily pick k items maximizing lam*relevance -
    (1-lam)*max_sim_to_already_selected.

    Distribution contract: ``candidates`` is an already-top-N retrieval
    result (bounded by the retrieval parameter, never the corpus). The
    pairwise similarity matrix is computed DISTRIBUTED (broadcast
    self-join, cosine rounded to 6 dp engine-side); only the N relevance
    rows + N*(N-1) sim rows are collected for the greedy loop — the same
    bounded-collect contract as pagination. The objective is truncated by
    floor-scaling (floor(x*1e6)/1e6), the one rounding form that is the
    identical function of the same double in Python, Spark, and DuckDB
    (see q2_cheapest_supplier) — ties broken by id ascending.
    """
    spark = candidates.sparkSession
    # a NULL embedding cannot be diversified against (cosine -> NULL sims
    # would poison the greedy max); drop such candidates up front
    cand = candidates.select(id_col, score_col, vec_col).filter(
        F.col(vec_col).isNotNull()
    )
    a = cand.select(
        F.col(id_col).alias("__i"),
        F.col(score_col).alias("__rel"),
        F.col(vec_col).alias("__va"),
    )
    bside = cand.select(F.col(id_col).alias("__j"), F.col(vec_col).alias("__vb"))
    pairs = (
        a.crossJoin(F.broadcast(bside))
        .filter(F.col("__i") != F.col("__j"))
        .select(
            "__i",
            "__j",
            F.round(cosine("__va", "__vb"), ROUND).alias("__s"),
        )
    )
    rel = {r["__i"]: r["__rel"] for r in a.select("__i", "__rel").collect()}
    sim: dict[tuple, float] = {
        (r["__i"], r["__j"]): r["__s"] for r in pairs.collect()
    }
    selected: list[tuple] = []  # (rank, id, mmr)
    chosen: list = []
    remaining = sorted(rel)
    while remaining and len(selected) < k:
        best = None
        for d in remaining:  # id-ascending scan => asc tiebreak for free
            max_s = max((sim[(d, s)] for s in chosen), default=0.0)
            raw = lam * rel[d] - (1.0 - lam) * max_s
            m = math.floor(raw * 1_000_000) / 1_000_000
            if best is None or m > best[1]:
                best = (d, m)
        selected.append((len(selected) + 1, best[0], best[1]))
        chosen.append(best[0])
        remaining.remove(best[0])
    # carry the caller's id type through (string chunk ids work too)
    id_type = candidates.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        selected, schema=f"sel_rank INT, {id_col} {id_type}, mmr DOUBLE"
    )


def encode_cursor(offset: int, query: str, goal: str) -> str:
    """Resumable-pagination cursor (`agent-query-tool.ts:777-809`):
    base64 of the {offset, query, goal} JSON envelope."""
    import base64
    import json

    payload = json.dumps(
        {"offset": offset, "query": query, "goal": goal}, separators=(",", ":")
    )
    return base64.b64encode(payload.encode("utf-8")).decode("ascii")


def decode_cursor(cursor: str) -> dict | None:
    """Inverse of encode_cursor; returns None on any malformed input
    (bad base64 / bad JSON / wrong field types), like the reference."""
    import base64
    import json

    try:
        payload = json.loads(base64.b64decode(cursor).decode("utf-8"))
    except Exception:
        return None
    if (
        not isinstance(payload, dict)
        or not isinstance(payload.get("offset"), int)
        or isinstance(payload.get("offset"), bool)
        or payload["offset"] < 0
        or not isinstance(payload.get("query"), str)
        or not isinstance(payload.get("goal"), str)
    ):
        # A negative offset never round-trips from encode_cursor (pages
        # only advance), and the reference's results.slice() gives it
        # from-the-end semantics we don't implement — treat as malformed.
        return None
    return payload


def paginate_with_cursor(
    df: DataFrame,
    query: str,
    goal: str,
    cursor: str | None = None,
    page_size: int = 5,
    id_col: str = "vec_id",
    score_col: str = "score",
) -> tuple[DataFrame, str | None]:
    """W6 + the resumable-cursor contract (`agent-query-tool.ts:876-960`):
    decode/validate the cursor against the current (query, goal) context,
    slice one page from the over-fetched result set, and hand back the
    next cursor — or None when the page was not full (no more results).

    Raises ValueError on an invalid or mismatched cursor, mirroring the
    reference's error responses.
    """
    offset = 0
    if cursor is not None:
        decoded = decode_cursor(cursor)
        if decoded is None:
            raise ValueError("Invalid cursor")
        if decoded["query"] != query or decoded["goal"] != goal:
            raise ValueError("Cursor does not match current query context")
        offset = decoded["offset"]
    if page_size <= 0:
        raise ValueError("page_size must be positive")
    # slice [offset, offset + page_size) — arbitrary offsets allowed, like
    # the reference's results.slice(offset, offset + pageSize). ONE job:
    # over-fetch a single sentinel row past the page; its presence IS
    # has_more — no second look-ahead action against the ranked frame.
    # "__rn" rather than "rn": withColumn would silently REPLACE a
    # caller's existing column of the same name mid-schema and misalign
    # the positional rebuild below.
    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    ranked = df.withColumn("__rn", F.row_number().over(w))
    rows = ranked.filter(
        (F.col("__rn") > offset) & (F.col("__rn") <= offset + page_size + 1)
    ).collect()
    has_more = len(rows) > page_size
    # rebuild BY NAME in explicit rank order — collect() order after a
    # filter is not contractually the window order, and positional
    # slicing (r[:-1]) breaks the moment field order shifts
    rows.sort(key=lambda r: r["__rn"])
    cols = [c for c in ranked.columns if c != "__rn"]
    schema = ranked.drop("__rn").schema
    page = df.sparkSession.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows[:page_size]], schema
    )
    nxt = encode_cursor(offset + page_size, query, goal) if has_more else None
    return page, nxt


def bm25_sparse(
    df: DataFrame,
    terms_df: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "score",
    tokd: DataFrame | None = None,
) -> DataFrame:
    """BM25 in long/sparse form: the term set is DATA (a one-column
    DataFrame), not pivoted columns — the shape for data-dependent or
    large query sets (pseudo-relevance feedback, benchmark query batches),
    where one pivoted column per term would blow up the projection.

    Scale shape: tokens explode narrow, the term filter is a broadcast
    semi-join (query sets are small vs the corpus; for truly huge term
    sets drop the broadcast and it becomes a plain equality join), tf and
    df are map-side-combined hash aggs, and corpus stats ride one
    broadcast row. The per-doc sum folds contributions in TERM ORDER
    (array_sort + sequential aggregate) so the float sum is
    engine-identical — a plain SUM() would accumulate in partition order.
    A caller-supplied ``tokd`` (see :func:`tokenized`) is read by both
    the stats pass and the tf/df pass without re-tokenizing.
    """
    if tokd is None:
        tokd = tokenized(df, id_col, text_col)
    perdoc = tokd.select(
        F.col(id_col), F.size("__toks").cast("double").alias("__dl")
    )
    stats = perdoc.agg(
        F.count("*").cast("double").alias("__n"),
        (F.sum("__dl") / F.count("*")).alias("__avgdl"),
    )
    hits = (
        tokd.select(
            F.col(id_col),
            F.size("__toks").cast("double").alias("__dl"),
            F.explode("__toks").alias("term"),
        )
        .join(F.broadcast(terms_df.select("term").distinct()), "term")
        .groupBy(id_col, "term", "__dl")
        .agg(F.count("*").cast("double").alias("__tf"))
    )
    dfreq = hits.groupBy("term").agg(
        F.count("*").cast("double").alias("__df")
    )
    contrib = (
        hits.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__contrib",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("__n") - F.col("__df") + F.lit(0.5))
                    / (F.col("__df") + F.lit(0.5))
                ),
                ROUND,
            )
            * (F.col("__tf") * F.lit(k1 + 1.0))
            / (
                F.col("__tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / F.col("__avgdl"))
            ),
        )
    )
    ordered_fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("term", "__contrib"))),
            lambda s: s["__contrib"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        contrib.groupBy(id_col)
        .agg(F.round(ordered_fold, ROUND).alias(score_col))
        .filter(F.col(score_col) > 0)
    )


def prf_expand_terms(
    df: DataFrame,
    seed_hits: DataFrame,
    seed_terms: list[str],
    n_expand: int = 5,
    min_len: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokd: DataFrame | None = None,
) -> DataFrame:
    """Pseudo-relevance feedback term selection (the RM-style expansion
    step): the most frequent non-stopword, non-seed terms of the seed
    result docs, deterministically cut by (count desc, term asc). The
    seed-hit id set is bounded (post-top-k), so it broadcasts into a
    semi-join and the expansion agg touches only those docs' tokens
    (from the shared ``tokd`` frame when supplied)."""
    from gistdex_spark.functions.text import stopword_array

    if tokd is None:
        tokd = tokenized(df, id_col, text_col)
    hits_docs = tokd.join(
        F.broadcast(seed_hits.select(id_col)), id_col, "left_semi"
    )
    toks = hits_docs.select(F.explode("__toks").alias("term"))
    return (
        toks.filter(F.length("term") >= min_len)
        .filter(~F.array_contains(stopword_array(), F.col("term")))
        .filter(~F.col("term").isin(seed_terms))
        .groupBy("term")
        .agg(F.count("*").alias("__n"))
        .orderBy(F.desc("__n"), F.asc("term"))
        .limit(n_expand)
        .select("term")
    )
