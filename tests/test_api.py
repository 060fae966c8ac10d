"""End-to-end facade test: index → store → search → reconstruct → stats,
mirroring the reference's integration flow
(`tests/integration/search-flow.test.ts` scenarios)."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from gistdex_spark.api import GistdexSpark
from gistdex_spark.functions.embedder import embed_text
from gistdex_spark.functions.text import query_words
from gistdex_spark.functions.vectors import cosine, vector_literal
from gistdex_spark.operators.search import seq_norm, with_score


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("store") / "chunks")
    eng = GistdexSpark(spark, store, dim=32)
    # non-periodic corpora: the deterministic embedder is hash-random (no
    # semantic signal), so relevance assertions go through the keyword
    # paths; reconstruction needs locally-unique overlaps
    docs = [
        (
            "doc-a",
            " ".join(f"spark shuffle partition broadcast join w{i:03d}" for i in range(24)),
            "docs",
        ),
        (
            "doc-b",
            " ".join(f"vector embedding cosine similarity search v{i:03d}" for i in range(24)),
            "docs",
        ),
        (
            "doc-c",
            "\n".join(f"def chunker_{i}(text):\n    return text.split()" for i in range(12)),
            "code",
        ),
    ]
    df = spark.createDataFrame(
        docs, schema="source_id STRING, content STRING, source_type STRING"
    )
    eng.index_text(df, size=150, overlap=30)
    return eng


def test_index_created_chunks(engine):
    chunks = engine.chunks()
    assert chunks.count() > 3
    assert chunks.select("source_id").distinct().count() == 3
    # ids deterministic + unique
    assert chunks.select("id").distinct().count() == chunks.count()
    # every chunk embedded at the configured dim
    assert chunks.select(F.min(F.size("embedding"))).first()[0] == 32


def test_search_finds_relevant_source(engine):
    # hybrid with a dominant keyword weight: the embedder carries no
    # semantic signal, so relevance must come from the keyword ratio
    n = engine.count()
    hits = engine.search(
        "cosine similarity search", k=n, hybrid=True, keyword_weight=0.9
    ).collect()
    assert hits
    assert hits[0].source_id == "doc-b"
    scores = [h.score for h in hits]
    assert scores == sorted(scores, reverse=True)


def test_search_source_type_filter(engine):
    hits = engine.search("chunker text split", k=5, source_type="code").collect()
    assert hits and all(h.source_type == "code" for h in hits)


def test_hybrid_vs_rerank_paths(engine):
    sem = engine.search("spark broadcast join", k=3, rerank=False).collect()
    rr = engine.search("spark broadcast join", k=3, rerank=True).collect()
    hy = engine.search("spark broadcast join", k=3, hybrid=True).collect()
    assert {h.id for h in sem} == {h.id for h in rr} == {h.id for h in hy}, (
        "rerank/hybrid re-score the SAME candidate set"
    )
    assert any(r.score != s.score for r, s in zip(rr, sem)) or any(
        h.score != s.score for h, s in zip(hy, sem)
    )


def _round6(x: float) -> float:
    """Spark's ``round(double, 6)``: HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _python_search(engine, query, k, source_type=None, hybrid=False, w=0.3):
    """Independent reference for GistdexSpark.search: sequential double dot
    products, the zero-norm guard, HALF_UP rounding, (score desc, id asc)
    top-k, then the keyword rerank or hybrid blend over the same rows."""
    qv = embed_text(query, engine.dim)
    qn = seq_norm(qv)
    rows = engine.chunks().select("id", "content", "embedding", "source_type").collect()
    cand = []
    for r in rows:
        if source_type is not None and r.source_type != source_type:
            continue
        e = [float(x) for x in r.embedding]
        nn = 0.0
        d = 0.0
        for a, b in zip(e, qv):
            nn += a * a
            d += a * b
        ne = math.sqrt(nn)
        cand.append((0.0 if ne == 0.0 else _round6(d / (ne * qn)), r.id, r.content))
    cand.sort(key=lambda t: (-t[0], t[1]))
    words = query_words(query)
    out = []
    for score, cid, content in cand[:k]:
        mc = sum(1 for wd in words if wd in content.lower())
        if hybrid:
            ratio = mc / float(len(words)) if words else 0.0
            score = _round6(score * (1.0 - w) + ratio * w)
        elif words:
            score = _round6(score + mc * 0.1)
        out.append((cid, score))
    return sorted(out, key=lambda t: (-t[1], t[0]))


@pytest.mark.parametrize(
    "kw",
    [{}, {"hybrid": True}, {"source_type": "code"}],
    ids=["rerank", "hybrid", "source_type"],
)
def test_search_scores_equal_python_cosine(engine, kw):
    """Scores, not just ids: every mode's output equals the pure-Python
    cosine exactly."""
    query = "broadcast join cosine chunker"
    got = [(r.id, r.score) for r in engine.search(query, k=4, **kw).collect()]
    assert got == _python_search(engine, query, 4, **kw)
    assert got


def test_with_score_edge_cases(spark):
    """Zero vector -> 0.0; a null embedding, a null element or a length
    mismatch -> null; an existing score column is replaced in place. A
    zero query vector scores every row 0.0, as ``cosine`` does, instead
    of dividing by a zero norm (an error under ANSI mode)."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0], 9.0), (2, None, 9.0), (3, [1.0, None], 9.0),
         (4, [1.0], 9.0), (5, [3.0, 4.0], 9.0)],
        "id INT, embedding ARRAY<FLOAT>, score DOUBLE",
    )
    out = with_score(df, [1.0, 0.0])
    assert out.columns == ["id", "embedding", "score"]
    got = {r.id: r.score for r in out.collect()}
    assert got == {1: 0.0, 2: None, 3: None, 4: None, 5: 0.6}
    zero = with_score(df, [0.0, 0.0])
    assert zero.columns == ["id", "embedding", "score"]
    assert {r.id: r.score for r in zero.collect()} == dict.fromkeys(range(1, 6), 0.0)
    want = df.withColumn("q", vector_literal([0.0, 0.0])).select(
        "id", F.round(cosine("embedding", "q"), 6).alias("score")
    )
    assert {r.id: r.score for r in want.collect()} == dict.fromkeys(range(1, 6), 0.0)


def test_with_score_query_norm_rounds_like_the_engine(spark):
    """The query norm is a correctly rounded square root, like the
    engine's ``sqrt``. For this query the fold sum s = 0.128594 gives
    ``s**0.5`` one ulp above ``math.sqrt(s)``, and this row's score sits
    on the 6-dp rounding boundary, so that ulp flips the rounded score
    (0.850861 vs 0.85086)."""
    qv = [0.313, 0.175]
    s = qv[0] * qv[0] + qv[1] * qv[1]
    assert s**0.5 != math.sqrt(s)
    df = spark.createDataFrame(
        [(1, [0.556492120866065, 1.0])], "id INT, embedding ARRAY<DOUBLE>"
    )
    got = with_score(df, qv).first().score
    want = (
        df.withColumn("q", vector_literal(qv))
        .select(F.round(cosine("embedding", "q"), 6).alias("s"))
        .first()
        .s
    )
    assert got == want == 0.850861


def test_search_batch_topk_per_query(engine):
    out = engine.search_batch(["broadcast join", "cosine similarity"], k=2)
    counts = {r.query_id: r["cnt"] for r in out.groupBy("query_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert counts == {0: 2, 1: 2}


def test_original_content_roundtrip(engine):
    rebuilt = engine.original_content("doc-a").first()["content"]
    # every unique marker word survives reconstruction exactly once
    for i in range(24):
        assert rebuilt.count(f"w{i:03d}") == 1
    assert rebuilt.count("shuffle") == 24


def test_incremental_index_skips_existing(engine, spark):
    before = engine.count()
    df = spark.createDataFrame(
        [("doc-a", "totally new text that would add chunks", "docs")],
        schema="source_id STRING, content STRING, source_type STRING",
    )
    engine.index_text(df)  # incremental: doc-a already indexed
    assert engine.count() == before


def test_search_build_after_first_read_runs_no_job(spark, tmp_path):
    """The store schema is kept from the first read, so building a search
    plans without a job. Before, every build re-read the store and ran
    parquet's schema inference (1 job per search)."""
    from gistdex_spark.plans.inspect import jobs_run

    eng = GistdexSpark(spark, str(tmp_path / "chunks"), dim=16)
    eng.index_text(
        spark.createDataFrame(
            [(s, f"text of {s} " * 40, t) for s, t in (("s1", "docs"), ("s2", "code"))],
            schema="source_id STRING, content STRING, source_type STRING",
        ),
        size=120, overlap=0,
    )
    eng.chunks()
    for i, kw in enumerate([{}, {"hybrid": True}, {"source_type": "code"}]):
        assert jobs_run(spark, f"test-search-build-{i}", lambda: eng.search("text", **kw)) == 0
    assert eng.search("text", k=10).count() == eng.count()


def test_index_files_column_visible_to_next_read(spark, tmp_path):
    """A write that adds a column (index_files' file_path) widens the kept
    schema. Before, the re-read inferred the schema from one file of the
    older partition and did not show file_path at all."""
    eng = GistdexSpark(spark, str(tmp_path / "chunks"), dim=16)
    eng.index_text(
        spark.createDataFrame(
            [("s1", "text of s1 " * 40, "docs")],
            schema="source_id STRING, content STRING, source_type STRING",
        ),
        size=120, overlap=0,
    )
    n_text = eng.count()
    doc = tmp_path / "doc.txt"
    doc.write_text("word " * 400)
    n_file = eng.index_files(
        str(doc), base_dir=str(tmp_path), allowed_base_paths=(str(tmp_path),),
        size=200, overlap=0,
    ).count()
    stored = eng.chunks()
    assert stored.columns[-2:] == ["file_path", "source_type"]
    assert stored.filter(F.col("file_path").isNotNull()).count() == n_file
    assert stored.count() == n_text + n_file


def test_stats_and_point_lookup(engine):
    stats = {r.source_type: r.n_chunks for r in engine.stats().collect()}
    assert set(stats) == {"docs", "code"}
    some_id = engine.chunks().select("id").first()["id"]
    assert engine.get(some_id).count() == 1


def test_delete_source(engine):
    remaining = engine.delete(["doc-c"])
    assert remaining.filter(F.col("source_id") == "doc-c").count() == 0
    assert remaining.select("source_id").distinct().count() == 2


def test_delete_rewrite_keeps_only_remaining_sources(spark, tmp_path):
    eng = GistdexSpark(spark, str(tmp_path / "chunks"), dim=16)
    eng.index_text(
        spark.createDataFrame(
            [(s, f"text of {s} " * 40, "docs") for s in ("s1", "s2", "s3")],
            schema="source_id STRING, content STRING, source_type STRING",
        ),
        size=120, overlap=0,
    )
    kept = eng.chunks().filter(F.col("source_id") != "s2").count()
    remaining = eng.delete(["s2"], rewrite=True)
    # the returned frame is cut from the overwritten files
    assert remaining.count() == kept
    stored = eng.chunks()
    assert stored.count() == kept
    assert {r.source_id for r in stored.select("source_id").distinct().collect()} == {
        "s1", "s3",
    }


def test_search_strips_embedding(engine):
    """F9: result rows never carry the embedding column."""
    assert "embedding" not in engine.search("vector cosine", k=3).columns
    assert "embedding" not in engine.search_batch(["vector", "cosine"], k=2).columns


def test_index_files_honors_explicit_chunk_size(spark, tmp_path):
    """--chunk-size must reach the chunker on the file path (it was
    silently ignored in favor of the X13 optimizer defaults)."""
    from gistdex_spark.api import GistdexSpark

    doc = tmp_path / "doc.txt"
    doc.write_text("word " * 400)  # ~2000 chars
    eng = GistdexSpark(spark, str(tmp_path / "store"))
    small = eng.index_files(
        str(doc), base_dir=str(tmp_path), allowed_base_paths=(str(tmp_path),),
        size=200, overlap=0,
    ).count()
    eng2 = GistdexSpark(spark, str(tmp_path / "store2"))
    big = eng2.index_files(
        str(doc), base_dir=str(tmp_path), allowed_base_paths=(str(tmp_path),),
        size=2000, overlap=0,
    ).count()
    assert small > big, (small, big)
    assert big == 1
