"""MLlib embedding path: TF-IDF embedder feeds the same search operators,
and BucketedRandomProjectionLSH finds the near-dup pairs the exact
pairwise join finds (high recall at small scale)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gistdex_spark.functions.mllib_embedder import TfidfEmbedder, mllib_lsh_neardup_pairs
from gistdex_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embedded(spark):
    docs = load_table(spark, SF, "documents")
    emb = TfidfEmbedder(dim=128).fit(docs)
    out = emb.transform(docs).select("doc_id", "text", "embedding")
    out.cache().count()
    return out


def test_embeddings_unit_norm(embedded):
    norm = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x))
    rows = embedded.select(norm.alias("n")).collect()
    assert all(abs(r.n - 1.0) < 1e-9 or r.n == 0.0 for r in rows)


def test_tfidf_search_is_semantic(embedded, spark):
    """With real TF-IDF vectors, a query that reuses a document's words
    must rank that document first — true semantic behavior the hash
    embedder can't provide."""
    from gistdex_spark.queries import with_score

    target = embedded.orderBy("doc_id").first()
    qv = list(target.embedding)
    top = (
        with_score(embedded, qv)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .select("doc_id", "score")
        .first()
    )
    assert top.doc_id == target.doc_id
    assert abs(top.score - 1.0) < 1e-6


def test_word2vec_udf_swaps_into_indexer_unchanged(spark):
    """The production-embedder slot: a REAL MLlib Word2Vec model fitted on
    the corpus, exposed through the exact embed_udf pandas_udf contract,
    swapped into index_text_df via the embedder parameter — no operator
    code changes, schema identical to the deterministic path."""
    from gistdex_spark.functions.mllib_embedder import Word2VecEmbedder
    from gistdex_spark.sources.indexer import index_text_df

    docs = load_table(spark, SF, "documents").limit(40)
    w2v = Word2VecEmbedder(dim=16, min_count=1).fit(docs)
    texts = docs.select(
        F.col("doc_id").alias("source_id"), F.col("text").alias("content")
    )
    default_out = index_text_df(texts, size=400, overlap=50, dim=16)
    w2v_out = index_text_df(
        texts, size=400, overlap=50, dim=16, embedder=w2v.udf()
    )
    assert w2v_out.schema == default_out.schema  # drop-in: same shape
    rows = w2v_out.select("embedding").collect()
    assert rows and all(len(r.embedding) == 16 for r in rows)
    # real model output: unit-normalized (or zero for OOV-only chunks)
    for r in rows:
        n = sum(x * x for x in r.embedding) ** 0.5
        assert abs(n - 1.0) < 1e-4 or n == 0.0


def test_word2vec_udf_matches_jvm_transform(spark):
    """udf() (Arrow-batched lookup+mean) and transform() (JVM
    model.transform) are the same math — values agree to float32
    tolerance on whole-doc texts."""
    from gistdex_spark.functions.mllib_embedder import Word2VecEmbedder

    docs = load_table(spark, SF, "documents").limit(20)
    w2v = Word2VecEmbedder(dim=8, min_count=1).fit(docs)
    jvm = {
        r.doc_id: r.embedding
        for r in w2v.transform(docs).select("doc_id", "embedding").collect()
    }
    py = {
        r.doc_id: r.emb
        for r in docs.select(
            "doc_id", w2v.udf()(F.col("text")).alias("emb")
        ).collect()
    }
    assert jvm.keys() == py.keys()
    for k in jvm:
        for a, b in zip(jvm[k], py[k]):
            assert abs(a - b) < 1e-5


def test_sentence_transformer_slot_gated():
    """Availability-gated: where the wheel exists the udf builds; here it
    must raise ModuleNotFoundError fast on the driver."""
    from gistdex_spark.functions.mllib_embedder import (
        sentence_transformer_embed_udf,
    )

    try:
        import sentence_transformers  # noqa: F401
    except ImportError:
        with pytest.raises(ModuleNotFoundError):
            sentence_transformer_embed_udf()
        pytest.skip("sentence-transformers wheel not installed here")
    udf = sentence_transformer_embed_udf()
    assert udf is not None


def test_lsh_neardup_recall(embedded, spark):
    """LSH candidate pairs must recover ≥90% of the exact pairs at a
    moderate threshold on the small corpus."""
    from gistdex_spark.operators.dedup import embedding_neardup_pairs

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(
            embedded.select(F.col("doc_id").alias("vec_id"), "embedding"),
            threshold=0.35,
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in mllib_lsh_neardup_pairs(
            embedded, threshold=0.35, num_hash_tables=5
        ).collect()
    }
    assert exact, "exact pass found no pairs — threshold too high for the fixture"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(exact)} exact pairs"
    # no false similarity values: approx cos must match exact formula
    for r in mllib_lsh_neardup_pairs(embedded, threshold=0.35).limit(5).collect():
        assert -1.0001 <= r.cos_sim <= 1.0001
