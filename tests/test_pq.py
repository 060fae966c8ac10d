"""Product quantization: encode determinism, compression shape, and
recall@10 of ADC-shortlist + exact-rerank vs brute-force cosine."""

from __future__ import annotations

import pytest

from gistdex_spark.operators.pq import (
    adc_table,
    encode_pq,
    pq_search,
    train_pq_codebooks,
)
from gistdex_spark.queries import QV_MAIN
from gistdex_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def books(emb):
    return train_pq_codebooks(emb, m=16, ksub=16, seed=42, max_iter=5)


def test_codebook_shape(books):
    assert len(books) == 16
    assert all(len(b) == 16 for b in books)
    assert all(len(c) == 4 for b in books for c in b)  # 64 / 16 subdims


def test_encode_is_m_small_codes(emb, books):
    codes = encode_pq(emb, books)
    row = codes.first()
    assert len(row["codes"]) == 16
    assert all(0 <= c < 16 for c in row["codes"])
    # 16 one-byte codes vs 64 float32s: 16x compression of the vector body
    assert codes.count() == emb.count()


def test_adc_table_shape(books):
    t = adc_table(books, QV_MAIN)
    assert len(t) == 16 and all(len(row) == 16 for row in t)


def test_pq_recall_vs_exact(spark, emb, books):
    from pyspark.sql import functions as F

    from gistdex_spark.queries import with_score

    exact = {
        r["vec_id"]
        for r in with_score(emb, QV_MAIN)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .collect()
    }
    got = {
        r["vec_id"]
        for r in pq_search(emb, books, QV_MAIN, k=10, shortlist=100).collect()
    }
    recall = len(got & exact) / 10
    assert recall >= 0.8, f"recall@10 {recall} below floor"


def test_ivfpq_index_one_pass_layout(spark, emb, books):
    """(id, cluster, codes) from a single map-only pass — the FAISS
    IndexIVFPQ layout; codes carry m entries and clusters come from the
    coarse quantizer."""
    from gistdex_spark.operators.ivf import first_c_centroids
    from gistdex_spark.operators.pq import ivfpq_index

    cents = first_c_centroids(emb, 8)
    idx = ivfpq_index(emb, cents, books)
    assert idx.columns == ["vec_id", "cluster", "codes"]
    row = idx.first()
    assert len(row["codes"]) == 16
    assert 0 <= row["cluster"] < 8
    assert idx.count() == emb.count()
    # Index build is map-only: no shuffle exchange in the physical plan.
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan


def test_ivfpq_recall_vs_exact(spark, emb, books):
    """Composed approximation (cell pruning + PQ codes) on the hash
    embeddings (the documented hard case) must clear the 0.5 recall@10
    floor that make_parity gates."""
    from pyspark.sql import functions as F

    from gistdex_spark.operators.ivf import train_centroids
    from gistdex_spark.operators.pq import ivfpq_search
    from gistdex_spark.queries import with_score

    exact = {
        r["vec_id"]
        for r in with_score(emb, QV_MAIN)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .collect()
    }
    cents = train_centroids(emb, k=8, seed=42, max_iter=5)
    got = {
        r["vec_id"]
        for r in ivfpq_search(
            emb, cents, books, QV_MAIN, k=10, nprobe=4, shortlist=100
        ).collect()
    }
    recall = len(got & exact) / 10
    assert recall >= 0.5, f"ivfpq recall@10 {recall} below floor"


def test_binary_signature_roundtrip_and_shape(spark, emb):
    """Sign signature: two BIGINT halves reproduce the per-dimension sign
    bits exactly (32x compression of a 64-float vector into 16 bytes)."""
    from gistdex_spark.operators.similarity import (
        binary_signature,
        binary_signature_py,
    )

    lo, hi = binary_signature("embedding")
    row = emb.select("embedding", lo.alias("lo"), hi.alias("hi")).first()
    plo, phi = binary_signature_py(list(row["embedding"]))
    assert (row["lo"], row["hi"]) == (plo, phi)
    for i, x in enumerate(row["embedding"]):
        half, bit = (row["lo"], i) if i < 32 else (row["hi"], i - 32)
        assert ((half >> bit) & 1) == (1 if x > 0 else 0)
