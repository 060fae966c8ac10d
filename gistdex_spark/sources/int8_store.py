"""Int8 code store at rest: quantized codes + per-vector scale as
columns; the shortlist pass reads ~dim bytes + 8 per row and NEVER the
f64 embedding.

operators/similarity.ann_int8 claims the at-rest story — "store the
codes + scale as columns: the shortlist pass then reads dim bytes + 8
per row, never the f64 embedding". This module is that claim as
exercised code (the lsh_store discipline):

- ``write_int8_store`` derives (codes ARRAY<TINYINT>, scale DOUBLE) in
  the write pass with the exact quantize_int8_stats rule
  (clamp(floor(x/scale + 0.5), ±127); zero vectors -> zero codes), one
  map-only projection. The embedding column is kept in the same table
  for the rerank scan, exactly like lsh_store keeps it next to the
  bucket ints.
- ``search_stored_int8`` ranks by ``code_dot * scale`` over ONLY
  (id, codes, scale) — parquet column pruning keeps ``embedding`` out
  of the pre-rerank scan (pinned in tests/test_int8_store.py) — heaps
  to ``shortlist``, then joins just the survivors back for the exact
  cosine rerank (whose scan, symmetrically, never reads the codes).

``tests/test_int8_store.py`` asserts frame equality with the scan-form
``ann_int8`` (same estimator, same tie-breaks) and both column-pruning
properties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gistdex_spark.operators.similarity import int8_query_codes


def write_int8_store(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Quantize in the write pass and persist (id, embedding, scale,
    codes). Map-only; no layout partitioning — codes are not a pruning
    dimension (every query scans all rows' codes; the win is BYTES per
    row, 1/8th of the f64 embedding)."""
    scale = (
        f"array_max(transform({embedding_col}, x -> abs(cast(x as double))))"
        " / 127.0"
    )
    codes = (
        f"CASE WHEN __scale = 0.0 THEN"
        f" transform({embedding_col}, x -> cast(0 as tinyint))"
        f" ELSE transform({embedding_col}, x -> cast(greatest(least("
        f"floor(cast(x as double) / __scale + 0.5), 127.0), -127.0)"
        f" as tinyint)) END"
    )
    (
        emb.select(id_col, embedding_col)
        .withColumn("__scale", F.expr(scale))
        .select(
            id_col,
            embedding_col,
            F.col("__scale").alias("scale"),
            F.expr(codes).alias("codes"),
        )
        .write.mode(mode)
        .parquet(path)
    )
    # Record the code dimension once at write time (one small job on an
    # already-write-shaped call) so searches validate query dims with a
    # sidecar read instead of a per-call eager first() job.
    from gistdex_spark.sources.store_meta import write_store_meta

    first = emb.select(embedding_col).first()
    if first is not None and first[0] is not None:
        write_store_meta(path, dim=len(first[0]))


def search_stored_int8(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """Int8 search over the stored codes — identical frame to the
    scan-form ``ann_int8`` by construction (same clamp/floor codes
    persisted at write time, same ``code_dot * scale`` estimator, same
    tie-breaks), but the shortlist pass reads only (id, codes, scale)."""
    from gistdex_spark.operators.search import with_score

    qint = int8_query_codes(query_vec)
    store = spark.read.parquet(path)
    # Dim guard (the lsh_store write-guard class): codes[i] past the
    # stored dimension is NULL in Catalyst, which would silently
    # NULL-poison every __qdot and rank the corpus by the id tie-break
    # alone — fail loudly instead. The dimension comes from the store's
    # write-time sidecar (zero Spark jobs); pre-sidecar stores fall back
    # to the one-row sampling job this guard used before round 12.
    from gistdex_spark.sources.store_meta import read_store_meta

    meta = read_store_meta(path)
    if meta is not None and "dim" in meta:
        dim = int(meta["dim"])
    else:
        first = store.select("codes").first()
        dim = (
            len(first[0])
            if first is not None and first[0] is not None
            else None
        )
    if dim is not None and len(query_vec) != dim:
        raise ValueError(
            f"query dim {len(query_vec)} != stored code dim "
            f"{dim} at {path}"
        )
    terms = " + ".join(
        f"cast(codes[{i}] as bigint) * {q}L" for i, q in enumerate(qint)
    )
    short = (
        store.select(
            id_col,
            F.expr(
                f"case when scale = 0.0 then cast(0.0 as double)"
                f" else cast({terms} as double) * scale end"
            ).alias("__qdot"),
        )
        .orderBy(F.desc("__qdot"), F.asc(id_col))
        .limit(shortlist)
        .select(id_col)
    )
    rerank = (
        spark.read.parquet(path)
        .select(id_col, embedding_col)
        .join(F.broadcast(short), id_col)
    )
    return (
        with_score(rerank, query_vec, embedding_col)
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
