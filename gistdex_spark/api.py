"""High-level facade mirroring the reference's public service surface.

A user of the reference drives it through `DatabaseService` + the search
helpers (`src/core/database/database-service.ts:179-274`,
`src/core/search/search.ts:58-136`); this module is the Spark-native
equivalent: one `GistdexSpark` object bound to a chunk-store path, with
index / search / list / stats / reconstruction methods that each return a
DataFrame (lazily planned — callers compose further or collect).

Parity map (reference → here):
- ``indexText`` / ``indexFiles`` (`indexer.ts:40-282`) → :meth:`index_text`,
  :meth:`index_files`
- ``semanticSearch`` / ``hybridSearch`` (`search.ts:58-136`) →
  :meth:`search` (``hybrid=``, ``rerank=``, ``source_type=``, ``k=``)
- ``getOriginalContent`` / ``getSectionContent`` (`search.ts:150-318`) →
  :meth:`original_content`, :meth:`section_content`
- ``listItems`` / ``getStats`` / ``countItems``
  (`database-service.ts:219-274`) → :meth:`list_sources`, :meth:`stats`,
  :meth:`count`
- ``get(id)`` point lookup (`sqlite-storage-operations.ts:132-142`) →
  :meth:`get`
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gistdex_spark.functions.embedder import embed_text
from gistdex_spark.materialize import checkpoint
from gistdex_spark.operators import search as S
from gistdex_spark.operators.reconstruct import original_content, section_content
from gistdex_spark.sources.adapters import PARTITION_COL
from gistdex_spark.sources.indexer import (
    delete_sources,
    incremental_filter,
    index_text_df,
    sources_from_chunks,
    write_chunk_store,
)


class GistdexSpark:
    """The engine facade: a SparkSession + a chunk-store location."""

    def __init__(self, spark: SparkSession, store_path: str, dim: int = 64):
        self.spark = spark
        self.store_path = store_path
        self.dim = dim
        # The store's schema from its first read. Later reads pass it in,
        # which skips parquet's schema inference, a Spark job per read.
        self._schema: StructType | None = None

    # -- ingestion ---------------------------------------------------------

    def index_text(
        self,
        texts: DataFrame,
        strategy: str = "fixed",
        size: int = 1000,
        overlap: int = 200,
        incremental: bool = True,
    ) -> DataFrame:
        """Chunk → embed → id → append to the chunk store; returns the rows
        written. With ``incremental``, sources already present are skipped
        (J7 anti-join) — the reference's skip-already-indexed behavior."""
        if incremental:
            from pyspark.errors.exceptions.captured import AnalysisException

            try:
                existing = self.chunks().select("source_id").distinct()
                texts = texts.join(
                    existing,
                    texts.source_id.cast("string") == existing.source_id,
                    "left_anti",
                )
            except AnalysisException:
                pass  # first write — store path doesn't exist yet
        chunks = index_text_df(
            texts, strategy=strategy, size=size, overlap=overlap, dim=self.dim
        )
        self._write(chunks)
        return chunks

    def index_files(
        self,
        glob_path: str,
        strategy: str | None = None,
        base_dir: str | None = None,
        allowed_base_paths: tuple[str, ...] | None = None,
        validate: bool = True,
        size: int | None = None,
        overlap: int | None = None,
    ) -> DataFrame:
        from gistdex_spark.sources.indexer import index_files

        chunks = index_files(
            self.spark,
            glob_path,
            strategy=strategy,
            dim=self.dim,
            base_dir=base_dir,
            allowed_base_paths=allowed_base_paths,
            validate=validate,
            size=size,
            overlap=overlap,
        )
        self._write(chunks)
        return chunks

    def _write(self, chunks: DataFrame, mode: str = "append") -> None:
        write_chunk_store(chunks, self.store_path, mode=mode)
        if self._schema is not None:
            self._schema = _with_written(self._schema, chunks.schema)

    # -- core tables -------------------------------------------------------

    def chunks(self) -> DataFrame:
        if self._schema is not None:
            return self.spark.read.schema(self._schema).parquet(self.store_path)
        df = self.spark.read.parquet(self.store_path)
        self._schema = df.schema
        return df

    def sources(self) -> DataFrame:
        return sources_from_chunks(self.chunks())

    def get(self, chunk_id: str) -> DataFrame:
        """S7 point lookup by chunk id."""
        return self.chunks().filter(F.col("id") == chunk_id)

    def delete(self, source_ids: list[str], rewrite: bool = False) -> DataFrame:
        """S9: anti-join deletion; with ``rewrite`` the store is rewritten
        (parquet is immutable — at scale this is a partition-level rewrite
        or a Delta/Iceberg DELETE)."""
        remaining = delete_sources(self.chunks(), source_ids)
        if rewrite:
            remaining = checkpoint(remaining)
            self._write(remaining, mode="overwrite")
        return remaining

    # -- search ------------------------------------------------------------

    def search(
        self,
        query: str,
        k: int = 5,
        source_type: str | None = None,
        rerank: bool = True,
        hybrid: bool = False,
        keyword_weight: float = 0.3,
        threshold: float | None = None,
    ) -> DataFrame:
        """Semantic top-k with optional rerank / hybrid re-score — the exact
        reference pipeline: filter → kNN → (rerank | hybrid) → sort."""
        qv = embed_text(query, self.dim)
        corpus = self.chunks()
        if source_type is not None:
            corpus = corpus.filter(F.col("source_type") == source_type)
        scored = S.with_score(corpus, qv)
        top = scored.orderBy(F.desc("score"), F.asc("id")).limit(k)
        if hybrid:
            top = S.hybrid_score(top, query, keyword_weight, content_col="content")
        elif rerank:
            top = S.rerank(top, query, 0.1, content_col="content")
        if threshold is not None:
            top = S.threshold(top, threshold)
        # F9 (`agent-query-tool.ts:218-232`): strip the embedding from
        # results — it is scoring input, never presentation output.
        return top.drop("embedding").orderBy(F.desc("score"), F.asc("id"))

    def search_batch(self, queries: list[str], k: int = 5) -> DataFrame:
        """Batched kNN: broadcast query set, window top-k per query."""
        rows = [(i, q, embed_text(q, self.dim)) for i, q in enumerate(queries)]
        qdf = self.spark.createDataFrame(
            rows, schema="query_id INT, query STRING, query_vec ARRAY<DOUBLE>"
        )
        return S.knn_batch(self.chunks(), qdf, k, id_col="id").drop("embedding")

    # -- reconstruction ----------------------------------------------------

    def original_content(self, source_id: str) -> DataFrame:
        return original_content(
            self.chunks().filter(F.col("source_id") == source_id)
        )

    def section_content(self, source_id: str, boundary_title: str) -> DataFrame:
        return section_content(self.chunks(), source_id, boundary_title)

    # -- analytics ---------------------------------------------------------

    def list_sources(self, limit: int = 100) -> DataFrame:
        """W8/list: sources with chunk counts, newest first."""
        return (
            self.sources()
            .orderBy(F.desc("created_at"), F.asc("source_id"))
            .limit(limit)
        )

    def stats(self) -> DataFrame:
        """A2: one-pass per-source_type census (reference loops 4 counts)."""
        key = "source_type" if "source_type" in self.chunks().columns else "source_id"
        return self.chunks().groupBy(key).agg(F.count(F.lit(1)).alias("n_chunks"))

    def count(self, predicate=None) -> int:
        df = self.chunks()
        if predicate is not None:
            df = df.filter(predicate)
        return df.count()


def _with_written(stored: StructType, written: StructType) -> StructType | None:
    """The store's schema once ``written`` has been added to a store read
    as ``stored``: columns new to the store join before the partition
    column, which a read returns last. None when a column changes type,
    so the next read infers again. (A bare re-read would not do here: it
    infers from one file and misses a column only newer files carry.)"""
    types = {f.name: f.dataType.simpleString() for f in stored.fields}
    # simpleString leaves nullability out; a read makes every column nullable
    if any(types.get(f.name, f.dataType.simpleString()) != f.dataType.simpleString()
           for f in written.fields):
        return None
    fields = stored.fields + [f for f in written.fields if f.name not in types]
    return StructType(
        [f for f in fields if f.name != PARTITION_COL]
        + [f for f in fields if f.name == PARTITION_COL]
    )
